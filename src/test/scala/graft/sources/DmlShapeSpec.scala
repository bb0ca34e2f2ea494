package graft.sources

import java.nio.file.Files
import java.util.concurrent.ConcurrentLinkedQueue

import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart, SparkListenerStageSubmitted}
import org.apache.spark.sql.catalyst.plans.logical.{LogicalPlan, Union}
import org.apache.spark.sql.execution.{QueryExecution, SparkPlan}
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.execution.datasources.InsertIntoHadoopFsRelationCommand
import org.apache.spark.sql.execution.exchange.ShuffleExchangeLike
import org.apache.spark.sql.functions.{col, expr, lit}
import org.apache.spark.sql.util.QueryExecutionListener

import graft.SparkSpec

/** The job and plan shape of row-level DML: a copy-on-write DELETE or
  * UPDATE is its find pass plus its write (one job each, no shuffle),
  * the deletion-vector and CDC MERGE job counts are pinned, the general
  * MERGE find pass shuffles once, and the UPDATE change feed is one
  * scan.
  */
class DmlShapeSpec extends SparkSpec with AdaptiveSparkPlanHelper {
  import spark.implicits._

  private def tmpTable(): String =
    Files.createTempDirectory("graft-dmlshape").resolve("t").toString

  /** 40 rows over 4 files, no deletion vectors. */
  private def seed(t: String): Unit =
    TxLog.overwrite((0L until 40L).map(i => (i, s"v$i", i * 10)).toDF("k", "v", "n")
      .repartition(4, col("k")), t)

  private def drained(body: => Unit): Unit = {
    body
    org.apache.spark.graftprobe.ListenerBusProbe.drain(spark.sparkContext)
  }

  /** (jobs, shuffle-map stages) that `body` ran. */
  private def jobsOf(body: => Unit): (Int, Int) = {
    val jobs = new java.util.concurrent.atomic.AtomicInteger(0)
    val shuffles = new java.util.concurrent.atomic.AtomicInteger(0)
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit = jobs.incrementAndGet()
      override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit =
        if (org.apache.spark.graftprobe.ListenerBusProbe.isShuffleMap(e.stageInfo))
          shuffles.incrementAndGet()
    }
    org.apache.spark.graftprobe.ListenerBusProbe.drain(spark.sparkContext)
    spark.sparkContext.addSparkListener(listener)
    try drained(body) finally spark.sparkContext.removeSparkListener(listener)
    (jobs.get, shuffles.get)
  }

  /** Every query execution `body` ran. */
  private def executions(body: => Unit): Seq[(String, QueryExecution)] = {
    val seen = new ConcurrentLinkedQueue[(String, QueryExecution)]()
    val listener = new QueryExecutionListener {
      def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
        seen.add(funcName -> qe)
      def onFailure(funcName: String, qe: QueryExecution, e: Exception): Unit = ()
    }
    spark.listenerManager.register(listener)
    try drained(body) finally spark.listenerManager.unregister(listener)
    seen.asScala.toSeq
  }

  private def shuffleExchanges(p: SparkPlan): Int =
    collect(p) { case e: ShuffleExchangeLike => e }.size

  test("copy-on-write DELETE and UPDATE run two jobs each, with no shuffle stage") {
    val t = tmpTable(); seed(t)
    // k % 10 = 3 hits some rows of several files: boundary files, rewritten
    assert(jobsOf(TxLog.delete(spark, t, expr("k % 10 = 3"))) == ((2, 0)))
    assert(jobsOf(TxLog.update(spark, t, expr("k % 10 = 4"),
      Seq("v" -> lit("u")))) == ((2, 0)))
    assert(TxLog.read(spark, t).count() == 36L)
    assert(TxLog.read(spark, t).where(col("v") === "u").count() == 4L)
  }

  test("DV DELETE and UPDATE, and CDC MERGE in both modes, keep their job shape") {
    val changes = Seq((3L, "x", 1L, "U"), (99L, "y", 1L, "U")).toDF("k", "v", "n", "op")
    def merge(dv: Boolean): (Int, Int) = {
      val t = tmpTable(); seed(t)
      jobsOf(TxLog.merge(spark, t, changes, Seq("k"), Seq(col("n")), "op",
        deletionVectors = dv))
    }
    val t = tmpTable(); seed(t)
    // the DV find aggregates positions per file: one shuffle
    assert(jobsOf(TxLog.delete(spark, t, expr("k % 10 = 3"),
      deletionVectors = true)) == ((2, 1)))
    assert(jobsOf(TxLog.update(spark, t, expr("k % 10 = 4"),
      Seq("v" -> lit("u")), deletionVectors = true)) == ((5, 1)))
    // the copy-on-write find counts matches per file in its tasks; the
    // shuffles left are the change batch's own (distinct keys, cdcApply)
    assert(merge(dv = false) == ((7, 3)))
    assert(merge(dv = true) == ((8, 4)))
    assert(TxLog.read(spark, t).count() == 36L)
    assert(TxLog.read(spark, t).where(col("v") === "u").count() == 4L)
  }

  test("the MERGE find pass plans exactly one shuffle Exchange") {
    val t = tmpTable(); seed(t)
    val finds = executions {
      TxLog.mergeInto(spark, t, Seq((3L, "x"), (99L, "y")).toDF("k", "sv"),
        on = expr("t.k = s.k"),
        matched = Seq(TxLog.MergeUpdate(Map("v" -> expr("s.sv")))),
        notMatched = Seq(TxLog.MergeInsert(Map("k" -> expr("s.k"), "v" -> expr("s.sv")))))
    }.collect { case ("collect", qe) if qe.analyzed.toString.contains("__s_m") => qe }
    assert(finds.size == 1, s"expected one find pass, saw ${finds.size}")
    assert(shuffleExchanges(finds.head.executedPlan) == 1, finds.head.executedPlan)
    assert(TxLog.read(spark, t).where(col("k").isin(3L, 99L))
      .as[(Long, String, Option[Long])].collect().map(r => (r._1, r._2)).toSet ==
      Set((3L, "x"), (99L, "y")))
  }

  test("the UPDATE change feed is written from one scan, with no Union") {
    Seq(false, true).foreach { dv =>
      val t = tmpTable(); seed(t)
      val cdfWrites = executions {
        TxLog.update(spark, t, expr("k % 10 = 4"), Seq("v" -> lit("u")),
          changeFeed = true, deletionVectors = dv)
      }.map(_._2.optimizedPlan).collect {
        case w: InsertIntoHadoopFsRelationCommand if w.outputPath.getName == "_cdf" =>
          w.query
      }
      assert(cdfWrites.size == 1, s"dv=$dv: expected one CDF write")
      val q: LogicalPlan = cdfWrites.head
      assert(q.collect { case u: Union => u }.isEmpty, s"dv=$dv: $q")
      assert(TxLog.readChangeFeed(spark, t, TxLog.latestVersion(spark, t).get - 1)
        .count() == 8L, s"dv=$dv: 4 pre/post pairs")
    }
  }
}
