package graft.sources

import java.nio.file.{Files, Paths}
import java.util.concurrent.{ConcurrentHashMap, ConcurrentLinkedQueue, CountDownLatch, TimeUnit}
import java.util.concurrent.atomic.AtomicInteger

import scala.jdk.CollectionConverters._

import org.apache.spark.TaskContext
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobEnd, SparkListenerJobStart}
import org.apache.spark.sql.{Column, Row}
import org.apache.spark.sql.functions.{col, expr, lit, udf}

import graft.SparkSpec

/** Blocks the SECOND evaluation of each key — the find pass is the
  * first — until the evaluating task is killed, so a spec can cancel a
  * DML statement while its data and change-feed writes run.
  */
object CancelGate {
  private val seen = new ConcurrentHashMap[Long, AtomicInteger]()
  @volatile var started = new CountDownLatch(1)

  def reset(): Unit = { seen.clear(); started = new CountDownLatch(1) }

  def pass(k: Long): Long = {
    if (seen.computeIfAbsent(k, _ => new AtomicInteger()).incrementAndGet() >= 2) {
      started.countDown()
      val ctx = TaskContext.get()
      val deadline = System.nanoTime() + TimeUnit.SECONDS.toNanos(60)
      while (!ctx.isInterrupted() && System.nanoTime() < deadline) Thread.sleep(5)
    }
    k
  }
}

/** What a row-level DML statement leaves behind when it fails before it
  * publishes, in both write modes: a cancelled job group, a crash in
  * the gap between the data write and the publish, and an UPDATE whose
  * assignments are invalid.
  */
class DmlFailureSpec extends SparkSpec {
  import spark.implicits._

  private def tmpTable(): String =
    Files.createTempDirectory("graft-dmlfail").resolve("t").toString

  /** 40 rows over 4 files. */
  private def seed(t: String): Unit =
    TxLog.overwrite((0L until 40L).map(i => (i, s"v$i", i * 10)).toDF("k", "v", "n")
      .repartition(4, col("k")), t)

  private def rows(t: String): Seq[Row] =
    TxLog.read(spark, t).collect().toSeq.sortBy(_.getLong(0))

  private def feed(t: String): Seq[String] =
    TxLog.readChangeFeed(spark, t, TxLog.versions(spark, t).min)
      .collect().map(_.toString).toSeq.sorted

  /** Every path under `data/` on disk, table-relative. */
  private def dataDirs(t: String): Set[String] = {
    val d = Paths.get(t, "data")
    if (!Files.isDirectory(d)) Set.empty
    else Files.walk(d).iterator().asScala.map(p => Paths.get(t).relativize(p).toString).toSet
  }

  private def runningTasks(): Int =
    spark.sparkContext.statusTracker.getExecutorInfos.map(_.numRunningTasks).sum

  test("cancelling a change-feed DELETE stops both jobs and leaves no data dir behind") {
    val gate = udf((k: Long) => CancelGate.pass(k))
    val sc = spark.sparkContext
    Seq(false, true).foreach { dv =>
      val t = tmpTable(); seed(t)
      val v0 = TxLog.latestVersion(spark, t)
      val rows0 = rows(t)
      val dirs0 = dataDirs(t)
      val group = s"graft-cancel-${java.util.UUID.randomUUID()}"
      val started = new ConcurrentLinkedQueue[Int]()
      val ended = new ConcurrentLinkedQueue[Int]()
      val listener = new SparkListener {
        private def inGroup(p: java.util.Properties): Boolean =
          p != null && p.getProperty("spark.jobGroup.id") == group
        override def onJobStart(e: SparkListenerJobStart): Unit =
          if (inGroup(e.properties)) started.add(e.jobId)
        override def onJobEnd(e: SparkListenerJobEnd): Unit = ended.add(e.jobId)
      }
      CancelGate.reset()
      sc.addSparkListener(listener)
      @volatile var failure: Throwable = null
      val caller = new Thread(() => {
        sc.setJobGroup(group, "cancelled change-feed DELETE")
        try TxLog.delete(spark, t, gate(col("k")) % 10 === 3,
          changeFeed = true, deletionVectors = dv)
        catch { case e: Throwable => failure = e }
        finally sc.clearJobGroup()
      })
      try {
        caller.start()
        assert(CancelGate.started.await(60, TimeUnit.SECONDS), s"dv=$dv: no write started")
        // and any job of the statement not yet submitted
        sc.cancelJobGroupAndFutureJobs(group)
        caller.join(60000)
        assert(!caller.isAlive, s"dv=$dv: the DELETE did not return")
        // every task of the cancelled jobs has ended
        val deadline = System.nanoTime() + TimeUnit.SECONDS.toNanos(60)
        org.apache.spark.graftprobe.ListenerBusProbe.drain(sc)
        while (runningTasks() > 0 && System.nanoTime() < deadline) {
          Thread.sleep(20)
          org.apache.spark.graftprobe.ListenerBusProbe.drain(sc)
        }
      } finally sc.removeSparkListener(listener)
      assert(failure != null, s"dv=$dv: the cancelled DELETE returned normally")
      // the find pass and, after it, the change-feed job (and the
      // copy-on-write data write) ran under the group, and all of them ended
      assert(started.size >= 2, s"dv=$dv: jobs $started")
      assert(started.asScala.toSet.subsetOf(ended.asScala.toSet),
        s"dv=$dv: started $started, ended $ended")
      assert(runningTasks() == 0, s"dv=$dv: tasks still running")
      assert(TxLog.latestVersion(spark, t) == v0, s"dv=$dv: a version was published")
      assert(rows(t) == rows0, s"dv=$dv")
      assert(dataDirs(t) == dirs0,
        s"dv=$dv: the failed attempt left ${dataDirs(t) -- dirs0}")
    }
  }

  test("a crash between the data write and the publish leaves the prior version intact") {
    val changes = Seq((3L, "x", 1L, "U"), (13L, "", 1L, "D"), (99L, "y", 1L, "U"))
      .toDF("k", "v", "n", "op")
    val src = Seq((4L, "s4"), (98L, "s98")).toDF("k", "sv")
    val statements: Seq[(String, String => Long)] = Seq(false, true).flatMap { dv =>
      Seq[(String, String => Long)](
        s"delete dv=$dv" -> (t => TxLog.delete(spark, t, expr("k % 10 = 3"),
          changeFeed = true, deletionVectors = dv)),
        s"update dv=$dv" -> (t => TxLog.update(spark, t, expr("k % 10 = 4"),
          Seq("v" -> lit("u")), changeFeed = true, deletionVectors = dv)),
        s"merge dv=$dv" -> (t => TxLog.merge(spark, t, changes, Seq("k"),
          Seq(col("n")), "op", deletionVectors = dv)),
        s"mergeInto dv=$dv" -> (t => TxLog.mergeInto(spark, t, src,
          on = expr("t.k = s.k"),
          matched = Seq(TxLog.MergeUpdate(Map("v" -> expr("s.sv")))),
          notMatched = Seq(TxLog.MergeInsert(Map("k" -> expr("s.k"), "v" -> expr("s.sv")))),
          deletionVectors = dv, changeFeed = true)))
    }
    statements.foreach { case (name, run) =>
      val t = tmpTable(); val twin = tmpTable()
      Seq(t, twin).foreach { x =>
        seed(x)
        TxLog.delete(spark, x, col("k") === 0L, changeFeed = true)
      }
      val v0 = TxLog.latestVersion(spark, t)
      val rows0 = rows(t)
      val feed0 = feed(t)
      TxLog.casRaceHook = () => {
        TxLog.casRaceHook = () => ()
        throw new IllegalStateException("crash before publish")
      }
      try {
        val e = intercept[IllegalStateException](run(t))
        assert(e.getMessage == "crash before publish", name)
      } finally TxLog.casRaceHook = () => ()
      assert(TxLog.latestVersion(spark, t) == v0, s"$name: a version was published")
      assert(rows(t) == rows0, name)
      assert(feed(t) == feed0, name)
      // the next statement on the table commits as if nothing had failed
      assert(run(t) == v0.get + 1, name)
      run(twin)
      assert(rows(t) == rows(twin), name)
    }
  }

  test("UPDATE checks its assignments before the find, in both modes, on a table with no files") {
    Seq(false, true).foreach { dv =>
      val t = tmpTable()
      TxLog.overwrite(Seq((1L, 5L, 10L)).toDF("k", "a", "a2"), t)
      TxLog.setGeneratedColumn(spark, t, "a2", "a * 2")
      // every live row matches: the file leaves the manifest
      TxLog.delete(spark, t, lit(true), deletionVectors = dv)
      assert(TxLog.manifest(spark, t).files.isEmpty, s"dv=$dv")
      val v = TxLog.latestVersion(spark, t)
      def refused(set: Seq[(String, Column)], why: String): Unit = {
        val e = intercept[IllegalArgumentException](
          TxLog.update(spark, t, col("k") === 1L, set, deletionVectors = dv))
        assert(e.getMessage.contains(why), s"dv=$dv: ${e.getMessage}")
      }
      refused(Seq("nosuch" -> lit(1)), "has no column 'nosuch'")
      refused(Seq("a2" -> lit(1)), "cannot UPDATE generated column 'a2'")
      refused(Seq("a" -> lit(1), "a" -> lit(2)), "assigns a more than once")
      assert(TxLog.latestVersion(spark, t) == v, s"dv=$dv")
    }
  }
}
