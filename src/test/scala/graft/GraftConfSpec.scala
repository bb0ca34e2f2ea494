package graft

import java.nio.file.Files

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions.{col, row_number}

import graft.sources.TxLog

/** The `spark.graft.*` settings parse through one path ([[GraftConf]]):
  * a malformed value fails naming its key and value, and a well-formed
  * session plans and commits as before.
  */
class GraftConfSpec extends SparkSpec {
  import spark.implicits._

  private def withConf[T](kv: (String, String))(body: => T): T = {
    spark.conf.set(kv._1, kv._2)
    try body finally spark.conf.unset(kv._1)
  }

  /** `body` fails, and some exception in its cause chain names `key`
    * and `value`.
    */
  private def refused(key: String, value: String)(body: => Any): Unit =
    withConf(key -> value) {
      val e = intercept[Exception](body)
      val msgs = Iterator.iterate[Throwable](e)(_.getCause).takeWhile(_ != null)
        .map(x => Option(x.getMessage).getOrElse("")).toSeq
      assert(msgs.exists(m => m.contains(key) && m.contains(s"'$value'")), msgs)
    }

  /** The rank-filter shape the TopKPerKey rewrite plans. */
  private def topK: DataFrame = {
    val df = (0 until 60).map(i => (i % 4, i, i.toLong)).toDF("key", "value", "id")
    df.withColumn("rn", row_number().over(
      Window.partitionBy("key").orderBy(col("value").desc, col("id"))))
      .filter(col("rn") <= 2)
  }

  private def tmpTable(): String =
    Files.createTempDirectory("graft-conf").resolve("t").toString

  /** Jobs an overwrite of a small frame runs. */
  private def commitJobs(): Int = {
    val jobs = new java.util.concurrent.atomic.AtomicInteger(0)
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit = jobs.incrementAndGet()
    }
    val sc = spark.sparkContext
    org.apache.spark.graftprobe.ListenerBusProbe.drain(sc)
    sc.addSparkListener(listener)
    try {
      TxLog.overwrite((0L until 20L).map(i => (i, s"v$i")).toDF("k", "v"), tmpTable())
      org.apache.spark.graftprobe.ListenerBusProbe.drain(sc)
    } finally sc.removeSparkListener(listener)
    jobs.get
  }

  test("a malformed int, long or boolean setting fails naming its key and value") {
    refused("spark.graft.topk.rewriteMaxK", "lots")(topK.collect())
    refused("spark.graft.topk.maxRetainedBytes", "64MB")(topK.collect())
    refused("spark.graft.topk.partial", "yes")(topK.collect())
    refused("spark.graft.stats.footer", "off")(
      TxLog.overwrite(Seq((1L, "a")).toDF("k", "v"), tmpTable()))
  }

  test("stats.footer=False turns footer stats off, like false") {
    val footer = commitJobs()
    val off = withConf("spark.graft.stats.footer" -> "false")(commitJobs())
    assert(off > footer, s"the scan fallback runs a job: $off vs $footer")
    assert(withConf("spark.graft.stats.footer" -> "False")(commitJobs()) == off)
  }

  test("a well-formed session is unaffected") {
    val expected = topK.collect().toSet
    assert(topK.queryExecution.executedPlan.toString.contains("TopKPerKey"))
    val settings = Seq(
      "spark.graft.topk.rewriteMaxK" -> "100000",
      "spark.graft.topk.maxRetainedBytes" -> "67108864",
      "spark.graft.topk.partial" -> "TRUE",
      "spark.graft.stats.footer" -> "true")
    settings.foreach(kv => spark.conf.set(kv._1, kv._2))
    try {
      assert(topK.queryExecution.executedPlan.toString.contains("TopKPerKey"))
      assert(topK.collect().toSet == expected)
      val t = tmpTable()
      TxLog.overwrite((0L until 20L).map(i => (i, s"v$i")).toDF("k", "v"), t)
      assert(TxLog.read(spark, t).count() == 20L)
    } finally settings.foreach(kv => spark.conf.unset(kv._1))
  }
}
