package graft.sources

import java.nio.file.Files

import org.apache.spark.sql.types._

import graft.GraftExtensions

/** Runnable demo of the ingestion surface: quarantined JSON read,
  * month-partitioned lake write, and the SQL-registered native function.
  *
  * Usage: runMain graft.sources.IngestDemo
  */
object IngestDemo {
  def main(args: Array[String]): Unit = {
    val spark = GraftExtensions.builder(4).getOrCreate()
    spark.sparkContext.setLogLevel("WARN")

    val in = Files.createTempDirectory("ingest-demo-in")
    Files.writeString(in.resolve("feed.json"),
      """{"id": 1, "ts": "2024-01-15T10:00:00", "price": 10.5}
        |{"id": "oops"
        |{"id": 2, "ts": "2024-02-20T11:00:00", "price": 20.25}
        |""".stripMargin)
    val schema = StructType(Seq(
      StructField("id", LongType),
      StructField("ts", TimestampType),
      StructField("price", DoubleType)))

    val (valid, corrupt) = Ingest.quarantine(
      Ingest.readJson(spark, in.toString, schema))
    println(s"valid rows: ${valid.count()}, corrupt rows: ${corrupt.count()}")

    val lake = Files.createTempDirectory("ingest-demo-lake").toString
    Ingest.writeByMonth(valid, "ts", lake)
    val pruned = spark.read.parquet(lake).where("year = 2024 AND month = 2")
    println(s"pruned month=2 rows: ${pruned.count()}")

    val filings = spark.read.json(
      spark.createDataset(Seq(
        """{"company": "acme", "filings": [{"form": "10-K", "fy": 2023}, {"form": "10-Q", "fy": 2024}]}"""))(
        org.apache.spark.sql.Encoders.STRING))
    val unnested = Ingest.explodeStructArray(filings, "filings", "filing")
    println(s"unnested filings: ${unnested.count()} cols=${unnested.columns.mkString(",")}")

    val d = spark.sql("SELECT graft_dot(array(1.0d,2.0d), array(3.0d,4.0d)) AS d")
      .head().getDouble(0)
    println(s"graft_dot: $d")

    Bucketed.write(valid.withColumnRenamed("id", "k"), "demo_a", "k", 4)
    Bucketed.write(valid.selectExpr("id AS k", "price * 2 AS p2"), "demo_b", "k", 4)
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    val bj = Bucketed.join(spark, "demo_a", "demo_b", "k")
    val nShuffles = bj.queryExecution.executedPlan.collect {
      case e: org.apache.spark.sql.execution.exchange.ShuffleExchangeLike => e
    }.size
    println(s"bucketed join rows: ${bj.count()}, shuffles in plan: $nShuffles")
    spark.stop()
  }
}
