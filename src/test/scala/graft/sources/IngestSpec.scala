package graft.sources

import java.nio.file.Files

import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.SparkSpec

class IngestSpec extends SparkSpec {
  import spark.implicits._

  private val schema = StructType(Seq(
    StructField("id", LongType),
    StructField("name", StringType),
    StructField("score", DoubleType)))

  test("readJson enforces the schema and quarantines corrupt rows") {
    val dir = Files.createTempDirectory("ingest-json")
    Files.writeString(dir.resolve("a.json"),
      """{"id": 1, "name": "ok", "score": 1.5}
        |{"id": "not a number", "name": "bad"
        |{"id": 2, "name": "ok2", "score": 2.5}
        |""".stripMargin)
    val (valid, corrupt) = Ingest.quarantine(
      Ingest.readJson(spark, dir.toString, schema))
    assert(valid.count() == 2)
    assert(corrupt.count() == 1)
    assert(valid.columns.toSeq == Seq("id", "name", "score"))
  }

  test("readCsv round-trips typed rows") {
    val dir = Files.createTempDirectory("ingest-csv")
    Files.writeString(dir.resolve("a.csv"),
      "id,name,score\n1,alpha,1.5\n2,beta,2.5\n")
    val df = Ingest.readCsv(spark, dir.toString, schema)
    val (valid, _) = Ingest.quarantine(df)
    assert(valid.as[(Long, String, Double)].collect().toSet ==
      Set((1L, "alpha", 1.5), (2L, "beta", 2.5)))
  }

  test("flatten lifts nested structs to prefixed top-level columns") {
    val df = Seq((1L, ("x", (2.0, 3.0)))).toDF("id", "payload")
      .select(col("id"), col("payload._1").as("tag"),
        struct(col("payload._2._1").as("open"), col("payload._2._2").as("close")).as("prices"))
    val flat = Ingest.flatten(df)
    assert(flat.columns.toSeq == Seq("id", "tag", "prices_open", "prices_close"))
    assert(flat.as[(Long, String, Double, Double)].head() == ((1L, "x", 2.0, 3.0)))
  }

  test("explodeStructArray unnests one row per element with flattened fields") {
    val df = Seq(
      ("acme", Seq(("10-K", 2023), ("10-Q", 2024))),
      ("beta", Seq(("8-K", 2024)))
    ).toDF("company", "filings")
      .select(col("company"),
        transform(col("filings"),
          f => struct(f.getField("_1").as("form"), f.getField("_2").as("fy"))).as("filings"))
    val out = Ingest.explodeStructArray(df, "filings", "filing")
    assert(out.columns.toSeq == Seq("company", "filing_form", "filing_fy"))
    assert(out.as[(String, String, Int)].collect().toSet ==
      Set(("acme", "10-K", 2023), ("acme", "10-Q", 2024), ("beta", "8-K", 2024)))
  }

  test("writeByMonth produces a prunable year/month directory layout") {
    val dir = Files.createTempDirectory("ingest-part").toString
    val df = Seq(
      (1L, java.sql.Timestamp.valueOf("2024-01-15 00:00:00"), 1.0),
      (2L, java.sql.Timestamp.valueOf("2024-02-15 00:00:00"), 2.0)
    ).toDF("id", "ts", "v")
    Ingest.writeByMonth(df, "ts", dir)
    val back = spark.read.parquet(dir)
    assert(back.count() == 2)
    // partition pruning: only one directory scanned for month=1
    val pruned = back.filter(col("year") === 2024 && col("month") === 1)
    assert(pruned.count() == 1)
    assert(new java.io.File(s"$dir/year=2024/month=1").exists())
    // partition pruning reaches the scan as a partition filter (inputFiles
    // is relation-level and would not show the pruning)
    val scan = pruned.queryExecution.executedPlan.collectFirst {
      case s: org.apache.spark.sql.execution.FileSourceScanExec => s
    }.get
    assert(scan.partitionFilters.nonEmpty)
  }

  test("ORC round-trip: partitioned write, schema-enforced read, pushdown intact") {
    val dir = Files.createTempDirectory("ingest-orc").toString
    val df = Seq(
      (1L, java.sql.Timestamp.valueOf("2024-01-15 00:00:00"), 10.0),
      (2L, java.sql.Timestamp.valueOf("2024-02-15 00:00:00"), 20.0),
      (3L, java.sql.Timestamp.valueOf("2024-02-16 00:00:00"), 30.0)
    ).toDF("id", "ts", "v")
    Ingest.writePartitioned(
      df.withColumn("month", org.apache.spark.sql.functions.month(col("ts"))),
      dir, Seq("month"), format = "orc")
    val schema = org.apache.spark.sql.types.StructType(Seq(
      org.apache.spark.sql.types.StructField("id", org.apache.spark.sql.types.LongType),
      org.apache.spark.sql.types.StructField("ts", org.apache.spark.sql.types.TimestampType),
      org.apache.spark.sql.types.StructField("v", org.apache.spark.sql.types.DoubleType),
      org.apache.spark.sql.types.StructField("month", org.apache.spark.sql.types.IntegerType)))
    val back = Ingest.readOrc(spark, dir, schema)
    assert(back.count() == 3)
    assert(back.filter(col("month") === 2).count() == 2)
    // predicate pushdown reaches the ORC scan
    val q = back.filter(col("v") > 15.0).select("id")
    assert(q.queryExecution.executedPlan.toString.contains("PushedFilters: [IsNotNull(v), GreaterThan(v,15.0)"),
      q.queryExecution.executedPlan.toString)
    assert(q.as[Long].collect().toSet == Set(2L, 3L))
  }

  test("writeServing routes to the file mart and round-trips") {
    val dir = java.nio.file.Files.createTempDirectory("graft-serving").toString + "/mart"
    val df = Seq((1L, "AAPL", 190.5), (2L, "MSFT", 410.2)).toDF("id", "ticker", "close")
    Ingest.writeServing(df, Ingest.FileTarget(dir))
    val back = spark.read.parquet(dir)
    assert(back.count() == 2)
    assert(back.columns.toSet == Set("id", "ticker", "close"))
    // overwrite mode replaces, not appends
    Ingest.writeServing(df.limit(1), Ingest.FileTarget(dir))
    assert(spark.read.parquet(dir).count() == 1)
  }

  test("JDBC serving target assembles the bounded-connection writer options") {
    val t = Ingest.JdbcTarget("jdbc:postgresql://db:5432/marts", "daily_summary",
      "svc", "secret", batchSize = 5000, maxConnections = 4)
    val opts = Ingest.jdbcOptions(t)
    assert(opts("url") == "jdbc:postgresql://db:5432/marts")
    assert(opts("dbtable") == "daily_summary")
    assert(opts("batchsize") == "5000")
    // write parallelism is capped so a wide job can't exhaust the pool
    assert(opts("numPartitions") == "4")
    // overwrite must TRUNCATE, preserving DDL-managed schema/indexes
    assert(opts("truncate") == "true")
  }

  test("graft_dot is callable from SQL after registration") {
    val out = spark.sql(
      "SELECT graft_dot(array(1.0d, 2.0d), array(3.0d, 4.0d)) AS d")
      .as[Double].head()
    assert(out == 11.0)
  }
}
