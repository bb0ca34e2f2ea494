package graft.sources

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.SparkSpec

/** Round-13 optimization guard: commit-time per-file statistics now come
  * from PARQUET FOOTERS (metadata-only) when every value shape is
  * provably exact, falling back to the original aggregate scan
  * otherwise. The footer strings must be BYTE-IDENTICAL to the
  * aggregate-cast strings — they feed the oracle-checked q105/q106
  * outputs and the min/max skipping comparisons — so this spec writes
  * the same data under both collectors (spark.graft.stats.footer=false
  * forces the scan) and compares the manifests' stats maps exactly,
  * across the adversarial shapes: negative/exponent doubles, unicode
  * and empty strings, timestamps, dates, decimals, null mixes, an
  * all-null column, NaN and ±0.0 doubles (fallback territory), and a
  * heterogeneous convert (absent column = all-null).
  */
class FooterStatsSpec extends SparkSpec {

  private def tmp(tag: String): String =
    java.nio.file.Files.createTempDirectory(s"graft-$tag").toString + "/t"

  /** Write `df` as a fresh table under both collectors; return the two
    * manifests' (rows, stats) per file path-suffix-normalized.
    */
  private def bothWays(df: DataFrame): (Seq[(Long, Map[String, TxLog.ColStats])],
      Seq[(Long, Map[String, TxLog.ColStats])]) = {
    val a = tmp("fstats-on")
    TxLog.overwrite(df, a)
    val withFooter = TxLog.manifest(spark, a).stats.getOrElse(Seq.empty)
      .sortBy(_.path).map(e => (e.rows, e.stats))
    spark.conf.set("spark.graft.stats.footer", "false")
    val b = try {
      val p = tmp("fstats-off")
      TxLog.overwrite(df, p)
      TxLog.manifest(spark, p).stats.getOrElse(Seq.empty)
        .sortBy(_.path).map(e => (e.rows, e.stats))
    } finally spark.conf.unset("spark.graft.stats.footer")
    (withFooter, b)
  }

  private def assertSame(df: DataFrame): Unit = {
    val (on, off) = bothWays(df)
    assert(on == off, s"\nfooter: $on\n  scan: $off")
  }

  test("numerics, strings, dates, timestamps, decimals: byte-equal") {
    import spark.implicits._
    val df = spark.range(0, 1000, 1, 3).select(
      col("id"),
      (col("id") * -1).cast("int").as("i"),
      (col("id").cast("double") / 7.0d).as("d"),
      concat(lit("véà-"), col("id")).as("s"),
      date_add(to_date(lit("1994-01-01")), col("id").cast("int")).as("dt"),
      timestamp_seconds(lit(1704067200L) + col("id") * 3600).as("ts"),
      (col("id").cast("decimal(12,2)") * -3.21).cast("decimal(12,2)").as("m"),
      when(col("id") % 3 === 0, col("id").cast("double")).as("nullable_d"),
      lit(null).cast("string").as("all_null"))
    assertSame(df)
  }

  test("exponent-rendered doubles and empty strings: byte-equal") {
    import spark.implicits._
    val df = Seq(
      (1L, 1.0e-7, ""), (2L, 4.9e-324, "z"), (3L, 1.7976931348623157e308, "á"),
      (4L, -1.0e7, "0")).toDF("id", "d", "s")
    assertSame(df)
  }

  test("NaN and signed-zero doubles stay correct (fallback territory)") {
    import spark.implicits._
    val nan = Seq((1L, Double.NaN), (2L, 1.5), (3L, -2.5)).toDF("id", "d")
    assertSame(nan)
    val zero = Seq((1L, -0.0d), (2L, 0.0d), (3L, 3.5)).toDF("id", "d")
    assertSame(zero)
  }

  test("oversized strings stay correct (fallback territory)") {
    import spark.implicits._
    val df = Seq((1L, "a" * 5000), (2L, "b" * 4096), (3L, "c"))
      .toDF("id", "s")
    assertSame(df)
  }

  test("distributed footer path (> footerDriverMaxFiles): byte-equal") {
    // force every footer-stats pass through the EXECUTOR-side job (the
    // >1000-files shape) and re-prove byte-equality against the
    // aggregate scan on the adversarial value battery
    import spark.implicits._
    val saved = TxLog.footerStatsMaxFiles
    TxLog.footerStatsMaxFiles = 0
    try {
      assert(TxLog.footerStatsMaxFiles == 0)
      val df = spark.range(0, 1000, 1, 3).select(
        col("id"),
        (col("id").cast("double") / 7.0d).as("d"),
        concat(lit("véà-"), col("id")).as("s"),
        date_add(to_date(lit("1994-01-01")), col("id").cast("int")).as("dt"),
        timestamp_seconds(lit(1704067200L) + col("id") * 3600).as("ts"),
        (col("id").cast("decimal(12,2)") * -3.21).cast("decimal(12,2)").as("m"),
        when(col("id") % 3 === 0, col("id").cast("double")).as("nullable_d"),
        lit(null).cast("string").as("all_null"))
      assertSame(df)
      // fallback shapes must still fall back whole-batch, distributed too
      assertSame(Seq((1L, Double.NaN), (2L, 1.5)).toDF("id", "d"))
      assertSame(Seq((1L, "a" * 5000), (2L, "c")).toDF("id", "s"))
    } finally TxLog.footerStatsMaxFiles = saved
  }

  test("distributed footer path releases its Hadoop-conf broadcast") {
    def confBroadcasts() = org.apache.spark.graftprobe.BroadcastProbe
      .live(_.isInstanceOf[SerializableHadoopConf])
    val saved = TxLog.footerStatsMaxFiles
    TxLog.footerStatsMaxFiles = 0
    try {
      val before = confBroadcasts()
      TxLog.overwrite(spark.range(0, 100, 1, 3).toDF("id"), tmp("fstats-bc"))
      val leaked = confBroadcasts() -- before
      assert(leaked.isEmpty, s"conf broadcasts left on the block manager: $leaked")
    } finally TxLog.footerStatsMaxFiles = saved
  }

  test("convert with absent columns: all-null stats match the scan") {
    import spark.implicits._
    def convertStats(dir: String): Seq[(Long, Map[String, TxLog.ColStats])] = {
      Seq((1L, "x"), (2L, "y")).toDF("id", "s")
        .write.parquet(dir + "/p1")
      // second file lacks `s` entirely
      Seq(Tuple1(9L), Tuple1(10L)).toDF("id")
        .write.parquet(dir + "/p2")
      TxLog.convert(spark, dir)
      TxLog.manifest(spark, dir).stats.getOrElse(Seq.empty)
        .map(e => (e.rows, e.stats))
        .sortBy(_._2.get("id").flatMap(_.min))
    }
    val on = convertStats(tmp("fstats-cv-on"))
    spark.conf.set("spark.graft.stats.footer", "false")
    val off = try convertStats(tmp("fstats-cv-off"))
      finally spark.conf.unset("spark.graft.stats.footer")
    assert(on == off, s"\nfooter: $on\n  scan: $off")
  }
}
