package graft.sources

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{DataType, StructType}

import graft.SparkSpec

/** Round-13 optimization guard: commit-time per-file statistics now come
  * from PARQUET FOOTERS (metadata-only) when every value shape is
  * provably exact, falling back to the original aggregate scan
  * otherwise. The footer strings must be BYTE-IDENTICAL to the
  * aggregate-cast strings — they feed the oracle-checked q105/q106
  * outputs and the min/max skipping comparisons — so this spec runs the
  * aggregate collector directly over the files a commit's footer
  * collector read and compares the stats maps exactly, across the
  * adversarial shapes: negative/exponent doubles, unicode
  * and empty strings, timestamps, dates, decimals, null mixes, an
  * all-null column, NaN and ±0.0 doubles (fallback territory), and a
  * heterogeneous convert (absent column = all-null).
  */
class FooterStatsSpec extends SparkSpec {

  private def tmp(tag: String): String =
    java.nio.file.Files.createTempDirectory(s"graft-$tag").toString + "/t"

  /** The (rows, stats) per file that `table`'s last commit stored, and
    * the aggregate collector's over the same files, both in path order.
    */
  private def bothCollectors(table: String): (Seq[(Long, Map[String, TxLog.ColStats])],
      Seq[(Long, Map[String, TxLog.ColStats])]) = {
    val m = TxLog.manifest(spark, table)
    val schema = DataType.fromJson(m.schemaJson).asInstanceOf[StructType]
    def relOf(scanned: String): String = {
      val p = java.net.URLDecoder.decode(scanned, "UTF-8")
      m.files.find(f => p.endsWith("/" + f)).getOrElse(sys.error(s"unlisted $scanned"))
    }
    val scanned = TxLog.aggregateStats(spark, schema,
      m.files.map(f => new Path(table, f).toString), relOf)
    def byPath(es: Seq[TxLog.FileEntry]) = es.sortBy(_.path).map(e => (e.rows, e.stats))
    (byPath(m.stats.getOrElse(Seq.empty)), byPath(scanned))
  }

  private def assertSame(df: DataFrame): Unit = {
    val t = tmp("fstats")
    TxLog.overwrite(df, t)
    val (footer, scan) = bothCollectors(t)
    assert(footer == scan, s"\nfooter: $footer\n  scan: $scan")
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
    val dir = tmp("fstats-cv")
    Seq((1L, "x"), (2L, "y")).toDF("id", "s")
      .write.parquet(dir + "/p1")
    // second file lacks `s` entirely
    Seq(Tuple1(9L), Tuple1(10L)).toDF("id")
      .write.parquet(dir + "/p2")
    TxLog.convert(spark, dir)
    val (footer, scan) = bothCollectors(dir)
    assert(footer.exists { case (rows, st) =>
      st.get("s").exists(c => c.min.isEmpty && c.nulls == rows) }, footer)
    assert(footer == scan, s"\nfooter: $footer\n  scan: $scan")
  }
}
