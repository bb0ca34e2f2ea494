package graft.sources

import org.apache.spark.sql.SparkSession

/** Measures the checkpoint-census design point the engine claims: at
  * ~10⁶ live files (the 100 TB manifest scale), file-grain operational
  * queries must run DISTRIBUTED over the parquet census, not through a
  * driver-resident manifest list. The probe fabricates a synthetic
  * 10⁶-entry checkpoint (realistic per-file stats: two stats columns,
  * partition values, sizes) plus its parquet census sidecar, then
  * times:
  *
  *   1. cold manifest resolution (the jackson streaming decode of the
  *      ~200 MB JSON checkpoint — paid once per process, then memoized),
  *   2. `fileCensus` compaction-candidate aggregation THROUGH the
  *      parquet census (distributed; driver never holds the rows),
  *   3. the same aggregation through the manifest fallback
  *      (`createDataset` of 10⁶ driver rows — what the census replaces),
  *
  * and prints one JSON line. Run:
  * `SPARK_GRAFT_CPUS=32 sbt "runMain graft.sources.CensusProbe [nFiles]"`.
  * Results are recorded in SCALING.md §file-count.
  */
object CensusProbe {
  def main(args: Array[String]): Unit = {
    val n = args.headOption.map(_.toInt).getOrElse(1000000)
    val spark = graft.GraftExtensions.builder(graft.GraftExtensions.envCpus(32))
      .appName("graft-census-probe").getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    try probe(spark, n) finally spark.stop()
  }

  private def timed[A](f: => A): (A, Double) = {
    val t0 = System.nanoTime()
    val a = f
    (a, (System.nanoTime() - t0) / 1e9)
  }

  private def heapMb(): Long = {
    System.gc()
    val r = Runtime.getRuntime
    (r.totalMemory - r.freeMemory) >> 20
  }

  private def probe(spark: SparkSession, n: Int): Unit = {
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("graft-census-probe")
    val table = dir.resolve("t").toString
    // a real seed commit supplies a valid schema + layout
    TxLog.overwrite(Seq((1L, "a", 1), (2L, "b", 2)).toDF("k", "v", "p"), table)
    val seed = TxLog.manifest(spark, table)

    // fabricate the 10⁶-file checkpoint: contiguous key ranges per file
    // (what a clustered write produces), 2 stats columns + partition
    // value + size — the shape writeData records
    val entries = (0 until n).map { i =>
      val lo = i.toLong * 1000L
      TxLog.FileEntry(
        f"data/u$i%07d/part-0.parquet", 1000L,
        Map(
          "k" -> TxLog.ColStats(Some(lo.toString), Some((lo + 999).toString), 0L),
          "v" -> TxLog.ColStats(Some(s"v$lo"), Some(s"v${lo + 999}"), 3L)),
        parts = Some(Map("p" -> (i % 1024).toString)),
        bytes = Some(128L << 20))
    }
    val m = TxLog.Manifest(10L, "overwrite", entries.map(_.path),
      seed.schemaJson, 1700000000000L, stats = Some(entries),
      partitionBy = Some(Seq("p")))
    implicit val fmts: org.json4s.Formats =
      org.json4s.jackson.Serialization.formats(org.json4s.NoTypeHints)
    val json = org.json4s.jackson.Serialization.write(m)
    val ckpt = java.nio.file.Paths.get(table, "_txlog",
      "%020d.json".format(10))
    java.nio.file.Files.write(ckpt, json.getBytes("UTF-8"))
    val jsonMb = json.length >> 20

    // 1. cold resolution: decode the checkpoint once (fresh process →
    // nothing memoized yet for v10)
    val h0 = heapMb()
    val (_, coldS) = timed(TxLog.manifestAt(spark, table, 10L))
    val h1 = heapMb()

    // 2. distributed census: fabricate the parquet sidecar the
    // checkpoint write would have produced, then aggregate through it
    val censusDir = java.nio.file.Paths.get(table, "_txlog",
      "%020d.checkpoint.parquet".format(10)).toString
    val (_, buildS) = timed {
      spark.createDataset(entries.map(e => TxLog.CensusRow(
          e.path, Some(e.rows), e.bytes, e.parts, e.stats, None, None)))
        .repartition(math.max(1, n / 1000000))
        .write.mode("overwrite").parquet(censusDir)
    }
    val agg = "SELECT count(*) AS files, sum(bytes) AS bytes " +
      s"FROM graft_tx_files('$table', 10) WHERE bytes < ${200L << 20}"
    val (viaCensus, censusS) = timed(spark.sql(agg).collect()(0).getLong(0))
    val h2 = heapMb()

    // 3. manifest fallback: same aggregation with the sidecar gone —
    // the driver materializes 10⁶ census rows into a local dataset
    val fsys = new org.apache.hadoop.fs.Path(censusDir).getFileSystem(
      spark.sessionState.newHadoopConf())
    fsys.delete(new org.apache.hadoop.fs.Path(censusDir), true)
    val (viaManifest, fallbackS) = timed(spark.sql(agg).collect()(0).getLong(0))

    require(viaCensus == n.toLong && viaManifest == n.toLong,
      s"census/manifest disagree: $viaCensus vs $viaManifest vs $n")
    println(s"""{"probe":"census","files":$n,"checkpoint_mb":$jsonMb,""" +
      s""""cold_resolve_sec":${f"$coldS%.2f"},""" +
      s""""census_build_sec":${f"$buildS%.2f"},""" +
      s""""census_agg_sec":${f"$censusS%.2f"},""" +
      s""""manifest_agg_sec":${f"$fallbackS%.2f"},""" +
      s""""heap_mb_start":$h0,"heap_mb_resolved":$h1,"heap_mb_census":$h2}""")
  }
}
