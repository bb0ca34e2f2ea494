package graft

/** Scaling probe (SURVEY §15 / VERDICT r7 #2): time the HEAVY query
  * shapes at two scale factors and report per-query seconds, so the
  * sf1/sf0.1 ratio exposes any superlinear shape the flat sf0.1 bench
  * profile hides. Methodology matches Bench (pass-major: warmup pass,
  * then N timed passes, per-query MIN across passes — min is the right
  * statistic for a ratio: contention only ever inflates).
  *
  * Usage: `runMain graft.ScaleProbe <dir> [passes]` — prints one JSON
  * line `{"dir":…, "queries":{name:minSec,…}}`; run it against
  * /root/testdata/sf0.1 and a ScaleGen output dir and divide.
  */
object ScaleProbe {

  /** The shapes worth probing: iterative (d11), join-explosive (d02,
    * d12, d29), LM-join (t12, t10), distributed-prefix-scan (d19, d25),
    * window-heavy (q46), big-join TPC-H (q85, q66 skew path), the tx
    * lifecycle (q93/q96/q97/q101/q122/q123/q124), and ANN build paths
    * (d31, d08 via d30).
    */
  val heavy: Seq[String] = Seq(
    "d01_exact_dedup", "d02_ngram_jaccard", "d03_minhash",
    "d11_dup_clusters", "d12_contamination", "d19_domain_mix",
    "d21_substring_dedup", "d25_global_shuffle", "d29_split_leakage",
    "d30_ivf_route", "d31_pq_code",
    "t05_tfidf", "t10_bm25", "t12_perplexity_filter",
    "q20_tpch3", "q46_drawdown", "q66_salted_agg", "q85_tpch9",
    "q93_tx_merge", "q96_tx_delete", "q97_tx_update", "q101_tx_cdf",
    "q122_pipeline_publish", "q123_merge_into", "q124_sql_dml")

  def main(args: Array[String]): Unit = {
    val dir = args.headOption.getOrElse("/root/testdata/sf0.1")
    val passes = if (args.length > 1) args(1).toInt else 2
    // arg 3 = "all": sweep EVERY SparkEntry query instead of the heavy
    // list (VERDICT r8 #7 — the full-surface sf1 sweep; one pass over
    // ~175 shapes catches a constant-dominated sf0.1 shape whose ratio
    // is not in the probed set). A comma-separated list probes exactly
    // those keys (post-fix re-measurement). Deterministic key order.
    val names: Seq[String] =
      if (args.length > 2 && args(2) == "all") SparkEntry.queries.keys.toSeq.sorted
      else if (args.length > 2) args(2).split(',').map(_.trim).filter(_.nonEmpty).toSeq
      else heavy
    val spark = GraftExtensions.builder(GraftExtensions.envCpus(32)).getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    val qs = names.flatMap(n => SparkEntry.queries.get(n).map(n -> _))
    def clear(): Unit = { CacheRegistry.releaseAll(); spark.catalog.clearCache() }
    // warmup pass (skipped in the full-surface sweep: one timed pass
    // per query is the stated methodology there — JIT noise is bounded
    // by running three light shapes first)
    if (names eq heavy) qs.foreach { case (_, fn) =>
      clear(); fn(spark, dir).queryExecution.toRdd.foreach(_ => ())
    } else Seq("q06_sma", "q10_daily_agg", "q15_category")
      .flatMap(SparkEntry.queries.get).foreach { fn =>
        clear(); fn(spark, dir).queryExecution.toRdd.foreach(_ => ())
      }
    val best = scala.collection.mutable.LinkedHashMap.empty[String, Double]
    (1 to passes).foreach { _ =>
      qs.foreach { case (name, fn) =>
        clear()
        val t0 = System.nanoTime()
        fn(spark, dir).queryExecution.toRdd.foreach(_ => ())
        val sec = (System.nanoTime() - t0) / 1e9
        best(name) = math.min(best.getOrElse(name, Double.MaxValue), sec)
      }
    }
    val js = best.map { case (k, v) =>
      "\"" + k + "\":" + "%.3f".formatLocal(java.util.Locale.ROOT, v)
    }.mkString("{", ",", "}")
    println(s"""{"dir":"$dir","queries":$js}""")
    spark.stop()
  }
}
