package graft.plans

import java.nio.file.Files

import org.apache.spark.sql.functions.{col, lit}

import graft.SparkSpec
import graft.sources.{TxLog, TxLogRelation}

/** Dynamic file pruning (the Delta DFP shape for graft-txlog): an
  * equi-join against a small FILTERED dimension collects the dim's key
  * set at planning time and prunes the fact's manifest file list
  * through the existing stats machinery — files a static WHERE could
  * never skip, because the key set only exists after the dim's filter
  * runs.
  */
class DynamicFilePruningSpec extends SparkSpec {
  import spark.implicits._

  private def tmpTable(): String =
    Files.createTempDirectory("graft-dfp").resolve("t").toString

  /** `body` with the literal-IN tier capped at `n` keys. */
  private def withMaxKeys[A](n: Int)(body: => A): A = {
    val saved = DynamicFilePruning.maxKeys
    DynamicFilePruning.maxKeys = n
    try body finally DynamicFilePruning.maxKeys = saved
  }

  /** Fact clustered on k: 8 files, each holding one contiguous k-range
    * of 0..799 — per-file min/max stats make IN-pruning exact.
    */
  private def mkFact(): String = {
    val t = tmpTable()
    TxLog.overwrite((0 until 800).map(i => (i.toLong, s"v$i", i % 7))
      .toDF("k", "v", "g").repartitionByRange(8, col("k")), t)
    assert(TxLog.manifest(spark, t).files.size == 8)
    t
  }

  test("a filtered small dim prunes fact files through the join") {
    val t = mkFact()
    val fact = spark.read.format("graft-txlog").load(t)
    // dim: keys 10..19 after its filter — all inside ONE fact file
    val dim = (0 until 200).map(i => (i.toLong, i % 20))
      .toDF("dk", "tag").filter(col("tag") === 1 && col("dk") < 20)
    TxLogRelation.lastScanFileCount = -1
    DynamicFilePruning.lastInjectedKeys = -1
    val got = fact.join(dim, fact("k") === dim("dk")).collect()
    assert(got.length == 1) // only (k=1, dk=1): dk<20 && dk%20==1 → {1}
    assert(DynamicFilePruning.lastInjectedKeys == 1)
    assert(TxLogRelation.lastScanFileCount == 1,
      s"expected 1 of 8 fact files planned, got ${TxLogRelation.lastScanFileCount}")
  }

  test("wider dim key set keeps exactly the covering files") {
    val t = mkFact()
    val fact = spark.read.format("graft-txlog").load(t)
    // keys 0..99 and 700..799 → first and last fact file only
    val dim = ((0L until 100L) ++ (700L until 800L)).toDF("dk")
      .filter(col("dk") >= 0) // selectivity signal
    TxLogRelation.lastScanFileCount = -1
    val got = fact.join(dim, fact("k") === dim("dk")).count()
    assert(got == 200L)
    assert(TxLogRelation.lastScanFileCount == 2,
      s"expected 2 of 8 fact files planned, got ${TxLogRelation.lastScanFileCount}")
  }

  test("LEFT SEMI prunes the probe side") {
    val t = mkFact()
    val fact = spark.read.format("graft-txlog").load(t)
    val dim = Seq(5L, 6L, 7L).toDF("dk").filter(col("dk") > 0)
    dim.createOrReplaceTempView("dfp_dim")
    spark.read.format("graft-txlog").load(t).createOrReplaceTempView("dfp_fact")
    TxLogRelation.lastScanFileCount = -1
    val got = spark.sql(
      "SELECT * FROM dfp_fact WHERE k IN (SELECT dk FROM dfp_dim)").collect()
    assert(got.length == 3)
    assert(TxLogRelation.lastScanFileCount == 1)
  }

  test("backs off: unfiltered dim, over-cap key set, outer join") {
    val t = mkFact()
    val fact = spark.read.format("graft-txlog").load(t)
    // (a) no Filter in the dim subtree (and not a LocalRelation): the
    // parquet-backed dim carries no selectivity signal — full scan
    val rawDim = {
      val d = tmpTable()
      Seq(3L, 4L).toDF("dk").write.parquet(d)
      spark.read.parquet(d)
    }
    TxLogRelation.lastScanFileCount = -1
    assert(fact.join(rawDim, fact("k") === rawDim("dk")).count() == 2L)
    assert(TxLogRelation.lastScanFileCount == 8, "unfiltered dim must not prune")
    // (b) a dim past the FREEZE cap cannot be frozen into a
    // LocalRelation, and the rule backs off entirely — an unfrozen dim
    // could disagree with the collected key set at runtime
    val savedRows = DynamicFilePruning.maxRows
    DynamicFilePruning.maxRows = 5
    try {
      val wide = (0L until 50L).toDF("dk").filter(col("dk") >= 0)
      TxLogRelation.lastScanFileCount = -1
      assert(fact.join(wide, fact("k") === wide("dk")).count() == 50L)
      assert(TxLogRelation.lastScanFileCount == 8,
        "an unfreezable dim must not prune")
    } finally DynamicFilePruning.maxRows = savedRows
    // (c) left outer: fact rows are preserved — never pruned
    val dim = Seq(9L).toDF("dk").filter(col("dk") > 0)
    TxLogRelation.lastScanFileCount = -1
    assert(fact.join(dim, fact("k") === dim("dk"), "left").count() == 800L)
    assert(TxLogRelation.lastScanFileCount == 8, "outer join must not prune")
    // (d) the rule excluded from the session
    withoutRule(DynamicFilePruning) {
      TxLogRelation.lastScanFileCount = -1
      assert(fact.join(dim, fact("k") === dim("dk")).count() == 1L)
      assert(TxLogRelation.lastScanFileCount == 8)
    }
  }

  test("a non-deterministic dim never prunes (it executes twice)") {
    val t = mkFact()
    val fact = spark.read.format("graft-txlog").load(t)
    // parquet-backed so the rand() filter SURVIVES optimization (an
    // inline LocalRelation dim gets its filter constant-folded once at
    // optimize time, which is deterministic — and safe — thereafter)
    val d = tmpTable()
    (0L until 20L).toDF("dk").write.parquet(d)
    val dim = spark.read.parquet(d)
      .filter(org.apache.spark.sql.functions.rand(7L) >= 0) // true, but ND
    TxLogRelation.lastScanFileCount = -1
    assert(fact.join(dim, fact("k") === dim("dk")).count() == 20L)
    assert(TxLogRelation.lastScanFileCount == 8,
      "a rand() dim filter must disable pruning — the key collect and " +
        "the join would see different draws")
  }

  test("empty filtered dim short-circuits the fact scan") {
    val t = mkFact()
    val fact = spark.read.format("graft-txlog").load(t)
    val dim = Seq(1L).toDF("dk").filter(col("dk") < 0) // empty after filter
    assert(fact.join(dim, fact("k") === dim("dk")).count() == 0L)
  }

  test("over-cap key set prunes via the InSet tier (exact, with gaps)") {
    val t = mkFact()
    val fact = spark.read.format("graft-txlog").load(t)
    // 10 keys > maxKeys=5: first five in file 0, five more in file 7 —
    // the single-node InSet pushes as sources.In and the one-sort
    // window prune keeps exactly the two covering files (a RANGE
    // summary alone would keep all eight)
    withMaxKeys(5) {
      val dim = (Seq(0L, 1L, 2L, 3L, 4L) ++ Seq(750L, 751L, 752L, 753L, 754L))
        .toDF("dk").filter(col("dk") >= 0)
      TxLogRelation.lastScanFileCount = -1
      DynamicFilePruning.lastTier = ""
      assert(fact.join(dim, fact("k") === dim("dk")).count() == 10L)
      assert(DynamicFilePruning.lastTier == "set")
      assert(TxLogRelation.lastScanFileCount == 2,
        s"expected 2 of 8 fact files planned, got ${TxLogRelation.lastScanFileCount}")
    }
  }

  test("past the summary cap the rule falls to min/max range bounds") {
    val t = mkFact()
    val fact = spark.read.format("graft-txlog").load(t)
    val savedSummary = DynamicFilePruning.summaryMaxKeys
    DynamicFilePruning.summaryMaxKeys = 5
    try withMaxKeys(2) {
      // 50 keys > summaryMaxKeys=5 → injected [700, 749] range → the
      // one covering file; the join still filters rows exactly
      val dim = (700L until 750L).toDF("dk").filter(col("dk") >= 0)
      TxLogRelation.lastScanFileCount = -1
      DynamicFilePruning.lastTier = ""
      assert(fact.join(dim, fact("k") === dim("dk")).count() == 50L)
      assert(DynamicFilePruning.lastTier == "range")
      assert(TxLogRelation.lastScanFileCount == 1,
        s"expected 1 of 8 fact files planned, got ${TxLogRelation.lastScanFileCount}")
    } finally DynamicFilePruning.summaryMaxKeys = savedSummary
  }

  test("the dim is frozen at planning and executes exactly once") {
    val t = mkFact()
    val d = tmpTable()
    TxLog.overwrite((0 until 100).map(i => (i.toLong, i % 10)).toDF("dk", "tag"), d)
    val fact = spark.read.format("graft-txlog").load(t)
    val dim = spark.read.format("graft-txlog").load(d)
      .filter(col("tag") === 3)
    TxLogRelation.scanCounts.clear()
    TxLogRelation.lastScanFileCount = -1
    val got = fact.join(dim, fact("k") === dim("dk")).collect()
    assert(got.length == 10) // dk % 10 == 3 → {3, 13, ..., 93}
    assert(TxLogRelation.lastScanFileCount == 1) // all keys < 100: file 0
    // the dim's txlog relation was scanned ONCE — at freeze time; the
    // runtime join consumed the frozen LocalRelation, not a re-scan
    assert(TxLogRelation.scanCounts.get(d) == 1,
      s"dim scans: ${TxLogRelation.scanCounts.get(d)} (want 1)")
  }

  test("an IN (SELECT ...) subquery dim is frozen and scans once") {
    val t = mkFact()
    val d = tmpTable()
    TxLog.overwrite((0 until 100).map(i => (i.toLong, i % 10)).toDF("dk", "tag"), d)
    spark.read.format("graft-txlog").load(t).createOrReplaceTempView("dfp_f1")
    spark.read.format("graft-txlog").load(d).createOrReplaceTempView("dfp_d1")
    TxLogRelation.scanCounts.clear()
    TxLogRelation.lastScanFileCount = -1
    val got = spark.sql(
      "SELECT * FROM dfp_f1 WHERE k IN (SELECT dk FROM dfp_d1 WHERE tag = 7)")
      .collect()
    assert(got.length == 10)
    assert(TxLogRelation.lastScanFileCount == 1)
    assert(TxLogRelation.scanCounts.get(d) == 1,
      s"subquery dim scans: ${TxLogRelation.scanCounts.get(d)} (want 1)")
  }

  test("InSet tier probes bloom sidecars with the in-window keys only") {
    // fact holds EVEN keys 0..1598 (8 range files); dim keys are ODD
    // values inside file 0's [0,198] window — min/max stats keep the
    // file, the bloom sidecar rejects every in-window probe
    val t = tmpTable()
    TxLog.overwrite((0 until 800).map(i => (i * 2L, s"v$i"))
      .toDF("k", "v").repartitionByRange(8, col("k")), t)
    TxLog.setBloomIndex(spark, t, Seq("k"))
    val fact = spark.read.format("graft-txlog").load(t)
    withMaxKeys(2) {
      val dim = Seq(1L, 3L, 5L).toDF("dk").filter(col("dk") >= 0)
      TxLogRelation.lastScanFileCount = -1
      DynamicFilePruning.lastTier = ""
      assert(fact.join(dim, fact("k") === dim("dk")).count() == 0L)
      assert(DynamicFilePruning.lastTier == "set")
      assert(TxLogRelation.lastScanFileCount == 0,
        s"bloom should reject all files, planned ${TxLogRelation.lastScanFileCount}")
    }
  }

  test("results are identical with pruning on and off (row-level truth)") {
    val t = mkFact()
    val fact = spark.read.format("graft-txlog").load(t)
    val dim = (0 until 100).map(i => (i * 7L, i)).toDF("dk", "i")
      .filter(col("i") % 3 === 0)
    val on = fact.join(dim, fact("k") === dim("dk")).collect().toSet
    val off = withoutRule(DynamicFilePruning)(
      fact.join(dim, fact("k") === dim("dk")).collect().toSet)
    assert(on == off && on.nonEmpty)
  }
}
