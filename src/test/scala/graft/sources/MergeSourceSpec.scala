package graft.sources

import java.nio.file.Files
import java.util.concurrent.atomic.AtomicLong

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.functions.{col, expr, udf}
import org.apache.spark.sql.util.QueryExecutionListener
import org.apache.spark.storage.StorageLevel

import graft.SparkSpec

/** Evaluations of [[MergeSourceSpec]]'s non-deterministic key UDF. */
object MergeSourceCalls {
  val n = new AtomicLong(0L)
}

/** A general MERGE reads its source ONCE: the find pass, the data write
  * and the change feed see the same rows on every CAS attempt, the
  * merge's own cache entry is gone on every exit, a user's cache of the
  * same source survives, and an insert-only MERGE caches nothing.
  */
class MergeSourceSpec extends SparkSpec {
  import spark.implicits._
  import TxLog.{MergeInsert, MergeUpdate}

  private def tmpTable(): String =
    Files.createTempDirectory("graft-msrc").resolve("t").toString

  private def seed(t: String): Unit =
    TxLog.overwrite((1L to 6L).map(k => (k, s"v$k")).toDF("k", "v")
      .repartition(2, col("k")), t)

  private val update = MergeUpdate(Map("v" -> expr("s.sv")))
  private val insert = MergeInsert(Map("k" -> expr("s.k"), "v" -> expr("s.sv")))

  private def upsert(t: String, source: DataFrame, changeFeed: Boolean = false,
      maxAttempts: Int = 10): Long =
    TxLog.mergeInto(spark, t, source, on = expr("t.k = s.k"),
      matched = Seq(update), notMatched = Seq(insert), changeFeed = changeFeed,
      maxAttempts = maxAttempts)

  /** Ids of the persisted RDDs (every cache entry's column buffers). */
  private def persisted(): Set[Int] = spark.sparkContext.getPersistentRDDs.keySet.toSet

  /** Whether any query `body` runs scans a cached frame. */
  private def scansCache(body: => Unit): Boolean = {
    val seen = new AtomicLong(0L)
    val listener = new QueryExecutionListener {
      def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
        if (qe.executedPlan.toString.contains("InMemoryTableScan")) seen.incrementAndGet()
      def onFailure(funcName: String, qe: QueryExecution, e: Exception): Unit = ()
    }
    spark.listenerManager.register(listener)
    try {
      body
      org.apache.spark.graftprobe.ListenerBusProbe.drain(spark.sparkContext)
    } finally spark.listenerManager.unregister(listener)
    seen.get > 0L
  }

  test("a non-deterministic source is evaluated once: no duplicate insert") {
    val t = tmpTable(); seed(t)
    // keys 2 and 4 shifted past the table on their FIRST evaluation
    // only: read once, both are inserts (102, 104); read again, the
    // later passes would see 2 and 4, which the find pass never matched,
    // and insert them a second time beside the untouched originals
    val firstPass = 2L
    val key = udf { (k: Long) =>
      if (MergeSourceCalls.n.getAndIncrement() < firstPass) k + 100L else k
    }.asNondeterministic()
    MergeSourceCalls.n.set(0L)
    val source = Seq((2L, "x"), (4L, "y")).toDF("k0", "sv").coalesce(1)
      .select(key(col("k0")).as("k"), col("sv"))
    upsert(t, source, changeFeed = true)
    assert(MergeSourceCalls.n.get == firstPass, "the source is evaluated once")
    val got = TxLog.read(spark, t).as[(Long, String)].collect().toSeq
    assert(got.map(_._1).groupBy(identity).forall(_._2.size == 1),
      s"duplicate keys: ${got.sorted}")
    assert(got.toSet == (1L to 6L).map(k => (k, s"v$k")).toSet ++
      Set((102L, "x"), (104L, "y")))
  }

  test("a merge nested in another merge of the same source keeps the outer's rows") {
    val outer = tmpTable(); seed(outer)
    val inner = tmpTable(); seed(inner)
    val key = udf { (k: Long) =>
      if (MergeSourceCalls.n.getAndIncrement() < 2L) k + 100L else k
    }.asNondeterministic()
    MergeSourceCalls.n.set(0L)
    val source = Seq((2L, "x"), (4L, "y")).toDF("k0", "sv").coalesce(1)
      .select(key(col("k0")).as("k"), col("sv"))
    val before = persisted()
    // the inner merge runs between the outer's find pass and its write;
    // had they shared one cache entry, the inner's release would make
    // the outer's write read the source again and see other keys
    var nested = false
    TxLog.mergeFeedHook = _ => if (!nested) { nested = true; upsert(inner, source) }
    try upsert(outer, source, changeFeed = true)
    finally TxLog.mergeFeedHook = _ => ()
    assert(nested)
    assert(TxLog.read(spark, outer).as[(Long, String)].collect().toSet ==
      (1L to 6L).map(k => (k, s"v$k")).toSet ++ Set((102L, "x"), (104L, "y")))
    assert(MergeSourceCalls.n.get == 4L, "each merge evaluates the source once")
    assert(persisted() == before)
  }

  test("the merge's own cache is released on success, error and lost retries") {
    val t = tmpTable(); seed(t)
    val before = persisted()
    // success, with the change feed (find pass, write and feed all read it)
    assert(scansCache(upsert(t, Seq((1L, "u"), (9L, "i")).toDF("k", "sv"),
      changeFeed = true)), "the general path reads the materialized source")
    assert(persisted() == before)
    // the multiple-match error
    val multi = intercept[RuntimeException] {
      upsert(t, Seq((2L, "a"), (2L, "b")).toDF("k", "sv"))
    }
    assert(multi.getMessage.contains("multiple source rows"))
    assert(persisted() == before)
    // exhausted CAS retries: a commit lands in every attempt's gap
    TxLog.mergeFeedHook = _ =>
      TxLog.append(Seq((50L, "race")).toDF("k", "v"), t)
    val race = try intercept[RuntimeException] {
      upsert(t, Seq((3L, "c")).toDF("k", "sv"), changeFeed = true, maxAttempts = 2)
    } finally TxLog.mergeFeedHook = _ => ()
    assert(race.getMessage.contains("lost the commit race 2 times"))
    assert(persisted() == before)
  }

  test("a user's own cache of the source survives the merge") {
    val t = tmpTable(); seed(t)
    val source = Seq((1L, "u"), (9L, "i")).toDF("k", "sv").cache()
    try {
      source.count()
      val before = persisted()
      upsert(t, source)
      assert(source.storageLevel != StorageLevel.NONE)
      assert(persisted() == before)
      assert(TxLog.read(spark, t).where(col("k").isin(1L, 9L))
        .as[(Long, String)].collect().toSet == Set((1L, "u"), (9L, "i")))
    } finally source.unpersist()
  }

  test("an insert-only MERGE does not materialize its source") {
    val t = tmpTable(); seed(t)
    val before = persisted()
    assert(!scansCache(TxLog.mergeInto(spark, t, Seq((1L, "u"), (9L, "i")).toDF("k", "sv"),
      on = expr("t.k = s.k"), notMatched = Seq(insert), changeFeed = true)))
    assert(persisted() == before)
    assert(TxLog.read(spark, t).count() == 7L)
  }
}
