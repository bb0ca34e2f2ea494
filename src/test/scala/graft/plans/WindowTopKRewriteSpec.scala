package graft.plans

import scala.util.Random

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.SparkSpec

/** Specs for the row_number-filter → TopKPerKey optimizer rewrite and the
  * partial (map-side) top-k pass.
  */
class WindowTopKRewriteSpec extends SparkSpec {
  import spark.implicits._

  private val rnd = new Random(7L)

  private def randomDf: DataFrame =
    Seq.fill(600)((rnd.nextInt(8).toLong, rnd.nextInt(1000), rnd.nextLong()))
      .toDF("key", "value", "id")

  /** The window-formulation query every test rewrites. */
  private def windowTopK(df: DataFrame, k: Int): DataFrame = {
    val w = Window.partitionBy("key").orderBy(col("value").desc, col("id"))
    df.withColumn("rn", row_number().over(w)).filter(col("rn") <= k)
  }

  /** Evaluate `body` with the rewrite disabled (k-threshold forced to 0),
    * yielding the plain window plan as the expected-result reference.
    */
  private def withoutRewrite[A](body: => A): A = {
    spark.conf.set("spark.graft.topk.rewriteMaxK", "0")
    try body finally spark.conf.unset("spark.graft.topk.rewriteMaxK")
  }

  test("rewrite fires on the row_number <= k pattern and matches the window result") {
    val df = randomDf
    val q = windowTopK(df, 4)
    val plan = q.queryExecution.executedPlan.toString
    assert(plan.contains("TopKPerKey"), plan)
    val expected = withoutRewrite {
      val q0 = windowTopK(df, 4)
      assert(!q0.queryExecution.executedPlan.toString.contains("TopKPerKey"))
      q0.as[(Long, Int, Long, Int)].collect().toSet
    }
    assert(q.as[(Long, Int, Long, Int)].collect().toSet == expected)
  }

  test("rewrite preserves the rank column and extra filter conjuncts") {
    val df = randomDf
    val w = Window.partitionBy("key").orderBy(col("value").desc, col("id"))
    val q = df.withColumn("rn", row_number().over(w))
      .filter(col("rn") <= 5 && col("rn") > 1 && col("value") < 900)
    assert(q.queryExecution.executedPlan.toString.contains("TopKPerKey"))
    val expected = withoutRewrite {
      df.withColumn("rn", row_number().over(w))
        .filter(col("rn") <= 5 && col("rn") > 1 && col("value") < 900)
        .as[(Long, Int, Long, Int)].collect().toSet
    }
    assert(q.as[(Long, Int, Long, Int)].collect().toSet == expected)
  }

  test("rewrite fires on the rn = 1 dedup shape") {
    val df = randomDf
    val w = Window.partitionBy("key").orderBy(col("value").desc, col("id"))
    val q = df.withColumn("rn", row_number().over(w)).filter(col("rn") === 1)
    assert(q.queryExecution.executedPlan.toString.contains("TopKPerKey"))
    val expected = withoutRewrite {
      df.withColumn("rn", row_number().over(w)).filter(col("rn") === 1)
        .as[(Long, Int, Long, Int)].collect().toSet
    }
    assert(q.as[(Long, Int, Long, Int)].collect().toSet == expected)
  }

  test("no rewrite when another window function shares the Window (its groups must stay whole)") {
    val df = randomDf
    val w = Window.partitionBy("key").orderBy(col("value").desc, col("id"))
    val q = df
      .withColumn("rn", row_number().over(w))
      .withColumn("ksum", sum("value").over(w.rowsBetween(Window.unboundedPreceding,
        Window.unboundedFollowing)))
      .filter(col("rn") <= 3)
    assert(!q.queryExecution.executedPlan.toString.contains("TopKPerKey"),
      q.queryExecution.executedPlan.toString)
    // the per-key sum must be over ALL rows of the key, not the top 3
    val sums = q.select("key", "ksum").distinct().as[(Long, Long)].collect().toMap
    val full = df.groupBy("key").agg(sum("value")).as[(Long, Long)].collect().toMap
    assert(sums == full)
  }

  test("no rewrite for rank(): ties may keep more than k rows") {
    val df = Seq((1L, 10, 1L), (1L, 10, 2L), (1L, 10, 3L), (1L, 5, 4L))
      .toDF("key", "value", "id")
    val w = Window.partitionBy("key").orderBy(col("value").desc)
    val q = df.withColumn("r", rank().over(w)).filter(col("r") <= 1)
    assert(!q.queryExecution.executedPlan.toString.contains("TopKPerKey"))
    assert(q.count() == 3) // all three tied rows survive rank() <= 1
  }

  private def occurrences(s: String, sub: String): Int =
    s.sliding(sub.length).count(_ == sub)

  test("partial pass plans below the exchange and is disabled by conf") {
    val df = randomDf
    val plan = TopKPerKey(df, Seq(col("key")), Seq(col("value"), col("id")), k = 3)
      .queryExecution.executedPlan.toString
    // partial + final passes, one exchange between them
    assert(occurrences(plan, "TopKPerKey") == 2, plan)
    assert(occurrences(plan, "Exchange") == 1, plan)
    spark.conf.set("spark.graft.topk.partial", "false")
    try {
      val single = TopKPerKey(df, Seq(col("key")), Seq(col("value"), col("id")), k = 3)
        .queryExecution.executedPlan.toString
      assert(occurrences(single, "TopKPerKey") == 1, single)
    } finally spark.conf.unset("spark.graft.topk.partial")
  }

  test("partial passthrough fallback (tiny threshold) stays exact") {
    spark.conf.set("spark.graft.topk.maxRetainedRows", "4")
    try {
      val df = randomDf
      val custom = TopKPerKey(df, Seq(col("key")),
        Seq(col("value").desc, col("id")), k = 5)
        .select("key", "value", "id").as[(Long, Int, Long)].collect().toSet
      val w = Window.partitionBy("key").orderBy(col("value").desc, col("id"))
      val viaWindow = withoutRewrite {
        df.withColumn("rn", row_number().over(w)).filter(col("rn") <= 5)
          .select("key", "value", "id").as[(Long, Int, Long)].collect().toSet
      }
      assert(custom == viaWindow)
    } finally spark.conf.unset("spark.graft.topk.maxRetainedRows")
  }

  test("GraftExtensions wires the preCBO rule and planner strategy at session build") {
    // the shared session is built with spark.sql.extensions set
    val rules = spark.sessionState.optimizer.preCBORules
    val strategies = spark.sessionState.planner.strategies
    assert(rules.contains(WindowTopKRewrite), rules.map(_.ruleName))
    assert(strategies.contains(TopKPerKeyStrategy), strategies)
  }

  test("WindowGroupLimit strip is narrowed to the row_number shape with limit >= k") {
    import org.apache.spark.sql.catalyst.expressions.{Alias, AttributeReference, CurrentRow, Descending, LessThanOrEqual, Literal, Rank, RowFrame, RowNumber, SortOrder, SpecifiedWindowFrame, UnboundedPreceding, WindowExpression, WindowSpecDefinition}
    import org.apache.spark.sql.catalyst.plans.logical.{Filter, LocalRelation, LogicalPlan, WindowGroupLimit, Window => LWindow}
    import org.apache.spark.sql.types.{IntegerType, LongType}

    val key = AttributeReference("key", LongType)()
    val value = AttributeReference("value", IntegerType)()
    val rel = LocalRelation(key, value)
    val order = SortOrder(value, Descending)
    val spec = WindowSpecDefinition(Seq(key), Seq(order),
      SpecifiedWindowFrame(RowFrame, UnboundedPreceding, CurrentRow))
    val rn = Alias(WindowExpression(RowNumber(), spec), "rn")()
    def topKPlan(child: LogicalPlan, k: Int): LogicalPlan =
      Filter(LessThanOrEqual(rn.toAttribute, Literal(k)),
        LWindow(Seq(rn), Seq(key), Seq(order), child, None))
    def hasTopK(p: LogicalPlan) = p.collect { case t: TopKPerKeyNode => t }.nonEmpty
    def hasWgl(p: LogicalPlan) = p.collect { case w: WindowGroupLimit => w }.nonEmpty

    // rank-like group limit under the window: NOT this rule's shape —
    // must neither be stripped nor rewritten
    val rankWgl = WindowGroupLimit(Seq(key), Seq(order), Rank(Seq(value)), 3, rel)
    val p1 = WindowTopKRewrite(topKPlan(rankWgl, 3))
    assert(!hasTopK(p1) && hasWgl(p1), p1)

    // stricter row_number limit (2 < k=3) prunes a different row set:
    // left alone
    val strictWgl = WindowGroupLimit(Seq(key), Seq(order), RowNumber(), 2, rel)
    val p2 = WindowTopKRewrite(topKPlan(strictWgl, 3))
    assert(!hasTopK(p2) && hasWgl(p2), p2)

    // the exact subsumed shape (row_number, limit >= k): stripped and
    // replaced by the heap operator
    val okWgl = WindowGroupLimit(Seq(key), Seq(order), RowNumber(), 3, rel)
    val p3 = WindowTopKRewrite(topKPlan(okWgl, 3))
    assert(hasTopK(p3) && !hasWgl(p3), p3)
  }

  test("withRank reuses the top-k exchange for its rank window (single shuffle)") {
    val df = randomDf
    val plan = TopKPerKey.withRank(df, Seq(col("key")),
      Seq(col("value").desc, col("id")), k = 3, "rn")
      .queryExecution.executedPlan.toString
    assert(occurrences(plan, "Exchange") == 1, plan)
  }
}
