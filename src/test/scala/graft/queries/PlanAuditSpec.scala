package graft.queries

import org.apache.spark.sql.catalyst.expressions.{Attribute, Expression, LambdaFunction, Literal, NamedLambdaVariable}
import org.apache.spark.sql.catalyst.plans.logical.LogicalPlan
import org.apache.spark.sql.execution.columnar.InMemoryRelation

import graft.{SparkEntry, SparkSpec}

/** Plan-shape audit over the entire query surface — the scale guards
  * from the round-3 manual audit, kept green permanently: an accidental
  * CartesianProduct anywhere, or a BroadcastNestedLoopJoin outside the
  * allowlisted deliberate tiny-broadcast cross joins, fails the build.
  *
  * Uses the pre-AQE physical plan (`queryExecution.sparkPlan`): that is
  * the statically declared shape — AQE can only improve on it at
  * runtime, never introduce a new nested-loop join.
  */
class PlanAuditSpec extends SparkSpec {

  /** Queries whose plans deliberately broadcast a provably tiny side
    * into a non-equi/cross join: a handful of query vectors, 16 coarse
    * centroids, or a single anchor/total row. Each is O(tiny × n), not
    * O(n²) — reviewed individually; everything else must plan as a
    * hash / sort-merge / broadcast-HASH join.
    */
  private val nljAllowed: Set[String] = Set(
    "d05_cosine_topk",      // broadcast query-vector set (50 rows) × corpus
    "d08_ann_ivf",          // broadcast coarse quantizer (16 centroids)
    "d30_ivf_route",        // same IvfAnn.assign broadcast (16 centroids)
    "d24_ann_ivfpq",        // broadcast coarse quantizer (16 centroids)
    "q11_weighted_recency", // broadcast 1-row max-ts anchor
    "q24_recent_perf",      // broadcast 1-row max-day anchor
    "q39_market_summary",   // broadcast 1-row max-day anchor
    "q40_bullish_filter",   // broadcast 1-row max-day anchor
    "q72_tpch22",           // broadcast 1-row avg-balance threshold anchor
    "q81_tpch11",           // broadcast 1-row value-fraction cutoff anchor
    "q102_tx_restore",      // broadcast 1-row bad-version row count
    "d23_incremental_dedup", // broadcast 1-row metadata index count
    "t05_tfidf",            // broadcast 1-row n_docs scalar
    "t08_unigram_lm",       // broadcast 1-row corpus-total scalar
    "t10_bm25",             // broadcast 1-row (sumdl, n) corpus stats
    "t12_perplexity_filter", // broadcast 1-row corpus-total + 1-row terciles
    "d28_knn_classify")     // broadcast labeled-seed set (50 rows) × corpus

  private def build(name: String) = {
    // cache hygiene is part of the AUDIT's integrity, not just memory:
    // a query's .cache() registers its plan with the CacheManager at
    // construction time, and any LATER query matching that fragment
    // would get an InMemoryRelation substituted — whose interior is
    // invisible to sparkPlan.collect, silently exempting it from this
    // sweep. Clearing before each plan build keeps every fragment
    // visible regardless of suite execution order.
    graft.CacheRegistry.releaseAll()
    spark.catalog.clearCache()
    SparkEntry.queries(name)(spark, sfDir).queryExecution
  }

  private def nodeNames(name: String): Seq[String] =
    build(name).sparkPlan.collect { case p => p.nodeName }

  /** Every node of `p` and of its subqueries, including the optimized
    * plan behind each cached fragment a query reads.
    */
  private def allNodes(p: LogicalPlan): Seq[LogicalPlan] = {
    val cached = p match {
      case r: InMemoryRelation => Seq(r.cacheBuilder.logicalPlan)
      case _ => Nil
    }
    p +: (p.children ++ p.subqueries ++ cached).flatMap(allNodes)
  }

  /** The maximal subexpressions of a lambda body that read no lambda
    * variable and are not an attribute, a literal or foldable: work that
    * is the same for every element, yet runs once per element, because
    * subexpression elimination does not reach into lambda bodies.
    */
  private def rowInvariant(e: Expression): Seq[Expression] = e match {
    case _: Attribute | _: Literal => Nil
    case _ if e.foldable => Nil
    case _ if !e.exists(_.isInstanceOf[NamedLambdaVariable]) => Seq(e)
    case _ => e.children.flatMap(rowInvariant)
  }

  test("no CartesianProduct in any query plan; BroadcastNestedLoopJoin only where allowlisted") {
    val violations = SparkEntry.queries.keys.toSeq.sorted.flatMap { name =>
      val nodes = nodeNames(name)
      val cart = if (nodes.contains("CartesianProduct")) Seq(s"$name: CartesianProduct") else Nil
      val bnlj =
        if (nodes.exists(_.startsWith("BroadcastNestedLoopJoin")) && !nljAllowed(name))
          Seq(s"$name: BroadcastNestedLoopJoin (not allowlisted)")
        else Nil
      cart ++ bnlj
    }
    assert(violations.isEmpty, s"plan-shape violations:\n${violations.mkString("\n")}")
  }

  test("lambda bodies read only attributes and lambda variables (optimized plan)") {
    // audited after optimization: CollapseProject may inline a projected
    // column back into the lambda that reads it
    val violations = SparkEntry.queries.keys.toSeq.sorted.flatMap { name =>
      allNodes(build(name).optimizedPlan)
        .flatMap(_.expressions)
        .flatMap(_.collect { case l: LambdaFunction => l })
        .flatMap(l => rowInvariant(l.function))
        .map(e => s"$name: ${e.sql.take(160)}")
        .distinct
    }
    assert(violations.isEmpty,
      s"row-invariant work inside lambda bodies:\n${violations.mkString("\n")}")
  }

  test("allowlist has no stale entries") {
    val stale = nljAllowed.filter { name =>
      !nodeNames(name).exists(_.startsWith("BroadcastNestedLoopJoin"))
    }
    assert(stale.isEmpty, s"allowlisted queries no longer plan a BNLJ: $stale")
  }
}
