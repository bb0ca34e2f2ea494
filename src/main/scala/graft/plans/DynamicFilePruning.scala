package graft.plans

import scala.collection.mutable

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{And, Attribute, EqualTo, Expression, GenericInternalRow, GreaterThanOrEqual, In, InSet, InSubquery, IsNotNull, LessThanOrEqual, ListQuery, Literal, PredicateHelper}
import org.apache.spark.sql.catalyst.plans.{Inner, LeftSemi}
import org.apache.spark.sql.catalyst.plans.logical.{Filter, Join, LocalRelation, LogicalPlan, Project, SubqueryAlias}
import org.apache.spark.sql.catalyst.rules.Rule
import org.apache.spark.sql.execution.datasources.LogicalRelation
import org.apache.spark.sql.graftshim.Shim
import org.apache.spark.sql.types.{BooleanType, ByteType, DataType, DateType, DecimalType, IntegerType, LongType, ShortType, StringType, TimestampNTZType, TimestampType}

import graft.sources.TxLogRelation

/** Dynamic file pruning for `graft-txlog` fact scans — the Delta DFP
  * move re-expressed for a v1 relation: under an equi-join whose OTHER
  * side is a small, filtered dimension (it would broadcast anyway),
  * the dimension is EXECUTED ONCE at planning time, its rows frozen
  * into a [[LocalRelation]] that replaces the dim subtree, and its
  * distinct join-key values replayed onto the fact side as a predicate
  * placed directly above the fact's [[LogicalRelation]]. From there the
  * EXISTING static machinery does the work: `TxLogRelation.buildScan`
  * prunes the manifest's file list through per-file min/max stats and
  * bloom sidecars, and the parquet reader gets the predicate for
  * row-group skipping. On the star shapes this engine targets (orders
  * filtered by priority joining a date-clustered 100 TB lineitem),
  * this is the difference between scanning the table and scanning the
  * qualifying slice — a static `WHERE` can never express it because
  * the key set only exists after the dimension's own filter runs.
  *
  * The injected predicate is TIERED by distinct-key count, so a wide
  * dim never makes the rule back off to a full scan:
  *  - ≤ `maxKeys` (default 1000): a literal `IN` list — exact file,
  *    row-group, AND row-level pruning; plan size stays bounded.
  *  - ≤ `summaryMaxKeys` (default 100000): a single [[InSet]] node —
  *    hash-set row eval, pushed to the scan as a `sources.In` whose
  *    file pruning runs the one-sort window prune
  *    (`TxLog.pruneByValueSet`: O(files × log keys) + capped bloom
  *    probes), so a 10⁴–10⁵-key dim — the common 100 TB star shape —
  *    still prunes EXACTLY instead of scanning.
  *  - above that: min/max RANGE bounds over the key set — a sound
  *    superset predicate (the join still filters rows) that prunes
  *    through the stats machinery and parquet row-group bounds.
  *
  * Freezing the dim is a REQUIREMENT of the rewrite, not an
  * optimization: the runtime join consumes the exact rows the key set
  * was derived from, so a mutable dim source (a growing directory, an
  * external JDBC table) can never surface join keys the injected
  * predicate already dropped — the planning-time collect and the join
  * agree by construction. It also halves the dim's cost (Delta's DFP
  * executes the dim twice). A dim whose row count exceeds `maxRows`
  * (default 10⁶ — broadcast-sized dims sit far below it) cannot be
  * frozen, and the rule backs off entirely.
  *
  * Eligibility is deliberately conservative — the rewrite must never
  * lose rows or explode planning cost:
  *  - Inner joins prune either side; LEFT SEMI prunes the left
  *    (probe) side. Outer joins never prune the preserved side and are
  *    skipped entirely.
  *  - the dimension subtree must carry a `Filter` (the selectivity
  *    signal — an unfiltered dim usually references every fact key) or
  *    be a `LocalRelation` (an inline lookup list), and its estimated
  *    size must fit the auto-broadcast threshold: the collect is then
  *    bounded by construction, the dim was getting materialized on the
  *    driver for the broadcast anyway.
  *  - the fact-side join key must be a bare output attribute of a
  *    graft-txlog `LogicalRelation` reachable through Project/Filter
  *    shells only — the injected filter lands where
  *    `PhysicalOperation` collects scan filters.
  *  - float/double keys are excluded (the join normalizes -0.0/NaN
  *    inside its keys; a driver-built IN does not — an injected
  *    `In(k, -0.0)` would wrongly drop a +0.0 fact row), as are
  *    binary keys (array equality isn't value-based driver-side).
  *    NULL keys are dropped from the predicate — an equi-join never
  *    matches them.
  *
  * Runs as a PRE-CBO rule (a Once batch after the operator-optimization
  * fixed point): executing the dim subplan inside a fixed-point batch
  * would re-fire on every iteration, and the injected filter needs no
  * further optimization — it is born fully pushed.
  * Disable per session with Spark's own
  * `spark.sql.optimizer.excludedRules = graft.plans.DynamicFilePruning`.
  */
object DynamicFilePruning extends Rule[LogicalPlan] with PredicateHelper {

  /** Test observability: injected key count of the last rewrite this
    * rule performed (−1 = never; the value is per-JVM, specs reset it).
    */
  @volatile private[graft] var lastInjectedKeys: Int = -1

  /** Test observability: predicate tier of the last rewrite —
    * "in" (literal list), "set" (InSet), "range" (min/max bounds).
    */
  @volatile private[graft] var lastTier: String = ""

  /** The tier and freeze caps of the scaladoc above. Vars, not vals:
    * specs lower them to reach the InSet tier, the range tier and the
    * freeze back-off on small dims.
    */
  private[graft] var maxKeys: Int = 1000
  private[graft] var summaryMaxKeys: Int = 100000
  private[graft] var maxRows: Int = 1000000

  private def dimLimitBytes: Long = {
    val t = conf.autoBroadcastJoinThreshold
    if (t > 0) t else 10L << 20
  }

  /** Selectivity signal: the dim subtree filters on something REAL, or
    * IS an inline lookup list. A bare `IsNotNull` doesn't count —
    * InferFiltersFromConstraints stamps one on every equi-join side,
    * so it signals nothing about selectivity.
    */
  private def filteredDim(p: LogicalPlan): Boolean =
    p.collectFirst {
      case f: Filter if splitConjunctivePredicates(f.condition).exists {
        case IsNotNull(_) => false
        case _ => true
      } => f
      case l: LocalRelation => l
    }.isDefined

  /** Key types the rule prunes on: atomic, minus float/double (the
    * -0.0/NaN normalization hazard) and binary (reference equality
    * driver-side). Every admitted type's INTERNAL representation is
    * `Comparable`, which the range tier relies on.
    */
  private def prunableKeyType(dt: DataType): Boolean = dt match {
    case BooleanType | ByteType | ShortType | IntegerType | LongType |
        StringType | DateType | TimestampType | TimestampNTZType => true
    case _: DecimalType => true
    case _ => false
  }

  /** Inject `cond` directly above the fact's graft-txlog relation —
    * but only if `key` survives untouched to that depth (bare output
    * attribute; Project/Filter/alias shells only). None = not a shape
    * we prune.
    */
  private def injectAtRelation(p: LogicalPlan, key: Attribute,
      cond: Expression): Option[LogicalPlan] = p match {
    case lr: LogicalRelation
        if lr.relation.isInstanceOf[TxLogRelation] &&
           lr.outputSet.contains(key) =>
      Some(Filter(cond, lr))
    case f: Filter =>
      injectAtRelation(f.child, key, cond).map(c => f.copy(child = c))
    case pr: Project =>
      injectAtRelation(pr.child, key, cond).map(c => pr.copy(child = c))
    case a: SubqueryAlias =>
      injectAtRelation(a.child, key, cond).map(c => a.copy(child = c))
    case _ => None
  }

  /** Structural pre-check (no execution): is `key` a bare output
    * attribute of a graft-txlog relation under Project/Filter shells?
    * Everything else in the rewrite runs a job — this must gate it, so
    * non-txlog joins never pay a planning-time collect.
    */
  private def prunableAt(p: LogicalPlan, key: Attribute): Boolean = p match {
    case lr: LogicalRelation =>
      lr.relation.isInstanceOf[TxLogRelation] && lr.outputSet.contains(key)
    case f: Filter => prunableAt(f.child, key)
    case pr: Project => prunableAt(pr.child, key)
    case a: SubqueryAlias => prunableAt(a.child, key)
    case _ => false
  }

  /** Execute the dim ONCE and collect its full row multiset (internal
    * rows, exactly `dim.output`-shaped — what the frozen LocalRelation
    * holds). None = over the row cap or the collect failed; the caller
    * then backs off entirely (a dim it cannot freeze might disagree
    * with the frozen key list at runtime).
    */
  private def freeze(dim: LogicalPlan): Option[Array[InternalRow]] =
    try {
      val rows = Shim.ofRows(SparkSession.active, dim).limit(maxRows + 1)
        .queryExecution.executedPlan.executeCollect()
      if (rows.length > maxRows) None else Some(rows)
    } catch { case scala.util.control.NonFatal(_) => None }

  /** Distinct key values (internal representation, insertion-ordered
    * for plan determinism) at `ordinal` of the frozen rows; NULLs are
    * dropped — an equi-join never matches them.
    */
  private def distinctKeys(rows: Array[InternalRow], ordinal: Int,
      dt: DataType): Seq[Any] = {
    val seen = mutable.LinkedHashSet.empty[Any]
    rows.foreach { r =>
      if (!r.isNullAt(ordinal)) seen += r.get(ordinal, dt)
    }
    seen.toSeq
  }

  /** The tiered fact-side predicate for a distinct key set (internal
    * values). None = the range tier hit a non-Comparable value
    * (admitted types never do — pure defensiveness).
    */
  private def keyPredicate(factKey: Attribute,
      keys: Seq[Any]): Option[Expression] = {
    val dt = factKey.dataType
    if (keys.isEmpty) { lastTier = "in"; Some(Literal.FalseLiteral) }
    else if (keys.size <= maxKeys) {
      lastTier = "in"
      Some(In(factKey, keys.map(v => Literal(v, dt))))
    } else if (keys.size <= summaryMaxKeys) {
      lastTier = "set"
      Some(InSet(factKey, keys.toSet))
    } else try {
      lastTier = "range"
      def cmp(a: Any, b: Any) = a.asInstanceOf[Comparable[Any]].compareTo(b)
      var lo = keys.head; var hi = keys.head
      keys.foreach { k =>
        if (cmp(k, lo) < 0) lo = k
        if (cmp(k, hi) > 0) hi = k
      }
      Some(And(GreaterThanOrEqual(factKey, Literal(lo, dt)),
        LessThanOrEqual(factKey, Literal(hi, dt))))
    } catch { case _: ClassCastException => None }
  }

  /** The shared core: gate, freeze the dim, inject the tiered
    * predicate above the fact's relation. None = ineligible or backed
    * off; Some((newFact, frozenDimRows)) otherwise — the caller MUST
    * substitute the frozen rows for the dim subtree (the injection's
    * soundness assumes the join consumes exactly these rows).
    */
  private def injectedFact(fact: LogicalPlan, factKey: Attribute,
      dim: LogicalPlan, dimKey: Attribute)
      : Option[(LogicalPlan, Array[InternalRow])] = {
    if (!prunableAt(fact, factKey)) return None
    if (!filteredDim(dim)) return None
    if (factKey.dataType != dimKey.dataType ||
      !prunableKeyType(factKey.dataType)) return None
    // a non-deterministic dim (rand() filter, shuffling sample) could
    // freeze a row set that disagrees with what its own recomputation
    // would produce — the frozen rows would be A valid draw, but specs
    // and users expect the written plan's draw; never prune
    if (dim.exists(_.expressions.exists(e =>
        !e.deterministic || e.exists(!_.deterministic)))) return None
    if (dim.stats.sizeInBytes > dimLimitBytes) return None
    val ordinal = dim.output.indexWhere(_.exprId == dimKey.exprId)
    if (ordinal < 0) return None
    freeze(dim).flatMap { rows =>
      val keys = distinctKeys(rows, ordinal, dimKey.dataType)
      keyPredicate(factKey, keys).flatMap { cond =>
        injectAtRelation(fact, factKey, cond)
          .map { nf => lastInjectedKeys = keys.size; (nf, rows) }
      }
    }
  }

  private def prune(j: Join, fact: LogicalPlan, factKey: Attribute,
      dim: LogicalPlan, dimKey: Attribute, factIsLeft: Boolean)
      : Option[Join] =
    injectedFact(fact, factKey, dim, dimKey).map { case (newFact, rows) =>
      // the dim executed once, at freeze — hand the runtime join the
      // SAME rows (attributes preserved, so the condition resolves)
      val frozen = LocalRelation(dim.output, rows.toIndexedSeq)
      if (factIsLeft) j.copy(left = newFact, right = frozen)
      else j.copy(left = frozen, right = newFact)
    }

  def apply(plan: LogicalPlan): LogicalPlan = {
    if (plan.isStreaming) return plan
    plan.transformUp {
      case j @ Join(left, right, jt, Some(cond), _)
          if (jt == Inner || jt == LeftSemi) && !j.isStreaming =>
        val eqs = splitConjunctivePredicates(cond).collect {
          case EqualTo(a: Attribute, b: Attribute) => (a, b)
        }
        val candidates = eqs.iterator.flatMap { case (a, b) =>
          // orient each equi pair to (leftAttr, rightAttr)
          val lr =
            if (left.outputSet.contains(a) && right.outputSet.contains(b))
              Some((a, b))
            else if (left.outputSet.contains(b) && right.outputSet.contains(a))
              Some((b, a))
            else None
          lr.iterator.flatMap { case (la, ra) =>
            // left as fact (Inner and LeftSemi both drop non-matching
            // left rows); right as fact only for Inner — lazily, so a
            // successful left rewrite never pays a second collect
            def leftFact = prune(j, left, la, right, ra, factIsLeft = true)
            def rightFact =
              if (jt == Inner) prune(j, right, ra, left, la, factIsLeft = false)
              else None
            leftFact.orElse(rightFact).iterator
          }
        }
        if (candidates.hasNext) candidates.next() else j

      // `k IN (SELECT …)`: at pre-CBO time the semi join doesn't exist
      // yet (RewritePredicateSubquery runs later) — prune from the
      // still-inline ListQuery, and freeze ITS plan too (distinct
      // values INCLUDING null: IN is null-sensitive but
      // multiplicity-insensitive). Uncorrelated single-column lists
      // only; NOT IN arrives as Not(InSubquery) and never matches here.
      case f @ Filter(cond, child) =>
        var newChild = child
        var rewrote = false
        val newConjs = splitConjunctivePredicates(cond).map {
          case isq @ InSubquery(Seq(a: Attribute), lq: ListQuery)
              if !rewrote && lq.outerAttrs.isEmpty &&
                lq.plan.output.size == 1 =>
            injectedFact(newChild, a, lq.plan, lq.plan.output.head) match {
              case Some((nf, rows)) =>
                rewrote = true; newChild = nf
                val dt = lq.plan.output.head.dataType
                val seen = mutable.LinkedHashSet.empty[Any]
                rows.foreach(r =>
                  seen += (if (r.isNullAt(0)) null else r.get(0, dt)))
                val frozen = seen.toIndexedSeq.map(v =>
                  new GenericInternalRow(Array(v)): InternalRow)
                isq.copy(query =
                  lq.copy(plan = LocalRelation(lq.plan.output, frozen)))
              case None => isq
            }
          case other => other
        }
        if (rewrote) Filter(newConjs.reduce(And), newChild) else f
    }
  }
}
