package graft.plans

import scala.collection.mutable

import org.apache.spark.rdd.RDD
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{Ascending, Attribute, Expression, RowOrdering, SortOrder, UnsafeProjection, UnsafeRow}
import org.apache.spark.sql.catalyst.plans.logical.{LogicalPlan, UnaryNode}
import org.apache.spark.sql.catalyst.plans.physical.{ClusteredDistribution, Distribution, UnspecifiedDistribution}
import org.apache.spark.sql.execution.{SparkPlan, SparkStrategy, UnaryExecNode}
import org.apache.spark.sql.graftshim.Shim

/** Whole-operator Catalyst integration for per-key top-k — the
  * `row_number().over(partitionBy(key).orderBy(ord)) <= k` pattern every
  * ranking query uses (d05/d07 ANN re-rank, q19/q47 top movers, q37).
  *
  * The window formulation fully SORTS every key group (O(n log n) per
  * group, full materialization in the sort buffer) only to discard all
  * but k rows. This operator keeps a bounded k-row heap per key instead —
  * O(n log k) comparisons, O(distinct keys × k) memory, no sort spill —
  * the same reason Spark itself plans global ORDER BY + LIMIT as
  * TakeOrderedAndProject. At 100 TB the difference is a full sort of
  * every group versus one streaming pass.
  *
  * Wiring (the (c)-level extension path): [[TopKPerKeyNode]] is the
  * logical operator, [[TopKPerKeyStrategy]] plans it into
  * [[TopKPerKeyExec]], whose `requiredChildDistribution` clusters rows by
  * key (Spark inserts the single hash exchange), and the per-partition
  * heaps then produce the exact per-key top-k in one pass. Registered via
  * `GraftExtensions` / imperatively by the [[TopKPerKey]] API.
  *
  * Semantics: the SET of the k smallest rows per key under `order` (use
  * `desc` sort columns for "largest"); ties beyond `order` are broken by
  * nothing, so pass a total order for deterministic results — same
  * contract as the window formulation.
  */
case class TopKPerKeyNode(
    k: Int,
    keys: Seq[Expression],
    order: Seq[SortOrder],
    child: LogicalPlan) extends UnaryNode {
  require(k > 0, "k must be positive")
  override def output: Seq[Attribute] = child.output
  override def maxRows: Option[Long] = child.maxRows
  override protected def withNewChildInternal(newChild: LogicalPlan): TopKPerKeyNode =
    copy(child = newChild)
}

case class TopKPerKeyExec(
    k: Int,
    keys: Seq[Expression],
    order: Seq[SortOrder],
    child: SparkPlan,
    partial: Boolean = false) extends UnaryExecNode {

  override def output: Seq[Attribute] = child.output

  // all rows of a key must co-locate for the FINAL pass; Spark's
  // EnsureRequirements inserts the (single) hash exchange — or elides it
  // if the child already clusters by these keys. The PARTIAL pass runs
  // map-side before the exchange (any distribution), reducing each input
  // partition to its local per-key top-k — the same shuffle-volume cut
  // partial aggregation gives a hash aggregate: at most k rows per key
  // per upstream partition cross the wire instead of every row.
  override def requiredChildDistribution: Seq[Distribution] =
    if (partial) UnspecifiedDistribution :: Nil else ClusteredDistribution(keys) :: Nil

  // this operator never moves rows between partitions, so advertise the
  // child's partitioning: downstream operators that need the same
  // clustering (the withRank window, a subsequent per-key agg) reuse the
  // exchange below the final pass instead of inserting a second one
  override def outputPartitioning = child.outputPartitioning

  override protected def doExecute(): RDD[InternalRow] = {
    val kLocal = k
    val keyExprs = keys
    val sortOrder = order
    val childOutput = child.output
    // Heap state is bounded at O(distinct keys × k) retained rows, which
    // is small for ranking keys but approaches one copy of the ENTIRE
    // partition for near-unique keys (dedup). Past these thresholds the
    // partition falls back to a sort-based pass through Spark's own
    // spill-capable external sorter, so memory stays task-accounted
    // instead of growing an unaccounted JVM map until OOM. Defaults:
    // 64 MiB of retained row bytes or 2M retained rows per task —
    // comfortably inside a 4 GiB / 4-core executor even with JVM
    // per-entry overhead on top.
    val maxBytes = graft.GraftConf.long(conf, "spark.graft.topk.maxRetainedBytes",
      64L * 1024 * 1024)
    val maxRows = graft.GraftConf.long(conf, "spark.graft.topk.maxRetainedRows",
      2L * 1024 * 1024)
    child.execute().mapPartitions { iter =>
      val keyGen = UnsafeProjection.create(keyExprs, childOutput)
      val ord = RowOrdering.create(sortOrder, childOutput)
      // child contract is InternalRow, not UnsafeRow: when the exchange is
      // elided (pre-clustered child) some operators emit GenericInternalRow
      // — convert through an identity projection instead of casting
      val toUnsafe = UnsafeProjection.create(childOutput, childOutput)
      def asUnsafe(row: InternalRow): UnsafeRow = row match {
        case u: UnsafeRow => u
        case other => toUnsafe(other)
      }
      // max-heap on the ordering: head = current worst of the k best
      val heapOrd = new Ordering[UnsafeRow] {
        override def compare(a: UnsafeRow, b: UnsafeRow): Int = ord.compare(a, b)
      }
      val heaps = mutable.HashMap.empty[UnsafeRow, mutable.PriorityQueue[UnsafeRow]]
      var retainedBytes = 0L
      var retainedRows = 0L
      var spilled = false
      while (iter.hasNext && !spilled) {
        val row = asUnsafe(iter.next())
        // probe with the (reused) projection output; copy the key only on
        // a miss — no per-row allocation on the hot path
        val probe = keyGen(row)
        val heap = heaps.get(probe) match {
          case Some(h) => h
          case None =>
            val h = mutable.PriorityQueue.empty(heapOrd)
            val keyCopy = probe.copy()
            heaps(keyCopy) = h
            retainedBytes += keyCopy.getSizeInBytes
            h
        }
        if (heap.size < kLocal) {
          val kept = row.copy()
          heap.enqueue(kept)
          retainedBytes += kept.getSizeInBytes
          retainedRows += 1
        } else if (ord.compare(row, heap.head) < 0) {
          retainedBytes -= heap.dequeue().getSizeInBytes
          val kept = row.copy()
          heap.enqueue(kept)
          retainedBytes += kept.getSizeInBytes
        }
        spilled = retainedBytes > maxBytes || retainedRows > maxRows
      }
      if (!spilled) {
        heaps.valuesIterator.flatMap(_.iterator)
      } else if (partial) {
        // A partial pass is a lossy-safe combiner (any row in the global
        // per-key top-k is also in its partition's local top-k), so when
        // the retained state exceeds the threshold — near-unique keys,
        // where combining cannot reduce anyway — it degrades to a
        // passthrough: emit what the heaps hold, then the rest untouched.
        // The final pass computes the exact answer either way.
        heaps.valuesIterator.flatMap(_.iterator) ++ iter
      } else {
        // Sort-based fallback: (keys asc, order) through Spark's
        // TaskMemoryManager-accounted external sorter (radix/prefix sort +
        // disk spill — identical machinery to SortExec), then one
        // streaming pass emitting the first k rows of each key group.
        // Same output SET as the heap path; resources are freed by the
        // sorter itself on iterator exhaustion / task completion.
        val fullOrder = keyExprs.map(SortOrder(_, Ascending)) ++ sortOrder
        val sorter = Shim.rowSorter(childOutput, fullOrder)
        heaps.valuesIterator.foreach(_.foreach(sorter.insertRow))
        heaps.clear()
        while (iter.hasNext) sorter.insertRow(asUnsafe(iter.next()))
        val sorted = sorter.sort()
        new Iterator[InternalRow] {
          private var curKey: UnsafeRow = null
          private var curCount = 0L
          private var pending: InternalRow = null
          @annotation.tailrec
          private def advance(): Unit = {
            if (pending == null && sorted.hasNext) {
              val row = sorted.next()
              val key = keyGen(row)
              if (curKey == null || key != curKey) {
                curKey = key.copy()
                curCount = 0L
              }
              curCount += 1
              if (curCount <= kLocal) pending = row else advance()
            }
          }
          override def hasNext: Boolean = { advance(); pending != null }
          override def next(): InternalRow = {
            advance()
            val r = pending; pending = null; r
          }
        }
      }
    }
  }

  override protected def withNewChildInternal(newChild: SparkPlan): TopKPerKeyExec =
    copy(child = newChild)
}

/** Plans [[TopKPerKeyNode]] into a partial + final [[TopKPerKeyExec]]
  * pair (map-side combine before the exchange, exact reduce after), or
  * just the final pass when `spark.graft.topk.partial=false`.
  */
object TopKPerKeyStrategy extends SparkStrategy {
  override def apply(plan: LogicalPlan): Seq[SparkPlan] = plan match {
    case TopKPerKeyNode(k, keys, order, child) =>
      val usePartial = graft.GraftConf.boolean(
        org.apache.spark.sql.internal.SQLConf.get, "spark.graft.topk.partial", true)
      val planned = planLater(child)
      val pre =
        if (usePartial) TopKPerKeyExec(k, keys, order, planned, partial = true)
        else planned
      TopKPerKeyExec(k, keys, order, pre) :: Nil
    case _ => Nil
  }
}

object TopKPerKey {

  /** Top `k` rows per key under `orderBy` (first-k in that sort order;
    * use `.desc` columns for largest-first). The session must carry
    * graft's extension, whose strategy plans the node.
    *
    * Column resolution: Spark 4's column-node wrappers stay unresolved
    * inside arbitrary custom nodes, so the keys and ordering are pushed
    * through a throwaway `repartition + sortWithinPartitions` plan —
    * standard analysis resolves them — and the RESOLVED expressions are
    * harvested into [[TopKPerKeyNode]].
    */
  def apply(df: DataFrame, keys: Seq[Column], orderBy: Seq[Column], k: Int): DataFrame = {
    val spark = df.sparkSession
    graft.GraftExtensions.requireInstalled(spark)
    val analyzed = df.repartition(keys: _*).sortWithinPartitions(orderBy: _*)
      .queryExecution.analyzed
    analyzed match {
      case s: org.apache.spark.sql.catalyst.plans.logical.Sort =>
        s.child match {
          case r: org.apache.spark.sql.catalyst.plans.logical.RepartitionByExpression =>
            Shim.ofRows(spark,
              TopKPerKeyNode(k, r.partitionExpressions, s.order, r.child))
          case other =>
            throw new IllegalStateException(s"unexpected resolved plan under Sort: $other")
        }
      case other =>
        throw new IllegalStateException(s"unexpected resolved plan: $other")
    }
  }

  /** Top-k per key PLUS a dense 1..k rank column: the heap operator
    * reduces each key group to k rows first, then a window ranks only
    * the survivors — so the per-group sort that row_number needs runs
    * over k rows, not the whole group. Drop-in for the
    * `row_number <= k` pattern when the rank itself is wanted in the
    * output. Results are identical to the window formulation when
    * `orderBy` is a total order.
    */
  def withRank(df: DataFrame, keys: Seq[Column], orderBy: Seq[Column], k: Int,
               rankCol: String): DataFrame = {
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(keys: _*).orderBy(orderBy: _*)
    apply(df, keys, orderBy, k)
      .withColumn(rankCol, org.apache.spark.sql.functions.row_number().over(w))
  }
}
