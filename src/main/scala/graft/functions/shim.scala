package org.apache.spark.sql.graftshim

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.classic.ExpressionUtils

/** Minimal bridge into `private[sql]` Spark internals needed to expose a
  * custom Catalyst expression as a user-facing `Column` (the same
  * mechanism `org.apache.spark.sql.functions` uses internally), plus the
  * few other `private[sql]` entry points graft needs, each a short
  * forwarder so the dependency surface on internals stays auditable.
  */
object Shim {
  def column(e: Expression): Column = ExpressionUtils.column(e)
  def expression(c: Column): Expression = ExpressionUtils.expression(c)

  /** Stable per-session identifier (`sessionUUID` is `private[sql]`):
    * survives the caller holding a different instance of the same logical
    * session, and distinguishes `newSession` siblings that share one
    * SparkContext.
    */
  def sessionUUID(spark: org.apache.spark.sql.SparkSession): String =
    spark.asInstanceOf[org.apache.spark.sql.classic.SparkSession].sessionUUID

  /** Wrap a logical plan as a DataFrame (`Dataset.ofRows` is
    * `private[sql]`) — needed to hand a custom LogicalPlan node back to
    * the user-facing API.
    */
  def ofRows(spark: org.apache.spark.sql.SparkSession,
             plan: org.apache.spark.sql.catalyst.plans.logical.LogicalPlan):
      org.apache.spark.sql.DataFrame =
    org.apache.spark.sql.classic.Dataset.ofRows(
      spark.asInstanceOf[org.apache.spark.sql.classic.SparkSession], plan)

  /** A spill-capable row sorter over `output` rows under `sortOrder` —
    * the exact construction `SortExec.createSorter` uses (radix/prefix
    * sort when the leading key supports it, `TaskMemoryManager`-accounted
    * pages, disk spill past the task's memory share). Must be called
    * inside a task (it binds to the running task's memory manager via
    * `TaskContext`). Exposed for operators that need a sort-based
    * fallback path without planning a separate `SortExec`.
    */
  def rowSorter(output: Seq[org.apache.spark.sql.catalyst.expressions.Attribute],
                sortOrder: Seq[org.apache.spark.sql.catalyst.expressions.SortOrder])
      : org.apache.spark.sql.execution.UnsafeExternalRowSorter = {
    import org.apache.spark.sql.catalyst.expressions.{BindReferences, RowOrdering, SortPrefix, UnsafeProjection}
    import org.apache.spark.sql.execution.{SortPrefixUtils, UnsafeExternalRowSorter}
    val ordering = RowOrdering.create(sortOrder, output)
    val boundSortExpression = BindReferences.bindReference(sortOrder.head, output)
    val prefixComparator = SortPrefixUtils.getPrefixComparator(boundSortExpression)
    val canUseRadixSort =
      org.apache.spark.sql.internal.SQLConf.get.enableRadixSort &&
        sortOrder.length == 1 &&
        SortPrefixUtils.canSortFullyWithPrefix(boundSortExpression)
    val prefixExpr = SortPrefix(boundSortExpression)
    val prefixProjection = UnsafeProjection.create(Seq(prefixExpr))
    val prefixComputer = new UnsafeExternalRowSorter.PrefixComputer {
      private val result = new UnsafeExternalRowSorter.PrefixComputer.Prefix
      override def computePrefix(row: org.apache.spark.sql.catalyst.InternalRow)
          : UnsafeExternalRowSorter.PrefixComputer.Prefix = {
        val prefix = prefixProjection.apply(row)
        result.isNull = prefix.isNullAt(0)
        result.value = if (result.isNull) prefixExpr.nullValue else prefix.getLong(0)
        result
      }
    }
    val pageSize = org.apache.spark.SparkEnv.get.memoryManager.pageSizeBytes
    val schema = org.apache.spark.sql.catalyst.types.DataTypeUtils.fromAttributes(output)
    UnsafeExternalRowSorter.create(
      schema, ordering, prefixComparator, prefixComputer, pageSize, canUseRadixSort)
  }

  /** Re-wrap a batch DataFrame as a STREAMING one
    * (`internalCreateDataFrame(..., isStreaming = true)` is
    * `private[sql]`): what a v1 `Source.getBatch` must return — the
    * engine asserts `isStreaming` on the frame it gets back. The frame's
    * plan is already optimized (pushdown, pruning) when `toRdd`
    * materializes it; the streaming wrapper only changes the plan's
    * streaming flag, not its execution.
    */
  def asStreaming(df: org.apache.spark.sql.DataFrame): org.apache.spark.sql.DataFrame = {
    val cs = df.sparkSession.asInstanceOf[org.apache.spark.sql.classic.SparkSession]
    cs.internalCreateDataFrame(df.queryExecution.toRdd, df.schema,
      isStreaming = true)
  }

  /** The inverse of [[asStreaming]]: the micro-batch frame a v1
    * `Sink.addBatch` receives carries `isStreaming = true`, which
    * blocks every batch write API; re-wrapping its (incremental)
    * execution as a plain batch frame is the standard sink-side move —
    * the plan still runs exactly once, through whatever writer the
    * sink hands it to.
    */
  def asBatch(df: org.apache.spark.sql.DataFrame): org.apache.spark.sql.DataFrame = {
    val cs = df.sparkSession.asInstanceOf[org.apache.spark.sql.classic.SparkSession]
    cs.internalCreateDataFrame(df.queryExecution.toRdd, df.schema,
      isStreaming = false)
  }

  /** Render a Catalyst-internal value to EXACTLY the string
    * `CAST(v AS STRING)` produces under the session's conf and zone —
    * driver-side expression eval, no job. Used by the footer-statistics
    * collector so per-file min/max strings derived from parquet footers
    * are byte-identical to the ones the aggregate-scan collector casts.
    */
  def castToString(value: Any,
      dt: org.apache.spark.sql.types.DataType, zoneId: String): String = {
    val cast = org.apache.spark.sql.catalyst.expressions.Cast(
      org.apache.spark.sql.catalyst.expressions.Literal(value, dt),
      org.apache.spark.sql.types.StringType, Some(zoneId))
    Option(cast.eval(null)).map(_.toString).orNull
  }

  /** The RDD a `localCheckpoint(eager = true)` Dataset actually persisted
    * (its analyzed plan is a `LogicalRDD` over that RDD). Needed to free
    * checkpoint storage explicitly: `Dataset.queryExecution.toRdd` builds
    * a fresh wrapper RDD, so unpersisting it is a no-op, and checkpoint
    * persists are RDD-level — `spark.catalog.clearCache()` can't see them.
    */
  def checkpointedRdd(df: org.apache.spark.sql.DataFrame): Option[org.apache.spark.rdd.RDD[_]] =
    df.queryExecution.analyzed match {
      case l: org.apache.spark.sql.execution.LogicalRDD => Some(l.rdd)
      case _ => None
    }
}
