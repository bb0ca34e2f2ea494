package graft

import org.apache.spark.sql.{SparkSession, SparkSessionExtensions}
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.expressions.ExpressionInfo

import graft.functions.{CosineSim, DotProduct, HeavyHitters}

/** Session extension entry point: injects graft's SQL functions, table
  * functions, parser, planner strategies and optimizer rules. It is
  * installed at session build, the only point where Spark accepts a
  * parser:
  *
  * {{{
  * GraftExtensions.builder(cpus).getOrCreate()
  * // or, on any builder:
  * SparkSession.builder().config("spark.sql.extensions", "graft.GraftExtensions")
  * }}}
  *
  * `SELECT graft_dot(a, b)` / `graft_cosine(a, b)` then reach pure-SQL
  * users with the same codegen'd implementation the DataFrame API uses.
  * [[GraftExtensions.requireInstalled]] rejects a session built without
  * it.
  */
class GraftExtensions extends (SparkSessionExtensions => Unit) {
  override def apply(ext: SparkSessionExtensions): Unit = {
    ext.injectFunction(GraftExtensions.dotFunction)
    ext.injectFunction(GraftExtensions.cosineFunction)
    ext.injectFunction(GraftExtensions.heavyHittersFunction)
    ext.injectFunction(GraftExtensions.bloomAggFunction)
    ext.injectFunction(GraftExtensions.mightContainFunction)
    ext.injectTableFunction(GraftExtensions.asofJoinTableFunction)
    ext.injectTableFunction(GraftExtensions.pointInIntervalTableFunction)
    ext.injectTableFunction(GraftExtensions.txReadTableFunction)
    ext.injectTableFunction(GraftExtensions.txCdfTableFunction)
    ext.injectTableFunction(GraftExtensions.txPartitionsTableFunction)
    ext.injectTableFunction(GraftExtensions.txFilesTableFunction)
    ext.injectTableFunction(GraftExtensions.txPropertiesTableFunction)
    ext.injectTableFunction(GraftExtensions.txHistoryTableFunction)
    ext.injectPlannerStrategy(_ => graft.plans.TopKPerKeyStrategy)
    // SQL DELETE/UPDATE/MERGE over graft-txlog v1 relations
    ext.injectPlannerStrategy(_ => graft.plans.TxSqlDmlStrategy)
    // maintenance + schema DDL statements Spark's grammar lacks
    // (OPTIMIZE / VACUUM / RESTORE / DESCRIBE HISTORY|DETAIL /
    // ALTER TABLE DROP|RENAME COLUMN on graft tables); everything else
    // delegates to Spark's parser untouched
    ext.injectParser((session, delegate) =>
      new graft.plans.GraftSqlParser(session, delegate))
    // count/min/max over a graft-txlog relation answer from the manifest
    ext.injectOptimizerRule(_ => graft.plans.TxMetadataAgg)
    // pre-CBO: runs AFTER the default optimizer batches, so it sees (and
    // replaces) an InferWindowGroupLimit-inserted WindowGroupLimit child
    ext.injectPreCBORule(_ => graft.plans.WindowTopKRewrite)
    ext.injectPreCBORule(_ => graft.plans.DynamicFilePruning)
    // exact row counts from the manifest, in place before the
    // CostBasedJoinReorder batch consumes leaf statistics
    ext.injectPreCBORule(_ => graft.plans.TxRelationStats)
  }
}

object GraftExtensions {

  // SQL-surface input coercion: wrap arguments in a cast to array<double>
  // so graft_dot/graft_cosine on array<float> (embeddings' storage type)
  // read correctly instead of getDouble-misreading 4-byte elements; the
  // cast is a no-op for array<double> inputs.
  private def toDoubleArray(
      e: org.apache.spark.sql.catalyst.expressions.Expression) =
    org.apache.spark.sql.catalyst.expressions.Cast(
      e, org.apache.spark.sql.types.ArrayType(
        org.apache.spark.sql.types.DoubleType))

  private val dotInfo = new ExpressionInfo(
    classOf[DotProduct].getName, null, "graft_dot",
    "graft_dot(a, b) - dot product of two array<double> columns", "")

  private val cosineInfo = new ExpressionInfo(
    classOf[CosineSim].getName, null, "graft_cosine",
    "graft_cosine(a, b) - cosine similarity of two array<double> columns " +
      "(single fused pass)", "")

  val dotFunction: (FunctionIdentifier, ExpressionInfo,
      Seq[org.apache.spark.sql.catalyst.expressions.Expression] =>
        org.apache.spark.sql.catalyst.expressions.Expression) =
    (FunctionIdentifier("graft_dot"), dotInfo,
      exprs => DotProduct(toDoubleArray(exprs(0)), toDoubleArray(exprs(1))))

  val cosineFunction: (FunctionIdentifier, ExpressionInfo,
      Seq[org.apache.spark.sql.catalyst.expressions.Expression] =>
        org.apache.spark.sql.catalyst.expressions.Expression) =
    (FunctionIdentifier("graft_cosine"), cosineInfo,
      exprs => CosineSim(toDoubleArray(exprs(0)), toDoubleArray(exprs(1))))

  private val hhInfo = new ExpressionInfo(
    classOf[HeavyHitters].getName, null, "graft_heavy_hitters",
    "graft_heavy_hitters(s, capacity, emit) - mergeable Misra-Gries " +
      "heavy-hitters sketch over a string column", "")

  private def hhBuilder(
      exprs: Seq[org.apache.spark.sql.catalyst.expressions.Expression])
      : org.apache.spark.sql.catalyst.expressions.Expression = {
    require(exprs.length == 3,
      "graft_heavy_hitters(s, capacity, emit) takes exactly 3 arguments")
    // capacity/emit must be non-null integer literals: a column reference
    // would throw an internal error from eval(), and a NULL literal an
    // NPE — surface a readable analysis-time message instead
    def intLit(e: org.apache.spark.sql.catalyst.expressions.Expression,
               name: String): Int = {
      require(e.foldable,
        s"graft_heavy_hitters: $name must be an integer literal, got ${e.sql}")
      e.eval() match {
        case n: Number => n.intValue
        case other => throw new IllegalArgumentException(
          s"graft_heavy_hitters: $name must be a non-null integer literal, got $other")
      }
    }
    HeavyHitters(exprs(0), intLit(exprs(1), "capacity"), intLit(exprs(2), "emit"))
  }

  val heavyHittersFunction: (FunctionIdentifier, ExpressionInfo,
      Seq[org.apache.spark.sql.catalyst.expressions.Expression] =>
        org.apache.spark.sql.catalyst.expressions.Expression) =
    (FunctionIdentifier("graft_heavy_hitters"), hhInfo, hhBuilder)

  // Bloom pre-filter pair for pure-SQL users (functions/Bloom.scala has
  // the scale story). The agg builder returns the AggregateFunction
  // itself — the analyzer wraps it — and hashes its input with the same
  // xxhash64 the probe side uses, so
  //   WHERE graft_might_contain((SELECT graft_bloom_agg(k, n, p) FROM b), v)
  // works end-to-end with the filter arriving as a scalar subquery.
  private val bloomAggInfo = new ExpressionInfo(
    classOf[org.apache.spark.sql.catalyst.expressions.aggregate.BloomFilterAggregate].getName,
    null, "graft_bloom_agg",
    "graft_bloom_agg(key, expectedItems, fpp) - Bloom filter (binary) over xxhash64(key)", "")

  private val mightContainInfo = new ExpressionInfo(
    classOf[org.apache.spark.sql.catalyst.expressions.BloomFilterMightContain].getName,
    null, "graft_might_contain",
    "graft_might_contain(filter, value) - probe a graft_bloom_agg filter; " +
      "false means definitely absent", "")

  private def bloomAggBuilder(
      exprs: Seq[org.apache.spark.sql.catalyst.expressions.Expression])
      : org.apache.spark.sql.catalyst.expressions.Expression = {
    require(exprs.length == 3,
      "graft_bloom_agg(key, expectedItems, fpp) takes exactly 3 arguments")
    def lit(e: org.apache.spark.sql.catalyst.expressions.Expression,
            name: String): Number = {
      require(e.foldable,
        s"graft_bloom_agg: $name must be a numeric literal, got ${e.sql}")
      e.eval() match {
        case n: Number => n
        // SQL fractional literals land as Spark Decimal (not j.l.Number)
        case d: org.apache.spark.sql.types.Decimal => d.toJavaBigDecimal
        case other => throw new IllegalArgumentException(
          s"graft_bloom_agg: $name must be a non-null numeric literal, got $other")
      }
    }
    val items = lit(exprs(1), "expectedItems").longValue
    val fpp = lit(exprs(2), "fpp").doubleValue
    require(items > 0, "graft_bloom_agg: expectedItems must be positive")
    require(fpp > 0 && fpp < 1, "graft_bloom_agg: fpp must be in (0, 1)")
    // hash seed + bit sizing live ONLY in BloomFns (mkAgg scaladoc): a
    // filter built here probes correctly via BloomFns.mightContain and
    // vice versa
    graft.functions.BloomFns.mkAgg(exprs(0), items, fpp)
  }

  private def mightContainBuilder(
      exprs: Seq[org.apache.spark.sql.catalyst.expressions.Expression])
      : org.apache.spark.sql.catalyst.expressions.Expression = {
    require(exprs.length == 2,
      "graft_might_contain(filter, value) takes exactly 2 arguments")
    graft.functions.BloomFns.mkMightContain(exprs(0), exprs(1))
  }

  val bloomAggFunction: (FunctionIdentifier, ExpressionInfo,
      Seq[org.apache.spark.sql.catalyst.expressions.Expression] =>
        org.apache.spark.sql.catalyst.expressions.Expression) =
    (FunctionIdentifier("graft_bloom_agg"), bloomAggInfo, bloomAggBuilder)

  val mightContainFunction: (FunctionIdentifier, ExpressionInfo,
      Seq[org.apache.spark.sql.catalyst.expressions.Expression] =>
        org.apache.spark.sql.catalyst.expressions.Expression) =
    (FunctionIdentifier("graft_might_contain"), mightContainInfo, mightContainBuilder)

  // ---- SQL TABLE functions: the custom whole-operator joins reachable
  // from pure SQL (`SELECT * FROM graft_asof_join('t1','t2',...)`).
  // Tables are named (catalog/temp-view lookup on the active session);
  // the builder composes the SAME DataFrame implementation the Scala API
  // uses and hands its logical plan to the analyzer, so the SQL surface
  // can never drift from the operator semantics.

  private def strLit(
      e: org.apache.spark.sql.catalyst.expressions.Expression,
      fn: String, name: String): String = {
    require(e.foldable, s"$fn: $name must be a string literal, got ${e.sql}")
    e.eval() match {
      case s: org.apache.spark.unsafe.types.UTF8String => s.toString
      case other => throw new IllegalArgumentException(
        s"$fn: $name must be a non-null string literal, got $other")
    }
  }

  private def longLit(
      e: org.apache.spark.sql.catalyst.expressions.Expression,
      fn: String, name: String): Long = {
    require(e.foldable, s"$fn: $name must be an integer literal, got ${e.sql}")
    e.eval() match {
      // reject fractional literals instead of silently truncating —
      // 3600.9 becoming bucketSec=3600 (or 0.5 becoming 0) must not pass
      case n: java.lang.Integer => n.longValue
      case n: java.lang.Long => n.longValue
      case n: java.lang.Short => n.longValue
      case n: java.lang.Byte => n.longValue
      case other => throw new IllegalArgumentException(
        s"$fn: $name must be a non-null integer literal, got $other")
    }
  }

  private def activeSession: SparkSession =
    SparkSession.getActiveSession.getOrElse(
      throw new IllegalStateException("no active SparkSession"))

  private val asofJoinInfo = new ExpressionInfo(
    graft.operators.AsOf.getClass.getName, null, "graft_asof_join",
    "graft_asof_join(left, right, key, time, valueCsv[, direction]) - " +
      "as-of join two named tables/views: each left row gets the latest " +
      "(direction 'backward', default) or earliest ('forward') right row " +
      "at/before (after) its time; valueCsv lists right columns to carry " +
      "(emitted as asof_<col>)", "")

  private def asofJoinBuilder(
      exprs: Seq[org.apache.spark.sql.catalyst.expressions.Expression])
      : org.apache.spark.sql.catalyst.plans.logical.LogicalPlan = {
    val fn = "graft_asof_join"
    require(exprs.length == 5 || exprs.length == 6,
      s"$fn(left, right, key, time, valueCsv[, direction]) takes 5 or 6 arguments")
    val spark = activeSession
    val left = spark.table(strLit(exprs(0), fn, "left"))
    val right = spark.table(strLit(exprs(1), fn, "right"))
    val key = strLit(exprs(2), fn, "key")
    val time = strLit(exprs(3), fn, "time")
    val vals = strLit(exprs(4), fn, "valueCsv")
      .split(",").map(_.trim).filter(_.nonEmpty).toSeq
    val dir = if (exprs.length == 6) strLit(exprs(5), fn, "direction")
      else "backward"
    val df = dir match {
      case "backward" => graft.operators.AsOf.asofJoin(left, right, key, time, vals)
      case "forward" =>
        graft.operators.AsOf.asofJoinForward(left, right, key, time, vals)
      case other => throw new IllegalArgumentException(
        s"$fn: direction must be 'backward' or 'forward', got '$other'")
    }
    df.queryExecution.logical
  }

  val asofJoinTableFunction: (FunctionIdentifier, ExpressionInfo,
      Seq[org.apache.spark.sql.catalyst.expressions.Expression] =>
        org.apache.spark.sql.catalyst.plans.logical.LogicalPlan) =
    (FunctionIdentifier("graft_asof_join"), asofJoinInfo, asofJoinBuilder)

  private val pointInIntervalInfo = new ExpressionInfo(
    graft.operators.RangeJoin.getClass.getName, null, "graft_point_in_interval",
    "graft_point_in_interval(points, pointTs, intervals, startCol, endCol, " +
      "bucketSec) - join each row of the named points table to every row " +
      "of the named intervals table whose [start, end] contains its " +
      "timestamp (cell-bucketed equi-join, never all-pairs)", "")

  private def pointInIntervalBuilder(
      exprs: Seq[org.apache.spark.sql.catalyst.expressions.Expression])
      : org.apache.spark.sql.catalyst.plans.logical.LogicalPlan = {
    val fn = "graft_point_in_interval"
    require(exprs.length == 6,
      s"$fn(points, pointTs, intervals, startCol, endCol, bucketSec) takes 6 arguments")
    val spark = activeSession
    graft.operators.RangeJoin.pointInInterval(
      spark.table(strLit(exprs(0), fn, "points")), strLit(exprs(1), fn, "pointTs"),
      spark.table(strLit(exprs(2), fn, "intervals")),
      strLit(exprs(3), fn, "startCol"), strLit(exprs(4), fn, "endCol"),
      longLit(exprs(5), fn, "bucketSec"))
      .queryExecution.logical
  }

  val pointInIntervalTableFunction: (FunctionIdentifier, ExpressionInfo,
      Seq[org.apache.spark.sql.catalyst.expressions.Expression] =>
        org.apache.spark.sql.catalyst.plans.logical.LogicalPlan) =
    (FunctionIdentifier("graft_point_in_interval"), pointInIntervalInfo,
      pointInIntervalBuilder)

  private val txReadInfo = new ExpressionInfo(
    graft.sources.TxLog.getClass.getName, null, "graft_tx_read",
    "graft_tx_read(path[, version]) - read a graft transactional table: " +
      "the latest committed snapshot, or (with version) a time-travel " +
      "snapshot exactly as committed at that version", "")

  private def txReadBuilder(
      exprs: Seq[org.apache.spark.sql.catalyst.expressions.Expression])
      : org.apache.spark.sql.catalyst.plans.logical.LogicalPlan = {
    val fn = "graft_tx_read"
    require(exprs.length == 1 || exprs.length == 2,
      s"$fn(path[, version]) takes 1 or 2 arguments")
    val spark = activeSession
    val path = strLit(exprs(0), fn, "path")
    val df =
      if (exprs.length == 2)
        graft.sources.TxLog.readAsOf(spark, path, longLit(exprs(1), fn, "version"))
      else graft.sources.TxLog.read(spark, path)
    df.queryExecution.logical
  }

  val txReadTableFunction: (FunctionIdentifier, ExpressionInfo,
      Seq[org.apache.spark.sql.catalyst.expressions.Expression] =>
        org.apache.spark.sql.catalyst.plans.logical.LogicalPlan) =
    (FunctionIdentifier("graft_tx_read"), txReadInfo, txReadBuilder)

  private val txCdfInfo = new ExpressionInfo(
    graft.sources.TxLog.getClass.getName, null, "graft_tx_cdf",
    "graft_tx_cdf(path, since[, until]) - the row-level change feed of " +
      "a graft transactional table over (since, until] (until defaults " +
      "to the latest version): table columns plus _change_type " +
      "(insert/delete/update_preimage/update_postimage) and " +
      "_commit_version; fails on rewrites without recorded changes", "")

  private def txCdfBuilder(
      exprs: Seq[org.apache.spark.sql.catalyst.expressions.Expression])
      : org.apache.spark.sql.catalyst.plans.logical.LogicalPlan = {
    val fn = "graft_tx_cdf"
    require(exprs.length == 2 || exprs.length == 3,
      s"$fn(path, since[, until]) takes 2 or 3 arguments")
    val spark = activeSession
    val until =
      if (exprs.length == 3) Some(longLit(exprs(2), fn, "until")) else None
    graft.sources.TxLog.readChangeFeed(spark,
        strLit(exprs(0), fn, "path"), longLit(exprs(1), fn, "since"), until)
      .queryExecution.logical
  }

  val txCdfTableFunction: (FunctionIdentifier, ExpressionInfo,
      Seq[org.apache.spark.sql.catalyst.expressions.Expression] =>
        org.apache.spark.sql.catalyst.plans.logical.LogicalPlan) =
    (FunctionIdentifier("graft_tx_cdf"), txCdfInfo, txCdfBuilder)

  private val txPropertiesInfo = new ExpressionInfo(
    graft.sources.TxLog.getClass.getName, null, "graft_tx_properties",
    "graft_tx_properties(path) - SHOW TBLPROPERTIES of a graft " +
      "transactional table: one (key, value) row per property, answered " +
      "from the manifest alone", "")

  private def txPropertiesBuilder(
      exprs: Seq[org.apache.spark.sql.catalyst.expressions.Expression])
      : org.apache.spark.sql.catalyst.plans.logical.LogicalPlan = {
    val fn = "graft_tx_properties"
    require(exprs.length == 1, s"$fn(path) takes 1 argument")
    graft.sources.TxLog.properties(activeSession, strLit(exprs(0), fn, "path"))
      .queryExecution.logical
  }

  val txPropertiesTableFunction: (FunctionIdentifier, ExpressionInfo,
      Seq[org.apache.spark.sql.catalyst.expressions.Expression] =>
        org.apache.spark.sql.catalyst.plans.logical.LogicalPlan) =
    (FunctionIdentifier("graft_tx_properties"), txPropertiesInfo,
      txPropertiesBuilder)

  private val txHistoryInfo = new ExpressionInfo(
    graft.sources.TxLog.getClass.getName, null, "graft_tx_history",
    "graft_tx_history(path) - DESCRIBE HISTORY of a graft transactional " +
      "table: one row per committed version (version, action, commit " +
      "timestamp, file count, recorded rows), answered from the " +
      "manifests alone", "")

  private def txHistoryBuilder(
      exprs: Seq[org.apache.spark.sql.catalyst.expressions.Expression])
      : org.apache.spark.sql.catalyst.plans.logical.LogicalPlan = {
    val fn = "graft_tx_history"
    require(exprs.length == 1, s"$fn(path) takes 1 argument")
    graft.sources.TxLog.history(activeSession, strLit(exprs(0), fn, "path"))
      .queryExecution.logical
  }

  val txHistoryTableFunction: (FunctionIdentifier, ExpressionInfo,
      Seq[org.apache.spark.sql.catalyst.expressions.Expression] =>
        org.apache.spark.sql.catalyst.plans.logical.LogicalPlan) =
    (FunctionIdentifier("graft_tx_history"), txHistoryInfo, txHistoryBuilder)

  private val txPartitionsInfo = new ExpressionInfo(
    graft.sources.TxLog.getClass.getName, null, "graft_tx_partitions",
    "graft_tx_partitions(path) - SHOW PARTITIONS of a partitioned graft " +
      "transactional table: one row per live partition (values in their " +
      "dir-rendered string form, NULL partitions as SQL NULL) with its " +
      "file and row counts, answered entirely from the manifest", "")

  private def txPartitionsBuilder(
      exprs: Seq[org.apache.spark.sql.catalyst.expressions.Expression])
      : org.apache.spark.sql.catalyst.plans.logical.LogicalPlan = {
    val fn = "graft_tx_partitions"
    require(exprs.length == 1, s"$fn(path) takes 1 argument")
    graft.sources.TxLog.partitions(activeSession, strLit(exprs(0), fn, "path"))
      .queryExecution.logical
  }

  val txPartitionsTableFunction: (FunctionIdentifier, ExpressionInfo,
      Seq[org.apache.spark.sql.catalyst.expressions.Expression] =>
        org.apache.spark.sql.catalyst.plans.logical.LogicalPlan) =
    (FunctionIdentifier("graft_tx_partitions"), txPartitionsInfo,
      txPartitionsBuilder)

  private val txFilesInfo = new ExpressionInfo(
    graft.sources.TxLog.getClass.getName, null, "graft_tx_files",
    "graft_tx_files(path[, version]) - the table's file census: one row " +
      "per live file with rows, bytes, partition values, per-column " +
      "min/max/null stats, and deletion-vector facts; served from the " +
      "checkpoint's parquet census when one exists (distributed), else " +
      "from the manifest — compaction candidates, per-partition file " +
      "accounting, and DV debt as plain SQL", "")

  private def txFilesBuilder(
      exprs: Seq[org.apache.spark.sql.catalyst.expressions.Expression])
      : org.apache.spark.sql.catalyst.plans.logical.LogicalPlan = {
    val fn = "graft_tx_files"
    require(exprs.length == 1 || exprs.length == 2,
      s"$fn(path[, version]) takes 1 or 2 arguments")
    val version =
      if (exprs.length < 2) None else Some(longLit(exprs(1), fn, "version"))
    graft.sources.TxLog.fileCensus(activeSession,
      strLit(exprs(0), fn, "path"), version).queryExecution.logical
  }

  val txFilesTableFunction: (FunctionIdentifier, ExpressionInfo,
      Seq[org.apache.spark.sql.catalyst.expressions.Expression] =>
        org.apache.spark.sql.catalyst.plans.logical.LogicalPlan) =
    (FunctionIdentifier("graft_tx_files"), txFilesInfo, txFilesBuilder)

  /** The one way graft builds a session: `local[cpus]`, `cpus` shuffle
    * partitions, UTC session time, no UI, and this extension. Callers
    * add only what differs (app name, warehouse dir).
    */
  def builder(cpus: Int): SparkSession.Builder =
    SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.extensions", classOf[GraftExtensions].getName)

  /** `SPARK_GRAFT_CPUS`, or `default` when it is unset. */
  def envCpus(default: Int): Int =
    sys.env.get("SPARK_GRAFT_CPUS").fold(default)(_.toInt)

  /** Whether `spark` was built with this extension. */
  private[graft] def installed(spark: SparkSession): Boolean =
    spark.sessionState.planner.strategies.contains(graft.plans.TopKPerKeyStrategy)

  /** Fails fast on a session built without this extension: its plans
    * would lack the parser, the top-k and DML strategies and the
    * optimizer rules, and nothing can add them after the build.
    */
  def requireInstalled(spark: SparkSession): Unit =
    if (!installed(spark))
      throw new IllegalStateException(
        "this session lacks graft's extension: build it with " +
          s"spark.sql.extensions=${classOf[GraftExtensions].getName} " +
          "(GraftExtensions.builder sets it)")
}
