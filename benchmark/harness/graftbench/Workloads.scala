package graftbench

import java.nio.file.{Files, Paths}

import scala.jdk.CollectionConverters._
import scala.util.control.NonFatal

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.functions.{col, count, expr, lit, sum}

import graft.{CacheRegistry, SparkEntry, Tables}
import graft.sources.TxLog

/** One operation of a pass: a name, a body that calls into a layer's
  * public entry points, and untimed bookkeeping to run after it.
  * The body times its own sub-phases through `ph` (a no-op outside traced
  * passes) and may return the query execution whose Catalyst phase times
  * the tracer reads. */
final case class Op(name: String, body: Phases => Option[QueryExecution],
    after: () => Unit = () => ())

/** Sub-phase timer handed to an operation's body. */
final class Phases(tracer: Option[Tracer], parent: Long) {
  val times = scala.collection.mutable.LinkedHashMap.empty[String, Double]
  def apply[T](name: String)(body: => T): T = tracer match {
    case None => body
    case Some(tr) =>
      val t0 = System.nanoTime()
      try body
      finally {
        val t1 = System.nanoTime()
        times(name) = times.getOrElse(name, 0.0) + (t1 - t0) / 1e6
        tr.span(tr.newSpan(), parent, "phase", name, Clock.ms(t0), Clock.ms(t1))
      }
  }
}

object Phases {
  val off = new Phases(None, 0L)
}

trait Workload {
  /** Untimed: tables the workload needs. */
  def setup(): Unit
  /** Untimed: one pass that warms the JIT and caches and captures the
    * outputs the correctness check compares. */
  def warmup(): Unit
  /** Timed passes a run makes at least. */
  def minPasses: Int
  /** Whether timed pass `p` (0-based) can run. */
  def hasPass(p: Int): Boolean
  /** The operations of timed pass `p`, in order; called before the pass
    * timer starts. */
  def pass(p: Int): Seq[Op]
  /** Untimed: runs before each operation. */
  def beforeOp(): Unit = ()
  /** Untimed: runs after the pass timer stops. */
  def afterPass(p: Int): Unit = ()
  /** Untimed: after the timed window, captures what the check needs. */
  def finish(): Unit = ()
}

/** `reports` and `curation`: a fixed key list, each pass in a seeded
  * permutation, each key run as build → optimize → physical → execute.
  * The warm-up is one pass that writes every key's output for the check.
  * The JIT needs a few more passes before pass times settle, so a run
  * makes at least `minPasses` timed passes and reports their median. */
final class KeyWorkload(spark: SparkSession, data: String, runDir: String,
    keys: Seq[String], val minPasses: Int, rng: scala.util.Random, out: Out)
    extends Workload {

  /** Cached intermediates are dropped before every operation, as
    * graft.Bench does. */
  override def beforeOp(): Unit = {
    CacheRegistry.releaseAll()
    spark.catalog.clearCache()
  }

  def setup(): Unit = ()

  def warmup(): Unit =
    rng.shuffle(keys).foreach { k =>
      beforeOp()
      val t0 = System.nanoTime()
      val ok = try {
        val df = SparkEntry.queries(k)(spark, data)
        df.queryExecution.optimizedPlan
        df.queryExecution.executedPlan
        df.write.parquet(s"$runDir/out/$k")
        true
      } catch { case NonFatal(e) =>
        System.err.println(s"[bench] warm-up of $k failed: $e")
        false
      }
      out.rec("warm", "name" -> k, "ok" -> ok, "s" -> (System.nanoTime() - t0) / 1e9,
        "sql" -> SparkEntry.oracleSql.getOrElse(k, ""))
    }

  def hasPass(p: Int): Boolean = true

  def pass(p: Int): Seq[Op] = rng.shuffle(keys).map { k =>
    Op(k, { ph =>
      val df = ph("build")(SparkEntry.queries(k)(spark, data))
      val qe = df.queryExecution
      ph("optimize")(qe.optimizedPlan)
      ph("physical")(qe.executedPlan)
      ph("execute")(qe.toRdd.foreach(_ => ()))
      Some(qe)
    })
  }
}

/** `lakehouse`: one growing graft-txlog table of `orders`. Set-up writes
  * months 0–11 and registers the table for SQL. Round r appends month
  * 12 + r, then runs SQL UPDATE, TxLog.delete with change feed, SQL
  * MERGE INTO, a date-filtered read, a time-travel read at the round's
  * append, a change-feed read over the round's update and delete, and a
  * manifest read, and ends with a compaction. Rounds 0 and 1 are the
  * untimed warm-up: the first round after the cold one is still about
  * 20% slower than the rest. Timed pass p is round p + 2. */
final class LakeWorkload(spark: SparkSession, data: String, runDir: String,
    rng: scala.util.Random, out: Out) extends Workload {

  private val table = s"$runDir/lake/orders_tx"
  private val name = "bench_orders"
  private val months = 80
  private val firstMonth = 12
  private val warmRounds = 2
  private lazy val orders = Tables.orders(spark, data)

  private def monthStart(m: Int): String =
    java.time.LocalDate.of(1995, 1, 1).plusMonths(m.toLong).toString
  private def inMonths(from: Int, until: Int): String =
    s"o_orderdate >= TIMESTAMP_NTZ '${monthStart(from)}' AND " +
      s"o_orderdate < TIMESTAMP_NTZ '${monthStart(until)}'"

  /** Size of every file under the table directory, by path. */
  private def files(): Map[String, Long] = {
    val s = Files.walk(Paths.get(table))
    try s.iterator.asScala.filter(Files.isRegularFile(_))
      .map(p => p.toString -> Files.size(p)).toMap
    finally s.close()
  }
  /** Bytes of the files that are new or changed between two listings. */
  private def created(before: Map[String, Long], after: Map[String, Long]): Long =
    after.collect { case (p, n) if !before.get(p).contains(n) => n }.sum

  // the current round's results, filled in by its operations
  private var filesAtStart = Map.empty[String, Long]
  private var appendBytes = 0L
  private var vAppend, vUpdate, vDelete = -1L
  private var readN, asofN, filesLive = -1L
  private var readSum, cdf = ""

  def setup(): Unit = {
    TxLog.overwrite(orders.where(inMonths(0, firstMonth)), table)
    TxLog.setProperty(spark, table, TxLog.cfPropertyKey, "true")
    spark.sql(s"CREATE TABLE $name USING `graft-txlog` OPTIONS (path '$table')")
  }

  def warmup(): Unit = for (r <- 0 until warmRounds) {
    round(r).foreach { op => op.body(Phases.off); op.after() }
    roundEnd(r)
  }

  def minPasses: Int = 6

  def hasPass(p: Int): Boolean = firstMonth + warmRounds + p < months

  def pass(p: Int): Seq[Op] = round(p + warmRounds)

  override def afterPass(p: Int): Unit = roundEnd(p + warmRounds)

  /** Records round r's results; `pass` is the timed pass it ran as,
    * negative for a warm-up round. */
  private def roundEnd(r: Int): Unit =
    out.rec("round_end", "round" -> r, "pass" -> (r - warmRounds), "v_append" -> vAppend,
      "v_update" -> vUpdate, "v_delete" -> vDelete, "read_n" -> readN, "read_sum" -> readSum,
      "asof_n" -> asofN, "cdf" -> cdf, "files_live" -> filesLive,
      "bytes_round" -> created(filesAtStart, files()), "bytes_append" -> appendBytes)

  private def latest(): Long = TxLog.latestVersion(spark, table).get

  /** Round r's operations; draws the round's key residues from the seed. */
  private def round(r: Int): Seq[Op] = {
    val m = firstMonth + r
    val (a, b, c) = (rng.nextInt(7), rng.nextInt(11), rng.nextInt(13))
    val recent = s"o_orderdate >= TIMESTAMP_NTZ '${monthStart(m - 2)}'"
    out.rec("round", "round" -> r, "pass" -> (r - warmRounds), "month_from" -> monthStart(m),
      "month_until" -> monthStart(m + 1), "recent_from" -> monthStart(m - 2),
      "read_from" -> monthStart(m - 3), "merge_from" -> monthStart(m - 1),
      "upd_res" -> a, "del_res" -> b, "mrg_res" -> c)
    filesAtStart = files()
    // merge source: month m-1 rows (matched unless deleted) plus month m
    // rows under fresh keys (never matched), both at residue c mod 13
    def mergeSource(): Unit =
      orders.where(inMonths(m - 1, m) + s" AND o_orderkey % 13 = $c")
        .unionByName(orders.where(inMonths(m, m + 1) + s" AND o_orderkey % 13 = $c")
          .withColumn("o_orderkey", col("o_orderkey") + 100000000L))
        .createOrReplaceTempView("bench_src")
    Seq(
      Op("append", { _ =>
        vAppend = TxLog.append(orders.where(inMonths(m, m + 1)), table)
        None
      }, () => appendBytes = created(filesAtStart, files())),
      Op("update_sql", { _ =>
        spark.sql(s"UPDATE $name SET o_orderpriority = 'U$r', " +
          s"o_totalprice = o_totalprice + 1 WHERE $recent AND o_orderkey % 7 = $a")
        None
      }, () => vUpdate = latest()),
      Op("delete_cdf", { _ =>
        vDelete = TxLog.delete(spark, table,
          expr(s"$recent AND o_orderkey % 11 = $b"), changeFeed = true)
        None
      }, () => mergeSource()),
      Op("merge_sql", { _ =>
        spark.sql(s"MERGE INTO $name t USING bench_src s ON t.o_orderkey = s.o_orderkey " +
          "WHEN MATCHED THEN UPDATE SET o_orderstatus = 'M', " +
          "o_totalprice = s.o_totalprice + 2 WHEN NOT MATCHED THEN INSERT *")
        None
      }),
      Op("read", { _ =>
        val row = TxLog.read(spark, table).where(inMonths(m - 3, m + 1))
          .agg(count(lit(1)), sum(col("o_totalprice").cast("decimal(18,2)")))
          .collect()(0)
        readN = row.getLong(0)
        readSum = String.valueOf(row.get(1))
        None
      }),
      Op("read_asof", { _ =>
        asofN = TxLog.readAsOf(spark, table, vAppend).count()
        None
      }),
      Op("read_cdf", { _ =>
        cdf = TxLog.readChangeFeed(spark, table, vUpdate - 1, Some(vDelete))
          .groupBy("_change_type").count().collect()
          .map(row => s"${row.getString(0)}=${row.getLong(1)}").sorted.mkString(";")
        None
      }),
      Op("manifest", { _ =>
        filesLive = TxLog.manifest(spark, table).files.size.toLong
        None
      }),
      Op("compact", { _ =>
        TxLog.compact(spark, table,
          smallFileBytes = 256L << 10, targetFileBytes = 1L << 20)
        None
      }))
  }

  /** Writes the final snapshot for the check; records log size. */
  override def finish(): Unit = {
    TxLog.read(spark, table).write.parquet(s"$runDir/out/lake_final")
    out.rec("lake_final", "versions" -> latest(),
      "files_live" -> TxLog.manifest(spark, table).files.size)
  }
}
