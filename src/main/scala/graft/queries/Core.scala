package graft.queries

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.Tables
import graft.operators._

/** Reference-derived query surface (SURVEY.md §2, q01–q23), each paired
  * with a DuckDB-portable oracle SQL string.
  *
  * Parity rules (SURVEY.md §6), refined after measuring engine rounding:
  *
  *  - Identical output column names on both sides; counts cast to BIGINT
  *    in SQL (DuckDB int sums are HUGEINT otherwise); event ordering is
  *    always a total order; timestamps emitted as dates/strings only.
  *  - MONEY is computed in DECIMAL on both sides. The inputs are 2-decimal
  *    doubles; `price * (1 - disc)` lands exactly on rounding ties
  *    (x.xx50) where Spark (shortest-string HALF_UP) and DuckDB (exact
  *    binary) structurally disagree on doubles. Decimal arithmetic is
  *    exact and order-independent (parallel sums deterministic) and both
  *    engines round decimals half-away-from-zero. Final decimals are cast
  *    to DOUBLE (exact) so output schemas stay double.
  *  - AVERAGES of lattice values are computed as exact decimal sum cast
  *    to double, divided by the count — bit-identical across engines —
  *    never via engine-native double `avg` (summation order differs).
  *  - Remaining double roundings add a +1e-7 nudge on BOTH sides before
  *    round(·,4): integer-ratio and small-frame-average values sit exactly
  *    on 4dp ties (e.g. 1/32 = 0.03125), which the two engines' double
  *    rounding would break differently; the shared nudge moves every
  *    structural tie off the boundary in the same direction.
  */
object Core {

  /** Fact-table loads. `ev`/`li` are the raw scans. `evF`/`liF` add the
    * scale-adaptive scan fan-out (Tables.fanned scaladoc): the
    * single-row-group testdata files give ONE scan task, so per-row work
    * before the first exchange is otherwise single-threaded. The fanned
    * variants are used ONLY where a bench A/B showed the exchange is
    * reused, not added — the per-user window/daily-series family
    * (Window.partitionBy(user_id) and (user_id, day)-grain aggregates
    * are satisfied by hash(user_id)) and the per-order aggregates
    * (hash(l_orderkey)). Blanket fan-out measurably REGRESSED the
    * broadcast-probe shapes (q79–q82, q33, q62: the exchange just
    * precedes a BroadcastHashJoin) and the non-user-keyed events
    * queries (q22 tumbling windows), so those keep the raw load.
    * Lakehouse lifecycle writers also keep raw loads so commit file
    * counts stay layout-driven.
    */
  private def ev(s: SparkSession, dir: String): DataFrame = Tables.events(s, dir)
  private def li(s: SparkSession, dir: String): DataFrame = Tables.lineitem(s, dir)
  private def evF(s: SparkSession, dir: String): DataFrame =
    Tables.fanned(s, dir, "events", Tables.events(s, dir), Seq("user_id"))
  private def liF(s: SparkSession, dir: String): DataFrame =
    Tables.fanned(s, dir, "lineitem", Tables.lineitem(s, dir), Seq("l_orderkey"))
  // orders stays a RAW load: it is broadcast or dimension-side in most
  // of its uses, where a load-time fan-out exchange would just precede a
  // BroadcastExchange and be pure overhead (measured on q71/q63).
  private def ordRaw(s: SparkSession, dir: String): DataFrame =
    Tables.orders(s, dir)

  /** 2-decimal money cast (prices, discounts, taxes, quantities). */
  private def dec2(c: Column): Column = c.cast("decimal(12,2)")
  /** 4-decimal measure cast (events.value). */
  private def dec4(c: Column): Column = c.cast("decimal(18,4)")
  /** Round a decimal to 2 and emit as double (exact). */
  private def r2d(c: Column): Column = round(c, 2).cast("double")
  /** Round a decimal to 4 and emit as double (exact). */
  private def r4d(c: Column): Column = round(c, 4).cast("double")
  /** Tie-nudged 4dp rounding for doubles (see object doc). */
  private def r4e(c: Column): Column = Parity.r4e(c)
  /** Plain 4dp rounding — only for values already on the 4dp grid. */
  private def r4(c: Column): Column = round(c, 4)

  private val disc1 = lit(1) - dec2(col("l_discount")) // decimal(13,2), exact
  private val revDec = dec2(col("l_extendedprice")) * disc1 // scale 4, exact

  /** Daily series shared by q13–q19. */
  private def daily(s: SparkSession, dir: String): DataFrame =
    SentimentOps.dailyWithNextChange(evF(s, dir))

  private val dailySql =
    """WITH daily AS (
      |  SELECT user_id, CAST(ts AS DATE) AS day, COUNT(*) AS n,
      |         CAST(SUM(CAST(value AS DECIMAL(18,4))) AS DOUBLE) / COUNT(*) AS v_avg,
      |         MIN(value) AS v_min, MAX(value) AS v_max
      |  FROM events GROUP BY 1, 2),
      |d2 AS (
      |  SELECT *, LEAD(v_avg) OVER (PARTITION BY user_id ORDER BY day) AS nxt FROM daily),
      |d3 AS (
      |  SELECT user_id, day, n, v_avg, v_min, v_max,
      |         CASE WHEN nxt IS NOT NULL AND v_avg <> 0
      |              THEN (nxt - v_avg) / v_avg * 100 END AS chg_next
      |  FROM d2)""".stripMargin

  /** Exact sliding average: decimal window sum (order-independent) cast to
    * double over the window count — bit-identical in Spark and DuckDB,
    * unlike native double window `avg` (different summation trees).
    */
  private def exactSlidingAvg(vDec: Column, w: org.apache.spark.sql.expressions.WindowSpec,
                              period: Int): Column = {
    val wp = w.rowsBetween(-(period - 1), 0)
    sum(vDec).over(wp).cast("double") / count(vDec).over(wp)
  }

  /** TPC-H Q3 in portable ANSI SQL: runnable verbatim by BOTH engines —
    * DuckDB as q20/q67's oracle, and spark.sql over the registered views
    * in q67_catalog_sql (same text, two engines, one hash).
    */
  private val tpch3Sql: String =
    """SELECT o.o_orderkey, CAST(o.o_orderdate AS DATE) AS order_date, o.o_orderpriority,
      | CAST(round(sum(CAST(l.l_extendedprice AS DECIMAL(12,2)) * (1 - CAST(l.l_discount AS DECIMAL(12,2)))), 2) AS DOUBLE) AS revenue
      |FROM lineitem l
      |JOIN orders o ON l.l_orderkey = o.o_orderkey
      |JOIN customer c ON o.o_custkey = c.c_custkey
      |WHERE c.c_mktsegment = 'MACHINERY'
      |  AND CAST(o.o_orderdate AS DATE) < DATE '1998-01-01'
      |  AND CAST(l.l_shipdate AS DATE) > DATE '1997-01-01'
      |GROUP BY 1, 2, 3
      |ORDER BY sum(CAST(l.l_extendedprice AS DECIMAL(12,2)) * (1 - CAST(l.l_discount AS DECIMAL(12,2)))) DESC, o.o_orderkey
      |LIMIT 10""".stripMargin

  private def slidingAvgSql(period: Int): String =
    s"CAST(sum(CAST(value AS DECIMAL(18,4))) OVER (PARTITION BY user_id ORDER BY ts, event_id " +
      s"ROWS BETWEEN ${period - 1} PRECEDING AND CURRENT ROW) AS DOUBLE) / " +
      s"count(*) OVER (PARTITION BY user_id ORDER BY ts, event_id " +
      s"ROWS BETWEEN ${period - 1} PRECEDING AND CURRENT ROW)"

  val defs: Map[String, (SparkSession, String) => DataFrame] = Map(
    "q01_pricing_summary" -> ((s, dir) =>
      liF(s, dir)
        .groupBy("l_returnflag", "l_linestatus")
        .agg(
          r2d(sum(dec2(col("l_quantity")))).as("sum_qty"),
          r2d(sum(dec2(col("l_extendedprice")))).as("sum_base"),
          r2d(sum(revDec)).as("sum_disc"),
          r4e(sum(dec2(col("l_quantity"))).cast("double") / count(lit(1))).as("avg_qty"),
          r4e(sum(dec2(col("l_extendedprice"))).cast("double") / count(lit(1))).as("avg_price"),
          count(lit(1)).as("n"))),

    "q02_dedup_latest" -> ((s, dir) =>
      Cleaning
        .dedupLatest(evF(s, dir), Seq("user_id", "event_type"),
          Seq(col("ts").desc, col("event_id").desc))
        .select(
          col("user_id"), col("event_type"), col("event_id"),
          r4(col("value")).as("value"), col("ts").cast("date").as("day"))),

    "q03_clean_validate" -> ((s, dir) => {
      val base = Cleaning.requireNonNull(
        li(s, dir),
        Seq("l_quantity", "l_extendedprice", "l_discount", "l_tax", "l_shipdate"))
        .filter(
          col("l_quantity") > 0 && col("l_extendedprice") > 0 &&
            col("l_discount") >= 0 && col("l_discount") <= 1 && col("l_tax") >= 0)
      val charge = revDec * (lit(1) + dec2(col("l_tax")))
      val revD = revDec.cast("double")
      base.select(
        col("l_orderkey"), col("l_linenumber"),
        r2d(revDec).as("revenue"),
        r2d(charge).as("charge"),
        r4e(Cleaning.guardedPct(revD, col("l_extendedprice"))).as("margin_pct"),
        col("l_shipdate").cast("date").as("ship_date"))
    }),

    "q04_date_parts" -> ((s, dir) =>
      Cleaning.withDateParts(ordRaw(s, dir), "o_orderdate")
        .groupBy("year", "month")
        .agg(
          count(lit(1)).as("n_orders"),
          r2d(sum(dec2(col("o_totalprice")))).as("total_price"),
          r4e(sum(dec2(col("o_totalprice"))).cast("double") / count(lit(1))).as("avg_price"),
          sum(when(col("o_orderpriority") === "1-URGENT", 1).otherwise(0)).as("urgent"))),

    "q05_merge_coalesce" -> ((s, dir) => {
      val a = liF(s, dir).groupBy(col("l_orderkey").as("orderkey"))
        .agg(sum(revDec).as("li_value"), count(lit(1)).as("li_count"))
      val b = ordRaw(s, dir)
        .select(col("o_orderkey").as("orderkey"), dec2(col("o_totalprice")).as("o_totalprice"))
      MergeOps.mergeCoalesce(a, b, Seq("orderkey"),
        Map("merged_value" -> (col("li_value"), col("o_totalprice"))))
        .select(
          col("orderkey"),
          r2d(col("merged_value")).as("merged_value"),
          r2d(col("merged_value_discrepancy")).as("discrepancy"),
          when(col("li_value").isNotNull, 1).otherwise(0).as("has_li"),
          when(col("o_totalprice").isNotNull, 1).otherwise(0).as("has_ord"))
    }),

    "q06_sma" -> ((s, dir) => {
      // Full reference horizon set (data_transformation.py:160-178):
      // sma_{7,20,50,200} plus ema_12/ema_26, which the reference
      // deliberately approximates as the 20-/50-row window means — we
      // mirror that approximation for parity (noted in SURVEY §6).
      val w = Indicators.seriesWindow("user_id", Seq(col("ts"), col("event_id")))
      val vDec = dec4(col("value"))
      evF(s, dir).select(
        col("user_id"), col("event_id"), r4(col("value")).as("value"),
        r4e(exactSlidingAvg(vDec, w, 7)).as("sma_7"),
        r4e(exactSlidingAvg(vDec, w, 20)).as("sma_20"),
        r4e(exactSlidingAvg(vDec, w, 50)).as("sma_50"),
        r4e(exactSlidingAvg(vDec, w, 200)).as("sma_200"),
        r4e(exactSlidingAvg(vDec, w, 20)).as("ema_12"),
        r4e(exactSlidingAvg(vDec, w, 50)).as("ema_26"))
    }),

    "q07_bollinger" -> ((s, dir) => {
      val w = Indicators.seriesWindow("user_id", Seq(col("ts"), col("event_id")))
      val mid = exactSlidingAvg(dec4(col("value")), w, 20)
      val sd = stddev_samp(col("value")).over(w.rowsBetween(-19, 0))
      evF(s, dir).select(
        col("user_id"), col("event_id"),
        r4e(mid).as("bb_mid"), r4e(sd).as("bb_sd"),
        r4e(mid + lit(2.0) * sd).as("bb_up"),
        r4e(mid - lit(2.0) * sd).as("bb_lo"))
    }),

    "q08_momentum" -> ((s, dir) => {
      val w = Indicators.seriesWindow("user_id", Seq(col("ts"), col("event_id")))
      Indicators.withMomentum(evF(s, dir), w, "value", Seq(1, 5, 20))
        .select(
          col("user_id"), col("event_id"),
          r4e(col("mom_1")).as("mom_1"), r4e(col("mom_5")).as("mom_5"),
          r4e(col("mom_20")).as("mom_20"))
    }),

    "q09_volatility" -> ((s, dir) => {
      val w = Indicators.seriesWindow("user_id", Seq(col("ts"), col("event_id")))
      val rollAvg = exactSlidingAvg(dec4(col("value")), w, 20)
      Indicators.withVolatility(evF(s, dir), w, "value", 20)
        .withColumn("rel_value", when(rollAvg > 0.0, col("value") / rollAvg).otherwise(1.0))
        .select(
          col("user_id"), col("event_id"),
          r4e(col("vol_20")).as("vol_20"), r4e(col("rel_value")).as("rel_value"))
    }),

    "q10_daily_agg" -> ((s, dir) =>
      SentimentOps.dailyAgg(evF(s, dir))
        .select(
          col("user_id"), col("day"), col("n"),
          r4e(col("v_avg")).as("v_avg"), r4(col("v_min")).as("v_min"),
          r4(col("v_max")).as("v_max"), r4e(col("v_sd")).as("v_sd"),
          col("purchases"), col("clicks"), col("errors"),
          r4e(col("purchase_ratio")).as("purchase_ratio"),
          r4e(col("click_ratio")).as("click_ratio"))),

    "q11_weighted_recency" -> ((s, dir) =>
      SentimentOps.weightedRecency(evF(s, dir), tauHours = 24.0)
        .select(col("user_id"), col("n"), r4e(col("weighted_avg")).as("weighted_avg"))),

    "q12_lead_horizons" -> ((s, dir) => {
      val w = Indicators.seriesWindow("user_id", Seq(col("ts"), col("event_id")))
      Indicators.withLeadHorizons(evF(s, dir), w, "value", Seq(1, 3, 5))
        .select(
          col("user_id"), col("event_id"),
          r4e(col("chg_1")).as("chg_1"), r4e(col("chg_3")).as("chg_3"),
          r4e(col("chg_5")).as("chg_5"))
    }),

    "q13_corr_by_key" -> ((s, dir) =>
      SentimentOps.corrByKey(daily(s, dir))
        .select(
          col("user_id"), col("sample_size"),
          r4e(col("corr_value")).as("corr_value"),
          r4e(col("corr_volume")).as("corr_volume"),
          r4e(col("avg_chg")).as("avg_chg"))),

    "q14_corr_overall" -> ((s, dir) =>
      SentimentOps.corrOverall(daily(s, dir))
        .select(
          col("total_samples"),
          r4e(col("corr_value")).as("corr_value"),
          r4e(col("corr_volume")).as("corr_volume"))),

    "q15_category" -> ((s, dir) =>
      SentimentOps.categorize(daily(s, dir))
        .select(
          col("bucket"), col("ord"), col("n_days"),
          r4e(col("avg_chg")).as("avg_chg"), r4e(col("sd_chg")).as("sd_chg"))),

    "q16_event_detect" -> ((s, dir) =>
      SentimentOps.detectEvents(daily(s, dir), minEvents = 4, minIntradayPct = 100.0)
        .select(
          col("user_id"), col("day"), col("n"),
          r4e(col("intraday_vol")).as("intraday_vol"),
          r4e(col("chg_next")).as("chg_next"),
          col("event_class"), col("alignment"))),

    "q17_monthly_trends" -> ((s, dir) =>
      SentimentOps.monthlyTrends(daily(s, dir))
        .select(
          col("year"), col("month"), col("trading_days"), col("total_events"),
          r4e(col("avg_value")).as("avg_value"), r4e(col("avg_chg")).as("avg_chg"))),

    "q18_master_join" -> ((s, dir) => {
      val events = ev(s, dir)
      val base = SentimentOps.dailyAgg(events)
        .select("user_id", "day", "v_avg", "purchase_ratio")
      val errs = events
        .filter(col("event_type") === "error")
        .groupBy(col("user_id"), col("ts").cast("date").as("day"))
        .agg(
          count(lit(1)).as("n_err"),
          array_join(array_sort(collect_set(regexp_extract(col("props"), "[0-9]+", 0))), ",").as("ks"))
      MergeOps.leftJoinFill(base, errs, Seq("user_id", "day"),
        Map("n_err" -> 0L, "ks" -> ""))
        .select(
          col("user_id"), col("day"),
          r4e(col("v_avg")).as("v_avg"),
          r4e(col("purchase_ratio")).as("purchase_ratio"),
          col("n_err"), col("ks"),
          when(col("n_err") > 0, 1).otherwise(0).as("err_flag"),
          Parity.isoDow(col("day")).as("dow"))
    }),

    "q19_top_movers" -> ((s, dir) =>
      daily(s, dir)
        .filter(col("chg_next").isNotNull)
        .orderBy(abs(col("chg_next")).desc, col("user_id"), col("day"))
        .limit(50)
        .select(col("user_id"), col("day"), col("n"), r4e(col("chg_next")).as("chg_next"))),

    "q20_tpch3" -> ((s, dir) => {
      val c = Tables.customer(s, dir)
        .filter(col("c_mktsegment") === "MACHINERY").select("c_custkey")
      val o = ordRaw(s, dir)
        .filter(col("o_orderdate").cast("date") < lit("1998-01-01").cast("date"))
        .select("o_orderkey", "o_custkey", "o_orderdate", "o_orderpriority")
      val l = li(s, dir)
        .filter(col("l_shipdate").cast("date") > lit("1997-01-01").cast("date"))
        .select("l_orderkey", "l_extendedprice", "l_discount")
      l.join(o, col("l_orderkey") === col("o_orderkey"))
        .join(broadcast(c), col("o_custkey") === col("c_custkey"))
        .groupBy(col("o_orderkey"), col("o_orderdate").cast("date").as("order_date"),
          col("o_orderpriority"))
        .agg(sum(revDec).as("rev_raw"))
        .orderBy(col("rev_raw").desc, col("o_orderkey"))
        .limit(10)
        .select(col("o_orderkey"), col("order_date"), col("o_orderpriority"),
          r2d(col("rev_raw")).as("revenue"))
    }),

    "q21_tpch5" -> ((s, dir) => {
      val r = Tables.region(s, dir).filter(col("r_name") === "ASIA")
      val n = Tables.nation(s, dir)
      val sup = Tables.supplier(s, dir)
      val c = Tables.customer(s, dir)
      val o = ordRaw(s, dir)
        .filter(col("o_orderdate").cast("date") >= lit("1996-01-01").cast("date") &&
          col("o_orderdate").cast("date") < lit("1997-01-01").cast("date"))
      val l = li(s, dir).select("l_orderkey", "l_suppkey", "l_extendedprice", "l_discount")
      l.join(o.select("o_orderkey", "o_custkey"), col("l_orderkey") === col("o_orderkey"))
        .join(broadcast(sup.select("s_suppkey", "s_nationkey")),
          col("l_suppkey") === col("s_suppkey"))
        .join(broadcast(c.select("c_custkey", "c_nationkey")),
          col("o_custkey") === col("c_custkey") &&
            col("c_nationkey") === col("s_nationkey"))
        .join(broadcast(n.select("n_nationkey", "n_name", "n_regionkey")),
          col("s_nationkey") === col("n_nationkey"))
        .join(broadcast(r.select("r_regionkey")), col("n_regionkey") === col("r_regionkey"))
        .groupBy("n_name")
        .agg(r2d(sum(revDec)).as("revenue"))
    }),

    "q22_window_tumble" -> ((s, dir) =>
      ev(s, dir)
        .groupBy(
          date_format(window(col("ts"), "1 hour").getField("start"), "yyyy-MM-dd HH:mm:ss")
            .as("bucket"),
          col("event_type"))
        .agg(count(lit(1)).as("n"), sum(dec4(col("value"))).cast("double").as("sum_v"))),

    "q24_recent_perf" -> ((s, dir) => {
      // v_recent_performance (postgresql_schemas.sql:225-241): trailing
      // trailing reporting window (14 days), anchored at the dataset max day so the
      // result is deterministic (the reference anchors at CURRENT_DATE).
      // anchor = max event date, from one cheap scan of events — NOT
      // from re-running the whole daily pipeline just for its max(day)
      val anchor = ev(s, dir).agg(max(col("ts").cast("date")).as("anchor"))
      daily(s, dir).crossJoin(broadcast(anchor))
        .filter(col("day") >= date_sub(col("anchor"), 14))
        .select(
          col("user_id"), col("day"), col("n"),
          r4e(col("v_avg")).as("v_avg"),
          r4e(col("purchase_ratio")).as("purchase_ratio"),
          r4e(col("chg_next")).as("chg_next"))
    }),

    "q25_strong_corr" -> ((s, dir) =>
      // v_strong_correlation_stocks (postgresql_schemas.sql:260-271):
      // per-key correlations above a threshold with a minimum sample.
      SentimentOps.corrByKey(daily(s, dir))
        .filter(abs(col("corr_value")) > 0.15 && col("sample_size") >= 10)
        .select(
          col("user_id"), col("sample_size"),
          r4e(col("corr_value")).as("corr_value"),
          r4e(col("avg_chg")).as("avg_chg"))),

    "q26_date_dim" -> ((s, dir) => {
      // populate_date_dimension (postgresql_schemas.sql:278+): calendar
      // dimension spanning the fact table's date range.
      val span = ordRaw(s, dir).agg(
        min(col("o_orderdate").cast("date")).as("d0"),
        max(col("o_orderdate").cast("date")).as("d1"))
      val dow = Parity.isoDow(col("date"))
      span
        .select(explode(sequence(col("d0"), col("d1"))).as("date"))
        .select(
          col("date"), year(col("date")).as("year"), month(col("date")).as("month"),
          dayofmonth(col("date")).as("day"), quarter(col("date")).as("quarter"),
          dow.as("dow"),
          when(dow >= 6, 1).otherwise(0).as("is_weekend"))
    }),

    "q27_skyline" -> ((s, dir) => {
      // Pareto frontier of orders: maximize total price, minimize order
      // date ("best deals earliest") — two-phase distributed skyline.
      val o = ordRaw(s, dir).select(
        col("o_orderkey"), col("o_totalprice"),
        col("o_orderdate").cast("date").as("order_date"),
        datediff(col("o_orderdate").cast("date"), lit("1970-01-01").cast("date")).as("days"))
      Skyline.maxMin(o, "o_totalprice", "days")
        .select("o_orderkey", "o_totalprice", "order_date")
    }),

    "q29_rollup" -> ((s, dir) => {
      // Hierarchical rollup totals (flag, status) -> (flag) -> grand
      // total — the OLAP cube slice of the reference's fact tables.
      // Pre-aggregate at the finest grain FIRST, then rollup the tiny
      // aggregate: a direct rollup Expands every fact row ×3 grouping
      // sets before the partial aggregate, while this shape Expands only
      // the ~|flag×status| partial rows. Decimal sums and count-sums
      // re-aggregate exactly, so the result is bit-identical.
      val base = li(s, dir)
        .groupBy("l_returnflag", "l_linestatus")
        .agg(sum(revDec).as("rev_raw"), count(lit(1)).as("n_raw"))
      base.rollup("l_returnflag", "l_linestatus")
        .agg(r2d(sum(col("rev_raw"))).as("revenue"), sum(col("n_raw")).as("n"))
        .select(
          coalesce(col("l_returnflag"), lit("ALL")).as("flag"),
          coalesce(col("l_linestatus"), lit("ALL")).as("status"),
          col("revenue"), col("n"))
    }),

    "q30_distribution" -> ((s, dir) =>
      // Exact quantiles per event type (interpolated percentile — the
      // exact counterpart of q28's sketch path).
      ev(s, dir)
        .groupBy("event_type")
        .agg(
          count(lit(1)).as("n"),
          r4e(expr("percentile(value, 0.5)")).as("p50"),
          r4e(expr("percentile(value, 0.9)")).as("p90"),
          r4(min("value")).as("v_min"),
          r4(max("value")).as("v_max"))),

    "q31_anti_semi" -> ((s, dir) => {
      // Semi/anti join coverage: per market segment, customers with and
      // without any order.
      val c = Tables.customer(s, dir).select("c_custkey", "c_mktsegment")
      val o = ordRaw(s, dir).select("o_custkey")
      val semi = c.join(o, col("c_custkey") === col("o_custkey"), "left_semi")
        .groupBy("c_mktsegment").agg(count(lit(1)).as("with_orders"))
      val anti = c.join(o, col("c_custkey") === col("o_custkey"), "left_anti")
        .groupBy("c_mktsegment").agg(count(lit(1)).as("without_orders"))
      MergeOps.leftJoinFill(
        c.groupBy("c_mktsegment").agg(count(lit(1)).as("n_cust"))
          .join(semi, Seq("c_mktsegment"), "left"),
        anti, Seq("c_mktsegment"), Map("without_orders" -> 0L))
        .withColumn("with_orders", coalesce(col("with_orders"), lit(0L)))
        .select("c_mktsegment", "n_cust", "with_orders", "without_orders")
    }),

    "q32_sessionize_batch" -> ((s, dir) => {
      // Relational sessionization (gap > 30 min splits): session id =
      // running count of gap-breaks per user. The batch mirror of
      // streaming/Sessionize — same session boundaries, so the spec
      // cross-validates the two implementations.
      val gapUs = 30L * 60 * 1000000
      val w = Window.partitionBy("user_id").orderBy(col("ts"), col("event_id"))
      val us = unix_micros(col("ts").cast("timestamp"))
      val prev = lag(us, 1).over(w)
      ev(s, dir)
        .withColumn("__new", when(prev.isNull || us - prev > gapUs, 1).otherwise(0))
        .withColumn("session_id", sum(col("__new")).over(
          w.rowsBetween(Window.unboundedPreceding, 0)))
        .groupBy("user_id", "session_id")
        .agg(
          min(us).as("start_us"),
          max(us).as("end_us"),
          count(lit(1)).as("n_events"),
          sum(dec4(col("value"))).cast("double").as("total_value"))
        .select(
          col("user_id"), col("session_id"), col("n_events"), col("total_value"),
          floor((col("end_us") - col("start_us")) / 1000000L).cast("long").as("duration_sec"))
    }),

    "q33_small_qty_rev" -> ((s, dir) => {
      // TPC-H Q17 shape: revenue in lineitems whose quantity is below half
      // their part's average quantity (per-group scalar aggregate joined
      // back to the fact rows).
      val l = li(s, dir).select(col("l_partkey"), col("l_quantity"),
        col("l_extendedprice"))
      // no broadcast hint: the aggregate has one row per distinct partkey
      // and grows with scale factor — let AQE pick broadcast vs shuffle
      val avgQty = l.groupBy("l_partkey")
        .agg((sum(dec2(col("l_quantity"))).cast("double") / count(lit(1))).as("avg_qty"))
      l.join(avgQty, Seq("l_partkey"))
        .filter(col("l_quantity") < col("avg_qty") * 0.5)
        .agg(
          r2d(sum(dec2(col("l_extendedprice")))).as("small_rev"),
          count(lit(1)).as("n"))
    }),

    "q34_cust_order_dist" -> ((s, dir) => {
      // TPC-H Q13 shape: distribution of customers by order count,
      // including zero-order customers (left join + conditional count).
      val c = Tables.customer(s, dir).select("c_custkey")
      val o = ordRaw(s, dir).select("o_custkey")
      c.join(o, col("c_custkey") === col("o_custkey"), "left")
        .groupBy("c_custkey")
        .agg(count(col("o_custkey")).as("n_orders"))
        .groupBy("n_orders")
        .agg(count(lit(1)).as("n_customers"))
    }),

    "q35_pivot" -> ((s, dir) =>
      // Pivot the event-type dimension into columns (fixed value list so
      // the schema is stable and no distinct-values pre-pass runs).
      ev(s, dir)
        .groupBy("user_id")
        .pivot("event_type", Seq("click", "error", "purchase", "signup", "view"))
        .count()
        // fill only the pivot columns — an unscoped fill would also turn
        // a null user_id into 0, silently colliding with a real user 0
        .na.fill(0L, Seq("click", "error", "purchase", "signup", "view"))
        .select(col("user_id"), col("click"), col("error"),
          col("purchase"), col("signup"), col("view"))),

    "q36_range_window" -> ((s, dir) => {
      // Time-based RANGE frame (trailing 1 hour by event time) — unlike
      // the rows-frames of q06-q09, frame membership follows the
      // timestamp value, so ties and irregular spacing are handled by
      // the range semantics identically in both engines.
      val us = unix_micros(col("ts").cast("timestamp"))
      val w = Window.partitionBy("user_id").orderBy(col("__us"))
        .rangeBetween(-3600L * 1000000L, 0L)
      ev(s, dir)
        .withColumn("__us", us)
        .withColumn("n_1h", count(lit(1)).over(w))
        .withColumn("sum_1h", sum(dec4(col("value"))).over(w))
        .select(
          col("user_id"), col("event_id"), col("n_1h"),
          r4e(col("sum_1h").cast("double") / col("n_1h")).as("avg_1h"))
    }),

    "q37_rank_funcs" -> ((s, dir) => {
      // Ranking-function family beyond row_number: quartiles, relative
      // rank, and cumulative distribution per user series.
      val w = Window.partitionBy("user_id").orderBy(col("value"), col("event_id"))
      ev(s, dir).select(
        col("user_id"), col("event_id"),
        ntile(4).over(w).as("quartile"),
        r4e(percent_rank().over(w)).as("pct_rank"),
        r4e(cume_dist().over(w)).as("cume"))
    }),

    "q38_setops" -> ((s, dir) => {
      // Set-operation coverage: users who clicked but never purchased
      // (EXCEPT), and users who did both (INTERSECT), as one labeled
      // union.
      val byType = (t: String) => ev(s, dir)
        .filter(col("event_type") === t).select("user_id").distinct()
      val clickOnly = byType("click").except(byType("purchase"))
        .withColumn("segment", lit("click_only"))
      val both = byType("click").intersect(byType("purchase"))
        .withColumn("segment", lit("both"))
      clickOnly.unionByName(both).select("segment", "user_id")
    }),

    "q39_market_summary" -> ((s, dir) => {
      // v_daily_market_summary (hive_schemas.sql:282-294): per-DAY
      // cross-key rollup (the one reporting view that aggregates across
      // tickers, not per ticker) over a trailing 90-day window, anchored
      // at the dataset max day (the reference anchors at CURRENT_DATE).
      // count(distinct) is fine at scale: day is the group key, so the
      // distinct set is per-day and the shuffle is keyed on (day, user).
      val anchor = ev(s, dir).agg(max(col("ts").cast("date")).as("anchor"))
      daily(s, dir).crossJoin(broadcast(anchor))
        .filter(col("day") >= date_sub(col("anchor"), 90))
        .groupBy("day")
        .agg(
          countDistinct("user_id").as("num_users"),
          avg("chg_next").as("chg_raw"),
          (sum("n").cast("double") / count(lit(1))).as("vol_raw"),
          avg("v_avg").as("mkt_raw"),
          sum("clicks").as("total_news"),
          sum("purchases").as("total_filings"))
        .select(
          col("day"), col("num_users"),
          r4e(col("chg_raw")).as("avg_chg"),
          r4e(col("vol_raw")).as("avg_volume"),
          r4e(col("mkt_raw")).as("market_value"),
          col("total_news"), col("total_filings"))
    }),

    "q40_bullish_filter" -> ((s, dir) => {
      // v_bullish_sentiment_stocks (hive_schemas.sql:267-279): threshold
      // filter (signal > 60, volume >= 5) over the trailing 7 days,
      // anchored at the dataset max day. Filters sit directly on the
      // daily aggregate, so at scale this prunes before any wide output.
      val anchor = ev(s, dir).agg(max(col("ts").cast("date")).as("anchor"))
      daily(s, dir).crossJoin(broadcast(anchor))
        .filter(col("day") >= date_sub(col("anchor"), 7) &&
          col("v_avg") > 60.0 && col("n") >= 5)
        .select(
          col("user_id"), col("day"), col("n"),
          r4e(col("v_avg")).as("v_avg"),
          r4e(col("purchase_ratio")).as("purchase_ratio"),
          r4e(col("chg_next")).as("chg_next"))
    }),

    "q50_topk_native" -> ((s, dir) =>
      // Per-key top-k via the custom whole-operator Catalyst path
      // (TopKPerKeyNode -> strategy -> bounded-heap exec, one hash
      // exchange, NO per-group sort — see plans/TopKPerKey.scala): the
      // total order (value desc, event_id) makes the result set identical
      // to the window row_number formulation the oracle uses.
      graft.plans.TopKPerKey(
        ev(s, dir), Seq(col("user_id")),
        Seq(col("value").desc, col("event_id")), k = 3)
        .select(col("user_id"), col("event_id"), r4(col("value")).as("value"))),

    "q58_window_rewrite" -> ((s, dir) => {
      // The top-k idiom written the way every user writes it — window
      // row_number + filter — with graft's WindowTopKRewrite optimizer
      // rule installed: Catalyst plans it as the partial+final
      // bounded-heap operator (plan spec-asserted in
      // WindowTopKRewriteSpec), while the result stays the exact window
      // answer the oracle checks, rank column included. The rule is
      // installed at session build (GraftExtensions). Specs that need the
      // PLAIN window plan as a reference disable it via
      // spark.graft.topk.rewriteMaxK=0.
      val w = Window.partitionBy("user_id")
        .orderBy(col("value").desc, col("event_id"))
      ev(s, dir)
        .withColumn("rn", row_number().over(w))
        .filter(col("rn") <= 3)
        .select(col("user_id"), col("event_id"),
          r4(col("value")).as("value"), col("rn"))
    }),

    "q48_rolling_distinct" -> ((s, dir) => {
      // Trailing-7-day active users per day — the classic lakehouse
      // engagement metric. Neither Spark nor SQL supports
      // COUNT(DISTINCT) OVER a window frame, and a pure range-predicate
      // join would plan as BroadcastNestedLoopJoin (no equi-keys —
      // O(days × user-days) comparisons). Instead each (user, day) row
      // EXPLODES into the 7 window days it contributes to, turning the
      // range condition into an equi-join key: fixed 7x fan-out on the
      // already-reduced daily grain, all hash joins/aggregates.
      val d = ev(s, dir)
        .select(col("user_id"), col("ts").cast("date").as("day")).distinct()
      val days = d.select("day").distinct()
      val contrib = d.select(col("user_id"),
        explode(sequence(col("day"), date_add(col("day"), 6))).as("day"))
      contrib.join(days, Seq("day"), "left_semi")
        .groupBy("day")
        .agg(countDistinct("user_id").as("active_users_7d"))
    }),

    "q49_cumulative_users" -> ((s, dir) => {
      // Cumulative unique users over time WITHOUT a running distinct:
      // each user contributes on their first-seen day only (one
      // aggregate), then a running sum over the tiny per-day new-user
      // counts — O(days) window state, scales to any history length.
      val firstDay = ev(s, dir)
        .groupBy("user_id")
        .agg(min(col("ts").cast("date")).as("day"))
      val w = Window.orderBy("day").rowsBetween(Window.unboundedPreceding, 0)
      firstDay.groupBy("day")
        .agg(count(lit(1)).as("new_users"))
        .withColumn("cumulative_users", sum("new_users").over(w))
    }),

    "q47_top_events" -> ((s, dir) =>
      // v_top_sentiment_movers (hive_schemas.sql:253-264): threshold
      // filter + ORDER BY abs(signal) DESC with secondary keys + LIMIT
      // over the event-detection grain — TakeOrderedAndProject shape, the
      // top-k never materializes a global sort at scale.
      daily(s, dir)
        .filter(col("chg_next").isNotNull && abs(col("chg_next")) > 50.0 && col("n") >= 3)
        .orderBy(abs(col("chg_next")).desc, col("n").desc, col("user_id"), col("day"))
        .limit(100)
        .select(col("user_id"), col("day"), col("n"),
          r4e(col("v_avg")).as("v_avg"), r4e(col("chg_next")).as("chg_next"))),

    "q41_ticker_summary" -> ((s, dir) => {
      // sentiment_summary_by_ticker (hive_schemas.sql:216-229): per-key
      // lifetime summary over the daily series, incl. the same-day
      // correlation (signal vs change from the PREVIOUS day — a lag
      // column the daily pipeline doesn't carry, added here).
      val w = Window.partitionBy("user_id").orderBy("day")
      val prev = lag(col("v_avg"), 1).over(w)
      val nn = (c: Column) => when(isnan(c), lit(null)).otherwise(c)
      daily(s, dir)
        .withColumn("chg_same",
          when(prev.isNotNull && prev =!= 0.0, (col("v_avg") - prev) / prev * 100.0))
        .groupBy("user_id")
        .agg(
          count(lit(1)).as("days_with_news"),
          sum("n").as("total_events"),
          (sum("n").cast("double") / count(lit(1))).as("npd_raw"),
          avg("v_avg").as("avg_v_raw"),
          stddev_samp(col("v_avg")).as("sd_raw"),
          avg("purchase_ratio").as("bull_raw"),
          avg("click_ratio").as("bear_raw"),
          avg("chg_next").as("chg_raw"),
          nn(corr(col("v_avg"), col("chg_same"))).as("corr_raw"))
        .select(
          col("user_id"), col("days_with_news"), col("total_events"),
          r4e(col("npd_raw")).as("avg_events_per_day"),
          r4e(col("avg_v_raw")).as("avg_value"),
          r4e(col("sd_raw")).as("value_volatility"),
          r4e(col("bull_raw")).as("avg_bullish_ratio"),
          r4e(col("bear_raw")).as("avg_bearish_ratio"),
          r4e(col("chg_raw")).as("avg_chg"),
          r4e(col("corr_raw")).as("same_day_corr"))
    }),

    "q42_period_ohlc" -> ((s, dir) => {
      // agg_stock_performance (postgresql_schemas.sql:114-133): per-key
      // per-period OHLC rollup. open/close are first/last IN EVENT ORDER
      // within the period — a grouped argmin/argmax, expressed as window
      // first/last over the (key, week) partition then reduced (the values
      // are constant per group, so min() picks them deterministically).
      val ev2 = evF(s, dir).withColumn("wk", date_trunc("week", col("ts")).cast("date"))
      val w = Window.partitionBy("user_id", "wk").orderBy(col("ts"), col("event_id"))
      val wAll = w.rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
      ev2
        .withColumn("open_v", first("value").over(w))
        .withColumn("close_v", last("value").over(wAll))
        .groupBy("user_id", "wk")
        .agg(
          count(lit(1)).as("n_events"),
          min("open_v").as("o_raw"),
          min("close_v").as("c_raw"),
          max("value").as("hi_raw"),
          min("value").as("lo_raw"),
          (sum(dec4(col("value"))).cast("double") / count(lit(1))).as("avg_raw"))
        .select(
          col("user_id"), col("wk"), col("n_events"),
          r4(col("o_raw")).as("open"), r4(col("c_raw")).as("close"),
          r4(col("hi_raw")).as("high"), r4(col("lo_raw")).as("low"),
          r4e(col("avg_raw")).as("avg_value"),
          r4e(when(col("o_raw") =!= 0.0,
            (col("c_raw") - col("o_raw")) / col("o_raw") * 100.0).otherwise(0.0))
            .as("chg_pct"))
    }),

    "q43_market_breadth" -> ((s, dir) =>
      // analysis_market_sentiment (postgresql_schemas.sql:188-200): per-day
      // market breadth — bullish/bearish/neutral key counts by signal
      // threshold plus cross-key dispersion. Daily grain is unique per
      // (key, day), so the breadth counts are plain conditional sums.
      daily(s, dir)
        .groupBy("day")
        .agg(
          count(lit(1)).as("num_users"),
          avg("v_avg").as("avg_v_raw"),
          sum(when(col("v_avg") > 60.0, 1).otherwise(0)).as("bullish"),
          sum(when(col("v_avg") < 40.0, 1).otherwise(0)).as("bearish"),
          sum(when(col("v_avg") >= 40.0 && col("v_avg") <= 60.0, 1).otherwise(0)).as("neutral"),
          avg("chg_next").as("chg_raw"),
          sum("n").as("total_events"),
          stddev_samp(col("v_avg")).as("vol_raw"))
        .select(
          col("day"), col("num_users"),
          r4e(col("avg_v_raw")).as("market_value"),
          col("bullish"), col("bearish"), col("neutral"),
          r4e(col("chg_raw")).as("avg_chg"),
          col("total_events"),
          r4e(col("vol_raw")).as("market_volatility"))),

    "q44_rsi" -> ((s, dir) => {
      val w = Indicators.seriesWindow("user_id", Seq(col("ts"), col("event_id")))
      Indicators.withRsi(evF(s, dir), w, "value", 14)
        .select(col("user_id"), col("event_id"), r4(col("value")).as("value"),
          r4e(col("rsi_14")).as("rsi_14"))
    }),

    "q45_macd" -> ((s, dir) => {
      val w = Indicators.seriesWindow("user_id", Seq(col("ts"), col("event_id")))
      Indicators.withMacd(evF(s, dir), w, "value", fast = 20, slow = 50, signalP = 9)
        .select(col("user_id"), col("event_id"),
          col("macd"), col("macd_signal"), col("macd_hist"))
    }),

    "q46_drawdown" -> ((s, dir) => {
      val w = Indicators.seriesWindow("user_id", Seq(col("ts"), col("event_id")))
      Indicators.withDrawdown(evF(s, dir), w, "value")
        .select(col("user_id"), col("event_id"), r4(col("value")).as("value"),
          r4(col("peak")).as("peak"), r4e(col("drawdown_pct")).as("drawdown_pct"))
    }),

    "q51_vwap" -> ((s, dir) =>
      // Volume-weighted average price per part: sum(price·qty)/sum(qty)
      // in exact DECIMAL (2dp money × 2dp qty → 4dp products, summed
      // exactly), only the final ratio in double. One hash aggregate over
      // the fact table — fully map-side-combinable, no window, the
      // cheapest possible 100 TB shape for a weighted mean.
      li(s, dir)
        .groupBy("l_partkey")
        .agg(
          count(lit(1)).as("n_lines"),
          sum(dec2(col("l_quantity"))).as("qty_dec"),
          sum(dec2(col("l_extendedprice")) * dec2(col("l_quantity"))).as("pq_dec"))
        .select(
          col("l_partkey"), col("n_lines"),
          col("qty_dec").cast("double").as("total_qty"),
          r4e(col("pq_dec").cast("double") / col("qty_dec").cast("double")).as("vwap"))),

    "q52_stochastic" -> ((s, dir) => {
      val w = Indicators.seriesWindow("user_id", Seq(col("ts"), col("event_id")))
      Indicators.withStochastic(evF(s, dir), w, "value", period = 14, dPeriod = 3)
        .select(col("user_id"), col("event_id"), r4(col("value")).as("value"),
          col("stoch_k"), col("stoch_d"))
    }),

    "q131_channel_osc" -> ((s, dir) => {
      // Donchian channel + Williams %R + CCI (Indicators.withChannels
      // scaladoc) — the channel/oscillator family completing q44-q57's
      // indicator coverage, oracle-exact via the same lattice
      // conventions (order-independent min/max, decimal means,
      // 4-decimal nudged rounds; CCI's SMA pinned before the absolute
      // deviations so the deviation mean is exact decimal both sides).
      val w = Indicators.seriesWindow("user_id", Seq(col("ts"), col("event_id")))
      Indicators.withChannels(evF(s, dir), w, "value", period = 20)
        .select(col("user_id"), col("event_id"),
          col("donch_lo"), col("donch_hi"), col("donch_mid"),
          col("will_r"), col("cci"))
    }),

    "q53_obv" -> ((s, dir) => {
      // OBV on the daily grain: direction of the day's exact average value
      // vs the previous day, volume = the day's event count. Comparisons +
      // an integral running sum — exact parity with zero rounding.
      val w = Window.partitionBy("user_id").orderBy("day")
      Indicators.withObv(daily(s, dir), w, "v_avg", "n")
        .select(col("user_id"), col("day"), col("n"), col("obv"))
    }),

    "q54_pair_corr" -> ((s, dir) => {
      // Cross-key correlation matrix over a watchlist: align two keys'
      // daily series on day (self-equi-join — never a cross join) and
      // correlate. Pairwise correlation is inherently O(k²) in the number
      // of keys, so the watchlist selection is explicit (here every 5th
      // key): at scale you choose WHICH k keys to correlate, the engine
      // shape (join on day + one hash aggregate per pair) stays fixed.
      val nn = (c: Column) => when(isnan(c), lit(null)).otherwise(c)
      val d = daily(s, dir).filter(col("user_id") % 5 === 0)
        .select("user_id", "day", "v_avg")
      d.as("a").join(d.as("b"),
          col("a.day") === col("b.day") && col("a.user_id") < col("b.user_id"))
        .groupBy(col("a.user_id").as("user_a"), col("b.user_id").as("user_b"))
        .agg(count(lit(1)).as("n_days"),
          nn(corr(col("a.v_avg"), col("b.v_avg"))).as("c_raw"))
        .filter(col("n_days") >= 20)
        .select(col("user_a"), col("user_b"), col("n_days"),
          r4e(col("c_raw")).as("corr_v"))
    }),

    "q55_sharpe" -> ((s, dir) => {
      // Annualized risk-adjusted return per key over the daily next-change
      // series: mean/stddev of daily pct changes × √252. Group aggregates
      // of doubles (the q41 avg_chg precedent); √252 is correctly rounded
      // identically in both engines.
      val nn = (c: Column) => when(isnan(c), lit(null)).otherwise(c)
      daily(s, dir)
        .groupBy("user_id")
        .agg(
          count(col("chg_next")).as("n_ret"),
          avg(col("chg_next")).as("mu_raw"),
          nn(stddev_samp(col("chg_next"))).as("sd_raw"))
        .filter(col("n_ret") >= 20 && col("sd_raw").isNotNull && col("sd_raw") =!= 0.0)
        .select(col("user_id"), col("n_ret"),
          r4e(col("mu_raw")).as("mean_chg"),
          r4e(col("sd_raw")).as("sd_chg"),
          r4e(col("mu_raw") / col("sd_raw") * lit(math.sqrt(252.0))).as("sharpe_ann"))
    }),

    "q56_beta" -> ((s, dir) => {
      // Market beta per key: regression slope of the key's same-day pct
      // change on the cross-key mean change (the "index"), as
      // covar_samp/var_samp over a day-aligned sample. Both aggregates
      // see the IDENTICAL row set (pairs pre-filtered to non-null on
      // both sides) — mixing null-skipping aggregates over different
      // sets is where cross-engine beta definitions silently diverge.
      // The per-day market mean is one row per day — broadcast onto the
      // series, so the daily frame never reshuffles at 100 TB.
      val nn = (c: Column) => when(isnan(c), lit(null)).otherwise(c)
      val w = Window.partitionBy("user_id").orderBy("day")
      val prev = lag(col("v_avg"), 1).over(w)
      // cache: d feeds both the market aggregate and the join — without
      // it the whole scan+agg+window pipeline evaluates twice (the t05
      // lesson; CacheRegistry hands release to Verify/Bench)
      val d = graft.CacheRegistry.track(daily(s, dir)
        .withColumn("chg",
          when(prev.isNotNull && prev =!= 0.0,
            (col("v_avg") - prev) / prev * 100.0))
        .filter(col("chg").isNotNull)
        .select("user_id", "day", "chg")
        .cache())
      val mkt = d.groupBy("day").agg(avg("chg").as("mkt"))
      d.join(broadcast(mkt), "day")
        .groupBy("user_id")
        .agg(
          count(lit(1)).as("n_days"),
          nn(covar_samp(col("chg"), col("mkt"))).as("cov_raw"),
          nn(var_samp(col("mkt"))).as("var_raw"),
          nn(corr(col("chg"), col("mkt"))).as("corr_raw"))
        .filter(col("n_days") >= 20)
        .select(col("user_id"), col("n_days"),
          r4e(when(col("var_raw") =!= 0.0, col("cov_raw") / col("var_raw")))
            .as("beta"),
          r4e(col("corr_raw")).as("mkt_corr"))
    }),

    "q57_atr" -> ((s, dir) => {
      // ATR-14 on daily bars. high/low/close are lattice-exact (max/min/
      // last raw 4dp values — close via the q42 grouped last-in-order
      // trick), so the true range (a diff of lattice values) casts to
      // DECIMAL(18,4) without tie risk, and the 14-day mean is the exact
      // decimal-sum/count both engines agree on (the q44 gain/loss
      // precedent — never a window mean of raw doubles).
      val wd = Window.partitionBy("user_id", "day")
        .orderBy(col("ts"), col("event_id"))
      val bars = evF(s, dir)
        .withColumn("day", col("ts").cast("date"))
        .withColumn("close_v", last("value").over(
          wd.rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)))
        .groupBy("user_id", "day")
        .agg(max("value").as("high"), min("value").as("low"),
          min("close_v").as("close"))
      val w = Window.partitionBy("user_id").orderBy("day")
      val prevClose = lag(col("close"), 1).over(w)
      val tr = when(prevClose.isNull, col("high") - col("low"))
        .otherwise(greatest(col("high") - col("low"),
          abs(col("high") - prevClose), abs(col("low") - prevClose)))
      val w14 = w.rowsBetween(-13, 0)
      bars
        .withColumn("tr_dec", tr.cast("decimal(18,4)"))
        .select(col("user_id"), col("day"),
          r4(col("high")).as("high"), r4(col("low")).as("low"),
          r4(col("close")).as("close"),
          col("tr_dec").cast("double").as("tr"),
          r4e(sum(col("tr_dec")).over(w14).cast("double") /
            count(col("tr_dec")).over(w14)).as("atr_14"))
    }),

    "q132_keltner" -> ((s, dir) => {
      // Keltner channels on q57's daily bars: middle = 20-day exact
      // DECIMAL mean of the lattice-pinned typical price (H+L+C)/3,
      // band half-width = 2 x ATR-14 (q57's true-range mean). mid and
      // atr are both lattice doubles, so the band sums are
      // bit-identical cross-engine before their own nudged round —
      // the q44/q52/q57 convention extended one composition deeper.
      val wd = Window.partitionBy("user_id", "day")
        .orderBy(col("ts"), col("event_id"))
      val bars = evF(s, dir)
        .withColumn("day", col("ts").cast("date"))
        .withColumn("close_v", last("value").over(
          wd.rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)))
        .groupBy("user_id", "day")
        .agg(max("value").as("high"), min("value").as("low"),
          min("close_v").as("close"))
      val w = Window.partitionBy("user_id").orderBy("day")
      val prevClose = lag(col("close"), 1).over(w)
      val tr = when(prevClose.isNull, col("high") - col("low"))
        .otherwise(greatest(col("high") - col("low"),
          abs(col("high") - prevClose), abs(col("low") - prevClose)))
      val w14 = w.rowsBetween(-13, 0)
      val w20 = w.rowsBetween(-19, 0)
      val withTyp = bars
        .withColumn("tr_dec", tr.cast("decimal(18,4)"))
        .withColumn("typ4",
          r4e((col("high") + col("low") + col("close")) / 3.0))
      withTyp
        .withColumn("mid", r4e(
          sum(col("typ4").cast("decimal(18,4)")).over(w20).cast("double") /
            count(col("typ4")).over(w20)))
        .withColumn("atr_14", r4e(sum(col("tr_dec")).over(w14).cast("double") /
          count(col("tr_dec")).over(w14)))
        .select(col("user_id"), col("day"), col("mid"), col("atr_14"),
          r4e(col("mid") + lit(2.0) * col("atr_14")).as("kelt_up"),
          r4e(col("mid") - lit(2.0) * col("atr_14")).as("kelt_lo"))
    }),

    "q133_roc" -> ((s, dir) => {
      // Rate of change: ROC-12 = (v - v_12ago) / v_12ago * 100 over each
      // key's event series — one lag, a ratio of identical raw doubles
      // on both engines, then the shared nudged 4dp round. NULL until a
      // 12-back row exists; a zero base yields NULL (division blows up,
      // not pegs — the honest convention).
      val w = Indicators.seriesWindow("user_id", Seq(col("ts"), col("event_id")))
      val prev = lag(col("value"), 12).over(w)
      evF(s, dir).select(col("user_id"), col("event_id"),
        r4e(when(prev.isNotNull && prev =!= 0.0,
          (col("value") - prev) / prev * 100.0)).as("roc_12"))
    }),

    "q59_grouping_sets" -> ((s, dir) => {
      // Explicit GROUPING SETS via the Dataset API (the cube slice q29's
      // ROLLUP doesn't produce: per-status across all flags). Group keys
      // have no real nulls, so the ALL sentinel is unambiguous. Like q29,
      // the ×4-set Expand runs over a finest-grain pre-aggregate (a
      // handful of rows), not the fact table; decimal sums and
      // count-sums re-aggregate exactly.
      val base = li(s, dir)
        .groupBy("l_returnflag", "l_linestatus")
        .agg(sum(revDec).as("rev_raw"), count(lit(1)).as("n_raw"))
      base.groupingSets(
          Seq(
            Seq(col("l_returnflag"), col("l_linestatus")),
            Seq(col("l_returnflag")),
            Seq(col("l_linestatus")),
            Seq.empty[Column]),
          col("l_returnflag"), col("l_linestatus"))
        .agg(r2d(sum(col("rev_raw"))).as("revenue"), sum(col("n_raw")).as("n"))
        .select(
          coalesce(col("l_returnflag"), lit("ALL")).as("flag"),
          coalesce(col("l_linestatus"), lit("ALL")).as("status"),
          col("revenue"), col("n"))
    }),

    "q88_cube" -> ((s, dir) => {
      // Full 3-dimensional CUBE (flag × status × ship-year) — the OLAP
      // lattice slice q29's ROLLUP and q59's explicit sets don't
      // produce: all 8 grouping combinations from the `.cube()` API.
      // Same scale discipline as q29/q59: the ×8 Expand multiplies a
      // finest-grain PRE-AGGREGATE (tens of rows), never the fact
      // table; decimal sums and count-sums re-aggregate exactly. Group
      // keys have no real nulls, so ALL / -1 sentinels are unambiguous.
      val base = li(s, dir)
        .groupBy(col("l_returnflag"), col("l_linestatus"),
          year(col("l_shipdate")).cast("int").as("yr"))
        .agg(sum(revDec).as("rev_raw"), count(lit(1)).as("n_raw"))
      base.cube(col("l_returnflag"), col("l_linestatus"), col("yr"))
        .agg(r2d(sum(col("rev_raw"))).as("revenue"), sum(col("n_raw")).as("n"))
        .select(
          coalesce(col("l_returnflag"), lit("ALL")).as("flag"),
          coalesce(col("l_linestatus"), lit("ALL")).as("status"),
          coalesce(col("yr"), lit(-1)).as("yr"),
          col("revenue"), col("n"))
    }),

    "q60_unpivot" -> ((s, dir) => {
      // Wide→long reshaping via the Dataset unpivot (melt) API: per-user
      // conditional counts unpivoted into (metric, cnt) rows. The melt is
      // a narrow per-row explode — no shuffle beyond the aggregate's.
      val wide = ev(s, dir)
        .groupBy("user_id")
        .agg(
          sum(when(col("event_type") === "purchase", 1L).otherwise(0L))
            .as("purchases"),
          sum(when(col("event_type") === "click", 1L).otherwise(0L))
            .as("clicks"),
          sum(when(col("event_type") === "error", 1L).otherwise(0L))
            .as("errors"))
      wide.unpivot(
        Array(col("user_id")),
        Array(col("purchases"), col("clicks"), col("errors")),
        "metric", "cnt")
    }),

    "q61_range_join" -> ((s, dir) => {
      // Temporal range join via the bucketed equi-join operator: for each
      // error event, count the purchases (any user) inside ±30 minutes —
      // cross-key incident correlation. RangeJoin turns the BETWEEN
      // predicate (which Spark would plan as BroadcastNestedLoopJoin)
      // into explode-cells + hash join on the hour cell; the 1-hour
      // window spans ≤ 2 cells, so interval fan-out is ≤ 2×.
      val e = ev(s, dir)
      val errors = e.filter(col("event_type") === "error")
        .select(col("event_id").as("err_id"),
          (col("ts") - expr("INTERVAL 30 MINUTES")).as("w_start"),
          (col("ts") + expr("INTERVAL 30 MINUTES")).as("w_end"))
      val purchases = e.filter(col("event_type") === "purchase")
        .select(col("event_id").as("p_id"), col("ts").as("p_ts"))
      RangeJoin.pointInInterval(purchases, "p_ts",
          errors, "w_start", "w_end", bucketSec = 3600)
        .groupBy("err_id")
        .agg(count(lit(1)).as("n_purchases"))
    }),

    "q62_correlated" -> ((s, dir) => {
      // Correlated scalar subquery (the TPC-H Q2 min-per-group shape),
      // written as SQL so Catalyst's decorrelation runs: the subquery
      // rewrites to a per-partkey aggregate + join (never a per-row
      // re-execution — plan shows Aggregate + Join, no nested loops).
      // Raw 2dp money values pass through unrounded: the predicate is
      // pure equality, no arithmetic to create parity ties.
      li(s, dir).createOrReplaceTempView("q62_li")
      s.sql(
        """SELECT l_partkey, l_orderkey, l_linenumber,
          |       l_extendedprice AS price
          |FROM q62_li
          |WHERE l_extendedprice = (SELECT min(l2.l_extendedprice)
          |                         FROM q62_li l2
          |                         WHERE l2.l_partkey = q62_li.l_partkey)""".stripMargin)
    }),

    "q63_returned_topk" -> ((s, dir) => {
      // TPC-H Q10 shape: revenue from RETURNED items per customer, top
      // 20. Fact-fact join shuffles on orderkey, then custkey; the limit
      // plans as TakeOrderedAndProject (per-partition top-20 heaps, never
      // a global sort). revenue ties broken by c_custkey so the LIMIT
      // boundary is deterministic cross-engine.
      val cust = Tables.customer(s, dir).select("c_custkey", "c_name")
      val ordT = ordRaw(s, dir).select("o_orderkey", "o_custkey")
      li(s, dir).filter(col("l_returnflag") === "R")
        .select(col("l_orderkey"), revDec.as("rev"))
        .join(ordT, col("l_orderkey") === col("o_orderkey"))
        .join(cust, col("o_custkey") === col("c_custkey"))
        .groupBy("c_custkey", "c_name")
        .agg(r2d(sum(col("rev"))).as("revenue"), count(lit(1)).as("n_items"))
        .orderBy(col("revenue").desc, col("c_custkey"))
        .limit(20)
    }),

    "q64_promo_share" -> ((s, dir) => {
      // TPC-H Q14 shape: promo revenue share — two conditional exact-
      // decimal sums over the fact table with the part dim broadcast;
      // the share divides the ROUNDED doubles (mirrored in the oracle)
      // so the ratio is bit-identical cross-engine.
      val p = Tables.part(s, dir)
        .select(col("p_partkey"), (col("p_type") === "PROMO").as("is_promo"))
      li(s, dir).select(col("l_partkey"), revDec.as("rev"))
        .join(broadcast(p), col("l_partkey") === col("p_partkey"))
        .agg(
          r2d(sum(when(col("is_promo"), col("rev")))).as("promo_rev"),
          r2d(sum(col("rev"))).as("total_rev"))
        .select(col("promo_rev"), col("total_rev"),
          r4e(col("promo_rev") / col("total_rev") * 100.0).as("promo_share"))
    }),

    "q65_big_orders" -> ((s, dir) => {
      // TPC-H Q18 shape: large-volume orders — per-order quantity
      // aggregate cut by a HAVING filter, then joined back to the orders
      // and customer dims. Distinct from q33 (Q17: per-group scalar
      // joined back to the FACT rows): here the aggregate itself is the
      // driving side and the HAVING cut runs BEFORE the dimension joins,
      // so only the surviving sliver of orders is ever joined — at scale
      // the expensive shuffle is the one orderkey hash-agg (map-side
      // combinable); the post-filter join input is tiny and AQE picks
      // broadcast for it. Top-100 plans as TakeOrderedAndProject.
      val big = li(s, dir).groupBy("l_orderkey")
        .agg(sum(dec2(col("l_quantity"))).cast("double").as("total_qty"))
        .filter(col("total_qty") > 250.0)
      val ordT = ordRaw(s, dir).select(
        col("o_orderkey"), col("o_custkey"),
        col("o_orderdate").cast("date").as("order_date"), col("o_totalprice"))
      big.join(ordT, col("l_orderkey") === col("o_orderkey"))
        .join(Tables.customer(s, dir).select("c_custkey", "c_name"),
          col("o_custkey") === col("c_custkey"))
        .select(col("c_custkey"), col("c_name"), col("o_orderkey"),
          col("order_date"), col("o_totalprice"), col("total_qty"))
        .orderBy(col("o_totalprice").desc, col("o_orderkey"))
        .limit(100)
    }),

    "q66_salted_agg" -> ((s, dir) => {
      // Skew-mitigation surface, oracle-checked: two-phase salted
      // aggregation over event_type — the canonical hot-key shape (a
      // handful of types, millions of rows each at scale, so an unsalted
      // shuffle sends each type to ONE reducer and the hottest straggles).
      // Phase 1 groups by (type, salt-of-event_id) spreading every type
      // over 32 buckets; phase 2 combines partials by type. DECIMAL
      // values make the salted sum bit-identical to the unsalted oracle
      // GROUP BY regardless of accumulation order (Skew scaladoc).
      val e = ev(s, dir).select(
        col("event_type"), dec4(col("value")).as("v"), col("event_id"))
      Skew.saltedSumCount(e, Seq("event_type"), "v", col("event_id"), 32)
        .select(col("event_type"),
          col("sum_v").cast("double").as("sum_v"), col("n"))
    }),

    "q67_catalog_sql" -> ((s, dir) => {
      // Name-based SQL surface (reference: sql/hive_schemas.sql registers
      // external tables + views and every downstream job queries by
      // name): register the tables as views and run the EXACT oracle SQL
      // text through spark.sql — proving a pure-SQL user of the catalog
      // gets the same hash-checked answer as the DataFrame API (q20).
      // Views are lazy plans, so the SQL's filters/pruning still reach
      // the parquet scans.
      graft.sources.Catalog.registerViews(s, dir)
      s.sql(tpch3Sql)
    }),

    "q68_tpch4" -> ((s, dir) => {
      // TPC-H Q4 shape: order-priority census of one quarter's orders
      // having at least one line item shipped after the order date — the
      // EXISTS-correlated-subquery join family (semi join with a non-equi
      // residual). Orders are date-pruned BEFORE the join (partition
      // pruning at scale); left_semi keeps each order once regardless of
      // matching line count, with no dedup step.
      val o = ordRaw(s, dir)
        .filter(col("o_orderdate").cast("date") >= lit("1997-07-01").cast("date") &&
          col("o_orderdate").cast("date") < lit("1997-10-01").cast("date"))
        .select("o_orderkey", "o_orderdate", "o_orderpriority")
      val l = li(s, dir).select("l_orderkey", "l_shipdate")
      o.join(l,
          col("o_orderkey") === col("l_orderkey") &&
            col("l_shipdate") > col("o_orderdate"), "left_semi")
        .groupBy("o_orderpriority")
        .agg(count(lit(1)).as("order_count"))
    }),

    "q69_tpch12" -> ((s, dir) => {
      // TPC-H Q12 shape: two-way conditional aggregation over the
      // orders⋈lineitem join (high- vs low-priority line counts per
      // return flag). Both conditional sums ride ONE hash aggregate on
      // one join — no double scan; lineitem is filtered and projected to
      // three columns before the shuffle.
      val l = li(s, dir)
        .filter(col("l_returnflag").isin("R", "A") &&
          col("l_shipdate").cast("date") >= lit("1997-01-01").cast("date") &&
          col("l_shipdate").cast("date") < lit("1998-01-01").cast("date"))
        .select("l_orderkey", "l_returnflag", "l_shipdate")
      val o = ordRaw(s, dir)
        .select("o_orderkey", "o_orderdate", "o_orderpriority")
      val hi = col("o_orderpriority").isin("1-URGENT", "2-HIGH")
      l.join(o,
          col("l_orderkey") === col("o_orderkey") &&
            col("l_shipdate") > col("o_orderdate"))
        .groupBy("l_returnflag")
        .agg(
          sum(when(hi, 1L).otherwise(0L)).as("high_count"),
          sum(when(hi, 0L).otherwise(1L)).as("low_count"))
    }),

    "q70_tpch19" -> ((s, dir) => {
      // TPC-H Q19 shape: disjunctive predicate join (OR of per-branch
      // brand/size/quantity conjunctions). Catalyst splits the
      // disjunction: the l_quantity OR-range reaches the lineitem scan
      // and the brand/size OR-range the part scan as pushed filters, so
      // neither side is scanned unfiltered; part broadcasts.
      val l = li(s, dir).select(
        col("l_partkey"), col("l_quantity"), revDec.as("rev"))
      val p = Tables.part(s, dir).select("p_partkey", "p_brand", "p_size")
      val branch1 = col("p_brand") === "Brand#4" &&
        col("p_size").between(1, 15) && col("l_quantity").between(1, 20)
      val branch2 = col("p_brand") === "Brand#2" &&
        col("p_size").between(10, 30) && col("l_quantity").between(10, 30)
      val branch3 = col("p_brand") === "Brand#19" &&
        col("p_size").between(20, 50) && col("l_quantity").between(20, 40)
      l.join(broadcast(p), col("l_partkey") === col("p_partkey"))
        .filter(branch1 || branch2 || branch3)
        .agg(r2d(sum(col("rev"))).as("revenue"), count(lit(1)).as("n_lines"))
    }),

    "q71_tpch21" -> ((s, dir) => {
      // TPC-H Q21 shape: suppliers to blame — the supplier shipped a
      // returned line in a finalized MULTI-supplier order where no OTHER
      // supplier's line was returned. The doubly-correlated EXISTS /
      // NOT EXISTS pair (l2.suppkey <> l1.suppkey, same order) is
      // decorrelated into ONE per-order aggregate: n_supp (distinct
      // suppliers) and n_ret_supp (distinct suppliers among returned
      // lines). `EXISTS other-supplier` ⇔ n_supp > 1; `NOT EXISTS
      // other-returned-supplier` ⇔ n_ret_supp = 1 (l1 itself is
      // returned, so the one returned supplier is l1's). One extra
      // shuffle of three fact columns replaces two self-joins of the
      // fact table — the decisive rewrite at 100 TB. The tiny supplier
      // dim broadcasts onto the result.
      val l = liF(s, dir).select("l_orderkey", "l_suppkey", "l_returnflag")
      // Two-level aggregate instead of a double countDistinct: the
      // countDistinct pair planned an Expand (×2 row duplication) whose
      // UnknownPartitioning also discarded the scan fan-out's
      // hash(l_orderkey), forcing two more exchanges. Per-(order,supp)
      // max(returned) then per-order count/sum is the identical result —
      // n_supp = distinct (order,supp) pairs, n_ret_supp = pairs with ≥1
      // returned line — and both groupings are satisfied by
      // hash(l_orderkey), so the branch runs with no exchange at all
      // after the fan-out (guide §2.3/§2.4).
      val perOrder = l
        .groupBy("l_orderkey", "l_suppkey")
        .agg(max(when(col("l_returnflag") === "R", 1).otherwise(0)).as("ret"))
        .groupBy("l_orderkey").agg(
          count(lit(1)).as("n_supp"),
          sum(col("ret")).as("n_ret_supp"))
      val ordT = ordRaw(s, dir)
        .filter(col("o_orderstatus") === "F").select("o_orderkey")
      val sup = Tables.supplier(s, dir).select("s_suppkey", "s_name")
      l.filter(col("l_returnflag") === "R")
        .join(ordT, col("l_orderkey") === col("o_orderkey"))
        .join(perOrder.filter(col("n_supp") > 1 && col("n_ret_supp") === 1),
          Seq("l_orderkey"))
        .join(broadcast(sup), col("l_suppkey") === col("s_suppkey"))
        .groupBy("s_name")
        .agg(count(lit(1)).as("numwait"))
        .orderBy(col("numwait").desc, col("s_name"))
        .limit(20)
    }),

    "q72_tpch22" -> ((s, dir) => {
      // TPC-H Q22 shape: above-average-balance customers of selected
      // nations who never placed an URGENT order — scalar-subquery
      // threshold + anti join (the priority predicate keeps the result
      // non-empty at every SF; Q22's "no orders at all" is vanishing on
      // this data). The global average is one tiny aggregate broadcast
      // as a single-row anchor (decimal sum / count, exact on both
      // engines); the NOT EXISTS is a left_anti on custkey with the
      // priority filter pushed to the orders scan. Customer is filtered
      // to the nation set BEFORE both the aggregate and the anti join.
      val c = Tables.customer(s, dir)
        .filter(col("c_nationkey").isin(1, 3, 5, 7, 9))
        .select(col("c_custkey"), col("c_nationkey"),
          dec2(col("c_acctbal")).as("bal"))
      val thresh = c.filter(col("bal") > 0)
        .agg((sum(col("bal")).cast("double") / count(lit(1))).as("avg_bal"))
      c.join(broadcast(thresh), col("bal").cast("double") > col("avg_bal"))
        .join(ordRaw(s, dir)
            .filter(col("o_orderpriority") === "1-URGENT").select("o_custkey"),
          col("c_custkey") === col("o_custkey"), "left_anti")
        .groupBy("c_nationkey")
        .agg(count(lit(1)).as("n_cust"), r2d(sum(col("bal"))).as("total_bal"))
        .orderBy("c_nationkey")
    }),

    "q73_interval_overlap" -> ((s, dir) => {
      // Interval×interval overlap join (RangeJoin.intervalOverlap
      // scaladoc has the dedup-free cell-ownership scheme): per-user
      // 12-hour purchase windows against 6-hour click windows. Overlap
      // length is computed on exact long microseconds; the 6-hour cell
      // grain keeps fan-out at 2–3 cells per interval.
      val e = ev(s, dir)
      val p = e.filter(col("event_type") === "purchase").select(
        col("event_id").as("p_id"), col("user_id"),
        col("ts").as("p_start"),
        (col("ts") + expr("INTERVAL 12 HOURS")).as("p_end"))
      val c = e.filter(col("event_type") === "click").select(
        col("event_id").as("c_id"), col("user_id"),
        col("ts").as("c_start"),
        (col("ts") + expr("INTERVAL 6 HOURS")).as("c_end"))
      RangeJoin.intervalOverlap(p, "p_start", "p_end", c, "c_start", "c_end",
          keys = Seq("user_id"), bucketSec = 6 * 3600)
        .select(col("user_id"), col("p_id"), col("c_id"),
          floor((least(unix_micros(col("p_end")), unix_micros(col("c_end"))) -
            greatest(unix_micros(col("p_start")), unix_micros(col("c_start"))))
            / 1000000.0).cast("long").as("overlap_sec"))
    }),

    "q74_scd2_dim" -> ((s, dir) => {
      // Type-2 dimension maintenance (operators/Scd scaladoc): customer
      // is the current-state dim (anchored at the order history's start,
      // so same-day changes exercise the supersede path) and each order
      // is a balance observation. One window pass closes each version at
      // the day before its successor — dimension history queryable
      // "as of" any date, the serving-layer shape the reference's
      // current-state-only dim tables lack.
      val cur = Tables.customer(s, dir).select(
        col("c_custkey"), dec2(col("c_acctbal")).cast("double").as("bal"))
      val chg = ordRaw(s, dir).select(
        col("o_custkey").as("c_custkey"),
        dec2(col("o_totalprice")).cast("double").as("bal"),
        col("o_orderdate"), col("o_orderkey"))
      Scd.scd2(cur, lit("1995-01-01"),
          chg, col("o_orderdate"),
          key = "c_custkey", attrs = Seq("bal"), tieBreak = col("o_orderkey"))
        .select("c_custkey", "bal", "eff_from", "eff_to", "is_current")
    }),

    "q75_incremental_agg" -> ((s, dir) => {
      // Incremental aggregate maintenance (operators/Incremental
      // scaladoc): state = history shipped before 1998, delta = the
      // rest, folded together with the mergeable-state algebra. The
      // oracle aggregates the WHOLE table directly — hash-matching it
      // proves merge(state, delta) is exactly recompute, which is the
      // correctness contract that lets a 100 TB pipeline stop
      // re-scanning history every day.
      val l = li(s, dir).select(
        col("l_returnflag"), col("l_quantity"), col("l_shipdate"))
      val cut = col("l_shipdate").cast("date") < lit("1998-01-01").cast("date")
      val state = Incremental.aggState(
        l.filter(cut), Seq("l_returnflag"), col("l_quantity"))
      val delta = Incremental.aggState(
        l.filter(!cut), Seq("l_returnflag"), col("l_quantity"))
      Incremental.withAvg(Incremental.merge(state, delta, Seq("l_returnflag")))
        .select(col("l_returnflag"), col("n"),
          col("sum_v").cast("double").as("sum_v"),
          col("min_v").cast("double").as("min_v"),
          col("max_v").cast("double").as("max_v"),
          col("avg_v"))
    }),

    "q76_cdc_apply" -> ((s, dir) => {
      // CDC MERGE INTO over plain frames (MergeOps.cdcApply scaladoc):
      // customer is the snapshot; each customer's LATEST order is the
      // change record — finalized ('F') deletes the key, anything else
      // upserts the order total as the new balance. Latest-change-wins
      // needs a total order, so the tie-break chain ends at the unique
      // orderkey.
      val snap = Tables.customer(s, dir).select(
        col("c_custkey"), dec2(col("c_acctbal")).cast("double").as("bal"))
      val chg = ordRaw(s, dir).select(
        col("o_custkey").as("c_custkey"),
        dec2(col("o_totalprice")).cast("double").as("bal"),
        when(col("o_orderstatus") === "F", "D").otherwise("U").as("op"),
        col("o_orderdate"), col("o_orderkey"))
      MergeOps.cdcApply(snap, chg,
        keys = Seq("c_custkey"),
        ordering = Seq(col("o_orderdate").desc, col("o_orderkey").desc),
        opCol = "op")
    }),

    "q77_tpch6" -> ((s, dir) =>
      // TPC-H Q6 shape: forecasting-revenue scan — single table, three
      // pushable predicates, one agg, zero shuffles beyond the final
      // single-row reduce. The discount band compares in decimal (the
      // 2-dp lattice makes double BETWEEN unreliable at the edges).
      li(s, dir)
        .filter(col("l_shipdate").cast("date") >= lit("1997-01-01").cast("date") &&
          col("l_shipdate").cast("date") < lit("1998-01-01").cast("date") &&
          dec2(col("l_discount")).between(
            lit("0.04").cast("decimal(12,2)"), lit("0.06").cast("decimal(12,2)")) &&
          col("l_quantity") < 24)
        .agg(
          r2d(sum(dec2(col("l_extendedprice")) * dec2(col("l_discount"))))
            .as("revenue"),
          count(lit(1)).as("n"))),

    "q78_tpch15" -> ((s, dir) => {
      // TPC-H Q15 shape: top supplier by quarterly revenue — an
      // aggregated view joined to its own max (scalar subquery). The
      // max is a single-row broadcast and the equality join is an
      // EQUI-join on the exact decimal-rounded revenue, so ties (two
      // suppliers at the max) all surface, like the SQL.
      // the revenue view feeds BOTH the max subquery and the final join
      // — cached (it is |suppliers| rows) so lineitem is scanned once,
      // not once per consumer
      val rev = graft.CacheRegistry.track(li(s, dir)
        .filter(col("l_shipdate").cast("date") >= lit("1997-10-01").cast("date") &&
          col("l_shipdate").cast("date") < lit("1998-01-01").cast("date"))
        .groupBy(col("l_suppkey"))
        .agg(r2d(sum(revDec)).as("total_rev"))
        .cache())
      val top = rev.agg(max(col("total_rev")).as("max_rev"))
      rev.join(broadcast(top), col("total_rev") === col("max_rev"))
        .join(broadcast(Tables.supplier(s, dir).select("s_suppkey", "s_name")),
          col("l_suppkey") === col("s_suppkey"))
        .select("s_suppkey", "s_name", "total_rev")
    }),

    "q79_tpch16" -> ((s, dir) => {
      // TPC-H Q16 shape: supplier diversity census — distinct-supplier
      // counts per part group, excluding a blocklisted supplier set
      // (NOT IN ⇒ broadcast anti join, the set is tiny) with the part
      // predicate broadcast onto the fact scan.
      val p = Tables.part(s, dir)
        .filter(col("p_type") =!= "PROMO" &&
          col("p_size").isin(1, 9, 14, 19, 23, 36, 45, 49))
        .select("p_partkey", "p_brand", "p_type", "p_size")
      val bad = Tables.supplier(s, dir)
        .filter(col("s_suppkey") % 10 === 0).select("s_suppkey")
      li(s, dir).select("l_partkey", "l_suppkey")
        .join(broadcast(p), col("l_partkey") === col("p_partkey"))
        .join(broadcast(bad), col("l_suppkey") === col("s_suppkey"), "left_anti")
        .groupBy("p_brand", "p_type", "p_size")
        .agg(countDistinct(col("l_suppkey")).as("supplier_cnt"))
    }),

    "q80_tpch2" -> ((s, dir) => {
      // TPC-H Q2 shape: minimum-cost supplier per part — the correlated
      // `cost = (SELECT min(cost) ...)` subquery decorrelated into a
      // per-part min aggregate joined back on (part, cost) equality.
      // The part predicate is applied BEFORE the per-(part, supplier)
      // aggregate: at scale the filter cuts the aggregation input, not
      // just the output. Ties (several suppliers at the min) surface.
      val p = Tables.part(s, dir)
        .filter(col("p_size").between(1, 15) && col("p_type") === "ECONOMY")
        .select("p_partkey", "p_brand")
      // cost feeds both the per-part min and the join back — cached
      // ((part, supplier) grain, tiny vs the fact) for one lineitem scan
      val cost = graft.CacheRegistry.track(
        li(s, dir).select("l_partkey", "l_suppkey", "l_extendedprice")
        .join(broadcast(p), col("l_partkey") === col("p_partkey"))
        .groupBy("l_partkey", "l_suppkey")
        .agg(min(dec2(col("l_extendedprice"))).as("supp_cost"),
          first(col("p_brand")).as("p_brand"))
        .cache())
      val minCost = cost.groupBy(col("l_partkey").as("mk"))
        .agg(min(col("supp_cost")).as("min_cost"))
      cost.join(minCost,
          col("l_partkey") === col("mk") && col("supp_cost") === col("min_cost"))
        .join(broadcast(Tables.supplier(s, dir).select("s_suppkey", "s_name")),
          col("l_suppkey") === col("s_suppkey"))
        .select(col("l_partkey").as("p_partkey"), col("p_brand"),
          col("s_suppkey"), col("s_name"), col("min_cost").cast("double").as("cost"))
        .orderBy("p_partkey", "s_suppkey")
        .limit(100)
    }),

    "q81_tpch11" -> ((s, dir) => {
      // TPC-H Q11 shape: important-part value concentration — per-part
      // value restricted to one region's suppliers, kept where it
      // exceeds a fraction of the GLOBAL total (scalar subquery ⇒
      // single-row broadcast anchor; the fraction multiply stays in
      // decimal on both engines so the threshold compare is exact).
      val regionSupp = Tables.supplier(s, dir)
        .join(broadcast(Tables.nation(s, dir).filter(col("n_regionkey") === 2)),
          col("s_nationkey") === col("n_nationkey"))
        .select("s_suppkey")
      // per-part value feeds both the global total and the filter —
      // cached (|parts| rows) for one lineitem scan
      val value = graft.CacheRegistry.track(li(s, dir)
        .select("l_partkey", "l_suppkey", "l_extendedprice", "l_quantity")
        .join(broadcast(regionSupp), col("l_suppkey") === col("s_suppkey"))
        .groupBy("l_partkey")
        .agg(sum(dec2(col("l_extendedprice")) * dec2(col("l_quantity")))
          .cast("decimal(28,4)").as("v"))
        .cache())
      // cutoff = 2× the mean part value: unlike a fixed fraction of the
      // global total (TPC-H's 0.0001/SF), this stays selective-but-
      // nonempty at EVERY scale — a fixed fraction divided by a growing
      // part count eventually filters everything, turning the sf0.1
      // oracle compare into a vacuous 0-vs-0 match. Exact decimal sum
      // cast to double over the count, doubled — bit-identical on both
      // engines (Core scaladoc average rule).
      val thresh = value.agg(
        (sum(col("v")).cast("double") / count(col("v")) * 2).as("cutoff"))
      value.join(broadcast(thresh), col("v").cast("double") > col("cutoff"))
        .select(col("l_partkey"), col("v").cast("double").as("part_value"))
    }),

    "q82_tpch20" -> ((s, dir) => {
      // TPC-H Q20 shape: dominant suppliers — suppliers providing more
      // than half of a part's shipped quantity in a year. Nested
      // aggregate (per part-supplier, then per part) + decimal-exact
      // share compare; DISTINCT collapses a supplier dominating many
      // parts to one row before the tiny dim broadcast.
      // shipped feeds both the per-part total and the share filter —
      // cached ((part, supplier) grain) for one lineitem scan
      val shipped = graft.CacheRegistry.track(li(s, dir)
        .filter(col("l_shipdate").cast("date") >= lit("1997-01-01").cast("date") &&
          col("l_shipdate").cast("date") < lit("1998-01-01").cast("date"))
        .groupBy("l_partkey", "l_suppkey")
        .agg(sum(dec2(col("l_quantity"))).as("sq"))
        .cache())
      // the share bar must discriminate: >50% of ANY part is vacuously
      // true for every supplier on this data (each supplier majority-
      // ships some part), which would reduce the query to SELECT * FROM
      // supplier and drain the oracle check of information. >60% of a
      // part contested by ≥4 suppliers keeps the output a strict,
      // non-empty subset at every SF.
      val tot = shipped.groupBy(col("l_partkey").as("tk"))
        .agg(sum(col("sq")).as("tq"), count(lit(1)).as("nsupp"))
      shipped.join(tot, col("l_partkey") === col("tk"))
        .filter(col("nsupp") >= 4 &&
          col("sq") > lit("0.6").cast("decimal(2,1)") * col("tq"))
        .select("l_suppkey").distinct()
        .join(broadcast(Tables.supplier(s, dir).select("s_suppkey", "s_name")),
          col("l_suppkey") === col("s_suppkey"))
        .select("s_suppkey", "s_name")
    }),

    "q83_tpch7" -> ((s, dir) => {
      // TPC-H Q7 shape: cross-region shipping volume — the fact joins
      // BOTH dimension paths (supplier→nation and order→customer→
      // nation), keeps the two directed region pairs, and rolls up by
      // (supp region, cust region, ship year). All dims broadcast; the
      // only fact-fact shuffle is lineitem⋈orders.
      val sn = Tables.supplier(s, dir)
        .join(broadcast(Tables.nation(s, dir)),
          col("s_nationkey") === col("n_nationkey"))
        .select(col("s_suppkey"), col("n_regionkey").as("supp_region"))
      val cn = Tables.customer(s, dir)
        .join(broadcast(Tables.nation(s, dir)),
          col("c_nationkey") === col("n_nationkey"))
        .select(col("c_custkey"), col("n_regionkey").as("cust_region"))
      li(s, dir)
        .filter(col("l_shipdate").cast("date") >= lit("1996-01-01").cast("date") &&
          col("l_shipdate").cast("date") < lit("1998-01-01").cast("date"))
        .select(col("l_orderkey"), col("l_suppkey"), col("l_shipdate"), revDec.as("rd"))
        .join(ordRaw(s, dir).select("o_orderkey", "o_custkey"),
          col("l_orderkey") === col("o_orderkey"))
        .join(broadcast(sn), col("l_suppkey") === col("s_suppkey"))
        .join(broadcast(cn), col("o_custkey") === col("c_custkey"))
        .filter((col("supp_region") === 1 && col("cust_region") === 2) ||
          (col("supp_region") === 2 && col("cust_region") === 1))
        .groupBy(col("supp_region"), col("cust_region"),
          year(col("l_shipdate")).cast("int").as("l_year"))
        .agg(r2d(sum(col("rd"))).as("volume"))
    }),

    "q84_tpch8" -> ((s, dir) => {
      // TPC-H Q8 shape: national market share — one nation's slice of a
      // region's order volume per year, as a conditional-sum ratio. The
      // numerator rides the same decimal aggregate as the denominator
      // (one pass); the ratio is tie-nudged like every cross-engine
      // double rounding (Core scaladoc).
      val cn = Tables.customer(s, dir)
        .join(broadcast(Tables.nation(s, dir).filter(col("n_regionkey") === 1)),
          col("c_nationkey") === col("n_nationkey"))
        .select("c_custkey")
      val supp = Tables.supplier(s, dir).select("s_suppkey", "s_nationkey")
      val zero = lit(0).cast("decimal(12,2)")
      li(s, dir).select(col("l_orderkey"), col("l_suppkey"), revDec.as("rd"))
        .join(ordRaw(s, dir)
            .filter(col("o_orderdate").cast("date") >= lit("1996-01-01").cast("date") &&
              col("o_orderdate").cast("date") < lit("1998-01-01").cast("date"))
            .select("o_orderkey", "o_custkey", "o_orderdate"),
          col("l_orderkey") === col("o_orderkey"))
        .join(broadcast(cn), col("o_custkey") === col("c_custkey"), "left_semi")
        .join(broadcast(supp), col("l_suppkey") === col("s_suppkey"))
        .groupBy(year(col("o_orderdate")).cast("int").as("o_year"))
        .agg(r4e(
          sum(when(col("s_nationkey") === 7, col("rd")).otherwise(zero)).cast("double") /
            sum(col("rd")).cast("double")).as("mkt_share"))
    }),

    "q85_tpch9" -> ((s, dir) => {
      // TPC-H Q9 shape: product-line profit by supplier nation and
      // year — revenue minus a deterministic retail-price-based cost
      // share, entirely in decimal. part filters before the join;
      // nation names come from the broadcast dim chain.
      val p = Tables.part(s, dir).filter(col("p_type") === "PROMO")
        .select("p_partkey", "p_retailprice")
      val sn = Tables.supplier(s, dir)
        .join(broadcast(Tables.nation(s, dir)),
          col("s_nationkey") === col("n_nationkey"))
        .select(col("s_suppkey"), col("n_name"))
      val costShare = lit("0.05").cast("decimal(3,2)")
      li(s, dir).select(col("l_orderkey"), col("l_partkey"), col("l_suppkey"),
          col("l_quantity"), revDec.as("rd"))
        .join(broadcast(p), col("l_partkey") === col("p_partkey"))
        .join(ordRaw(s, dir).select("o_orderkey", "o_orderdate"),
          col("l_orderkey") === col("o_orderkey"))
        .join(broadcast(sn), col("l_suppkey") === col("s_suppkey"))
        .groupBy(col("n_name").as("nation"),
          year(col("o_orderdate")).cast("int").as("o_year"))
        .agg(r2d(sum(col("rd") -
          dec2(col("p_retailprice")) * dec2(col("l_quantity")) * costShare))
          .as("profit"))
    }),

    "q86_data_quality" -> ((s, dir) =>
      // Publish-gate quality report over the fact table (operators/
      // Validate scaladoc): null fractions and range violations fold
      // into ONE scan-level aggregate, uniqueness is one grouped
      // aggregate on the (orderkey, linenumber) key, and referential
      // integrity is one anti join against orders. Five checks, one
      // fact scan + two key-level passes.
      Validate.report(
        li(s, dir),
        scanChecks = Seq(
          Validate.Completeness("l_quantity"),
          Validate.Completeness("l_returnflag"),
          Validate.InRange("l_discount", 0.0, 1.0)),
        uniqueKey = Some(Seq("l_orderkey", "l_linenumber")),
        foreignKey = Some(("l_orderkey", ordRaw(s, dir), "o_orderkey")))),

    // Forward as-of: each purchase ↔ the same user's EARLIEST click at
    // or after it (the mirror of q23's latest-before) — "next quote
    // after the order". Shared body with q23 (asofPurchaseClicks);
    // only the AsOf direction and the gap sign differ.
    "q87_asof_forward" -> ((s, dir) => asofPurchaseClicks(s, dir, forward = true)),

    "q23_asof_join" -> ((s, dir) => asofPurchaseClicks(s, dir, forward = false)),

    "q92_sql_asof" -> ((s, dir) => {
      // The SQL surface of the as-of operator: inputs registered as temp
      // views, the query itself pure SQL through the graft_asof_join
      // TABLE function (GraftExtensions) — the TVF builder composes the
      // same AsOf implementation q23 uses, and the q23 oracle (DuckDB
      // native ASOF JOIN) hash-checks the whole SQL path end-to-end.
      val events = ev(s, dir)
      val pUs = unix_micros(col("ts").cast("timestamp"))
      // per-invocation view names: fixed names are shared mutable session
      // state (clobber any same-named user view; race a concurrent
      // invocation between registration and analysis). spark.sql analyzes
      // eagerly, so the views can be dropped before returning.
      val tag = java.util.UUID.randomUUID().toString.replace("-", "")
      val pv = s"g_asof_purchases_$tag"
      val cv = s"g_asof_clicks_$tag"
      events.filter(col("event_type") === "purchase")
        .select(col("event_id"), col("user_id"), col("ts"), pUs.as("p_us"))
        .createOrReplaceTempView(pv)
      Cleaning.dedupLatest(
          events.filter(col("event_type") === "click"),
          Seq("user_id", "ts"), Seq(col("event_id").desc))
        .select(col("user_id"), col("ts"), col("event_id"), pUs.as("c_us"))
        .createOrReplaceTempView(cv)
      try s.sql(
        s"""SELECT event_id AS p_event_id, user_id,
           |       asof_event_id AS click_event_id,
           |       CASE WHEN asof_event_id IS NOT NULL
           |            THEN CAST(floor((p_us - asof_c_us) / 1000000.0) AS BIGINT)
           |       END AS gap_sec
           |FROM graft_asof_join('$pv', '$cv', 'user_id', 'ts', 'event_id,c_us')""".stripMargin)
      finally {
        s.catalog.dropTempView(pv)
        s.catalog.dropTempView(cv)
      }
    }))

  /** Shared body of q23 (backward) / q87 (forward): purchases probed
    * against per-(user, ts)-deduped clicks; gap is always non-negative
    * (probe − match backward, match − probe forward).
    */
  private def asofPurchaseClicks(s: SparkSession, dir: String,
                                 forward: Boolean): DataFrame = {
    val events = ev(s, dir)
    val pUs = unix_micros(col("ts").cast("timestamp"))
    val purchases = events.filter(col("event_type") === "purchase")
      .select(col("event_id"), col("user_id"), col("ts"), pUs.as("p_us"))
    val clicks = Cleaning.dedupLatest(
      events.filter(col("event_type") === "click"),
      Seq("user_id", "ts"), Seq(col("event_id").desc))
      .select(col("user_id"), col("ts"), col("event_id"), pUs.as("c_us"))
    val joined =
      if (forward)
        AsOf.asofJoinForward(purchases, clicks, "user_id", "ts",
          valueCols = Seq("event_id", "c_us"))
      else
        AsOf.asofJoin(purchases, clicks, "user_id", "ts",
          valueCols = Seq("event_id", "c_us"))
    val gapUs =
      if (forward) col("asof_c_us") - col("p_us")
      else col("p_us") - col("asof_c_us")
    joined.select(
      col("event_id").as("p_event_id"), col("user_id"),
      col("asof_event_id").as("click_event_id"),
      when(col("asof_event_id").isNotNull,
        floor(gapUs / 1000000.0).cast("long")).as("gap_sec"))
  }

  val oracles: Map[String, String] = Map(
    "q01_pricing_summary" ->
      """SELECT l_returnflag, l_linestatus,
        | CAST(round(sum(CAST(l_quantity AS DECIMAL(12,2))), 2) AS DOUBLE) AS sum_qty,
        | CAST(round(sum(CAST(l_extendedprice AS DECIMAL(12,2))), 2) AS DOUBLE) AS sum_base,
        | CAST(round(sum(CAST(l_extendedprice AS DECIMAL(12,2)) * (1 - CAST(l_discount AS DECIMAL(12,2)))), 2) AS DOUBLE) AS sum_disc,
        | round(CAST(sum(CAST(l_quantity AS DECIMAL(12,2))) AS DOUBLE) / count(*) + 1e-7, 4) + 0 AS avg_qty,
        | round(CAST(sum(CAST(l_extendedprice AS DECIMAL(12,2))) AS DOUBLE) / count(*) + 1e-7, 4) + 0 AS avg_price,
        | count(*) AS n
        |FROM lineitem GROUP BY 1, 2""".stripMargin,

    "q02_dedup_latest" ->
      """SELECT user_id, event_type, event_id, round(value, 4) AS value,
        | CAST(ts AS DATE) AS day
        |FROM events
        |QUALIFY row_number() OVER (
        |  PARTITION BY user_id, event_type ORDER BY ts DESC, event_id DESC) = 1""".stripMargin,

    "q03_clean_validate" ->
      """SELECT l_orderkey, l_linenumber,
        | CAST(round(CAST(l_extendedprice AS DECIMAL(12,2)) * (1 - CAST(l_discount AS DECIMAL(12,2))), 2) AS DOUBLE) AS revenue,
        | CAST(round(CAST(l_extendedprice AS DECIMAL(12,2)) * (1 - CAST(l_discount AS DECIMAL(12,2))) * (1 + CAST(l_tax AS DECIMAL(12,2))), 2) AS DOUBLE) AS charge,
        | round(CASE WHEN l_extendedprice IS NOT NULL AND l_extendedprice <> 0
        |   THEN (CAST(CAST(l_extendedprice AS DECIMAL(12,2)) * (1 - CAST(l_discount AS DECIMAL(12,2))) AS DOUBLE) - l_extendedprice) / l_extendedprice * 100
        |   ELSE 0 END + 1e-7, 4) + 0 AS margin_pct,
        | CAST(l_shipdate AS DATE) AS ship_date
        |FROM lineitem
        |WHERE l_quantity IS NOT NULL AND l_extendedprice IS NOT NULL
        |  AND l_discount IS NOT NULL AND l_tax IS NOT NULL AND l_shipdate IS NOT NULL
        |  AND l_quantity > 0 AND l_extendedprice > 0
        |  AND l_discount >= 0 AND l_discount <= 1 AND l_tax >= 0""".stripMargin,

    "q04_date_parts" ->
      """SELECT CAST(year(o_orderdate) AS INT) AS year, CAST(month(o_orderdate) AS INT) AS month,
        | count(*) AS n_orders,
        | CAST(round(sum(CAST(o_totalprice AS DECIMAL(12,2))), 2) AS DOUBLE) AS total_price,
        | round(CAST(sum(CAST(o_totalprice AS DECIMAL(12,2))) AS DOUBLE) / count(*) + 1e-7, 4) + 0 AS avg_price,
        | CAST(sum(CASE WHEN o_orderpriority = '1-URGENT' THEN 1 ELSE 0 END) AS BIGINT) AS urgent
        |FROM orders GROUP BY 1, 2""".stripMargin,

    "q05_merge_coalesce" ->
      """WITH a AS (
        |  SELECT l_orderkey AS orderkey,
        |         sum(CAST(l_extendedprice AS DECIMAL(12,2)) * (1 - CAST(l_discount AS DECIMAL(12,2)))) AS li_value,
        |         count(*) AS li_count
        |  FROM lineitem GROUP BY 1),
        |o2 AS (SELECT o_orderkey, CAST(o_totalprice AS DECIMAL(12,2)) AS o_totalprice FROM orders)
        |SELECT coalesce(a.orderkey, o2.o_orderkey) AS orderkey,
        | CAST(round(coalesce(a.li_value, o2.o_totalprice), 2) AS DOUBLE) AS merged_value,
        | CAST(round(CASE WHEN a.li_value IS NOT NULL AND o2.o_totalprice IS NOT NULL
        |   THEN abs(a.li_value - o2.o_totalprice) ELSE 0 END, 2) AS DOUBLE) AS discrepancy,
        | CASE WHEN a.li_value IS NOT NULL THEN 1 ELSE 0 END AS has_li,
        | CASE WHEN o2.o_totalprice IS NOT NULL THEN 1 ELSE 0 END AS has_ord
        |FROM a FULL OUTER JOIN o2 ON a.orderkey = o2.o_orderkey""".stripMargin,

    "q06_sma" ->
      s"""SELECT user_id, event_id, round(value, 4) AS value,
         | round(${slidingAvgSql(7)} + 1e-7, 4) + 0 AS sma_7,
         | round(${slidingAvgSql(20)} + 1e-7, 4) + 0 AS sma_20,
         | round(${slidingAvgSql(50)} + 1e-7, 4) + 0 AS sma_50,
         | round(${slidingAvgSql(200)} + 1e-7, 4) + 0 AS sma_200,
         | round(${slidingAvgSql(20)} + 1e-7, 4) + 0 AS ema_12,
         | round(${slidingAvgSql(50)} + 1e-7, 4) + 0 AS ema_26
         |FROM events""".stripMargin,

    "q07_bollinger" ->
      s"""SELECT user_id, event_id,
         | round(${slidingAvgSql(20)} + 1e-7, 4) + 0 AS bb_mid,
         | round(stddev_samp(value) OVER w20 + 1e-7, 4) + 0 AS bb_sd,
         | round(${slidingAvgSql(20)} + 2 * stddev_samp(value) OVER w20 + 1e-7, 4) + 0 AS bb_up,
         | round(${slidingAvgSql(20)} - 2 * stddev_samp(value) OVER w20 + 1e-7, 4) + 0 AS bb_lo
         |FROM events
         |WINDOW w20 AS (PARTITION BY user_id ORDER BY ts, event_id
         |  ROWS BETWEEN 19 PRECEDING AND CURRENT ROW)""".stripMargin,

    "q08_momentum" ->
      """SELECT user_id, event_id,
        | round(CASE WHEN p1 IS NOT NULL AND p1 <> 0 THEN (value - p1) / p1 * 100 ELSE 0 END + 1e-7, 4) + 0 AS mom_1,
        | round(CASE WHEN p5 IS NOT NULL AND p5 <> 0 THEN (value - p5) / p5 * 100 ELSE 0 END + 1e-7, 4) + 0 AS mom_5,
        | round(CASE WHEN p20 IS NOT NULL AND p20 <> 0 THEN (value - p20) / p20 * 100 ELSE 0 END + 1e-7, 4) + 0 AS mom_20
        |FROM (
        |  SELECT user_id, event_id, value,
        |   lag(value, 1) OVER w AS p1,
        |   lag(value, 5) OVER w AS p5,
        |   lag(value, 20) OVER w AS p20
        |  FROM events
        |  WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id))""".stripMargin,

    "q09_volatility" ->
      s"""SELECT user_id, event_id,
         | round(stddev_samp(pct) OVER w20 + 1e-7, 4) + 0 AS vol_20,
         | round(CASE WHEN ravg > 0 THEN value / ravg ELSE 1 END + 1e-7, 4) + 0 AS rel_value
         |FROM (
         |  SELECT user_id, event_id, ts, value,
         |   CASE WHEN lag(value, 1) OVER w IS NOT NULL AND lag(value, 1) OVER w <> 0
         |     THEN (value - lag(value, 1) OVER w) / (lag(value, 1) OVER w) * 100 END AS pct,
         |   ${slidingAvgSql(20)} AS ravg
         |  FROM events
         |  WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id))
         |WINDOW w20 AS (PARTITION BY user_id ORDER BY ts, event_id
         |  ROWS BETWEEN 19 PRECEDING AND CURRENT ROW)""".stripMargin,

    "q10_daily_agg" ->
      """SELECT user_id, CAST(ts AS DATE) AS day, count(*) AS n,
        | round(CAST(sum(CAST(value AS DECIMAL(18,4))) AS DOUBLE) / count(*) + 1e-7, 4) + 0 AS v_avg,
        | round(min(value), 4) AS v_min,
        | round(max(value), 4) AS v_max,
        | round(stddev_samp(value) + 1e-7, 4) + 0 AS v_sd,
        | CAST(sum(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END) AS BIGINT) AS purchases,
        | CAST(sum(CASE WHEN event_type = 'click' THEN 1 ELSE 0 END) AS BIGINT) AS clicks,
        | CAST(sum(CASE WHEN event_type = 'error' THEN 1 ELSE 0 END) AS BIGINT) AS errors,
        | round(sum(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END) / count(*) + 1e-7, 4) + 0 AS purchase_ratio,
        | round(sum(CASE WHEN event_type = 'click' THEN 1 ELSE 0 END) / count(*) + 1e-7, 4) + 0 AS click_ratio
        |FROM events GROUP BY 1, 2""".stripMargin,

    "q11_weighted_recency" ->
      """WITH a AS (SELECT max(epoch_us(ts)) AS anchor_us FROM events),
        |wtd AS (
        |  SELECT user_id, value,
        |   exp(-((a.anchor_us - epoch_us(ts)) / 3.6e9) / 24.0) AS w
        |  FROM events, a)
        |SELECT user_id, count(*) AS n,
        | round(CASE WHEN sum(w) > 0 THEN sum(value * w) / sum(w) ELSE 0 END + 1e-7, 4) + 0 AS weighted_avg
        |FROM wtd GROUP BY 1""".stripMargin,

    "q12_lead_horizons" ->
      """SELECT user_id, event_id,
        | round(CASE WHEN n1 IS NOT NULL AND value <> 0 THEN (n1 - value) / value * 100 END + 1e-7, 4) + 0 AS chg_1,
        | round(CASE WHEN n3 IS NOT NULL AND value <> 0 THEN (n3 - value) / value * 100 END + 1e-7, 4) + 0 AS chg_3,
        | round(CASE WHEN n5 IS NOT NULL AND value <> 0 THEN (n5 - value) / value * 100 END + 1e-7, 4) + 0 AS chg_5
        |FROM (
        |  SELECT user_id, event_id, value,
        |   lead(value, 1) OVER w AS n1,
        |   lead(value, 3) OVER w AS n3,
        |   lead(value, 5) OVER w AS n5
        |  FROM events
        |  WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id))""".stripMargin,

    "q13_corr_by_key" -> (dailySql +
      """
        |SELECT user_id,
        | CAST(sum(CASE WHEN chg_next IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT) AS sample_size,
        | round(corr(v_avg, chg_next) + 1e-7, 4) + 0 AS corr_value,
        | round(corr(n, chg_next) + 1e-7, 4) + 0 AS corr_volume,
        | round(avg(chg_next) + 1e-7, 4) + 0 AS avg_chg
        |FROM d3 GROUP BY 1""".stripMargin),

    "q14_corr_overall" -> (dailySql +
      """
        |SELECT
        | CAST(sum(CASE WHEN chg_next IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT) AS total_samples,
        | round(corr(v_avg, chg_next) + 1e-7, 4) + 0 AS corr_value,
        | round(corr(n, chg_next) + 1e-7, 4) + 0 AS corr_volume
        |FROM d3""".stripMargin),

    "q15_category" -> (dailySql +
      """,
        |b AS (
        |  SELECT *,
        |   CASE WHEN v_avg < 20 THEN 'VeryLow' WHEN v_avg < 40 THEN 'Low'
        |        WHEN v_avg < 60 THEN 'Mid' WHEN v_avg < 80 THEN 'High'
        |        ELSE 'VeryHigh' END AS bucket
        |  FROM d3)
        |SELECT bucket,
        | CASE WHEN bucket = 'VeryLow' THEN 1 WHEN bucket = 'Low' THEN 2
        |      WHEN bucket = 'Mid' THEN 3 WHEN bucket = 'High' THEN 4
        |      ELSE 5 END AS ord,
        | count(*) AS n_days,
        | round(avg(chg_next) + 1e-7, 4) + 0 AS avg_chg,
        | round(stddev_samp(chg_next) + 1e-7, 4) + 0 AS sd_chg
        |FROM b GROUP BY 1, 2""".stripMargin),

    "q16_event_detect" -> (dailySql +
      """,
        |e AS (
        |  SELECT *,
        |   CASE WHEN v_avg <> 0 THEN (v_max - v_min) / v_avg * 100 ELSE 0 END AS iv
        |  FROM d3)
        |SELECT user_id, day, n,
        | round(iv + 1e-7, 4) + 0 AS intraday_vol,
        | round(chg_next + 1e-7, 4) + 0 AS chg_next,
        | CASE WHEN chg_next > 0 THEN 'Positive' WHEN chg_next < 0 THEN 'Negative'
        |      ELSE 'Flat' END AS event_class,
        | CAST(sign(coalesce(chg_next, 0)) * sign(iv) AS INT) AS alignment
        |FROM e WHERE n >= 4 AND iv >= 100""".stripMargin),

    "q17_monthly_trends" -> (dailySql +
      """
        |SELECT CAST(year(day) AS INT) AS year, CAST(month(day) AS INT) AS month,
        | count(*) AS trading_days,
        | CAST(sum(n) AS BIGINT) AS total_events,
        | round(avg(v_avg) + 1e-7, 4) + 0 AS avg_value,
        | round(avg(chg_next) + 1e-7, 4) + 0 AS avg_chg
        |FROM d3 GROUP BY 1, 2""".stripMargin),

    "q18_master_join" ->
      """WITH base AS (
        |  SELECT user_id, CAST(ts AS DATE) AS day,
        |   CAST(sum(CAST(value AS DECIMAL(18,4))) AS DOUBLE) / count(*) AS v_avg,
        |   sum(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END) / count(*) AS purchase_ratio
        |  FROM events GROUP BY 1, 2),
        |errs AS (
        |  SELECT user_id, CAST(ts AS DATE) AS day, count(*) AS n_err,
        |   string_agg(DISTINCT regexp_extract(props, '[0-9]+'), ','
        |     ORDER BY regexp_extract(props, '[0-9]+')) AS ks
        |  FROM events WHERE event_type = 'error' GROUP BY 1, 2)
        |SELECT b.user_id, b.day,
        | round(b.v_avg + 1e-7, 4) + 0 AS v_avg,
        | round(b.purchase_ratio + 1e-7, 4) + 0 AS purchase_ratio,
        | coalesce(e.n_err, 0) AS n_err,
        | coalesce(e.ks, '') AS ks,
        | CASE WHEN coalesce(e.n_err, 0) > 0 THEN 1 ELSE 0 END AS err_flag,
        | CAST(isodow(b.day) AS INT) AS dow
        |FROM base b LEFT JOIN errs e ON b.user_id = e.user_id AND b.day = e.day""".stripMargin,

    "q19_top_movers" -> (dailySql +
      """
        |SELECT user_id, day, n, round(chg_next + 1e-7, 4) + 0 AS chg_next
        |FROM d3 WHERE chg_next IS NOT NULL
        |ORDER BY abs(chg_next) DESC, user_id, day LIMIT 50""".stripMargin),

    "q20_tpch3" -> tpch3Sql,

    // q67 runs tpch3Sql through spark.sql over registered views; the
    // oracle is the SAME text — one SQL string, two engines, one hash
    "q67_catalog_sql" -> tpch3Sql,

    "q68_tpch4" ->
      """SELECT o.o_orderpriority, count(*) AS order_count
        |FROM orders o
        |WHERE CAST(o.o_orderdate AS DATE) >= DATE '1997-07-01'
        |  AND CAST(o.o_orderdate AS DATE) < DATE '1997-10-01'
        |  AND EXISTS (SELECT 1 FROM lineitem l
        |              WHERE l.l_orderkey = o.o_orderkey
        |                AND l.l_shipdate > o.o_orderdate)
        |GROUP BY 1""".stripMargin,

    "q70_tpch19" ->
      """SELECT
        | CAST(round(sum(CAST(l.l_extendedprice AS DECIMAL(12,2)) * (1 - CAST(l.l_discount AS DECIMAL(12,2)))), 2) AS DOUBLE) AS revenue,
        | count(*) AS n_lines
        |FROM lineitem l
        |JOIN part p ON l.l_partkey = p.p_partkey
        |WHERE (p.p_brand = 'Brand#4' AND p.p_size BETWEEN 1 AND 15 AND l.l_quantity BETWEEN 1 AND 20)
        |   OR (p.p_brand = 'Brand#2' AND p.p_size BETWEEN 10 AND 30 AND l.l_quantity BETWEEN 10 AND 30)
        |   OR (p.p_brand = 'Brand#19' AND p.p_size BETWEEN 20 AND 50 AND l.l_quantity BETWEEN 20 AND 40)""".stripMargin,

    "q69_tpch12" ->
      """SELECT l.l_returnflag,
        | CAST(sum(CASE WHEN o.o_orderpriority IN ('1-URGENT','2-HIGH') THEN 1 ELSE 0 END) AS BIGINT) AS high_count,
        | CAST(sum(CASE WHEN o.o_orderpriority IN ('1-URGENT','2-HIGH') THEN 0 ELSE 1 END) AS BIGINT) AS low_count
        |FROM lineitem l
        |JOIN orders o ON l.l_orderkey = o.o_orderkey AND l.l_shipdate > o.o_orderdate
        |WHERE l.l_returnflag IN ('R','A')
        |  AND CAST(l.l_shipdate AS DATE) >= DATE '1997-01-01'
        |  AND CAST(l.l_shipdate AS DATE) < DATE '1998-01-01'
        |GROUP BY 1""".stripMargin,

    "q21_tpch5" ->
      """SELECT n.n_name,
        | CAST(round(sum(CAST(l.l_extendedprice AS DECIMAL(12,2)) * (1 - CAST(l.l_discount AS DECIMAL(12,2)))), 2) AS DOUBLE) AS revenue
        |FROM lineitem l
        |JOIN orders o ON l.l_orderkey = o.o_orderkey
        |JOIN supplier s ON l.l_suppkey = s.s_suppkey
        |JOIN customer c ON o.o_custkey = c.c_custkey AND c.c_nationkey = s.s_nationkey
        |JOIN nation n ON s.s_nationkey = n.n_nationkey
        |JOIN region r ON n.n_regionkey = r.r_regionkey
        |WHERE r.r_name = 'ASIA'
        |  AND CAST(o.o_orderdate AS DATE) >= DATE '1996-01-01'
        |  AND CAST(o.o_orderdate AS DATE) < DATE '1997-01-01'
        |GROUP BY 1""".stripMargin,

    "q22_window_tumble" ->
      """SELECT strftime(date_trunc('hour', ts), '%Y-%m-%d %H:%M:%S') AS bucket,
        | event_type, count(*) AS n,
        | CAST(sum(CAST(value AS DECIMAL(18,4))) AS DOUBLE) AS sum_v
        |FROM events GROUP BY 1, 2""".stripMargin,

    "q24_recent_perf" -> (dailySql.replace("MIN(value) AS v_min, MAX(value) AS v_max",
      """MIN(value) AS v_min, MAX(value) AS v_max,
        |         sum(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END) / count(*) AS purchase_ratio""".stripMargin)
      .replace("SELECT user_id, day, n, v_avg, v_min, v_max,",
        "SELECT user_id, day, n, v_avg, v_min, v_max, purchase_ratio,") +
      """
        |SELECT user_id, day, n,
        | round(v_avg + 1e-7, 4) + 0 AS v_avg,
        | round(purchase_ratio + 1e-7, 4) + 0 AS purchase_ratio,
        | round(chg_next + 1e-7, 4) + 0 AS chg_next
        |FROM d3, (SELECT max(day) AS anchor FROM d3) a
        |WHERE day >= anchor - INTERVAL 14 DAY""".stripMargin),

    "q25_strong_corr" -> (dailySql +
      """
        |, c AS (
        |  SELECT user_id,
        |   CAST(sum(CASE WHEN chg_next IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT) AS sample_size,
        |   corr(v_avg, chg_next) AS corr_value,
        |   avg(chg_next) AS avg_chg
        |  FROM d3 GROUP BY 1)
        |SELECT user_id, sample_size,
        | round(corr_value + 1e-7, 4) + 0 AS corr_value,
        | round(avg_chg + 1e-7, 4) + 0 AS avg_chg
        |FROM c WHERE abs(corr_value) > 0.15 AND sample_size >= 10""".stripMargin),

    "q26_date_dim" ->
      """WITH r AS (SELECT min(CAST(o_orderdate AS DATE)) AS d0,
        |                  max(CAST(o_orderdate AS DATE)) AS d1 FROM orders),
        |d AS (SELECT unnest(generate_series(d0, d1, INTERVAL 1 DAY))::DATE AS date FROM r)
        |SELECT date, CAST(year(date) AS INT) AS year, CAST(month(date) AS INT) AS month,
        | CAST(day(date) AS INT) AS day, CAST(quarter(date) AS INT) AS quarter,
        | CAST(isodow(date) AS INT) AS dow,
        | CASE WHEN isodow(date) >= 6 THEN 1 ELSE 0 END AS is_weekend
        |FROM d""".stripMargin,

    "q27_skyline" ->
      """WITH o AS (SELECT o_orderkey, o_totalprice, CAST(o_orderdate AS DATE) AS order_date
        |           FROM orders)
        |SELECT o_orderkey, o_totalprice, order_date FROM o a
        |WHERE NOT EXISTS (
        |  SELECT 1 FROM o b
        |  WHERE b.o_totalprice >= a.o_totalprice AND b.order_date <= a.order_date
        |    AND (b.o_totalprice > a.o_totalprice OR b.order_date < a.order_date))""".stripMargin,

    "q29_rollup" ->
      """SELECT coalesce(l_returnflag, 'ALL') AS flag,
        | coalesce(l_linestatus, 'ALL') AS status,
        | CAST(round(sum(CAST(l_extendedprice AS DECIMAL(12,2)) * (1 - CAST(l_discount AS DECIMAL(12,2)))), 2) AS DOUBLE) AS revenue,
        | count(*) AS n
        |FROM lineitem
        |GROUP BY ROLLUP (l_returnflag, l_linestatus)""".stripMargin,

    "q30_distribution" ->
      """SELECT event_type, count(*) AS n,
        | round(quantile_cont(value, 0.5) + 1e-7, 4) + 0 AS p50,
        | round(quantile_cont(value, 0.9) + 1e-7, 4) + 0 AS p90,
        | round(min(value), 4) AS v_min,
        | round(max(value), 4) AS v_max
        |FROM events GROUP BY 1""".stripMargin,

    "q31_anti_semi" ->
      """SELECT c_mktsegment,
        | count(*) AS n_cust,
        | CAST(sum(CASE WHEN EXISTS (SELECT 1 FROM orders o WHERE o.o_custkey = c.c_custkey)
        |   THEN 1 ELSE 0 END) AS BIGINT) AS with_orders,
        | CAST(sum(CASE WHEN EXISTS (SELECT 1 FROM orders o WHERE o.o_custkey = c.c_custkey)
        |   THEN 0 ELSE 1 END) AS BIGINT) AS without_orders
        |FROM customer c GROUP BY 1""".stripMargin,

    "q32_sessionize_batch" ->
      """WITH e AS (
        |  SELECT user_id, event_id, epoch_us(ts) AS us, value,
        |   lag(epoch_us(ts)) OVER w AS prev
        |  FROM events
        |  WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)),
        |s AS (
        |  SELECT *, CASE WHEN prev IS NULL OR us - prev > 1800000000 THEN 1 ELSE 0 END AS newf
        |  FROM e),
        |sid AS (
        |  SELECT *, sum(newf) OVER (PARTITION BY user_id ORDER BY us, event_id
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS session_id
        |  FROM s)
        |SELECT user_id, CAST(session_id AS BIGINT) AS session_id,
        | count(*) AS n_events,
        | CAST(sum(CAST(value AS DECIMAL(18,4))) AS DOUBLE) AS total_value,
        | CAST(floor((max(us) - min(us)) / 1000000) AS BIGINT) AS duration_sec
        |FROM sid GROUP BY 1, 2""".stripMargin,

    "q33_small_qty_rev" ->
      """WITH a AS (
        |  SELECT l_partkey,
        |   CAST(sum(CAST(l_quantity AS DECIMAL(12,2))) AS DOUBLE) / count(*) AS avg_qty
        |  FROM lineitem GROUP BY 1)
        |SELECT
        | CAST(round(sum(CAST(l.l_extendedprice AS DECIMAL(12,2))), 2) AS DOUBLE) AS small_rev,
        | count(*) AS n
        |FROM lineitem l JOIN a ON l.l_partkey = a.l_partkey
        |WHERE l.l_quantity < a.avg_qty * 0.5""".stripMargin,

    "q34_cust_order_dist" ->
      """SELECT n_orders, count(*) AS n_customers
        |FROM (
        |  SELECT c.c_custkey, count(o.o_custkey) AS n_orders
        |  FROM customer c LEFT JOIN orders o ON c.c_custkey = o.o_custkey
        |  GROUP BY 1)
        |GROUP BY 1""".stripMargin,

    "q35_pivot" ->
      """SELECT user_id,
        | CAST(sum(CASE WHEN event_type = 'click' THEN 1 ELSE 0 END) AS BIGINT) AS click,
        | CAST(sum(CASE WHEN event_type = 'error' THEN 1 ELSE 0 END) AS BIGINT) AS error,
        | CAST(sum(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END) AS BIGINT) AS purchase,
        | CAST(sum(CASE WHEN event_type = 'signup' THEN 1 ELSE 0 END) AS BIGINT) AS signup,
        | CAST(sum(CASE WHEN event_type = 'view' THEN 1 ELSE 0 END) AS BIGINT) AS view
        |FROM events GROUP BY 1""".stripMargin,

    "q36_range_window" ->
      """SELECT user_id, event_id,
        | count(*) OVER w AS n_1h,
        | round(CAST(sum(CAST(value AS DECIMAL(18,4))) OVER w AS DOUBLE)
        |   / (count(*) OVER w) + 1e-7, 4) + 0 AS avg_1h
        |FROM events
        |WINDOW w AS (PARTITION BY user_id ORDER BY epoch_us(ts)
        |  RANGE BETWEEN 3600000000 PRECEDING AND CURRENT ROW)""".stripMargin,

    "q37_rank_funcs" ->
      """SELECT user_id, event_id,
        | CAST(ntile(4) OVER w AS INT) AS quartile,
        | round(percent_rank() OVER w + 1e-7, 4) + 0 AS pct_rank,
        | round(cume_dist() OVER w + 1e-7, 4) + 0 AS cume
        |FROM events
        |WINDOW w AS (PARTITION BY user_id ORDER BY value, event_id)""".stripMargin,

    "q38_setops" ->
      """WITH c AS (SELECT DISTINCT user_id FROM events WHERE event_type = 'click'),
        |p AS (SELECT DISTINCT user_id FROM events WHERE event_type = 'purchase')
        |SELECT 'click_only' AS segment, user_id FROM (SELECT user_id FROM c EXCEPT SELECT user_id FROM p)
        |UNION ALL
        |SELECT 'both' AS segment, user_id FROM (SELECT user_id FROM c INTERSECT SELECT user_id FROM p)""".stripMargin,

    "q39_market_summary" ->
      """WITH daily AS (
        |  SELECT user_id, CAST(ts AS DATE) AS day, COUNT(*) AS n,
        |         CAST(SUM(CAST(value AS DECIMAL(18,4))) AS DOUBLE) / COUNT(*) AS v_avg,
        |         sum(CASE WHEN event_type = 'click' THEN 1 ELSE 0 END) AS clicks,
        |         sum(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END) AS purchases
        |  FROM events GROUP BY 1, 2),
        |d2 AS (
        |  SELECT *, LEAD(v_avg) OVER (PARTITION BY user_id ORDER BY day) AS nxt FROM daily),
        |d3 AS (
        |  SELECT user_id, day, n, v_avg, clicks, purchases,
        |         CASE WHEN nxt IS NOT NULL AND v_avg <> 0
        |              THEN (nxt - v_avg) / v_avg * 100 END AS chg_next
        |  FROM d2)
        |SELECT day, count(DISTINCT user_id) AS num_users,
        | round(avg(chg_next) + 1e-7, 4) + 0 AS avg_chg,
        | round(CAST(sum(n) AS DOUBLE) / count(*) + 1e-7, 4) + 0 AS avg_volume,
        | round(avg(v_avg) + 1e-7, 4) + 0 AS market_value,
        | CAST(sum(clicks) AS BIGINT) AS total_news,
        | CAST(sum(purchases) AS BIGINT) AS total_filings
        |FROM d3, (SELECT max(day) AS anchor FROM d3) a
        |WHERE day >= anchor - INTERVAL 90 DAY
        |GROUP BY day""".stripMargin,

    "q40_bullish_filter" ->
      """WITH daily AS (
        |  SELECT user_id, CAST(ts AS DATE) AS day, COUNT(*) AS n,
        |         CAST(SUM(CAST(value AS DECIMAL(18,4))) AS DOUBLE) / COUNT(*) AS v_avg,
        |         sum(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END) / count(*) AS purchase_ratio
        |  FROM events GROUP BY 1, 2),
        |d2 AS (
        |  SELECT *, LEAD(v_avg) OVER (PARTITION BY user_id ORDER BY day) AS nxt FROM daily),
        |d3 AS (
        |  SELECT user_id, day, n, v_avg, purchase_ratio,
        |         CASE WHEN nxt IS NOT NULL AND v_avg <> 0
        |              THEN (nxt - v_avg) / v_avg * 100 END AS chg_next
        |  FROM d2)
        |SELECT user_id, day, n,
        | round(v_avg + 1e-7, 4) + 0 AS v_avg,
        | round(purchase_ratio + 1e-7, 4) + 0 AS purchase_ratio,
        | round(chg_next + 1e-7, 4) + 0 AS chg_next
        |FROM d3, (SELECT max(day) AS anchor FROM d3) a
        |WHERE day >= anchor - INTERVAL 7 DAY AND v_avg > 60 AND n >= 5""".stripMargin,

    "q50_topk_native" ->
      """SELECT user_id, event_id, round(value, 4) AS value
        |FROM events
        |QUALIFY row_number() OVER (
        |  PARTITION BY user_id ORDER BY value DESC, event_id) <= 3""".stripMargin,

    "q58_window_rewrite" ->
      """SELECT user_id, event_id, round(value, 4) AS value,
        | CAST(row_number() OVER (
        |  PARTITION BY user_id ORDER BY value DESC, event_id) AS INT) AS rn
        |FROM events
        |QUALIFY row_number() OVER (
        |  PARTITION BY user_id ORDER BY value DESC, event_id) <= 3""".stripMargin,

    "q48_rolling_distinct" ->
      """WITH d AS (SELECT DISTINCT user_id, CAST(ts AS DATE) AS day FROM events),
        |days AS (SELECT DISTINCT day FROM d)
        |SELECT w.day AS day, count(DISTINCT u.user_id) AS active_users_7d
        |FROM days w JOIN d u
        |  ON u.day >= w.day - INTERVAL 6 DAY AND u.day <= w.day
        |GROUP BY 1""".stripMargin,

    "q49_cumulative_users" ->
      """WITH f AS (
        |  SELECT user_id, min(CAST(ts AS DATE)) AS day FROM events GROUP BY 1),
        |n AS (SELECT day, count(*) AS new_users FROM f GROUP BY 1)
        |SELECT day, new_users,
        | CAST(sum(new_users) OVER (ORDER BY day
        |   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT)
        |   AS cumulative_users
        |FROM n""".stripMargin,

    "q47_top_events" -> (dailySql +
      """
        |SELECT user_id, day, n,
        | round(v_avg + 1e-7, 4) + 0 AS v_avg,
        | round(chg_next + 1e-7, 4) + 0 AS chg_next
        |FROM d3
        |WHERE chg_next IS NOT NULL AND abs(chg_next) > 50 AND n >= 3
        |ORDER BY abs(chg_next) DESC, n DESC, user_id, day
        |LIMIT 100""".stripMargin),

    "q41_ticker_summary" ->
      """WITH daily AS (
        |  SELECT user_id, CAST(ts AS DATE) AS day, COUNT(*) AS n,
        |         CAST(SUM(CAST(value AS DECIMAL(18,4))) AS DOUBLE) / COUNT(*) AS v_avg,
        |         sum(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END) / count(*) AS purchase_ratio,
        |         sum(CASE WHEN event_type = 'click' THEN 1 ELSE 0 END) / count(*) AS click_ratio
        |  FROM events GROUP BY 1, 2),
        |d2 AS (
        |  SELECT *,
        |   LEAD(v_avg) OVER w AS nxt,
        |   LAG(v_avg) OVER w AS prv
        |  FROM daily WINDOW w AS (PARTITION BY user_id ORDER BY day)),
        |d3 AS (
        |  SELECT user_id, day, n, v_avg, purchase_ratio, click_ratio,
        |   CASE WHEN nxt IS NOT NULL AND v_avg <> 0
        |        THEN (nxt - v_avg) / v_avg * 100 END AS chg_next,
        |   CASE WHEN prv IS NOT NULL AND prv <> 0
        |        THEN (v_avg - prv) / prv * 100 END AS chg_same
        |  FROM d2)
        |SELECT user_id,
        | count(*) AS days_with_news,
        | CAST(sum(n) AS BIGINT) AS total_events,
        | round(CAST(sum(n) AS DOUBLE) / count(*) + 1e-7, 4) + 0 AS avg_events_per_day,
        | round(avg(v_avg) + 1e-7, 4) + 0 AS avg_value,
        | round(stddev_samp(v_avg) + 1e-7, 4) + 0 AS value_volatility,
        | round(avg(purchase_ratio) + 1e-7, 4) + 0 AS avg_bullish_ratio,
        | round(avg(click_ratio) + 1e-7, 4) + 0 AS avg_bearish_ratio,
        | round(avg(chg_next) + 1e-7, 4) + 0 AS avg_chg,
        | round(corr(v_avg, chg_same) + 1e-7, 4) + 0 AS same_day_corr
        |FROM d3 GROUP BY 1""".stripMargin,

    "q42_period_ohlc" ->
      """WITH b AS (
        |  SELECT user_id, date_trunc('week', ts)::DATE AS wk, value,
        |   first_value(value) OVER (PARTITION BY user_id, date_trunc('week', ts)
        |     ORDER BY ts, event_id) AS open_v,
        |   last_value(value) OVER (PARTITION BY user_id, date_trunc('week', ts)
        |     ORDER BY ts, event_id
        |     ROWS BETWEEN UNBOUNDED PRECEDING AND UNBOUNDED FOLLOWING) AS close_v
        |  FROM events)
        |SELECT user_id, wk, count(*) AS n_events,
        | round(min(open_v), 4) AS open, round(min(close_v), 4) AS close,
        | round(max(value), 4) AS high, round(min(value), 4) AS low,
        | round(CAST(sum(CAST(value AS DECIMAL(18,4))) AS DOUBLE) / count(*) + 1e-7, 4) + 0 AS avg_value,
        | round(CASE WHEN min(open_v) <> 0
        |   THEN (min(close_v) - min(open_v)) / min(open_v) * 100 ELSE 0 END + 1e-7, 4) + 0 AS chg_pct
        |FROM b GROUP BY 1, 2""".stripMargin,

    "q43_market_breadth" -> (dailySql +
      """
        |SELECT day, count(*) AS num_users,
        | round(avg(v_avg) + 1e-7, 4) + 0 AS market_value,
        | CAST(sum(CASE WHEN v_avg > 60 THEN 1 ELSE 0 END) AS BIGINT) AS bullish,
        | CAST(sum(CASE WHEN v_avg < 40 THEN 1 ELSE 0 END) AS BIGINT) AS bearish,
        | CAST(sum(CASE WHEN v_avg >= 40 AND v_avg <= 60 THEN 1 ELSE 0 END) AS BIGINT) AS neutral,
        | round(avg(chg_next) + 1e-7, 4) + 0 AS avg_chg,
        | CAST(sum(n) AS BIGINT) AS total_events,
        | round(stddev_samp(v_avg) + 1e-7, 4) + 0 AS market_volatility
        |FROM d3 GROUP BY 1""".stripMargin),

    "q44_rsi" ->
      """WITH d AS (
        |  SELECT user_id, event_id, ts, value,
        |   value - lag(value) OVER w AS diff,
        |   lag(value) OVER w AS prev
        |  FROM events
        |  WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)),
        |g AS (
        |  SELECT user_id, event_id, ts, value,
        |   CASE WHEN prev IS NULL THEN NULL WHEN diff > 0 THEN diff ELSE 0 END AS gain,
        |   CASE WHEN prev IS NULL THEN NULL WHEN diff < 0 THEN -diff ELSE 0 END AS loss
        |  FROM d),
        |a AS (
        |  SELECT user_id, event_id, value,
        |   CAST(sum(CAST(gain AS DECIMAL(18,4))) OVER w14 AS DOUBLE)
        |     / count(gain) OVER w14 AS g_avg,
        |   CAST(sum(CAST(loss AS DECIMAL(18,4))) OVER w14 AS DOUBLE)
        |     / count(loss) OVER w14 AS l_avg,
        |   count(gain) OVER w14 AS n_diff
        |  FROM g
        |  WINDOW w14 AS (PARTITION BY user_id ORDER BY ts, event_id
        |    ROWS BETWEEN 13 PRECEDING AND CURRENT ROW))
        |SELECT user_id, event_id, round(value, 4) AS value,
        | round(CASE WHEN n_diff = 0 THEN NULL
        |            WHEN l_avg = 0 THEN 100.0
        |            ELSE 100.0 - 100.0 / (1.0 + g_avg / l_avg) END + 1e-7, 4) + 0 AS rsi_14
        |FROM a""".stripMargin,

    "q45_macd" ->
      // `+ 0` after each round: MACD's near-zero 4dp-lattice values can
      // round to zero from below, where DuckDB returns IEEE -0.0 but
      // Spark's BigDecimal round returns +0.0; adding +0.0 maps -0.0 to
      // +0.0 (exact identity for every other double), aligning the engines.
      s"""WITH m AS (
         |  SELECT user_id, event_id, ts,
         |   round(${slidingAvgSql(20)} - ${slidingAvgSql(50)} + 1e-7, 4) + 0 AS macd
         |  FROM events),
         |s AS (
         |  SELECT user_id, event_id, macd,
         |   round(CAST(sum(CAST(macd AS DECIMAL(18,4))) OVER w9 AS DOUBLE)
         |     / count(macd) OVER w9 + 1e-7, 4) + 0 AS macd_signal
         |  FROM m
         |  WINDOW w9 AS (PARTITION BY user_id ORDER BY ts, event_id
         |    ROWS BETWEEN 8 PRECEDING AND CURRENT ROW))
         |SELECT user_id, event_id, macd, macd_signal,
         | round(macd - macd_signal + 1e-7, 4) + 0 AS macd_hist
         |FROM s""".stripMargin,

    "q46_drawdown" ->
      """SELECT user_id, event_id, round(value, 4) AS value,
        | round(max(value) OVER w, 4) AS peak,
        | round(CASE WHEN max(value) OVER w > 0
        |   THEN (value - max(value) OVER w) / (max(value) OVER w) * 100
        |   ELSE 0 END + 1e-7, 4) + 0 AS drawdown_pct
        |FROM events
        |WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id
        |  ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)""".stripMargin,

    "q51_vwap" ->
      """SELECT l_partkey, count(*) AS n_lines,
        | CAST(sum(CAST(l_quantity AS DECIMAL(12,2))) AS DOUBLE) AS total_qty,
        | round(CAST(sum(CAST(l_extendedprice AS DECIMAL(12,2)) *
        |                 CAST(l_quantity AS DECIMAL(12,2))) AS DOUBLE)
        |   / CAST(sum(CAST(l_quantity AS DECIMAL(12,2))) AS DOUBLE) + 1e-7, 4) + 0 AS vwap
        |FROM lineitem GROUP BY 1""".stripMargin,

    "q131_channel_osc" ->
      """WITH a AS (
        |  SELECT user_id, event_id, ts, value,
        |   min(value) OVER w20 AS lo, max(value) OVER w20 AS hi,
        |   round(CAST(sum(CAST(value AS DECIMAL(18,4))) OVER w20 AS DOUBLE)
        |     / count(value) OVER w20 + 1e-7, 4) + 0 AS sma4
        |  FROM events
        |  WINDOW w20 AS (PARTITION BY user_id ORDER BY ts, event_id
        |    ROWS BETWEEN 19 PRECEDING AND CURRENT ROW)),
        |d AS (
        |  SELECT *, round(abs(value - sma4) + 1e-7, 4) + 0 AS dev4
        |  FROM a),
        |m AS (
        |  SELECT user_id, event_id, value, lo, hi, sma4,
        |   round(CAST(sum(CAST(dev4 AS DECIMAL(18,4))) OVER w20 AS DOUBLE)
        |     / count(dev4) OVER w20 + 1e-7, 4) + 0 AS md4
        |  FROM d
        |  WINDOW w20 AS (PARTITION BY user_id ORDER BY ts, event_id
        |    ROWS BETWEEN 19 PRECEDING AND CURRENT ROW))
        |SELECT user_id, event_id,
        | round(lo + 1e-7, 4) + 0 AS donch_lo,
        | round(hi + 1e-7, 4) + 0 AS donch_hi,
        | round((hi + lo) / 2.0 + 1e-7, 4) + 0 AS donch_mid,
        | round(CASE WHEN hi <> lo THEN (hi - value) / (hi - lo) * -100.0
        |            ELSE -50.0 END + 1e-7, 4) + 0 AS will_r,
        | round(CASE WHEN md4 <> 0.0 THEN (value - sma4) / (0.015 * md4)
        |            ELSE 0.0 END + 1e-7, 4) + 0 AS cci
        |FROM m""".stripMargin,

    "q52_stochastic" ->
      """WITH a AS (
        |  SELECT user_id, event_id, ts, value,
        |   min(value) OVER w14 AS lo, max(value) OVER w14 AS hi
        |  FROM events
        |  WINDOW w14 AS (PARTITION BY user_id ORDER BY ts, event_id
        |    ROWS BETWEEN 13 PRECEDING AND CURRENT ROW)),
        |k AS (
        |  SELECT user_id, event_id, ts, value,
        |   round(CASE WHEN hi <> lo THEN (value - lo) / (hi - lo) * 100.0
        |              ELSE 50.0 END + 1e-7, 4) + 0 AS stoch_k
        |  FROM a)
        |SELECT user_id, event_id, round(value, 4) AS value, stoch_k,
        | round(CAST(sum(CAST(stoch_k AS DECIMAL(18,4))) OVER w3 AS DOUBLE)
        |   / count(stoch_k) OVER w3 + 1e-7, 4) + 0 AS stoch_d
        |FROM k
        |WINDOW w3 AS (PARTITION BY user_id ORDER BY ts, event_id
        |  ROWS BETWEEN 2 PRECEDING AND CURRENT ROW)""".stripMargin,

    "q53_obv" -> (dailySql +
      """,
        |o AS (
        |  SELECT user_id, day, n,
        |   CASE WHEN lag(v_avg) OVER w IS NULL THEN 0
        |        WHEN v_avg > lag(v_avg) OVER w THEN 1
        |        WHEN v_avg < lag(v_avg) OVER w THEN -1
        |        ELSE 0 END AS dir
        |  FROM d3 WINDOW w AS (PARTITION BY user_id ORDER BY day))
        |SELECT user_id, day, n,
        | CAST(sum(dir * n) OVER (PARTITION BY user_id ORDER BY day
        |   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS obv
        |FROM o""".stripMargin),

    "q54_pair_corr" -> (dailySql +
      """
        |SELECT a.user_id AS user_a, b.user_id AS user_b, count(*) AS n_days,
        | round(corr(a.v_avg, b.v_avg) + 1e-7, 4) + 0 AS corr_v
        |FROM d3 a JOIN d3 b ON a.day = b.day AND a.user_id < b.user_id
        |WHERE a.user_id % 5 = 0 AND b.user_id % 5 = 0
        |GROUP BY 1, 2 HAVING count(*) >= 20""".stripMargin),

    "q55_sharpe" -> (dailySql +
      """
        |SELECT user_id, count(chg_next) AS n_ret,
        | round(avg(chg_next) + 1e-7, 4) + 0 AS mean_chg,
        | round(stddev_samp(chg_next) + 1e-7, 4) + 0 AS sd_chg,
        | round(avg(chg_next) / stddev_samp(chg_next) * sqrt(252) + 1e-7, 4) + 0 AS sharpe_ann
        |FROM d3 GROUP BY 1
        |HAVING count(chg_next) >= 20 AND stddev_samp(chg_next) IS NOT NULL
        |   AND stddev_samp(chg_next) <> 0""".stripMargin),

    "q56_beta" ->
      """WITH daily AS (
        |  SELECT user_id, CAST(ts AS DATE) AS day,
        |         CAST(SUM(CAST(value AS DECIMAL(18,4))) AS DOUBLE) / COUNT(*) AS v_avg
        |  FROM events GROUP BY 1, 2),
        |d2 AS (
        |  SELECT *, lag(v_avg) OVER (PARTITION BY user_id ORDER BY day) AS prv
        |  FROM daily),
        |d3 AS (
        |  SELECT user_id, day,
        |   CASE WHEN prv IS NOT NULL AND prv <> 0
        |        THEN (v_avg - prv) / prv * 100 END AS chg
        |  FROM d2),
        |d4 AS (SELECT * FROM d3 WHERE chg IS NOT NULL),
        |m AS (SELECT day, avg(chg) AS mkt FROM d4 GROUP BY 1),
        |j AS (SELECT d4.user_id, d4.chg, m.mkt FROM d4 JOIN m USING (day))
        |SELECT user_id, count(*) AS n_days,
        | round(CASE WHEN var_samp(mkt) <> 0
        |            THEN covar_samp(chg, mkt) / var_samp(mkt) END + 1e-7, 4) + 0 AS beta,
        | round(corr(chg, mkt) + 1e-7, 4) + 0 AS mkt_corr
        |FROM j GROUP BY 1 HAVING count(*) >= 20""".stripMargin,

    "q57_atr" ->
      """WITH b AS (
        |  SELECT user_id, CAST(ts AS DATE) AS day, value,
        |   last_value(value) OVER (PARTITION BY user_id, CAST(ts AS DATE)
        |     ORDER BY ts, event_id
        |     ROWS BETWEEN UNBOUNDED PRECEDING AND UNBOUNDED FOLLOWING) AS close_v
        |  FROM events),
        |d AS (
        |  SELECT user_id, day, max(value) AS high, min(value) AS low,
        |   min(close_v) AS close
        |  FROM b GROUP BY 1, 2),
        |t AS (
        |  SELECT user_id, day, high, low, close,
        |   CAST(CASE WHEN lag(close) OVER w IS NULL THEN high - low
        |        ELSE greatest(high - low,
        |                      abs(high - lag(close) OVER w),
        |                      abs(low - lag(close) OVER w)) END
        |     AS DECIMAL(18,4)) AS tr_dec
        |  FROM d WINDOW w AS (PARTITION BY user_id ORDER BY day))
        |SELECT user_id, day, round(high, 4) AS high, round(low, 4) AS low,
        | round(close, 4) AS close, CAST(tr_dec AS DOUBLE) AS tr,
        | round(CAST(sum(tr_dec) OVER w14 AS DOUBLE)
        |   / count(tr_dec) OVER w14 + 1e-7, 4) + 0 AS atr_14
        |FROM t WINDOW w14 AS (PARTITION BY user_id ORDER BY day
        |  ROWS BETWEEN 13 PRECEDING AND CURRENT ROW)""".stripMargin,

    "q132_keltner" ->
      """WITH b AS (
        |  SELECT user_id, CAST(ts AS DATE) AS day, value,
        |   last_value(value) OVER (PARTITION BY user_id, CAST(ts AS DATE)
        |     ORDER BY ts, event_id
        |     ROWS BETWEEN UNBOUNDED PRECEDING AND UNBOUNDED FOLLOWING) AS close_v
        |  FROM events),
        |d AS (
        |  SELECT user_id, day, max(value) AS high, min(value) AS low,
        |   min(close_v) AS close
        |  FROM b GROUP BY 1, 2),
        |t AS (
        |  SELECT user_id, day,
        |   CAST(CASE WHEN lag(close) OVER w IS NULL THEN high - low
        |        ELSE greatest(high - low,
        |                      abs(high - lag(close) OVER w),
        |                      abs(low - lag(close) OVER w)) END
        |     AS DECIMAL(18,4)) AS tr_dec,
        |   round((high + low + close) / 3.0 + 1e-7, 4) + 0 AS typ4
        |  FROM d WINDOW w AS (PARTITION BY user_id ORDER BY day)),
        |m AS (
        |  SELECT user_id, day,
        |   round(CAST(sum(CAST(typ4 AS DECIMAL(18,4))) OVER w20 AS DOUBLE)
        |     / count(typ4) OVER w20 + 1e-7, 4) + 0 AS mid,
        |   round(CAST(sum(tr_dec) OVER w14 AS DOUBLE)
        |     / count(tr_dec) OVER w14 + 1e-7, 4) + 0 AS atr_14
        |  FROM t
        |  WINDOW w20 AS (PARTITION BY user_id ORDER BY day
        |    ROWS BETWEEN 19 PRECEDING AND CURRENT ROW),
        |   w14 AS (PARTITION BY user_id ORDER BY day
        |    ROWS BETWEEN 13 PRECEDING AND CURRENT ROW))
        |SELECT user_id, day, mid, atr_14,
        | round(mid + 2.0 * atr_14 + 1e-7, 4) + 0 AS kelt_up,
        | round(mid - 2.0 * atr_14 + 1e-7, 4) + 0 AS kelt_lo
        |FROM m""".stripMargin,

    "q133_roc" ->
      """SELECT user_id, event_id,
        | round(CASE WHEN lag(value, 12) OVER w IS NOT NULL
        |             AND lag(value, 12) OVER w <> 0.0
        |        THEN (value - lag(value, 12) OVER w)
        |          / lag(value, 12) OVER w * 100.0 END + 1e-7, 4) + 0 AS roc_12
        |FROM events
        |WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)""".stripMargin,

    "q59_grouping_sets" ->
      """SELECT coalesce(l_returnflag, 'ALL') AS flag,
        | coalesce(l_linestatus, 'ALL') AS status,
        | CAST(round(sum(CAST(l_extendedprice AS DECIMAL(12,2)) * (1 - CAST(l_discount AS DECIMAL(12,2)))), 2) AS DOUBLE) AS revenue,
        | count(*) AS n
        |FROM lineitem
        |GROUP BY GROUPING SETS ((l_returnflag, l_linestatus),
        |  (l_returnflag), (l_linestatus), ())""".stripMargin,

    "q88_cube" ->
      """SELECT coalesce(l_returnflag, 'ALL') AS flag,
        | coalesce(l_linestatus, 'ALL') AS status,
        | coalesce(CAST(year(l_shipdate) AS INT), -1) AS yr,
        | CAST(round(sum(CAST(l_extendedprice AS DECIMAL(12,2)) * (1 - CAST(l_discount AS DECIMAL(12,2)))), 2) AS DOUBLE) AS revenue,
        | count(*) AS n
        |FROM lineitem
        |GROUP BY CUBE (l_returnflag, l_linestatus, year(l_shipdate))""".stripMargin,

    "q60_unpivot" ->
      """WITH wide AS (
        |  SELECT user_id,
        |   CAST(sum(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END) AS BIGINT) AS purchases,
        |   CAST(sum(CASE WHEN event_type = 'click' THEN 1 ELSE 0 END) AS BIGINT) AS clicks,
        |   CAST(sum(CASE WHEN event_type = 'error' THEN 1 ELSE 0 END) AS BIGINT) AS errors
        |  FROM events GROUP BY 1)
        |SELECT user_id, 'purchases' AS metric, purchases AS cnt FROM wide
        |UNION ALL
        |SELECT user_id, 'clicks' AS metric, clicks AS cnt FROM wide
        |UNION ALL
        |SELECT user_id, 'errors' AS metric, errors AS cnt FROM wide""".stripMargin,

    "q61_range_join" ->
      """WITH err AS (
        |  SELECT event_id AS err_id,
        |   ts - INTERVAL 30 MINUTE AS w_start,
        |   ts + INTERVAL 30 MINUTE AS w_end
        |  FROM events WHERE event_type = 'error'),
        |p AS (SELECT event_id AS p_id, ts AS p_ts
        |      FROM events WHERE event_type = 'purchase')
        |SELECT err_id, count(*) AS n_purchases
        |FROM err JOIN p ON p.p_ts >= err.w_start AND p.p_ts <= err.w_end
        |GROUP BY 1""".stripMargin,

    "q62_correlated" ->
      """SELECT l_partkey, l_orderkey, l_linenumber,
        |       l_extendedprice AS price
        |FROM lineitem
        |WHERE l_extendedprice = (SELECT min(l2.l_extendedprice)
        |                         FROM lineitem l2
        |                         WHERE l2.l_partkey = lineitem.l_partkey)""".stripMargin,

    "q63_returned_topk" ->
      """SELECT c.c_custkey, c.c_name,
        | CAST(round(sum(CAST(l_extendedprice AS DECIMAL(12,2)) * (1 - CAST(l_discount AS DECIMAL(12,2)))), 2) AS DOUBLE) AS revenue,
        | count(*) AS n_items
        |FROM lineitem l
        |JOIN orders o ON l.l_orderkey = o.o_orderkey
        |JOIN customer c ON o.o_custkey = c.c_custkey
        |WHERE l.l_returnflag = 'R'
        |GROUP BY 1, 2
        |ORDER BY revenue DESC, c.c_custkey
        |LIMIT 20""".stripMargin,

    "q64_promo_share" ->
      """WITH a AS (
        |  SELECT
        |   CAST(round(sum(CASE WHEN p_type = 'PROMO'
        |     THEN CAST(l_extendedprice AS DECIMAL(12,2)) * (1 - CAST(l_discount AS DECIMAL(12,2))) END), 2) AS DOUBLE) AS promo_rev,
        |   CAST(round(sum(CAST(l_extendedprice AS DECIMAL(12,2)) * (1 - CAST(l_discount AS DECIMAL(12,2)))), 2) AS DOUBLE) AS total_rev
        |  FROM lineitem JOIN part ON l_partkey = p_partkey)
        |SELECT promo_rev, total_rev,
        | round(promo_rev / total_rev * 100 + 1e-7, 4) + 0 AS promo_share
        |FROM a""".stripMargin,

    "q65_big_orders" ->
      """WITH big AS (
        |  SELECT l_orderkey,
        |   CAST(sum(CAST(l_quantity AS DECIMAL(12,2))) AS DOUBLE) AS total_qty
        |  FROM lineitem GROUP BY 1
        |  HAVING sum(CAST(l_quantity AS DECIMAL(12,2))) > 250)
        |SELECT c.c_custkey, c.c_name, o.o_orderkey,
        | CAST(o.o_orderdate AS DATE) AS order_date, o.o_totalprice, b.total_qty
        |FROM big b
        |JOIN orders o ON b.l_orderkey = o.o_orderkey
        |JOIN customer c ON o.o_custkey = c.c_custkey
        |ORDER BY o.o_totalprice DESC, o.o_orderkey
        |LIMIT 100""".stripMargin,

    "q66_salted_agg" ->
      """SELECT event_type,
        | CAST(sum(CAST(value AS DECIMAL(18,4))) AS DOUBLE) AS sum_v,
        | count(*) AS n
        |FROM events GROUP BY 1""".stripMargin,

    "q71_tpch21" ->
      """SELECT s_name, CAST(count(*) AS BIGINT) AS numwait
        |FROM supplier, lineitem l1, orders
        |WHERE s_suppkey = l1.l_suppkey AND o_orderkey = l1.l_orderkey
        |  AND o_orderstatus = 'F' AND l1.l_returnflag = 'R'
        |  AND EXISTS (SELECT 1 FROM lineitem l2
        |              WHERE l2.l_orderkey = l1.l_orderkey
        |                AND l2.l_suppkey <> l1.l_suppkey)
        |  AND NOT EXISTS (SELECT 1 FROM lineitem l3
        |                  WHERE l3.l_orderkey = l1.l_orderkey
        |                    AND l3.l_suppkey <> l1.l_suppkey
        |                    AND l3.l_returnflag = 'R')
        |GROUP BY s_name
        |ORDER BY numwait DESC, s_name
        |LIMIT 20""".stripMargin,

    "q72_tpch22" ->
      """WITH c AS (
        |  SELECT c_custkey, c_nationkey, CAST(c_acctbal AS DECIMAL(12,2)) AS bal
        |  FROM customer WHERE c_nationkey IN (1, 3, 5, 7, 9)),
        |t AS (SELECT CAST(sum(bal) AS DOUBLE) / count(*) AS avg_bal
        |      FROM c WHERE bal > 0)
        |SELECT c_nationkey, CAST(count(*) AS BIGINT) AS n_cust,
        | CAST(round(sum(bal), 2) AS DOUBLE) AS total_bal
        |FROM c, t
        |WHERE CAST(bal AS DOUBLE) > t.avg_bal
        |  AND NOT EXISTS (SELECT 1 FROM orders o
        |                  WHERE o.o_custkey = c.c_custkey
        |                    AND o.o_orderpriority = '1-URGENT')
        |GROUP BY c_nationkey
        |ORDER BY c_nationkey""".stripMargin,

    "q73_interval_overlap" ->
      """WITH p AS (
        |  SELECT event_id AS p_id, user_id, ts AS p_start,
        |         ts + INTERVAL 12 HOUR AS p_end
        |  FROM events WHERE event_type = 'purchase'),
        |c AS (
        |  SELECT event_id AS c_id, user_id, ts AS c_start,
        |         ts + INTERVAL 6 HOUR AS c_end
        |  FROM events WHERE event_type = 'click')
        |SELECT p.user_id, p_id, c_id,
        | CAST(floor((epoch_us(least(p_end, c_end)) - epoch_us(greatest(p_start, c_start))) / 1000000.0) AS BIGINT) AS overlap_sec
        |FROM p JOIN c ON p.user_id = c.user_id
        |  AND p_start <= c_end AND c_start <= p_end""".stripMargin,

    "q74_scd2_dim" ->
      """WITH cur AS (
        |  SELECT c_custkey, CAST(CAST(c_acctbal AS DECIMAL(12,2)) AS DOUBLE) AS bal,
        |         DATE '1995-01-01' AS eff_from, 0 AS prec
        |  FROM customer),
        |chg AS (
        |  SELECT c_custkey, bal, eff_from, 1 AS prec FROM (
        |    SELECT o_custkey AS c_custkey,
        |           CAST(CAST(o_totalprice AS DECIMAL(12,2)) AS DOUBLE) AS bal,
        |           CAST(o_orderdate AS DATE) AS eff_from, o_orderkey
        |    FROM orders)
        |  QUALIFY row_number() OVER (PARTITION BY c_custkey, eff_from
        |                             ORDER BY o_orderkey DESC) = 1),
        |u AS (
        |  SELECT c_custkey, bal, eff_from
        |  FROM (SELECT * FROM cur UNION ALL SELECT * FROM chg)
        |  QUALIFY row_number() OVER (PARTITION BY c_custkey, eff_from
        |                             ORDER BY prec DESC) = 1)
        |SELECT c_custkey, bal, eff_from,
        | lead(eff_from) OVER (PARTITION BY c_custkey ORDER BY eff_from) - 1 AS eff_to,
        | lead(eff_from) OVER (PARTITION BY c_custkey ORDER BY eff_from) IS NULL AS is_current
        |FROM u""".stripMargin,

    "q77_tpch6" ->
      """SELECT
        | CAST(round(sum(CAST(l_extendedprice AS DECIMAL(12,2)) * CAST(l_discount AS DECIMAL(12,2))), 2) AS DOUBLE) AS revenue,
        | CAST(count(*) AS BIGINT) AS n
        |FROM lineitem
        |WHERE CAST(l_shipdate AS DATE) >= DATE '1997-01-01'
        |  AND CAST(l_shipdate AS DATE) < DATE '1998-01-01'
        |  AND CAST(l_discount AS DECIMAL(12,2)) BETWEEN 0.04 AND 0.06
        |  AND l_quantity < 24""".stripMargin,

    "q78_tpch15" ->
      """WITH rev AS (
        |  SELECT l_suppkey,
        |   CAST(round(sum(CAST(l_extendedprice AS DECIMAL(12,2)) * (1 - CAST(l_discount AS DECIMAL(12,2)))), 2) AS DOUBLE) AS total_rev
        |  FROM lineitem
        |  WHERE CAST(l_shipdate AS DATE) >= DATE '1997-10-01'
        |    AND CAST(l_shipdate AS DATE) < DATE '1998-01-01'
        |  GROUP BY 1)
        |SELECT s_suppkey, s_name, total_rev
        |FROM supplier, rev
        |WHERE s_suppkey = l_suppkey
        |  AND total_rev = (SELECT max(total_rev) FROM rev)""".stripMargin,

    "q79_tpch16" ->
      """SELECT p_brand, p_type, p_size,
        | CAST(count(DISTINCT l_suppkey) AS BIGINT) AS supplier_cnt
        |FROM lineitem JOIN part ON p_partkey = l_partkey
        |WHERE p_type <> 'PROMO' AND p_size IN (1, 9, 14, 19, 23, 36, 45, 49)
        |  AND l_suppkey NOT IN (SELECT s_suppkey FROM supplier WHERE s_suppkey % 10 = 0)
        |GROUP BY 1, 2, 3""".stripMargin,

    "q80_tpch2" ->
      """WITH cost AS (
        |  SELECT l_partkey, l_suppkey, p_brand,
        |         min(CAST(l_extendedprice AS DECIMAL(12,2))) AS supp_cost
        |  FROM lineitem JOIN part ON p_partkey = l_partkey
        |  WHERE p_size BETWEEN 1 AND 15 AND p_type = 'ECONOMY'
        |  GROUP BY 1, 2, 3),
        |mincost AS (SELECT l_partkey AS mk, min(supp_cost) AS min_cost
        |            FROM cost GROUP BY 1)
        |SELECT l_partkey AS p_partkey, p_brand, s_suppkey, s_name,
        | CAST(min_cost AS DOUBLE) AS cost
        |FROM cost JOIN mincost ON l_partkey = mk AND supp_cost = min_cost
        |JOIN supplier ON s_suppkey = l_suppkey
        |ORDER BY p_partkey, s_suppkey
        |LIMIT 100""".stripMargin,

    "q81_tpch11" ->
      """WITH val AS (
        |  SELECT l_partkey,
        |   CAST(sum(CAST(l_extendedprice AS DECIMAL(12,2)) * CAST(l_quantity AS DECIMAL(12,2))) AS DECIMAL(28,4)) AS v
        |  FROM lineitem
        |  JOIN supplier ON s_suppkey = l_suppkey
        |  JOIN nation ON n_nationkey = s_nationkey
        |  WHERE n_regionkey = 2
        |  GROUP BY 1)
        |SELECT l_partkey, CAST(v AS DOUBLE) AS part_value
        |FROM val
        |WHERE CAST(v AS DOUBLE) > (SELECT CAST(sum(v) AS DOUBLE) / count(*) * 2 FROM val)""".stripMargin,

    "q82_tpch20" ->
      """WITH shipped AS (
        |  SELECT l_partkey, l_suppkey, sum(CAST(l_quantity AS DECIMAL(12,2))) AS sq
        |  FROM lineitem
        |  WHERE CAST(l_shipdate AS DATE) >= DATE '1997-01-01'
        |    AND CAST(l_shipdate AS DATE) < DATE '1998-01-01'
        |  GROUP BY 1, 2),
        |tot AS (SELECT l_partkey, sum(sq) AS tq, count(*) AS nsupp
        |        FROM shipped GROUP BY 1)
        |SELECT DISTINCT s_suppkey, s_name
        |FROM shipped JOIN tot USING (l_partkey)
        |JOIN supplier ON s_suppkey = l_suppkey
        |WHERE nsupp >= 4 AND sq > CAST(0.6 AS DECIMAL(2,1)) * tq""".stripMargin,

    "q83_tpch7" ->
      """SELECT sn.n_regionkey AS supp_region, cn.n_regionkey AS cust_region,
        | CAST(year(l_shipdate) AS INT) AS l_year,
        | CAST(round(sum(CAST(l_extendedprice AS DECIMAL(12,2)) * (1 - CAST(l_discount AS DECIMAL(12,2)))), 2) AS DOUBLE) AS volume
        |FROM lineitem
        |JOIN orders ON o_orderkey = l_orderkey
        |JOIN supplier ON s_suppkey = l_suppkey
        |JOIN customer ON c_custkey = o_custkey
        |JOIN nation sn ON sn.n_nationkey = s_nationkey
        |JOIN nation cn ON cn.n_nationkey = c_nationkey
        |WHERE ((sn.n_regionkey = 1 AND cn.n_regionkey = 2)
        |    OR (sn.n_regionkey = 2 AND cn.n_regionkey = 1))
        |  AND CAST(l_shipdate AS DATE) >= DATE '1996-01-01'
        |  AND CAST(l_shipdate AS DATE) < DATE '1998-01-01'
        |GROUP BY 1, 2, 3""".stripMargin,

    "q84_tpch8" ->
      """WITH vol AS (
        |  SELECT CAST(year(o_orderdate) AS INT) AS o_year,
        |   CAST(l_extendedprice AS DECIMAL(12,2)) * (1 - CAST(l_discount AS DECIMAL(12,2))) AS rd,
        |   s_nationkey
        |  FROM lineitem
        |  JOIN orders ON o_orderkey = l_orderkey
        |  JOIN supplier ON s_suppkey = l_suppkey
        |  WHERE o_custkey IN (SELECT c_custkey FROM customer
        |                      JOIN nation ON n_nationkey = c_nationkey
        |                      WHERE n_regionkey = 1)
        |    AND CAST(o_orderdate AS DATE) >= DATE '1996-01-01'
        |    AND CAST(o_orderdate AS DATE) < DATE '1998-01-01')
        |SELECT o_year,
        | round(CAST(sum(CASE WHEN s_nationkey = 7 THEN rd ELSE CAST(0 AS DECIMAL(12,2)) END) AS DOUBLE)
        |   / CAST(sum(rd) AS DOUBLE) + 1e-7, 4) + 0 AS mkt_share
        |FROM vol GROUP BY 1""".stripMargin,

    "q85_tpch9" ->
      """SELECT n_name AS nation, CAST(year(o_orderdate) AS INT) AS o_year,
        | CAST(round(sum(
        |   CAST(l_extendedprice AS DECIMAL(12,2)) * (1 - CAST(l_discount AS DECIMAL(12,2)))
        |   - CAST(p_retailprice AS DECIMAL(12,2)) * CAST(l_quantity AS DECIMAL(12,2)) * CAST(0.05 AS DECIMAL(3,2))), 2) AS DOUBLE) AS profit
        |FROM lineitem
        |JOIN part ON p_partkey = l_partkey
        |JOIN orders ON o_orderkey = l_orderkey
        |JOIN supplier ON s_suppkey = l_suppkey
        |JOIN nation ON n_nationkey = s_nationkey
        |WHERE p_type = 'PROMO'
        |GROUP BY 1, 2""".stripMargin,

    "q86_data_quality" ->
      """SELECT "check", metric, metric <= 0.0 AS pass FROM (
        |SELECT 'completeness_l_quantity' AS "check",
        | CAST(sum(CASE WHEN l_quantity IS NULL THEN 1 ELSE 0 END) AS DOUBLE) / count(*) AS metric
        |FROM lineitem
        |UNION ALL
        |SELECT 'completeness_l_returnflag',
        | CAST(sum(CASE WHEN l_returnflag IS NULL THEN 1 ELSE 0 END) AS DOUBLE) / count(*)
        |FROM lineitem
        |UNION ALL
        |SELECT 'range_l_discount',
        | CAST(sum(CASE WHEN l_discount < 0 OR l_discount > 1 THEN 1 ELSE 0 END) AS DOUBLE)
        |FROM lineitem
        |UNION ALL
        |SELECT 'uniqueness_l_orderkey_l_linenumber',
        | CAST(coalesce(sum(n), 0) AS DOUBLE)
        |FROM (SELECT count(*) AS n FROM lineitem
        |      GROUP BY l_orderkey, l_linenumber HAVING count(*) > 1)
        |UNION ALL
        |SELECT 'ri_l_orderkey',
        | CAST(count(*) AS DOUBLE)
        |FROM (SELECT DISTINCT l_orderkey FROM lineitem l
        |      WHERE l_orderkey IS NOT NULL
        |        AND NOT EXISTS (SELECT 1 FROM orders o
        |                        WHERE o.o_orderkey = l.l_orderkey))
        |)""".stripMargin,

    "q76_cdc_apply" ->
      """WITH snap AS (
        |  SELECT c_custkey, CAST(CAST(c_acctbal AS DECIMAL(12,2)) AS DOUBLE) AS bal
        |  FROM customer),
        |chg AS (
        |  SELECT o_custkey AS c_custkey,
        |         CAST(CAST(o_totalprice AS DECIMAL(12,2)) AS DOUBLE) AS bal,
        |         CASE WHEN o_orderstatus = 'F' THEN 'D' ELSE 'U' END AS op
        |  FROM orders
        |  QUALIFY row_number() OVER (PARTITION BY o_custkey
        |                             ORDER BY o_orderdate DESC, o_orderkey DESC) = 1)
        |SELECT c_custkey, bal FROM snap
        |WHERE c_custkey NOT IN (SELECT c_custkey FROM chg)
        |UNION ALL
        |SELECT c_custkey, bal FROM chg WHERE op <> 'D'""".stripMargin,

    "q75_incremental_agg" ->
      """WITH q AS (SELECT l_returnflag, CAST(l_quantity AS DECIMAL(18,4)) AS q
        |           FROM lineitem)
        |SELECT l_returnflag, CAST(count(q) AS BIGINT) AS n,
        | CAST(sum(q) AS DOUBLE) AS sum_v,
        | CAST(min(q) AS DOUBLE) AS min_v,
        | CAST(max(q) AS DOUBLE) AS max_v,
        | CAST(sum(q) AS DOUBLE) / count(q) AS avg_v
        |FROM q GROUP BY 1""".stripMargin,

    "q87_asof_forward" ->
      """WITH clicks AS (
        |  SELECT user_id, ts, event_id FROM events WHERE event_type = 'click'
        |  QUALIFY row_number() OVER (PARTITION BY user_id, ts ORDER BY event_id DESC) = 1),
        |p AS (SELECT user_id, ts, event_id FROM events WHERE event_type = 'purchase')
        |SELECT p.event_id AS p_event_id, p.user_id,
        | c.event_id AS click_event_id,
        | CASE WHEN c.event_id IS NOT NULL
        |   THEN CAST(floor((epoch_us(c.ts) - epoch_us(p.ts)) / 1000000.0) AS BIGINT)
        | END AS gap_sec
        |FROM p ASOF LEFT JOIN clicks c
        |  ON p.user_id = c.user_id AND p.ts <= c.ts""".stripMargin,

    "q23_asof_join" ->
      """WITH clicks AS (
        |  SELECT user_id, ts, event_id FROM events WHERE event_type = 'click'
        |  QUALIFY row_number() OVER (PARTITION BY user_id, ts ORDER BY event_id DESC) = 1),
        |p AS (SELECT user_id, ts, event_id FROM events WHERE event_type = 'purchase')
        |SELECT p.event_id AS p_event_id, p.user_id,
        | c.event_id AS click_event_id,
        | CASE WHEN c.event_id IS NOT NULL
        |   THEN CAST(floor((epoch_us(p.ts) - epoch_us(c.ts)) / 1000000.0) AS BIGINT)
        | END AS gap_sec
        |FROM p ASOF LEFT JOIN clicks c
        |  ON p.user_id = c.user_id AND p.ts >= c.ts""".stripMargin,

    // identical semantics to q23 — the Spark side differs only in running
    // through the SQL table-function surface
    "q92_sql_asof" ->
      """WITH clicks AS (
        |  SELECT user_id, ts, event_id FROM events WHERE event_type = 'click'
        |  QUALIFY row_number() OVER (PARTITION BY user_id, ts ORDER BY event_id DESC) = 1),
        |p AS (SELECT user_id, ts, event_id FROM events WHERE event_type = 'purchase')
        |SELECT p.event_id AS p_event_id, p.user_id,
        | c.event_id AS click_event_id,
        | CASE WHEN c.event_id IS NOT NULL
        |   THEN CAST(floor((epoch_us(p.ts) - epoch_us(c.ts)) / 1000000.0) AS BIGINT)
        | END AS gap_sec
        |FROM p ASOF LEFT JOIN clicks c
        |  ON p.user_id = c.user_id AND p.ts >= c.ts""".stripMargin)
}
