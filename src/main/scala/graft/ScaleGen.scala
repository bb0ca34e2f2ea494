package graft

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Synthetic scale-factor generator for the SCALING PROBE (SURVEY §15 /
  * VERDICT r7 #2): emits the same nine-table schema as `/root/testdata`
  * at an arbitrary scale factor, so the heavy query shapes can be
  * measured at sf1 (6M lineitem / 50k documents / 20k embeddings) —
  * 10× the driver's bench scale — and any superlinear shape exposed
  * BEFORE a 100× deployment would find it.
  *
  * Faithfulness target is STATISTICAL (the distributions the heavy
  * queries' costs depend on — key cardinalities, value ranges, text
  * length and vocabulary, dup rate, label clustering), not row-level:
  * the driver's oracle gate runs at sf0.01 on its own data; this data
  * only ever feeds timing ratios. Everything derives from xxhash64 of
  * the row id — fully deterministic, independent of partitioning, no
  * RNG state to replay.
  */
object ScaleGen {

  /** Uniform double in [0, 1) from hashed (id, salt). */
  private def u(id: Column, salt: Int): Column =
    (pmod(xxhash64(id, lit(salt)), lit(1000000L)).cast("double")) / 1000000.0

  private def pick(id: Column, salt: Int, vals: Seq[String]): Column = {
    val arr = array(vals.map(lit): _*)
    element_at(arr, (pmod(xxhash64(id, lit(salt)), lit(vals.size)) + 1).cast("int"))
  }

  private def r2(c: Column): Column = round(c, 2)

  def generate(spark: SparkSession, outDir: String, sf: Double): Unit = {
    import spark.implicits._
    def write(df: DataFrame, name: String): Unit =
      df.write.mode("overwrite").parquet(s"$outDir/$name.parquet")
    def ids(n: Long): DataFrame = spark.range(n).toDF("id")

    val nOrders = (1500000 * sf).toLong
    val nCustomer = (150000 * sf).toLong
    val nSupplier = (10000 * sf).toLong
    val nPart = (200000 * sf).toLong
    val nEvents = (1000000 * sf).toLong
    val nUsers = (15000 * sf).toLong
    val nDocs = (50000 * sf).toLong
    val nVecs = (20000 * sf).toLong

    write(Seq.tabulate(5)(i => (i, s"REGION_$i")).toDF("r_regionkey", "r_name"),
      "region")
    write(Seq.tabulate(25)(i => (i, s"NATION_$i", i % 5))
      .toDF("n_nationkey", "n_name", "n_regionkey"), "nation")

    write(ids(nCustomer).select(
      col("id").as("c_custkey"),
      format_string("Customer#%09d", col("id")).as("c_name"),
      pmod(xxhash64(col("id"), lit(1)), lit(25)).cast("int").as("c_nationkey"),
      r2(u(col("id"), 2) * 10999.65 - 999.85).as("c_acctbal"),
      pick(col("id"), 3, Seq("MACHINERY", "AUTOMOBILE", "HOUSEHOLD",
        "BUILDING", "FURNITURE")).as("c_mktsegment")), "customer")

    write(ids(nSupplier).select(
      col("id").as("s_suppkey"),
      format_string("Supplier#%09d", col("id")).as("s_name"),
      pmod(xxhash64(col("id"), lit(4)), lit(25)).cast("int").as("s_nationkey"),
      r2(u(col("id"), 5) * 9000.0 + 1000.0).as("s_acctbal")), "supplier")

    val adjs = Seq("large", "hot", "blue", "old", "red", "dim", "new", "cold")
    val nouns = Seq("ring", "bolt", "plate", "cog", "gear", "pipe", "tube", "rod")
    write(ids(nPart).select(
      col("id").as("p_partkey"),
      concat_ws(" ", pick(col("id"), 6, adjs), pick(col("id"), 7, nouns)).as("p_name"),
      concat(lit("Brand#"),
        (pmod(xxhash64(col("id"), lit(8)), lit(25)) + 1).cast("string")).as("p_brand"),
      pick(col("id"), 9, Seq("LARGE", "ECONOMY", "SMALL", "STANDARD",
        "MEDIUM", "PROMO")).as("p_type"),
      (pmod(xxhash64(col("id"), lit(10)), lit(50)) + 1).cast("int").as("p_size"),
      r2(u(col("id"), 11) * 99.9 + 900.0).as("p_retailprice")), "part")

    val orders = ids(nOrders).select(
      col("id").as("o_orderkey"),
      pmod(xxhash64(col("id"), lit(12)), lit(nCustomer)).as("o_custkey"),
      pick(col("id"), 13, Seq("O", "P", "F")).as("o_orderstatus"),
      r2(u(col("id"), 14) * 499000.0 + 1000.0).as("o_totalprice"),
      (lit("1995-01-01").cast("timestamp") +
        make_dt_interval(pmod(xxhash64(col("id"), lit(15)), lit(2405))
          .cast("int"))).as("o_orderdate"),
      pick(col("id"), 16, Seq("1-URGENT", "2-HIGH", "3-MEDIUM",
        "4-NOT SPECIFIED", "5-LOW")).as("o_orderpriority"))
    write(orders, "orders")

    // ~4 lines per order (1..7), keys/values in the sf0.1 envelopes
    val li = orders.select(col("o_orderkey"), col("o_orderdate"))
      .withColumn("l_linenumber",
        explode(sequence(lit(1),
          (pmod(xxhash64(col("o_orderkey"), lit(17)), lit(7)) + 1).cast("int"))))
    val lid = xxhash64(col("o_orderkey"), col("l_linenumber"))
    write(li.select(
      col("o_orderkey").as("l_orderkey"),
      pmod(lid + 18, lit(nPart)).as("l_partkey"),
      pmod(lid + 19, lit(nSupplier)).as("l_suppkey"),
      col("l_linenumber"),
      (pmod(lid + 20, lit(50)) + 1).cast("double").as("l_quantity"),
      r2((pmod(lid + 21, lit(1000000L)).cast("double") / 1000000.0)
        * 104099.23 + 900.68).as("l_extendedprice"),
      (pmod(lid + 22, lit(11)).cast("double") / 100.0).as("l_discount"),
      (pmod(lid + 23, lit(9)).cast("double") / 100.0).as("l_tax"),
      element_at(array(lit("N"), lit("A"), lit("R")),
        (pmod(lid + 24, lit(3)) + 1).cast("int")).as("l_returnflag"),
      element_at(array(lit("O"), lit("F")),
        (pmod(lid + 25, lit(2)) + 1).cast("int")).as("l_linestatus"),
      (col("o_orderdate") + make_dt_interval(
        (pmod(lid + 26, lit(95)) + 1).cast("int"))).as("l_shipdate"))
      .drop("o_orderdate"), "lineitem")

    write(ids(nEvents).select(
      col("id").as("event_id"),
      (lit("2024-01-01").cast("timestamp") + make_dt_interval(
        lit(0), lit(0), lit(0),
        pmod(xxhash64(col("id"), lit(27)), lit(2592000L))
          .cast("double"))).as("ts"),
      pmod(xxhash64(col("id"), lit(28)), lit(nUsers)).as("user_id"),
      pick(col("id"), 29, Seq("click", "view", "purchase", "signup",
        "error")).as("event_type"),
      r2(-ln(lit(1.0) - u(col("id"), 30)) * 80.0).as("value"),
      format_string("{\"k\": %d}",
        pmod(xxhash64(col("id"), lit(31)), lit(100))).as("props")), "events")

    // documents: 8..105-word texts over the sf0.1 corpus's 31-word
    // vocabulary; ~0.2% exact dups (doc copies its predecessor's text)
    val vocab = Seq("a", "agg", "batch", "big", "column", "customer",
      "data", "dup", "fast", "filter", "group", "hash", "join", "key",
      "line", "merge", "order", "part", "query", "row", "scan", "slow",
      "small", "sort", "spark", "stream", "table", "the", "value",
      "vector", "window")
    def textOf(id: Column): Column = array_join(
      transform(sequence(lit(0),
        (pmod(xxhash64(id, lit(32)), lit(98)) + 7).cast("int")),
        i => element_at(array(vocab.map(lit): _*),
          (pmod(xxhash64(id, i + 33), lit(vocab.size)) + 1).cast("int"))), " ")
    val srcId = when(pmod(col("id"), lit(500)) === 499, col("id") - 1)
      .otherwise(col("id"))
    write(ids(nDocs).select(
      col("id").as("doc_id"),
      textOf(srcId).as("text"),
      // ~40% en, rest split — the sf0.1 mix
      when(u(col("id"), 34) < 0.41, "en")
        .otherwise(pick(col("id"), 35, Seq("zh", "es", "fr", "de"))).as("lang"),
      concat(lit("src"),
        pmod(xxhash64(col("id"), lit(36)), lit(20)).cast("string")).as("source"))
      .withColumn("n_chars", length(col("text")).cast("long")), "documents")

    // embeddings: 64-dim, 10 labels, cluster structure = label center +
    // per-vector noise (what IVF/PQ/kNN shapes depend on)
    write(ids(nVecs).select(
      col("id").as("vec_id"),
      transform(sequence(lit(1), lit(64)), j =>
        ((pmod(xxhash64(pmod(col("id"), lit(10)), j, lit(37)), lit(1000))
          .cast("double") - 500.0) / 500.0 +
         (pmod(xxhash64(col("id"), j, lit(38)), lit(400))
          .cast("double") - 200.0) / 1000.0).cast("float")).as("embedding"),
      pmod(col("id"), lit(10)).cast("int").as("label")), "embeddings")
  }

  def main(args: Array[String]): Unit = {
    val out = args.headOption.getOrElse("/tmp/graft-scale/sf1")
    val sf = if (args.length > 1) args(1).toDouble else 1.0
    val spark = GraftExtensions.builder(GraftExtensions.envCpus(8)).getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    generate(spark, out, sf)
    println(s"""{"generated":"$out","sf":$sf}""")
    spark.stop()
  }
}
