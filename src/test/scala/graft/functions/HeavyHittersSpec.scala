package graft.functions

import scala.util.Random

import org.apache.spark.sql.functions._

import graft.{SparkSpec, Tables}

class HeavyHittersSpec extends SparkSpec {
  import spark.implicits._

  test("every true heavy hitter survives and estimates honor the MG error bound") {
    // Zipf-ish stream: a few dominant terms + a long tail
    val rnd = new Random(3L)
    val terms = Seq.fill(20000) {
      val r = rnd.nextInt(100)
      if (r < 30) "alpha" else if (r < 50) "beta" else if (r < 60) "gamma"
      else s"tail${rnd.nextInt(5000)}"
    }
    val df = terms.toDF("term").repartition(8)
    val capacity = 32
    val out = df
      .agg(HeavyHitters.heavyHitters(col("term"), capacity, emit = 10).as("hh"))
      .select(explode(col("hh")).as("h"))
      .select(col("h.term"), col("h.est")).as[(String, Long)].collect().toMap

    val exact = terms.groupBy(identity).map { case (t, xs) => t -> xs.size.toLong }
    val n = terms.size.toLong
    val bound = n / (capacity + 1)
    // guarantee 1: every term with true count > n/(capacity+1) is present
    exact.filter(_._2 > bound).keys.foreach { t =>
      assert(out.contains(t), s"true heavy hitter $t missing (bound $bound)")
    }
    // guarantee 2: estimates never exceed the true count and undercount
    // by at most the bound
    out.foreach { case (t, est) =>
      val tc = exact(t)
      assert(est <= tc, s"$t overestimated: $est > $tc")
      assert(tc - est <= bound, s"$t undercounted past the bound: $tc - $est > $bound")
    }
    assert(out("alpha") > out("beta") && out("beta") > out("gamma"))
  }

  test("merge is commutative and associative on the buffers themselves") {
    // direct unit check of the mergeable-summaries contract: build three
    // partial summaries from different streams and merge them in every
    // order — the distributed result must not depend on Spark's
    // nondeterministic partial-merge order. (An end-to-end rerun of the
    // same job can't detect this: the merge order would repeat.)
    import org.apache.spark.sql.catalyst.InternalRow
    import org.apache.spark.sql.catalyst.expressions.BoundReference
    import org.apache.spark.sql.types.StringType
    import org.apache.spark.unsafe.types.UTF8String
    val rnd = new Random(9L)
    val agg = HeavyHitters(BoundReference(0, StringType, nullable = true),
      capacity = 8, emit = 8)
    val streams = Seq.tabulate(3)(s =>
      Seq.fill(800)(if (rnd.nextInt(4) == 0) "hot" else s"s${s}_${rnd.nextInt(50)}"))
    def buf(i: Int) = streams(i).foldLeft(agg.createAggregationBuffer()) {
      (b, t) => agg.update(b, InternalRow(UTF8String.fromString(t)))
    }
    def evalOf(m: scala.collection.mutable.HashMap[String, Long]): String =
      agg.eval(m).toString
    // merge mutates its left argument, so rebuild buffers per ordering
    val abc = evalOf(agg.merge(agg.merge(buf(0), buf(1)), buf(2)))
    val cab = evalOf(agg.merge(agg.merge(buf(2), buf(0)), buf(1)))
    val bca = evalOf(agg.merge(buf(1), agg.merge(buf(2), buf(0))))
    assert(abc == cab && cab == bca)
    // and the serde round-trip preserves the summary
    val rt = agg.deserialize(agg.serialize(buf(1)))
    assert(rt == buf(1))
  }

  test("graft_heavy_hitters is callable from SQL") {
    Seq("a", "a", "a", "b", "b", "c").toDF("t").createOrReplaceTempView("hh_v")
    val out = spark.sql(
      "SELECT explode(graft_heavy_hitters(t, 4, 2)) AS h FROM hh_v")
      .selectExpr("h.term", "h.est").as[(String, Long)].collect().toSeq
    assert(out == Seq(("a", 3L), ("b", 2L)))
  }

  test("heavy hitters over the documents corpus finds the stopword spine") {
    val out = graft.queries.LlmData.defs("t09_heavy_hitters")(spark, sfDir)
      .as[(String, Long)].collect()
    assert(out.length == 20)
    val terms = out.map(_._1).toSet
    // the corpus is English-dominated; its most frequent tokens must
    // include common stopwords
    assert(terms.exists(Set("the", "and", "of", "a").contains), out.mkString(", "))
  }
}
