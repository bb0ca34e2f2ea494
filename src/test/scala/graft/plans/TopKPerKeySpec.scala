package graft.plans

import scala.util.Random

import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.SparkSpec

/** Differential + plan specs for the custom per-key top-k operator. */
class TopKPerKeySpec extends SparkSpec {
  import spark.implicits._

  private val rnd = new Random(42L)

  /** Evaluate a window-formulation REFERENCE with the WindowTopKRewrite
    * excluded: the shared session installs the rewrite, which would
    * otherwise turn these differentials into operator-vs-operator
    * tautologies.
    */
  private def asPlainWindow[A](body: => A): A = withoutRule(WindowTopKRewrite)(body)

  test("TopKPerKey equals the window row_number formulation on random data") {
    for (_ <- 1 to 3) {
      val df = Seq.fill(500)((rnd.nextInt(7).toLong, rnd.nextInt(1000), rnd.nextLong()))
        .toDF("key", "value", "id")
      // total order: (value desc, id) — deterministic top-k
      val custom = TopKPerKey(df, Seq(col("key")),
        Seq(col("value").desc, col("id")), k = 5)
        .select("key", "value", "id").as[(Long, Int, Long)].collect().toSet
      val w = Window.partitionBy("key").orderBy(col("value").desc, col("id"))
      val viaWindow = asPlainWindow {
        val q = df.withColumn("rn", row_number().over(w)).filter(col("rn") <= 5)
        assert(!q.queryExecution.executedPlan.toString.contains("TopKPerKey"))
        q.select("key", "value", "id").as[(Long, Int, Long)].collect().toSet
      }
      assert(custom == viaWindow)
    }
  }

  test("TopKPerKey handles fewer-than-k groups, duplicates, and single rows") {
    val df = Seq(
      (1L, 10, 1L), (1L, 10, 2L), (1L, 20, 3L), // dup values
      (2L, 5, 4L) // single-row group
    ).toDF("key", "value", "id")
    val out = TopKPerKey(df, Seq(col("key")), Seq(col("value"), col("id")), k = 2)
      .select("key", "value", "id").as[(Long, Int, Long)].collect().toSet
    assert(out == Set((1L, 10, 1L), (1L, 10, 2L), (2L, 5, 4L)))
  }

  test("TopKPerKey matches the window formulation with NULL keys and NULL sort values") {
    for (_ <- 1 to 3) {
      val df = Seq.fill(300)((
        if (rnd.nextInt(5) == 0) None else Some(rnd.nextInt(3).toLong),
        if (rnd.nextInt(5) == 0) None else Some(rnd.nextInt(50)),
        rnd.nextLong()))
        .toDF("key", "value", "id")
      val custom = TopKPerKey(df, Seq(col("key")),
        Seq(col("value").desc_nulls_last, col("id")), k = 4)
        .select("key", "value", "id")
        .as[(Option[Long], Option[Int], Long)].collect().toSet
      val w = Window.partitionBy("key").orderBy(col("value").desc_nulls_last, col("id"))
      val viaWindow = asPlainWindow {
        df.withColumn("rn", row_number().over(w))
          .filter(col("rn") <= 4)
          .select("key", "value", "id")
          .as[(Option[Long], Option[Int], Long)].collect().toSet
      }
      assert(custom == viaWindow)
    }
  }

  test("TopKPerKey is correct when the child is already clustered by the key") {
    // pre-repartitioning by the key lets EnsureRequirements elide the
    // exchange — the per-partition heaps must still see whole key groups
    val df = Seq.fill(400)((rnd.nextInt(6).toLong, rnd.nextInt(100), rnd.nextLong()))
      .toDF("key", "value", "id")
      .repartition(col("key"))
    val custom = TopKPerKey(df, Seq(col("key")), Seq(col("value"), col("id")), k = 3)
      .select("key", "value", "id").as[(Long, Int, Long)].collect().toSet
    val w = Window.partitionBy("key").orderBy(col("value"), col("id"))
    val viaWindow = asPlainWindow {
      df.withColumn("rn", row_number().over(w)).filter(col("rn") <= 3)
        .select("key", "value", "id").as[(Long, Int, Long)].collect().toSet
    }
    assert(custom == viaWindow)
  }

  /** Run `body` with the heap-state thresholds forced tiny so every
    * partition takes the external-sorter fallback path.
    */
  private def withTinySpillThreshold[A](body: => A): A = {
    val saved = TopKPerKey.maxRetainedRows
    TopKPerKey.maxRetainedRows = 4
    try body finally TopKPerKey.maxRetainedRows = saved
  }

  test("sort-based fallback (tiny spill threshold) matches the window formulation") {
    withTinySpillThreshold {
      for (_ <- 1 to 3) {
        val df = Seq.fill(500)((rnd.nextInt(7).toLong, rnd.nextInt(1000), rnd.nextLong()))
          .toDF("key", "value", "id")
        val custom = TopKPerKey(df, Seq(col("key")),
          Seq(col("value").desc, col("id")), k = 5)
          .select("key", "value", "id").as[(Long, Int, Long)].collect().toSet
        val w = Window.partitionBy("key").orderBy(col("value").desc, col("id"))
        val viaWindow = asPlainWindow {
          df.withColumn("rn", row_number().over(w))
            .filter(col("rn") <= 5)
            .select("key", "value", "id").as[(Long, Int, Long)].collect().toSet
        }
        assert(custom == viaWindow)
      }
    }
  }

  test("sort-based fallback matches heap path with NULL keys and NULL sort values") {
    val df = Seq.fill(400)((
      if (rnd.nextInt(5) == 0) None else Some(rnd.nextInt(3).toLong),
      if (rnd.nextInt(5) == 0) None else Some(rnd.nextInt(50)),
      rnd.nextLong()))
      .toDF("key", "value", "id")
    val heap = TopKPerKey(df, Seq(col("key")),
      Seq(col("value").desc_nulls_last, col("id")), k = 4)
      .select("key", "value", "id")
      .as[(Option[Long], Option[Int], Long)].collect().toSet
    val viaFallback = withTinySpillThreshold {
      TopKPerKey(df, Seq(col("key")),
        Seq(col("value").desc_nulls_last, col("id")), k = 4)
        .select("key", "value", "id")
        .as[(Option[Long], Option[Int], Long)].collect().toSet
    }
    assert(viaFallback == heap)
  }

  test("fallback path handles near-unique dedup keys (k=1) — the OOM-risk shape") {
    // dedup-shaped input: almost every key distinct, so heap state would
    // approach one copy of the whole partition; the fallback must produce
    // the identical latest-row-per-key answer
    val df = Seq.tabulate(2000)(i => (i.toLong / 2, i, s"p$i"))
      .toDF("key", "seq", "payload")
    val expected = asPlainWindow {
      df.withColumn("rn",
          row_number().over(Window.partitionBy("key").orderBy(col("seq").desc)))
        .filter(col("rn") === 1).select("key", "seq", "payload")
        .as[(Long, Int, String)].collect().toSet
    }
    val out = withTinySpillThreshold {
      TopKPerKey(df, Seq(col("key")), Seq(col("seq").desc), k = 1)
        .select("key", "seq", "payload").as[(Long, Int, String)].collect().toSet
    }
    assert(out == expected)
  }

  test("byte-threshold fallback triggers and stays correct with wide rows") {
    val saved = TopKPerKey.maxRetainedBytes
    TopKPerKey.maxRetainedBytes = 4096
    try {
      val df = Seq.tabulate(300)(i => (i.toLong % 5, i, "x" * 200))
        .toDF("key", "seq", "pad")
      val w = Window.partitionBy("key").orderBy(col("seq").desc)
      val expected = asPlainWindow {
        df.withColumn("rn", row_number().over(w)).filter(col("rn") <= 3)
          .select("key", "seq").as[(Long, Int)].collect().toSet
      }
      val out = TopKPerKey(df, Seq(col("key")), Seq(col("seq").desc), k = 3)
        .select("key", "seq").as[(Long, Int)].collect().toSet
      assert(out == expected)
    } finally TopKPerKey.maxRetainedBytes = saved
  }

  test("TopKPerKey plans as the custom exec with a single hash exchange") {
    val df = Seq((1L, 1.0)).toDF("key", "v")
    val plan = TopKPerKey(df, Seq(col("key")), Seq(col("v")), k = 1)
      .queryExecution.executedPlan.toString
    assert(plan.contains("TopKPerKey"), plan)
    assert(plan.contains("Exchange hashpartitioning(key"), plan)
  }
}
