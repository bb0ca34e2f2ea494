package graft.plans

import java.nio.file.Files

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.rules.Rule
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions.{col, row_number}
import org.apache.spark.sql.internal.SQLConf

import graft.SparkSpec
import graft.sources.{TxLog, TxLogRelation}

/** Two sessions in one JVM: graft's optimizer rules are switched off per
  * session through Spark's `excludedRules`, so one session that
  * excludes a rule leaves it running in a sibling, in either order of
  * planning.
  */
class SiblingSessionSpec extends SparkSpec {
  import spark.implicits._

  /** Two fresh sibling sessions of the shared one; the first excludes
    * `rule`.
    */
  private def siblings(rule: Rule[_]): (SparkSession, SparkSession) = {
    val off = spark.newSession()
    off.conf.set(SQLConf.OPTIMIZER_EXCLUDED_RULES.key, rule.ruleName)
    (off, spark.newSession())
  }

  /** Both interleavings of planning in two sessions. */
  private def orders(a: SparkSession, b: SparkSession): Seq[Seq[SparkSession]] =
    Seq(Seq(a, b), Seq(b, a))

  test("DynamicFilePruning excluded in one session still prunes in its sibling") {
    // fact clustered on k: 8 files, each one contiguous range of 0..799
    val t = Files.createTempDirectory("graft-sibling").resolve("t").toString
    TxLog.overwrite((0 until 800).map(i => (i.toLong, s"v$i"))
      .toDF("k", "v").repartitionByRange(8, col("k")), t)
    assert(TxLog.manifest(spark, t).files.size == 8)
    val (off, on) = siblings(DynamicFilePruning)
    def plannedFiles(s: SparkSession): Int = {
      val fact = s.read.format("graft-txlog").load(t)
      // dim keys after its filter: 1, 21, ..., 181, inside the first
      // two fact files; the filter infers no fact predicate that file
      // stats could prune on, so only the rule prunes
      val dim = s.range(0, 200).filter(col("id") % 20 === 1)
      TxLogRelation.lastScanFileCount = -1
      assert(fact.join(dim, fact("k") === dim("id")).count() == 10L)
      TxLogRelation.lastScanFileCount
    }
    for (order <- orders(off, on); s <- order)
      assert(plannedFiles(s) == (if (s eq off) 8 else 2),
        s"order ${order.map(x => if (x eq off) "off" else "on")}")
  }

  test("WindowTopKRewrite excluded in one session still rewrites in its sibling") {
    val (off, on) = siblings(WindowTopKRewrite)
    def topK(s: SparkSession) = {
      val w = Window.partitionBy("key").orderBy(col("id").desc)
      s.range(0, 60).withColumn("key", col("id") % 4)
        .withColumn("rn", row_number().over(w)).filter(col("rn") <= 2)
    }
    val expected = (0L until 4L).flatMap(k => Seq((k, 56 + k, 1), (k, 52 + k, 2))).toSet
    for (order <- orders(off, on); s <- order) {
      val q = topK(s)
      assert(q.queryExecution.executedPlan.toString.contains("TopKPerKey") == (s eq on))
      assert(q.select("key", "id", "rn").as[(Long, Long, Int)].collect().toSet == expected)
    }
  }
}
