package graft

import org.apache.spark.sql.{SparkSession, SparkSessionExtensions}
import org.apache.spark.sql.catalyst.FunctionIdentifier

import graft.plans.{DynamicFilePruning, GraftSqlParser, TopKPerKey, TopKPerKeyStrategy, TxMetadataAgg, TxRelationStats, TxSqlDmlStrategy, WindowTopKRewrite}

/** Pins the one install path: a session from [[GraftExtensions.builder]]
  * carries every graft function, the parser, the strategies and the
  * optimizer rules in their batches, and `SparkEntry.setup` adds nothing
  * on top of it but refuses a session built without the extension.
  */
class SessionInstallSpec extends SparkSpec {

  private def isGraft(o: AnyRef) = o.getClass.getName.startsWith("graft.")

  /** A session on the shared context whose extensions are empty: the
    * builder (and `newSession`) would re-apply `spark.sql.extensions`
    * from the context's conf, so this goes through the primary
    * constructor, which Scala keeps private.
    */
  private def bareSession(): SparkSession = {
    val cls = classOf[org.apache.spark.sql.classic.SparkSession]
    val shared = spark.asInstanceOf[org.apache.spark.sql.classic.SparkSession]
    cls.getConstructors.find(_.getParameterCount == 6).get.newInstance(
      spark.sparkContext, Some(shared.sharedState), None,
      new SparkSessionExtensions, Map.empty[String, String],
      Map.empty[String, String]).asInstanceOf[SparkSession]
  }

  test("the builder's session resolves all 5 scalar and 8 table functions") {
    val scalar = Seq("graft_dot", "graft_cosine", "graft_heavy_hitters",
      "graft_bloom_agg", "graft_might_contain")
    val table = Seq("graft_asof_join", "graft_point_in_interval",
      "graft_tx_read", "graft_tx_cdf", "graft_tx_partitions",
      "graft_tx_files", "graft_tx_properties", "graft_tx_history")
    val fr = spark.sessionState.functionRegistry
    val tfr = spark.sessionState.tableFunctionRegistry
    scalar.foreach(n => assert(fr.functionExists(FunctionIdentifier(n)), n))
    table.foreach(n => assert(tfr.functionExists(FunctionIdentifier(n)), n))
  }

  test("the builder's session has graft's parser, strategies and rules in their batches") {
    val st = spark.sessionState
    assert(st.sqlParser.isInstanceOf[GraftSqlParser], st.sqlParser)
    val strategies = st.planner.strategies
    assert(strategies.contains(TopKPerKeyStrategy), strategies)
    assert(strategies.contains(TxSqlDmlStrategy), strategies)
    assert(st.optimizer.preCBORules.filter(isGraft) ==
      Seq(WindowTopKRewrite, DynamicFilePruning, TxRelationStats))
    assert(st.optimizer.extendedOperatorOptimizationRules.filter(isGraft) ==
      Seq(TxMetadataAgg))
  }

  test("SparkEntry.setup installs nothing through the experimental hooks") {
    SparkEntry.setup(spark)
    SparkEntry.setup(spark)
    val exp = spark.sessionState.experimentalMethods
    assert(!exp.extraOptimizations.exists(isGraft), exp.extraOptimizations)
    assert(!exp.extraStrategies.exists(isGraft), exp.extraStrategies)
  }

  test("a session built without the extension is refused by setup and TopKPerKey") {
    val bare = bareSession()
    assert(!GraftExtensions.installed(bare))
    val e = intercept[IllegalStateException](SparkEntry.setup(bare))
    assert(e.getMessage.contains("graft.GraftExtensions"), e.getMessage)
    val df = bare.range(10).toDF("id")
    intercept[IllegalStateException](
      TopKPerKey(df, Seq(df("id")), Seq(df("id")), 1))
  }
}
