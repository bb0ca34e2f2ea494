package graft

import org.apache.spark.sql.{DataFrame, SparkSession}

import graft.queries.{Core, Lakehouse, LlmData}

/** Driver contract — see /root/repo/SURVEY.md §7 + the builder prompt.
  *
  * `queries` is the full operator surface (SURVEY.md §2): reference-derived
  * q01–q23 plus the LLM-data-pipeline d/t/m operators. `oracleSql` holds
  * the DuckDB-portable oracle for every SQL-expressible query; rows-only
  * operators (d07 ANN recall, m01 stubbed decode) are intentionally absent.
  */
object SparkEntry {

  /** Checks that `spark` can run `queries`: it must have been built
    * with `spark.sql.extensions=graft.GraftExtensions` (as
    * [[GraftExtensions.builder]] does), which installs graft's SQL
    * functions, parser, strategies and optimizer rules at build time.
    * Does nothing on such a session; throws `IllegalStateException`
    * otherwise.
    */
  def setup(spark: SparkSession): Unit = GraftExtensions.requireInstalled(spark)

  /** Flagship query on /root/testdata/sf0.001; driver smoke-checks rows>0. */
  def entry(spark: SparkSession): DataFrame =
    Core.defs("q01_pricing_summary")(spark, "/root/testdata/sf0.001")

  /** One entry per implemented operator from SURVEY.md §2. */
  def queries: Map[String, (SparkSession, String) => DataFrame] =
    Core.defs ++ LlmData.defs ++ Lakehouse.defs

  /** For each key in queries, equivalent ANSI SQL runnable by DuckDB on
    * the same parquet tables. Omit for non-SQL-expressible ops. */
  def oracleSql: Map[String, String] =
    Core.oracles ++ LlmData.oracles ++ Lakehouse.oracles
}
