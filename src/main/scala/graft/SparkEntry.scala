package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import graft.queries._

/** Driver contract — see /root/repo/SURVEY.md §7 + the builder prompt.
  *
  * Each entry in [[queries]] is one operator from SURVEY §2's inventory wired
  * to the driver's parquet fixtures; [[oracleSql]] carries the equivalent
  * ANSI SQL the driver runs in DuckDB over the same tables. Column names and
  * row order are kept identical on both sides (total ORDER BY everywhere).
  *
  * Query definitions live in `graft.queries.*` modules, one per operator
  * family; this object is the flat aggregation the driver reads.
  */
object SparkEntry {

  /** Flagship query on /root/testdata/sf0.001; driver smoke-checks rows>0. */
  def entry(spark: SparkSession): DataFrame =
    queries("wc_words")(spark, "/root/testdata/sf0.001")

  /** One entry per implemented operator from SURVEY.md §2. */
  def queries: Map[String, (SparkSession, String) => DataFrame] =
    WordCountQueries.queries ++
      RelationalQueries.queries ++
      AdvancedQueries.queries ++
      AnalyticQueries.queries ++
      TextPipelineQueries.queries ++
      SimilarityQueries.queries ++
      CorpusStatsQueries.queries ++
      ExtensionQueries.queries

  /** For each key in queries, equivalent ANSI SQL runnable by DuckDB on
    * the same parquet tables. Omit for non-SQL-expressible ops. */
  def oracleSql: Map[String, String] =
    WordCountQueries.oracles ++
      RelationalQueries.oracles ++
      AdvancedQueries.oracles ++
      AnalyticQueries.oracles ++
      TextPipelineQueries.oracles ++
      SimilarityQueries.oracles ++
      CorpusStatsQueries.oracles ++
      ExtensionQueries.oracles

  /** Queries Bench times — ALL of them, in stable name order (see
    * BASELINE.md for the recorded full-sweep gate number and the
    * run-variance note; don't restate the count or seconds here, they
    * change every round). */
  def benchQueries: Seq[String] = queries.keys.toSeq.sorted
}
