package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import graft.queries.{BreadthQueries, FeatureQueries, LlmQueries, MatchQueries, RelationalQueries, StreamQueries}

/** Entry contract — see SURVEY.md §7.
  *
  * `queries` is the SURVEY §2 operator inventory plus the LLM-pipeline
  * extensions, one entry per operator; `oracleSql` carries the DuckDB
  * equivalents for every SQL-expressible operator (ML/hash-state operators
  * are rows-only here and deep-verified in the ScalaTest suites).
  */
object SparkEntry {

  /** Flagship query on /root/testdata/sf0.001: the full fuzzy-match flow
    * (features → LSH blocking → labeled pairs → distances → GBT → ranked
    * matches). The whole `part` table participates at this scale. */
  def entry(spark: SparkSession): DataFrame =
    MatchQueries.flagship(spark, "/root/testdata/sf0.001", keyFilter = "id >= 0")

  /** One entry per implemented operator from SURVEY.md §2 (+ extensions). */
  def queries: Map[String, (SparkSession, String) => DataFrame] =
    (RelationalQueries.defs ++ BreadthQueries.defs ++ FeatureQueries.defs ++
      MatchQueries.defs ++ LlmQueries.defs ++ StreamQueries.defs).toMap

  /** For each key in queries, equivalent ANSI SQL runnable by DuckDB on
    * the same parquet tables. Omitted for non-SQL-expressible ops (vector /
    * fitted-model / hash-function state) → driver records rows-only. */
  def oracleSql: Map[String, String] =
    (RelationalQueries.oracles ++ BreadthQueries.oracles ++ FeatureQueries.oracles ++
      MatchQueries.oracles ++ LlmQueries.oracles ++ StreamQueries.oracles).toMap
}
