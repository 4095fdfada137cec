package graft

import org.apache.spark.sql.{DataFrame, SparkSession}

/** Driver contract — see /root/repo/SURVEY.md §7 + the builder prompt.
  *
  * `queries` is the engine's public inventory: one entry per implemented
  * operator family (SURVEY §2 + the 100-TB scale ops). Each has a DuckDB
  * oracle in `oracleSql` when SQL-expressible; ML/iterative ops get
  * rows-only checks.
  */
object SparkEntry {

  /** Flagship query on /root/testdata/sf0.001; driver smoke-checks rows>0. */
  def entry(spark: SparkSession): DataFrame =
    queries("q03_star_join_revenue")(spark, "/root/testdata/sf0.001")

  /** Every query runs on any session: the kernels are bound through the
    * Column API, never looked up by SQL name. */
  val queries: Map[String, (SparkSession, String) => DataFrame] =
    graft.queries.RelationalQueries.queries ++
      graft.queries.SimilarityQueries.queries ++
      graft.queries.GraphQueries.queries ++
      graft.queries.ClothingQueries.queries ++
      graft.queries.DedupQueries.queries

  val oracleSql: Map[String, String] =
    graft.queries.RelationalQueries.oracleSql ++
      graft.queries.SimilarityQueries.oracleSql ++
      graft.queries.GraphQueries.oracleSql ++
      graft.queries.ClothingQueries.oracleSql ++
      graft.queries.DedupQueries.oracleSql
}
