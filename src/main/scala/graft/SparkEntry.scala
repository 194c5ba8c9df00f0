package graft

import graft.queries._
import graft.queries.QueryLib.{model, queryVec}
import org.apache.spark.sql.{DataFrame, SparkSession}

/** The Verify contract (the build plan is SURVEY.md §7).
  *
  * Every operator from SURVEY.md §2 that is implemented has a Verify
  * query, and every query carries its DuckDB oracle over the same
  * parquet tables: one [[graft.queries.QuerySpec]] per query, kept in
  * one file per name prefix under `graft/queries/` (`q*` relational,
  * `a_` index, `v_` vector, `d_` curation, `t_` text, `g_` graph,
  * `m_`/`mm_` metrics and multimodal, `p_` profile, `s_` streaming).
  */
object SparkEntry {

  /** Flagship: λ-aware taumode top-k on sf0.001 — build O1 + search O3
    * end-to-end. Driver smoke-checks rows > 0.
    */
  def entry(spark: SparkSession): DataFrame = {
    val dir = "/root/testdata/sf0.001"
    val (m, _) = model(spark, dir)
    m.search(queryVec(spark, dir), tau = 0.62)
  }

  /** Every Verify query with its oracle; names are unique. */
  val registry: Seq[QuerySpec] =
    RelationalQueries.specs ++ IndexQueries.specs ++ VectorQueries.specs ++
      CurationQueries.specs ++ TextQueries.specs ++ GraphQueries.specs ++
      MetricQueries.specs ++ ProfileQueries.specs ++ StreamQueries.specs

  def queries: Map[String, (SparkSession, String) => DataFrame] =
    registry.map(q => q.name -> q.run).toMap

  def oracleSql: Map[String, String] = registry.map(q => q.name -> q.oracle).toMap
}
