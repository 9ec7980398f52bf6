package graft

import org.apache.spark.sql.{DataFrame, SparkSession}

/** Driver contract — see /root/repo/SURVEY.md §7 + the builder prompt.
  * Queries are registered by the operator modules; each [[Q]] couples the
  * Spark implementation with its DuckDB oracle SQL.
  */
object SparkEntry {

  /** Every driver-checkable query, grouped by module. */
  def registry: Seq[Q] =
    graft.relational.Relational.all ++
      graft.pipeline.DocPipeline.all ++
      graft.text.TextAnalysis.all ++
      graft.text.TextIndex.all ++
      graft.dedup.Dedup.all ++
      graft.dedup.LshIndex.all ++
      graft.sim.Similarity.all ++
      graft.sim.VecIndex.all ++
      graft.sim.PqIndex.all ++
      graft.sim.Retrieval.all ++
      graft.sources.ZQueries.all ++
      graft.streaming.Streaming.all ++
      graft.multimodal.Multimodal.all ++
      graft.relational.Relational2.all ++
      graft.relational.Quality.all ++
      graft.relational.Temporal.all ++
      graft.graph.Graph.all ++
      graft.pipeline.TrainingPipeline.all

  /** Flagship query on /root/testdata/sf0.001; driver smoke-checks rows>0. */
  def entry(spark: SparkSession): DataFrame =
    graft.relational.Relational.q02RevenueByNation.fn(spark, "/root/testdata/sf0.001")

  /** One entry per implemented operator from SURVEY.md §2. */
  def queries: Map[String, (SparkSession, String) => DataFrame] =
    registry.map(q => q.name -> q.fn).toMap

  /** For each key in queries, equivalent ANSI SQL runnable by DuckDB on
    * the same parquet tables. Omitted for non-SQL-expressible ops. */
  def oracleSql: Map[String, String] =
    registry.flatMap(q => q.oracle.map(sql => q.name -> sql)).toMap
}
