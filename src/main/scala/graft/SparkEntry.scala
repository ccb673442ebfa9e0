package graft

import org.apache.spark.sql.{DataFrame, SparkSession}

/** Driver contract — see /root/repo/SURVEY.md §7 + the builder prompt. */
object SparkEntry {

  /** Every operator module contributes its catalog here. */
  def catalog: Seq[Q] =
    ops.Relational.catalog ++ ops.Ingest.catalog ++ ops.TextOps.catalog ++
      ops.VectorOps.catalog ++ ops.EventOps.catalog ++
      ops.MultimodalOps.catalog ++ ops.PipelineOps.catalog ++
      ops.RetrievalOps.catalog ++ ops.LayoutOps.catalog ++
      ops.GraphOps.catalog ++ ops.MaterializedViewOps.catalog ++
      streaming.StreamingOps.catalog

  /** Flagship query on /root/testdata/sf0.001; driver smoke-checks rows>0.
    * TPC-H Q1-flavor aggregation: scan → pushed filter → partial+final agg.
    */
  def entry(spark: SparkSession): DataFrame =
    queries("q01_agg")(spark, "/root/testdata/sf0.001")

  /** One entry per implemented operator from SURVEY.md §2. */
  def queries: Map[String, (SparkSession, String) => DataFrame] =
    Catalog.toQueries(catalog)

  /** For each key in queries, equivalent ANSI SQL runnable by DuckDB on
    * the same parquet tables. Omitted for non-SQL-expressible ops. */
  def oracleSql: Map[String, String] = Catalog.toOracle(catalog)
}
