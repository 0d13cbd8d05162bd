package graft

import org.apache.spark.sql.{DataFrame, SparkSession}

/** Entry-point contract — see SURVEY.md §7 at the repository root.
  * The actual registry lives in [[graft.Queries]]; every entry pairs a Spark
  * pipeline with DuckDB oracle SQL over the same parquet tables.
  */
object SparkEntry {
  /** Flagship query on /root/testdata/sf0.001; driver smoke-checks rows>0.
    * Runs the full engine: index the document corpus into domain tables with
    * the deterministic stub embedder, then execute the two-level scored
    * search (broadcast join + data-driven probmethod aggregation + top-k).
    */
  def entry(spark: SparkSession): DataFrame = {
    val sfDir = "/root/testdata/sf0.001"
    Queries.queries("q60_search_documents")(spark, sfDir)
  }

  /** One entry per implemented operator from SURVEY.md §2. */
  def queries: Map[String, (SparkSession, String) => DataFrame] = Queries.queries

  /** For each key in queries, equivalent ANSI SQL runnable by DuckDB on
    * the same parquet tables. Omitted for non-SQL-expressible ops. */
  def oracleSql: Map[String, String] = Queries.oracleSql
}
