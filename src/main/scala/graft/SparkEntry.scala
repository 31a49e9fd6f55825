package graft

import org.apache.spark.sql.{DataFrame, SparkSession}

/** Query-pack contract (SURVEY.md §7).
  *
  * `queries` aggregates every implemented operator's demo query;
  * `oracleSql` carries the DuckDB-equivalent SQL for the hash-compare
  * correctness gate. Column names are aligned pairwise (driver sorts
  * columns by name before hashing).
  */
object SparkEntry {

  /** Flagship query on /root/testdata/sf0.001; driver smoke-checks rows>0. */
  def entry(spark: SparkSession): DataFrame =
    queries("q21_multi_join")(spark, "/root/testdata/sf0.001")

  /** One entry per implemented operator: `sp*` run real SPARQL through
    * the engine against the reference fixture store (SURVEY §2's SPARQL
    * operators); `q*` are relational analogs on the synthetic sf tables.
    */
  def queries: Map[String, (SparkSession, String) => DataFrame] =
    graft.queries.RelationalQueries.queries ++
      graft.queries.ExtraQueries.queries ++
      graft.queries.TemporalQueries.queries ++
      graft.queries.SparqlQueries.queries ++
      graft.queries.PipelineQueries.queries

  /** For each key in queries, equivalent ANSI SQL runnable by DuckDB on
    * the same parquet tables. Omit for non-SQL-expressible ops
    * (rows-only check applies there). */
  def oracleSql: Map[String, String] =
    graft.queries.RelationalQueries.oracles ++
      graft.queries.ExtraQueries.oracles ++
      graft.queries.TemporalQueries.oracles ++
      graft.queries.SparqlQueries.oracles ++
      graft.queries.PipelineQueries.oracles
}
