package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.engine.Engine
import graft.engine.Engine.{table => t}

/** Driver contract — see /root/repo/SURVEY.md §7 + the builder prompt.
  *
  * Every operator from SURVEY §2 appears as a named query over the
  * testdata parquet tables, with a DuckDB-equivalent oracle in
  * [[oracleSql]] where the semantics are ANSI-SQL-expressible. Queries are
  * deterministic: stable ORDER BY on unique keys, floats rounded where
  * accumulation order could differ, UTC timestamps.
  */
object SparkEntry {

  /** Flagship query on /root/testdata/sf0.001; driver smoke-checks rows>0. */
  def entry(spark: SparkSession): DataFrame = {
    Engine.configure(spark)
    ops.Relational.q1Agg(spark, "/root/testdata/sf0.001")
  }

  /** One entry per implemented operator from SURVEY.md §2. */
  def queries: Map[String, (SparkSession, String) => DataFrame] =
    ops.Relational.queries ++ ops.Relational2.queries ++ ops.Sources.queries ++
      ops.Functions.queries ++ ops.Udaf.queries ++ ops.Scale.queries ++
      ops.Analytical.queries ++ ops.Warehouse.queries ++ ops.Events.queries ++
      ext.Extensions.queries ++ streaming.StreamQueries.queries

  /** For each key in queries, equivalent ANSI SQL runnable by DuckDB on
    * the same parquet tables. Omitted for non-SQL-expressible ops →
    * driver records a weaker rows-only check. */
  def oracleSql: Map[String, String] =
    ops.Relational.oracleSql ++ ops.Relational2.oracleSql ++ ops.Sources.oracleSql ++
      ops.Functions.oracleSql ++ ops.Udaf.oracleSql ++ ops.Scale.oracleSql ++
      ops.Analytical.oracleSql ++ ops.Warehouse.oracleSql ++ ops.Events.oracleSql ++
      ext.Extensions.oracleSql ++ streaming.StreamQueries.oracleSql
}
