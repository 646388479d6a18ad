package graft.ops

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.engine.Engine
import graft.engine.Engine.{table => t}
import graft.udaf.Udafs

/** The reference's signature capability: the two custom 32-bit sum
  * aggregates (SURVEY §2.4), exercised over testdata.
  *
  * Oracle note: the inputs chosen (`l_quantity`, `l_linenumber`) are
  * integer-valued, and their sums stay below 2^24, so Float32/Int32
  * accumulation is EXACT regardless of partitioning order — the oracle can
  * hash-match bit-for-bit despite the 32-bit arithmetic.
  */
object Udaf {

  private def withUdafs(spark: SparkSession): SparkSession = {
    Udafs.registerAll(spark); spark
  }

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    // sum_cudarc semantics: everything coerced to Float32, result Float32
    "q_sum_custom" -> ((s, dir) => {
      withUdafs(s)
      t(s, dir, "lineitem")
        .groupBy(col("l_returnflag"))
        .agg(Udafs.sum_custom(col("l_quantity").cast("float")).as("sum_qty_f32"))
        .orderBy(col("l_returnflag"))
    }),

    // sum_cubecl semantics, signed-int path: Int32 accumulation → Float32
    "q_sum_coercing_int" -> ((s, dir) => {
      withUdafs(s)
      t(s, dir, "lineitem")
        .groupBy(col("l_linestatus"))
        .agg(Udafs.sum_coercing(col("l_linenumber")).as("sum_ln_f32"))
        .orderBy(col("l_linestatus"))
    }),

    // sum_cubecl semantics, float path: Float32 accumulation
    "q_sum_coercing_float" -> ((s, dir) => {
      withUdafs(s)
      t(s, dir, "lineitem")
        .groupBy(col("l_returnflag"))
        .agg(Udafs.sum_coercing(col("l_quantity")).as("sum_qty_f32"))
        .orderBy(col("l_returnflag"))
    }),

    // the reference's headline benchmark (README.md:57-75): the sum trio
    // over a 1,000,000-row `types` table — built-in sum vs both custom
    // aggregates. Verify dumps the seeded table to parquet and DuckDB
    // re-aggregates the same float32 column. builtin_sum compares EXACTLY
    // (double accumulation both sides, round 1); the 32-bit sums are
    // checked as BOOLEANS, |f32 sum − double sum| < 64. The table scans
    // in one task, so each is one sequential f32 accumulation, fixed for
    // the seeded table. Its error is a random walk of 10⁶ roundings of at
    // most ulp(5e5)/2 = 1/64: rms ≈ √10⁶·(1/32)/√12 ≈ 9; measured 0.145
    // for both. 64 stays far below a real bug (a dropped 15,625-row
    // generation range is ~7800 off, a broken coercion ~5·10⁵ off).
    "q_types_1m_trio" -> ((s, _) => {
      withUdafs(s)
      graft.engine.TypesTable.generate(s, 1000000L, seed = 42)
        .createOrReplaceTempView("types_1m")
      s.sql(
        """SELECT round(sum(float), 1) AS builtin_sum,
          |       abs(CAST(sum_custom(float) AS DOUBLE) - sum(float)) < 64.0
          |         AS custom_sum_ok,
          |       abs(CAST(sum_coercing(float) AS DOUBLE) - sum(float)) < 64.0
          |         AS coercing_sum_ok,
          |       count(*) AS n
          |FROM types_1m""".stripMargin)
    }),

    // window-frame usage of the custom aggregate — the reference's
    // create_sliding_accumulator path (src/cudarc_sum_udaf.rs:59-62):
    // running 32-bit sums over an ordered frame. Input values are
    // integral, so Float32/Int32 accumulation stays exact and the
    // DuckDB oracle hash-matches.
    "q_udaf_window" -> ((s, dir) => {
      withUdafs(s)
      Engine.registerTestdata(s, dir)
      s.sql(
        """SELECT o_custkey, o_orderkey,
          |  sum_coercing(CAST(o_orderkey % 100 AS INT)) OVER w AS running_mod,
          |  sum_custom(CAST(o_orderkey % 7 AS FLOAT)) OVER w AS running_mod7
          |FROM orders
          |WINDOW w AS (PARTITION BY o_custkey ORDER BY o_orderkey
          |             ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
          |ORDER BY o_custkey, o_orderkey""".stripMargin)
    }),

    // reference quirk preserved: sum over zero rows → 0.0f, NOT NULL
    // (reference: src/cubecl_sum_udaf.rs:105,207-209)
    "q_sum_empty" -> ((s, dir) => {
      withUdafs(s)
      t(s, dir, "lineitem")
        .filter(col("l_quantity") < 0)
        .agg(Udafs.sum_custom(col("l_quantity").cast("float")).as("sum_empty"))
    })
  )

  val oracleSql: Map[String, String] = Map(
    // __GRAFT_TYPES1M__ is interpolated by Verify with the absolute
    // path of its seeded-table dump (the trio's input, written next to
    // the output dir). The two booleans are computed SPARK-side (the
    // oracle's constant `true` is the expected verdict): if either
    // custom aggregate drifts past the f32 error bound, Spark emits
    // false and the driver hash goes red.
    "q_types_1m_trio" ->
      """SELECT round(sum(float), 1) AS builtin_sum,
        |       true AS custom_sum_ok,
        |       true AS coercing_sum_ok,
        |       count(*) AS n
        |FROM read_parquet('__GRAFT_TYPES1M__/*.parquet')""".stripMargin,

    "q_sum_custom" ->
      """SELECT l_returnflag, CAST(sum(l_quantity) AS REAL) AS sum_qty_f32
        |FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag""".stripMargin,

    "q_sum_coercing_int" ->
      """SELECT l_linestatus, CAST(CAST(sum(l_linenumber) AS INT) AS REAL) AS sum_ln_f32
        |FROM lineitem GROUP BY l_linestatus ORDER BY l_linestatus""".stripMargin,

    "q_sum_coercing_float" ->
      """SELECT l_returnflag, CAST(sum(l_quantity) AS REAL) AS sum_qty_f32
        |FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag""".stripMargin,

    "q_sum_empty" ->
      """SELECT CAST(coalesce(sum(l_quantity), 0) AS REAL) AS sum_empty
        |FROM lineitem WHERE l_quantity < 0""".stripMargin,

    "q_udaf_window" ->
      """SELECT o_custkey, o_orderkey,
        |  CAST(CAST(sum(o_orderkey % 100) OVER w AS INT) AS REAL) AS running_mod,
        |  CAST(sum(o_orderkey % 7) OVER w AS REAL) AS running_mod7
        |FROM orders
        |WINDOW w AS (PARTITION BY o_custkey ORDER BY o_orderkey
        |             ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
        |ORDER BY o_custkey, o_orderkey""".stripMargin
  )
}
