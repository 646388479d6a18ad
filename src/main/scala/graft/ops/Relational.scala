package graft.ops

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.engine.Engine
import graft.engine.Engine.{table => t}

/** SURVEY §2 relational operator inventory — scans, predicates, joins,
  * aggregations, windows, sorts, set ops, subqueries/CTEs — each as a
  * named deterministic query over the testdata star schema with a DuckDB
  * oracle.
  *
  * Scale notes (100 TB mindset), applied throughout:
  *  - dimension tables (`region`, `nation`, and `customer`/`supplier`/
  *    `part` at TPC-H proportions) are explicitly `broadcast()` so fact
  *    joins never shuffle the big side;
  *  - fact-fact joins (lineitem⋈orders) shuffle on the join key only
  *    after filters/projections have been pushed to the parquet scan;
  *  - aggregates are declarative (map-side partial agg for free);
  *  - every query orders by a unique key so results are deterministic
  *    under any partitioning.
  */
object Relational {

  /** Dense (hour, event_type, n) grid over the observed range — empty
    * hours as 0. Shared by q_events_gapfill / q_events_anomaly and the
    * [[Events]] time-series family (ACF / CUSUM / forecast). Only
    * the hourly count aggregation is corpus-sized; the grid comes from
    * a 1-row bounds aggregate exploded through sequence(), so the
    * densify join costs the same at any SF. */
  private[ops] def denseHourlyCounts(s: SparkSession, dir: String): DataFrame = {
    val ev = t(s, dir, "events")
      .withColumn("h", date_trunc("hour", Engine.eventTs(col("ts"))))
    val counts = ev.groupBy(col("h"), col("event_type"))
      .agg(count(lit(1)).as("n"))
    val grid = ev.agg(min(col("h")).as("h0"), max(col("h")).as("h1"))
      .select(explode(expr("sequence(h0, h1, interval 1 hour)")).as("h"))
      .crossJoin(ev.select(col("event_type")).distinct())
    grid.join(counts, Seq("h", "event_type"), "left")
      .withColumn("n", coalesce(col("n"), lit(0L)))
  }

  /** The cleared-3σ anomaly flag over a dense (h, event_type, n) grid —
    * factored out of q_events_anomaly so AnomalySpec can drive it with
    * planted 10⁸-scale counts. Σx stays BIGINT (wraps only past ~4·10¹⁷
    * per 24-cell window); n is cast to DECIMAL(38,0) BEFORE squaring so
    * Σx² and both cleared inequality sides are exact to counts of
    * ~10¹⁵ per (hour, type) — the r9-documented 64-bit ceiling
    * (~4·10⁷) is gone. */
  private[graft] def anomalyFlags(dense: DataFrame): DataFrame = {
    val trail = Window.partitionBy(col("event_type")).orderBy(col("h"))
      .rowsBetween(-24, -1)
    val dec = "decimal(38,0)"
    dense
      .withColumn("w_n", count(lit(1)).over(trail))
      .withColumn("w_sum", coalesce(sum(col("n")).over(trail), lit(0L)))
      .withColumn("w_sum2",
        coalesce(sum(col("n").cast(dec) * col("n").cast(dec)).over(trail),
          lit(0L).cast(dec)).cast(dec))
      .withColumn("__dev",
        col("w_n").cast(dec) * col("n").cast(dec) - col("w_sum").cast(dec))
      .withColumn("dev2w",
        (col("__dev") * col("__dev") * (col("w_n") - 1L).cast(dec)).cast(dec))
      .withColumn("var_w",
        (lit(9L).cast(dec) * col("w_n").cast(dec) *
          (col("w_n").cast(dec) * col("w_sum2") -
            col("w_sum").cast(dec) * col("w_sum").cast(dec))).cast(dec))
      .withColumn("is_anomaly",
        col("w_n") >= 12L && col("dev2w") > col("var_w"))
      .drop("__dev")
  }

  /** TPC-H Q1-style pricing summary — partial→final hash aggregation. */
  def q1Agg(spark: SparkSession, dir: String): DataFrame = {
    t(spark, dir, "lineitem")
      .filter(col("l_shipdate") <= lit("1997-09-01").cast("timestamp"))
      .groupBy(col("l_returnflag"), col("l_linestatus"))
      .agg(
        round(sum(col("l_quantity")), 2).as("sum_qty"),
        round(sum(col("l_extendedprice")), 2).as("sum_base_price"),
        round(sum(col("l_extendedprice") * (lit(1) - col("l_discount"))), 2).as("sum_disc_price"),
        round(avg(col("l_quantity")), 4).as("avg_qty"),
        round(avg(col("l_discount")), 4).as("avg_disc"),
        count(lit(1)).as("count_order"))
      .orderBy(col("l_returnflag"), col("l_linestatus"))
  }

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "q1_agg" -> q1Agg,

    // projection + predicate pushdown: BETWEEN, IN, LIKE all reach the scan
    "q_scan_filter" -> ((s, dir) =>
      t(s, dir, "lineitem")
        .filter(col("l_quantity").between(10, 20) &&
          col("l_returnflag").isin("A", "R") &&
          col("l_linestatus").like("F%"))
        .select(col("l_orderkey"), col("l_linenumber"), col("l_quantity"), col("l_returnflag"))
        // (l_orderkey, l_linenumber) is NOT unique in the testdata —
        // order by every output column for full determinism
        .orderBy(col("l_orderkey"), col("l_linenumber"), col("l_quantity"), col("l_returnflag"))),

    // CASE WHEN / arithmetic / cast / null handling
    "q_pred_case" -> ((s, dir) =>
      t(s, dir, "orders")
        // sort-first on the unique key, project after: the range
        // exchange then samples and ships only the scan columns, and
        // the expression chain runs once post-shuffle (r15, guide §2.3)
        .orderBy(col("o_orderkey"))
        .select(
          col("o_orderkey"),
          when(col("o_totalprice") > 200000, lit("big"))
            .when(col("o_totalprice") > 100000, lit("mid"))
            .otherwise(lit("small")).as("bucket"),
          // round at 4: price*0.9 is exact at 3 decimals, so scale-4
          // rounding never sits on a half-way boundary (scale-2 does)
          round(col("o_totalprice") * lit(0.9) + lit(1), 4).as("adj"),
          col("o_orderkey").cast("string").as("key_str"),
          (col("o_orderkey") % 7).cast("long").as("key_mod"))),

    // fact⋈fact shuffle join + broadcast dimension join
    "q_join_inner" -> ((s, dir) => {
      val li = t(s, dir, "lineitem")
      val o = t(s, dir, "orders")
      val c = broadcast(t(s, dir, "customer"))
      li.join(o, li("l_orderkey") === o("o_orderkey"))
        .join(c, o("o_custkey") === c("c_custkey"))
        .groupBy(col("c_mktsegment"))
        .agg(
          round(sum(col("l_extendedprice") * (lit(1) - col("l_discount"))), 2).as("revenue"),
          count(lit(1)).as("n"))
        .orderBy(col("c_mktsegment"))
    }),

    "q_join_left" -> ((s, dir) => {
      val c = t(s, dir, "customer")
      val o = t(s, dir, "orders")
      c.join(o, c("c_custkey") === o("o_custkey"), "left")
        .groupBy(col("c_custkey"))
        .agg(count(col("o_orderkey")).as("n_orders"),
          round(coalesce(sum(col("o_totalprice")), lit(0.0)), 2).as("total"))
        .orderBy(col("c_custkey"))
    }),

    "q_join_full" -> ((s, dir) => {
      // full outer across keyspaces that only partially overlap
      val bigOrders = t(s, dir, "orders").filter(col("o_totalprice") > 150000)
        .select(col("o_custkey")).distinct()
      val topCust = t(s, dir, "customer").filter(col("c_acctbal") > 5000)
        .select(col("c_custkey"), col("c_acctbal"))
      topCust.join(bigOrders, topCust("c_custkey") === bigOrders("o_custkey"), "full")
        .select(
          coalesce(col("c_custkey"), lit(-1)).as("ck"),
          coalesce(col("o_custkey"), lit(-1)).as("ok"))
        .orderBy(col("ck"), col("ok"))
    }),

    // left-semi ≡ EXISTS: no row duplication, right side only probed
    "q_join_semi" -> ((s, dir) => {
      val c = t(s, dir, "customer")
      val o = t(s, dir, "orders").filter(col("o_totalprice") > 250000)
      c.join(o, c("c_custkey") === o("o_custkey"), "left_semi")
        .select(col("c_custkey"), col("c_name"))
        .orderBy(col("c_custkey"))
    }),

    // left-anti ≡ NOT EXISTS
    "q_join_anti" -> ((s, dir) => {
      val c = t(s, dir, "customer")
      // anti against the HIGH-VALUE order set: every customer has some
      // order in the testdata, so an unfiltered anti join returned 0
      // rows at every scale — a vacuously-validated operator (same risk
      // class the ngram/levenshtein fixtures cover); >375k keeps
      // ~10% of customers in the result at every sf
      val o = t(s, dir, "orders").filter(col("o_totalprice") > 375000)
      c.join(o, c("c_custkey") === o("o_custkey"), "left_anti")
        .select(col("c_custkey"), col("c_acctbal"))
        .orderBy(col("c_custkey"))
    }),

    "q_join_cross" -> ((s, dir) => {
      val r = t(s, dir, "region")
      val n = t(s, dir, "nation")
      r.crossJoin(n)
        .select(col("r_regionkey"), col("n_nationkey"))
        .orderBy(col("r_regionkey"), col("n_nationkey"))
    }),

    // non-equi theta join → BroadcastNestedLoopJoin (tiny side broadcast)
    "q_join_nonequi" -> ((s, dir) => {
      val r1 = t(s, dir, "region").select(col("r_regionkey").as("a"))
      val r2 = broadcast(t(s, dir, "region").select(col("r_regionkey").as("b")))
      r1.join(r2, col("a") < col("b"))
        .orderBy(col("a"), col("b"))
    }),

    // sort + limit → TakeOrderedAndProject (top-k heap, no full sort)
    "q_topk" -> ((s, dir) =>
      t(s, dir, "lineitem")
        .select(col("l_orderkey"), col("l_linenumber"), col("l_extendedprice"))
        .orderBy(col("l_extendedprice").desc, col("l_orderkey"), col("l_linenumber"))
        .limit(10)),

    "q_limit_offset" -> ((s, dir) =>
      t(s, dir, "orders")
        .select(col("o_orderkey"), col("o_orderpriority"))
        .orderBy(col("o_orderkey"))
        .offset(5).limit(10)),

    "q_setop_union_all" -> ((s, dir) => {
      val a = t(s, dir, "customer").filter(col("c_acctbal") > 9000)
        .select(col("c_custkey").as("k"))
      val b = t(s, dir, "supplier").filter(col("s_acctbal") > 9000)
        .select(col("s_suppkey").as("k"))
      a.union(b).groupBy(col("k")).agg(count(lit(1)).as("n")).orderBy(col("k"))
    }),

    "q_setop_intersect" -> ((s, dir) => {
      val a = t(s, dir, "orders").select(col("o_custkey").as("k"))
      val b = t(s, dir, "customer").filter(col("c_acctbal") > 0)
        .select(col("c_custkey").as("k"))
      a.intersect(b).orderBy(col("k"))
    }),

    "q_setop_except" -> ((s, dir) => {
      val a = t(s, dir, "customer").select(col("c_custkey").as("k"))
      // restrict the subtrahend to high-value orders: the unrestricted
      // difference was empty at every scale (vacuous check)
      val b = t(s, dir, "orders").filter(col("o_totalprice") > 375000)
        .select(col("o_custkey").as("k"))
      a.except(b).orderBy(col("k"))
    }),

    // ranking windows: row_number / rank / dense_rank, deterministic tiebreak
    "q_window_rank" -> ((s, dir) => {
      val w = Window.partitionBy(col("l_returnflag"))
        .orderBy(col("l_extendedprice").desc, col("l_orderkey"), col("l_linenumber"))
      t(s, dir, "lineitem")
        .select(col("l_returnflag"), col("l_orderkey"), col("l_linenumber"),
          col("l_extendedprice"),
          row_number().over(w).cast("long").as("rn"),
          rank().over(w).cast("long").as("rk"),
          dense_rank().over(w).cast("long").as("drk"))
        .filter(col("rn") <= 5)
        .orderBy(col("l_returnflag"), col("rn"))
    }),

    "q_window_lag_lead" -> ((s, dir) => {
      val w = Window.partitionBy(col("o_custkey")).orderBy(col("o_orderkey"))
      t(s, dir, "orders")
        .select(col("o_custkey"), col("o_orderkey"),
          round(col("o_totalprice"), 2).as("price"),
          round(lag(col("o_totalprice"), 1).over(w), 2).as("prev_price"),
          round(lead(col("o_totalprice"), 1).over(w), 2).as("next_price"))
        .orderBy(col("o_custkey"), col("o_orderkey"))
    }),

    // aggregate-over-window with ROWS frames (running + moving)
    "q_window_frames" -> ((s, dir) => {
      val w = Window.partitionBy(col("o_custkey")).orderBy(col("o_orderkey"))
      t(s, dir, "orders")
        .select(col("o_custkey"), col("o_orderkey"),
          round(sum(col("o_totalprice"))
            .over(w.rowsBetween(Window.unboundedPreceding, Window.currentRow)), 2)
            .as("running_total"),
          round(avg(col("o_totalprice"))
            .over(w.rowsBetween(-2, Window.currentRow)), 4).as("mov_avg3"),
          count(lit(1)).over(w.rowsBetween(Window.unboundedPreceding,
            Window.unboundedFollowing)).as("n_in_part"))
        .orderBy(col("o_custkey"), col("o_orderkey"))
    }),

    "q_window_dist" -> ((s, dir) => {
      val w = Window.partitionBy(col("c_mktsegment"))
        .orderBy(col("c_acctbal"), col("c_custkey"))
      t(s, dir, "customer")
        .select(col("c_mktsegment"), col("c_custkey"),
          ntile(4).over(w).cast("long").as("quartile"),
          round(percent_rank().over(w), 6).as("prk"),
          round(cume_dist().over(w), 6).as("cd"))
        .orderBy(col("c_mktsegment"), col("c_custkey"))
    }),

    // distinct aggregates — deliberately NOT countDistinct(...)×3 in
    // one agg: three distinct aggregates with different key sets force
    // Catalyst through Expand (every input row ×3, each copy nulled
    // down to one key set), tripling the shuffle and the sort-agg
    // input. Measured in the r8 driver window as the single slowest
    // non-ANN query (11.0s vs 1.2s quiet). The equivalent expand-free
    // plan runs three independent distinct-project→agg branches — each
    // scans only its 2–3 columns (pruned at the parquet footer), each
    // partial-aggregates map-side before its shuffle — and joins the
    // three 3-row results on the group key (auto-broadcast). At 100 TB
    // the three pruned scans are together cheaper than one 3×-expanded
    // shuffle of the full row set.
    "q_agg_distinct" -> ((s, dir) => {
      val li = t(s, dir, "lineitem")
      def branch(keys: Seq[String], out: Column): DataFrame =
        li.select(col("l_returnflag") +: keys.map(col): _*).distinct()
          .groupBy(col("l_returnflag")).agg(out)
      branch(Seq("l_suppkey"), count(lit(1)).as("n_supp"))
        .join(branch(Seq("l_partkey", "l_suppkey"),
          count(lit(1)).as("n_part_supp")), Seq("l_returnflag"))
        .join(branch(Seq("l_quantity"),
          round(sum(col("l_quantity")), 2).as("sum_dist_qty")),
          Seq("l_returnflag"))
        .orderBy(col("l_returnflag"))
    }),

    // statistical aggregate family
    "q_agg_stats" -> ((s, dir) =>
      t(s, dir, "lineitem")
        .groupBy(col("l_linestatus"))
        .agg(
          round(stddev_samp(col("l_extendedprice")), 4).as("sd_samp"),
          round(stddev_pop(col("l_extendedprice")), 4).as("sd_pop"),
          round(var_samp(col("l_extendedprice")), 4).as("v_samp"),
          round(var_pop(col("l_extendedprice")), 4).as("v_pop"),
          round(corr(col("l_quantity"), col("l_extendedprice")), 6).as("corr_qp"),
          round(covar_samp(col("l_quantity"), col("l_extendedprice")), 4).as("cov_s"),
          round(covar_pop(col("l_quantity"), col("l_extendedprice")), 4).as("cov_p"))
        .orderBy(col("l_linestatus"))),

    "q_agg_regr" -> ((s, dir) =>
      t(s, dir, "lineitem")
        .groupBy(col("l_returnflag"))
        .agg(
          round(regr_slope(col("l_extendedprice"), col("l_quantity")), 6).as("slope"),
          round(regr_intercept(col("l_extendedprice"), col("l_quantity")), 4).as("icept"),
          round(regr_r2(col("l_extendedprice"), col("l_quantity")), 6).as("r2"),
          regr_count(col("l_extendedprice"), col("l_quantity")).as("n"))
        .orderBy(col("l_returnflag"))),

    "q_agg_minmax" -> ((s, dir) =>
      t(s, dir, "orders")
        .groupBy(col("o_orderpriority"))
        .agg(
          min(col("o_totalprice")).as("min_p"),
          max(col("o_totalprice")).as("max_p"),
          min_by(col("o_orderkey"), col("o_totalprice")).as("cheapest_key"),
          max_by(col("o_orderkey"), col("o_totalprice")).as("dearest_key"),
          first(col("o_orderkey")).as("first_key_unused"))
        .drop("first_key_unused")
        .orderBy(col("o_orderpriority"))),

    // array_agg / collect with deterministic ordering. The collected
    // arrays are serialized to canonical comma-joined strings so the
    // driver's pandas sorter can hash them (nested columns throw there).
    "q_agg_collect" -> ((s, dir) =>
      t(s, dir, "nation")
        .groupBy(col("n_regionkey"))
        .agg(
          array_join(sort_array(collect_list(col("n_name"))), ",").as("nations"),
          array_join(sort_array(collect_set(col("n_nationkey"))).cast("array<string>"), ",")
            .as("keys"))
        .orderBy(col("n_regionkey"))),

    "q_agg_stringagg" -> ((s, dir) =>
      t(s, dir, "nation")
        .groupBy(col("n_regionkey"))
        .agg(concat_ws(",", sort_array(collect_list(col("n_name")))).as("names"))
        .orderBy(col("n_regionkey"))),

    "q_agg_bitbool" -> ((s, dir) =>
      t(s, dir, "lineitem")
        .groupBy(col("l_returnflag"))
        .agg(
          bit_and(col("l_linenumber")).cast("long").as("band"),
          bit_or(col("l_linenumber")).cast("long").as("bor"),
          bit_xor(col("l_linenumber")).cast("long").as("bxor"),
          bool_and(col("l_quantity") > 0).as("all_pos"),
          bool_or(col("l_discount") > 0.05).as("any_disc"))
        .orderBy(col("l_returnflag"))),

    "q_agg_median" -> ((s, dir) =>
      t(s, dir, "orders")
        .groupBy(col("o_orderstatus"))
        .agg(
          round(median(col("o_totalprice")), 4).as("med"),
          round(percentile(col("o_totalprice"), lit(0.25)), 4).as("p25"),
          round(percentile(col("o_totalprice"), lit(0.9)), 4).as("p90"))
        .orderBy(col("o_orderstatus"))),

    // HLL sketch — the raw estimate is algorithm-specific (no cross-
    // engine value to compare), but the driver can still GATE it: the
    // output carries the exact distinct count (hash-compared against
    // DuckDB) plus a bracket bit asserting the estimate sits within
    // 3×rsd (15% at the default rsd=0.05) of the truth — the oracle
    // pins that bit TRUE, so an estimator regression flips the row.
    // Tight per-cardinality accuracy stays in SketchAccuracySpec.
    "q_agg_approx_distinct" -> ((s, dir) =>
      t(s, dir, "lineitem")
        .groupBy(col("l_returnflag"))
        .agg(approx_count_distinct(col("l_partkey")).as("approx"),
          countDistinct(col("l_partkey")).as("exact_parts"))
        .select(col("l_returnflag"), col("exact_parts"),
          (abs(col("approx") - col("exact_parts")) * lit(100L) <=
            col("exact_parts") * lit(15L)).as("hll_within_15pct"))
        .orderBy(col("l_returnflag"))),

    "q_rollup" -> ((s, dir) =>
      t(s, dir, "lineitem")
        .rollup(col("l_returnflag"), col("l_linestatus"))
        .agg(round(sum(col("l_quantity")), 2).as("sum_qty"),
          grouping(col("l_returnflag")).cast("long").as("g_rf"),
          grouping(col("l_linestatus")).cast("long").as("g_ls"))
        .orderBy(col("g_rf"), col("g_ls"), col("l_returnflag"), col("l_linestatus"))),

    "q_cube" -> ((s, dir) =>
      t(s, dir, "orders")
        .cube(col("o_orderstatus"), col("o_orderpriority"))
        .agg(count(lit(1)).as("n"),
          grouping(col("o_orderstatus")).cast("long").as("g_s"),
          grouping(col("o_orderpriority")).cast("long").as("g_p"))
        .orderBy(col("g_s"), col("g_p"), col("o_orderstatus"), col("o_orderpriority"))),

    "q_grouping_sets" -> ((s, dir) => {
      Engine.registerTestdata(s, dir)
      s.sql(
        """SELECT l_returnflag, l_linestatus,
          |       round(sum(l_quantity), 2) AS sum_qty,
          |       CAST(grouping(l_returnflag) AS BIGINT) AS g_rf,
          |       CAST(grouping(l_linestatus) AS BIGINT) AS g_ls
          |FROM lineitem
          |GROUP BY GROUPING SETS ((l_returnflag), (l_linestatus), ())
          |ORDER BY g_rf, g_ls, l_returnflag, l_linestatus""".stripMargin)
    }),

    // scalar subquery + IN subquery + correlated EXISTS
    "q_subquery_scalar" -> ((s, dir) => {
      Engine.registerTestdata(s, dir)
      s.sql(
        """SELECT o_orderkey, round(o_totalprice, 2) AS price
          |FROM orders
          |WHERE o_totalprice > 1.5 * (SELECT avg(o_totalprice) FROM orders)
          |ORDER BY o_orderkey""".stripMargin)
    }),

    "q_subquery_in" -> ((s, dir) => {
      Engine.registerTestdata(s, dir)
      s.sql(
        """SELECT c_custkey, c_name
          |FROM customer
          |WHERE c_custkey IN (SELECT o_custkey FROM orders WHERE o_totalprice > 300000)
          |ORDER BY c_custkey""".stripMargin)
    }),

    "q_subquery_exists" -> ((s, dir) => {
      Engine.registerTestdata(s, dir)
      s.sql(
        """SELECT s_suppkey, s_name
          |FROM supplier
          |WHERE EXISTS (SELECT 1 FROM lineitem
          |              WHERE l_suppkey = s_suppkey AND l_quantity >= 49)
          |ORDER BY s_suppkey""".stripMargin)
    }),

    "q_cte" -> ((s, dir) => {
      Engine.registerTestdata(s, dir)
      s.sql(
        """WITH cust_orders AS (
          |  SELECT o_custkey, count(*) AS n, sum(o_totalprice) AS total
          |  FROM orders GROUP BY o_custkey
          |), big AS (
          |  SELECT * FROM cust_orders WHERE n >= 3
          |)
          |SELECT b.o_custkey AS custkey, b.n, round(b.total, 2) AS total
          |FROM big b JOIN customer c ON b.o_custkey = c.c_custkey
          |ORDER BY custkey""".stripMargin)
    }),

    "q_values_inline" -> ((s, _) =>
      s.sql(
        """SELECT k, v FROM VALUES (1, 'a'), (2, 'b'), (3, 'c') AS t(k, v)
          |WHERE k > 1 ORDER BY k""".stripMargin)
          .select(col("k").cast("long").as("k"), col("v"))),

    // tumbling event-time bucket aggregation (batch analogue of the
    // streaming pipeline; see graft.streaming for the Engine.stream variant).
    // ts is TIMESTAMP_NTZ micros (see Engine.eventTs); the UTC cast gives
    // the instant semantics date_trunc/window expect, numerically exact.
    "q_events_window" -> ((s, dir) =>
      t(s, dir, "events")
        .withColumn("ts", Engine.eventTs(col("ts")))
        .groupBy(
          date_format(date_trunc("hour", col("ts")), "yyyy-MM-dd HH:mm:ss").as("hour"),
          col("event_type"))
        .agg(count(lit(1)).as("n"), round(sum(col("value")), 2).as("total_value"))
        .orderBy(col("hour"), col("event_type"))),

    // time-grid densification (gap-fill): every (hour, event_type) cell
    // of the observed range exists in the output — empty hours as 0 —
    // plus the running cumulative, the shape every metrics/monitoring
    // readout needs (a missing hour must read as zero, not vanish).
    // Scale shape: the only corpus-sized work is the first hourly
    // aggregation (map-side partial); the grid is TIME-RANGE-sized
    // (hours × types, independent of corpus row count), built from a
    // 1-row bounds aggregate exploded through sequence(), so the
    // densify join and the cumulative window cost the same at any SF.
    "q_events_gapfill" -> ((s, dir) => {
      val w = Window.partitionBy(col("event_type")).orderBy(col("h"))
      denseHourlyCounts(s, dir)
        .withColumn("cum_n", sum(col("n")).over(w))
        .select(date_format(col("h"), "yyyy-MM-dd HH:mm:ss").as("hour"),
          col("event_type"), col("n"), col("cum_n"))
        .orderBy(col("hour"), col("event_type"))
    }),

    // trailing-window anomaly detection on the dense hourly counts —
    // the alerting readout downstream of gap-fill: an hour is anomalous
    // when its count deviates from the trailing 24 h mean by more than
    // 3 sample standard deviations. The 3σ test is evaluated ENTIRELY
    // in integer arithmetic — (n·x − Σx)²·(n−1) > 9·n·(n·Σx² − (Σx)²)
    // is the z² > 9 inequality cleared of divisions — so the verdict
    // can never flip on a float accumulation order (stddev over a
    // window is exactly the cross-engine float hazard this avoids).
    // Since r10 the cleared terms are computed in DECIMAL(38,0)
    // (HUGEINT on the oracle side, rendered as DECIMAL(38,0)): the
    // previous all-BIGINT form wrapped silently past per-(hour,type)
    // counts of C ≈ 4·10⁷ (the terms peak at ~(24·C)²·23), while
    // DuckDB raised — divergent failure modes on the same hot corpus.
    // The 38-digit grid holds to C ≈ 10¹⁵ events/hour/type, far past
    // any physical ingest rate; the window SUMS (Σx, Σx²) stay BIGINT,
    // safe to C ≈ 6·10⁸ per hour-cell... also widened: w_sum2 sums
    // n² which wraps at C ≈ 6·10⁸ — the decimal cast happens BEFORE
    // squaring, so every squared term is exact. AnomalySpec drives
    // [[anomalyFlags]] with planted 10⁸-scale counts and cross-checks
    // BigInt ground truth. Warm-up hours with fewer than 12 trailing
    // observations never flag. Same scale shape as the grid family:
    // one corpus aggregation, then time-range-sized.
    // dev2w/var_w are DECIMAL(38,0) internally (overflow-proof) but
    // rendered as canonical integer STRINGS in the output: the r10
    // driver hash disagreed on decimal128 serialization even though
    // every cell was repr-identical to the oracle, so both engines
    // now emit VARCHAR — scale-0 decimals print the same plain
    // integer in Spark and DuckDB.
    "q_events_anomaly" -> ((s, dir) =>
      anomalyFlags(denseHourlyCounts(s, dir))
        .select(date_format(col("h"), "yyyy-MM-dd HH:mm:ss").as("hour"),
          col("event_type"), col("n"), col("w_n"), col("w_sum"),
          col("dev2w").cast("string").as("dev2w"),
          col("var_w").cast("string").as("var_w"),
          col("is_anomaly"))
        .orderBy(col("hour"), col("event_type"))),

    // forward-fill (LOCF) over the same dense grid — the OTHER fill
    // mode a metrics readout needs: a gauge keeps its last observed
    // value across empty hours (counts zero-fill, gauges carry
    // forward). Per (hour, type) the observation is the LAST event's
    // value in that hour (cents grid, ties by event_id — deterministic
    // in both engines); holes then take the most recent observation via
    // an ignore-nulls last() window. Hours before a type's first
    // observation stay NULL — rendered as -1 so the oracle hash has no
    // NULL-ordering hazard. Same scale shape as q_events_gapfill: one
    // corpus aggregation, then everything is time-range-sized.
    "q_events_locf" -> ((s, dir) => {
      val ev = t(s, dir, "events")
        .withColumn("ts", Engine.eventTs(col("ts")))
        .withColumn("h", date_trunc("hour", col("ts")))
        .withColumn("cents", round(col("value") * 100).cast("long"))
      val byHour = Window.partitionBy(col("h"), col("event_type"))
        .orderBy(col("ts").desc, col("event_id").desc)
      val obs = ev.withColumn("rn", row_number().over(byHour))
        .filter(col("rn") === 1)
        .select(col("h"), col("event_type"), col("cents"))
      val grid = ev.agg(min(col("h")).as("h0"), max(col("h")).as("h1"))
        .select(explode(expr("sequence(h0, h1, interval 1 hour)")).as("h"))
        .crossJoin(ev.select(col("event_type")).distinct())
      val locf = Window.partitionBy(col("event_type")).orderBy(col("h"))
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      grid.join(obs, Seq("h", "event_type"), "left")
        .withColumn("filled",
          last(col("cents"), ignoreNulls = true).over(locf))
        .select(date_format(col("h"), "yyyy-MM-dd HH:mm:ss").as("hour"),
          col("event_type"),
          col("cents").isNotNull.as("observed"),
          (coalesce(col("filled"), lit(-100L)).cast("double") / 100.0)
            .as("gauge"))
        .orderBy(col("hour"), col("event_type"))
    }),

    // JSON-ish extraction from the props payload (regex, engine-portable)
    "q_events_props" -> ((s, dir) =>
      t(s, dir, "events")
        .select(col("event_id"),
          regexp_extract(col("props"), "\"k\":\\s*(\\d+)", 1).cast("long").as("k"))
        .filter(col("k") > 80)
        .orderBy(col("event_id"))),

    // sort with explicit null placement
    "q_sort_nulls" -> ((s, dir) =>
      t(s, dir, "customer")
        .select(col("c_custkey"),
          when(col("c_acctbal") < 0, col("c_acctbal")).as("neg_bal"))
        .orderBy(col("neg_bal").asc_nulls_first, col("c_custkey"))
        .limit(2000)),

    // pivot (conditional aggregation)
    "q_pivot" -> ((s, dir) =>
      t(s, dir, "orders")
        .groupBy(col("o_orderpriority"))
        .pivot("o_orderstatus", Seq("F", "O", "P"))
        .agg(round(sum(col("o_totalprice")), 2))
        .orderBy(col("o_orderpriority"))),

    // unpivot / melt (wide → long); oracle is the UNION ALL formulation
    "q_unpivot" -> ((s, dir) =>
      t(s, dir, "customer")
        .select(col("c_custkey"), col("c_acctbal"),
          col("c_nationkey").cast("double").as("c_nation_d"))
        .unpivot(Array(col("c_custkey")),
          Array(col("c_acctbal"), col("c_nation_d")), "metric", "value")
        .orderBy(col("c_custkey"), col("metric")))
  )

  val oracleSql: Map[String, String] = Map(
    "q1_agg" ->
      """SELECT l_returnflag, l_linestatus,
        |  round(sum(l_quantity), 2) AS sum_qty,
        |  round(sum(l_extendedprice), 2) AS sum_base_price,
        |  round(sum(l_extendedprice * (1 - l_discount)), 2) AS sum_disc_price,
        |  round(avg(l_quantity), 4) AS avg_qty,
        |  round(avg(l_discount), 4) AS avg_disc,
        |  count(*) AS count_order
        |FROM lineitem
        |WHERE l_shipdate <= TIMESTAMP '1997-09-01'
        |GROUP BY l_returnflag, l_linestatus
        |ORDER BY l_returnflag, l_linestatus""".stripMargin,

    "q_scan_filter" ->
      """SELECT l_orderkey, l_linenumber, l_quantity, l_returnflag
        |FROM lineitem
        |WHERE l_quantity BETWEEN 10 AND 20
        |  AND l_returnflag IN ('A', 'R') AND l_linestatus LIKE 'F%'
        |ORDER BY l_orderkey, l_linenumber, l_quantity, l_returnflag""".stripMargin,

    "q_pred_case" ->
      """SELECT o_orderkey,
        |  CASE WHEN o_totalprice > 200000 THEN 'big'
        |       WHEN o_totalprice > 100000 THEN 'mid'
        |       ELSE 'small' END AS bucket,
        |  round(o_totalprice * 0.9 + 1, 4) AS adj,
        |  CAST(o_orderkey AS VARCHAR) AS key_str,
        |  CAST(o_orderkey % 7 AS BIGINT) AS key_mod
        |FROM orders ORDER BY o_orderkey""".stripMargin,

    "q_join_inner" ->
      """SELECT c_mktsegment,
        |  round(sum(l_extendedprice * (1 - l_discount)), 2) AS revenue,
        |  count(*) AS n
        |FROM lineitem JOIN orders ON l_orderkey = o_orderkey
        |JOIN customer ON o_custkey = c_custkey
        |GROUP BY c_mktsegment ORDER BY c_mktsegment""".stripMargin,

    "q_join_left" ->
      """SELECT c_custkey, count(o_orderkey) AS n_orders,
        |  round(coalesce(sum(o_totalprice), 0), 2) AS total
        |FROM customer LEFT JOIN orders ON c_custkey = o_custkey
        |GROUP BY c_custkey ORDER BY c_custkey""".stripMargin,

    "q_join_full" ->
      """SELECT coalesce(c_custkey, -1) AS ck, coalesce(o_custkey, -1) AS ok
        |FROM (SELECT c_custkey, c_acctbal FROM customer WHERE c_acctbal > 5000) tc
        |FULL JOIN (SELECT DISTINCT o_custkey FROM orders WHERE o_totalprice > 150000) bo
        |  ON tc.c_custkey = bo.o_custkey
        |ORDER BY ck, ok""".stripMargin,

    "q_join_semi" ->
      """SELECT c_custkey, c_name FROM customer
        |WHERE EXISTS (SELECT 1 FROM orders
        |              WHERE o_custkey = c_custkey AND o_totalprice > 250000)
        |ORDER BY c_custkey""".stripMargin,

    "q_join_anti" ->
      """SELECT c_custkey, c_acctbal FROM customer
        |WHERE NOT EXISTS (SELECT 1 FROM orders
        |                  WHERE o_custkey = c_custkey AND o_totalprice > 375000)
        |ORDER BY c_custkey""".stripMargin,

    "q_join_cross" ->
      """SELECT r_regionkey, n_nationkey FROM region CROSS JOIN nation
        |ORDER BY r_regionkey, n_nationkey""".stripMargin,

    "q_join_nonequi" ->
      """SELECT r1.r_regionkey AS a, r2.r_regionkey AS b
        |FROM region r1 JOIN region r2 ON r1.r_regionkey < r2.r_regionkey
        |ORDER BY a, b""".stripMargin,

    "q_topk" ->
      """SELECT l_orderkey, l_linenumber, l_extendedprice FROM lineitem
        |ORDER BY l_extendedprice DESC, l_orderkey, l_linenumber LIMIT 10""".stripMargin,

    "q_limit_offset" ->
      """SELECT o_orderkey, o_orderpriority FROM orders
        |ORDER BY o_orderkey LIMIT 10 OFFSET 5""".stripMargin,

    "q_setop_union_all" ->
      """SELECT k, count(*) AS n FROM (
        |  SELECT c_custkey AS k FROM customer WHERE c_acctbal > 9000
        |  UNION ALL
        |  SELECT s_suppkey AS k FROM supplier WHERE s_acctbal > 9000
        |) GROUP BY k ORDER BY k""".stripMargin,

    "q_setop_intersect" ->
      """SELECT o_custkey AS k FROM orders
        |INTERSECT
        |SELECT c_custkey AS k FROM customer WHERE c_acctbal > 0
        |ORDER BY k""".stripMargin,

    "q_setop_except" ->
      """SELECT c_custkey AS k FROM customer
        |EXCEPT
        |SELECT o_custkey AS k FROM orders WHERE o_totalprice > 375000
        |ORDER BY k""".stripMargin,

    "q_window_rank" ->
      """SELECT * FROM (
        |  SELECT l_returnflag, l_orderkey, l_linenumber, l_extendedprice,
        |    CAST(row_number() OVER w AS BIGINT) AS rn,
        |    CAST(rank() OVER w AS BIGINT) AS rk,
        |    CAST(dense_rank() OVER w AS BIGINT) AS drk
        |  FROM lineitem
        |  WINDOW w AS (PARTITION BY l_returnflag
        |               ORDER BY l_extendedprice DESC, l_orderkey, l_linenumber)
        |) WHERE rn <= 5 ORDER BY l_returnflag, rn""".stripMargin,

    "q_window_lag_lead" ->
      """SELECT o_custkey, o_orderkey, round(o_totalprice, 2) AS price,
        |  round(lag(o_totalprice, 1) OVER w, 2) AS prev_price,
        |  round(lead(o_totalprice, 1) OVER w, 2) AS next_price
        |FROM orders
        |WINDOW w AS (PARTITION BY o_custkey ORDER BY o_orderkey)
        |ORDER BY o_custkey, o_orderkey""".stripMargin,

    "q_window_frames" ->
      """SELECT o_custkey, o_orderkey,
        |  round(sum(o_totalprice) OVER (PARTITION BY o_custkey ORDER BY o_orderkey
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW), 2) AS running_total,
        |  round(avg(o_totalprice) OVER (PARTITION BY o_custkey ORDER BY o_orderkey
        |    ROWS BETWEEN 2 PRECEDING AND CURRENT ROW), 4) AS mov_avg3,
        |  count(*) OVER (PARTITION BY o_custkey) AS n_in_part
        |FROM orders ORDER BY o_custkey, o_orderkey""".stripMargin,

    "q_window_dist" ->
      """SELECT c_mktsegment, c_custkey,
        |  CAST(ntile(4) OVER w AS BIGINT) AS quartile,
        |  round(percent_rank() OVER w, 6) AS prk,
        |  round(cume_dist() OVER w, 6) AS cd
        |FROM customer
        |WINDOW w AS (PARTITION BY c_mktsegment ORDER BY c_acctbal, c_custkey)
        |ORDER BY c_mktsegment, c_custkey""".stripMargin,

    "q_agg_distinct" ->
      """SELECT l_returnflag,
        |  count(DISTINCT l_suppkey) AS n_supp,
        |  count(DISTINCT (l_partkey, l_suppkey)) AS n_part_supp,
        |  round(sum(DISTINCT l_quantity), 2) AS sum_dist_qty
        |FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag""".stripMargin,

    "q_agg_stats" ->
      """SELECT l_linestatus,
        |  round(stddev_samp(l_extendedprice), 4) AS sd_samp,
        |  round(stddev_pop(l_extendedprice), 4) AS sd_pop,
        |  round(var_samp(l_extendedprice), 4) AS v_samp,
        |  round(var_pop(l_extendedprice), 4) AS v_pop,
        |  round(corr(l_quantity, l_extendedprice), 6) AS corr_qp,
        |  round(covar_samp(l_quantity, l_extendedprice), 4) AS cov_s,
        |  round(covar_pop(l_quantity, l_extendedprice), 4) AS cov_p
        |FROM lineitem GROUP BY l_linestatus ORDER BY l_linestatus""".stripMargin,

    "q_agg_regr" ->
      """SELECT l_returnflag,
        |  round(regr_slope(l_extendedprice, l_quantity), 6) AS slope,
        |  round(regr_intercept(l_extendedprice, l_quantity), 4) AS icept,
        |  round(regr_r2(l_extendedprice, l_quantity), 6) AS r2,
        |  CAST(regr_count(l_extendedprice, l_quantity) AS BIGINT) AS n
        |FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag""".stripMargin,

    "q_agg_minmax" ->
      """SELECT o_orderpriority,
        |  min(o_totalprice) AS min_p, max(o_totalprice) AS max_p,
        |  arg_min(o_orderkey, o_totalprice) AS cheapest_key,
        |  arg_max(o_orderkey, o_totalprice) AS dearest_key
        |FROM orders GROUP BY o_orderpriority ORDER BY o_orderpriority""".stripMargin,

    "q_agg_collect" ->
      """SELECT n_regionkey,
        |  array_to_string(list_sort(list(n_name)), ',') AS nations,
        |  array_to_string(CAST(list_sort(list(DISTINCT n_nationkey)) AS VARCHAR[]), ',') AS keys
        |FROM nation GROUP BY n_regionkey ORDER BY n_regionkey""".stripMargin,

    "q_agg_stringagg" ->
      """SELECT n_regionkey, string_agg(n_name, ',' ORDER BY n_name) AS names
        |FROM nation GROUP BY n_regionkey ORDER BY n_regionkey""".stripMargin,

    "q_agg_bitbool" ->
      """SELECT l_returnflag,
        |  CAST(bit_and(l_linenumber) AS BIGINT) AS band,
        |  CAST(bit_or(l_linenumber) AS BIGINT) AS bor,
        |  CAST(bit_xor(l_linenumber) AS BIGINT) AS bxor,
        |  bool_and(l_quantity > 0) AS all_pos,
        |  bool_or(l_discount > 0.05) AS any_disc
        |FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag""".stripMargin,

    "q_agg_approx_distinct" ->
      """SELECT l_returnflag,
        |  count(DISTINCT l_partkey) AS exact_parts,
        |  TRUE AS hll_within_15pct
        |FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag""".stripMargin,

    "q_agg_median" ->
      """SELECT o_orderstatus,
        |  round(median(o_totalprice), 4) AS med,
        |  round(quantile_cont(o_totalprice, 0.25), 4) AS p25,
        |  round(quantile_cont(o_totalprice, 0.9), 4) AS p90
        |FROM orders GROUP BY o_orderstatus ORDER BY o_orderstatus""".stripMargin,

    "q_rollup" ->
      """SELECT l_returnflag, l_linestatus,
        |  round(sum(l_quantity), 2) AS sum_qty,
        |  CAST(grouping(l_returnflag) AS BIGINT) AS g_rf,
        |  CAST(grouping(l_linestatus) AS BIGINT) AS g_ls
        |FROM lineitem GROUP BY ROLLUP (l_returnflag, l_linestatus)
        |ORDER BY g_rf, g_ls, l_returnflag NULLS FIRST, l_linestatus NULLS FIRST""".stripMargin,

    "q_cube" ->
      """SELECT o_orderstatus, o_orderpriority, count(*) AS n,
        |  CAST(grouping(o_orderstatus) AS BIGINT) AS g_s,
        |  CAST(grouping(o_orderpriority) AS BIGINT) AS g_p
        |FROM orders GROUP BY CUBE (o_orderstatus, o_orderpriority)
        |ORDER BY g_s, g_p, o_orderstatus NULLS FIRST, o_orderpriority NULLS FIRST""".stripMargin,

    "q_grouping_sets" ->
      """SELECT l_returnflag, l_linestatus,
        |  round(sum(l_quantity), 2) AS sum_qty,
        |  CAST(grouping(l_returnflag) AS BIGINT) AS g_rf,
        |  CAST(grouping(l_linestatus) AS BIGINT) AS g_ls
        |FROM lineitem
        |GROUP BY GROUPING SETS ((l_returnflag), (l_linestatus), ())
        |ORDER BY g_rf, g_ls, l_returnflag NULLS FIRST, l_linestatus NULLS FIRST""".stripMargin,

    "q_subquery_scalar" ->
      """SELECT o_orderkey, round(o_totalprice, 2) AS price
        |FROM orders
        |WHERE o_totalprice > 1.5 * (SELECT avg(o_totalprice) FROM orders)
        |ORDER BY o_orderkey""".stripMargin,

    "q_subquery_in" ->
      """SELECT c_custkey, c_name FROM customer
        |WHERE c_custkey IN (SELECT o_custkey FROM orders WHERE o_totalprice > 300000)
        |ORDER BY c_custkey""".stripMargin,

    "q_subquery_exists" ->
      """SELECT s_suppkey, s_name FROM supplier
        |WHERE EXISTS (SELECT 1 FROM lineitem
        |              WHERE l_suppkey = s_suppkey AND l_quantity >= 49)
        |ORDER BY s_suppkey""".stripMargin,

    "q_cte" ->
      """WITH cust_orders AS (
        |  SELECT o_custkey, count(*) AS n, sum(o_totalprice) AS total
        |  FROM orders GROUP BY o_custkey
        |), big AS (SELECT * FROM cust_orders WHERE n >= 3)
        |SELECT b.o_custkey AS custkey, b.n, round(b.total, 2) AS total
        |FROM big b JOIN customer c ON b.o_custkey = c.c_custkey
        |ORDER BY custkey""".stripMargin,

    "q_values_inline" ->
      """SELECT CAST(k AS BIGINT) AS k, v
        |FROM (VALUES (1, 'a'), (2, 'b'), (3, 'c')) AS t(k, v)
        |WHERE k > 1 ORDER BY k""".stripMargin,

    "q_events_window" ->
      """SELECT strftime(date_trunc('hour', ts), '%Y-%m-%d %H:%M:%S') AS hour,
        |  event_type, count(*) AS n, round(sum(value), 2) AS total_value
        |FROM events GROUP BY 1, 2 ORDER BY hour, event_type""".stripMargin,

    "q_events_gapfill" ->
      """WITH ev AS (
        |  SELECT date_trunc('hour', ts) AS h, event_type FROM events
        |), counts AS (
        |  SELECT h, event_type, count(*) AS n FROM ev GROUP BY 1, 2
        |), bounds AS (
        |  SELECT min(h) AS h0, max(h) AS h1 FROM ev
        |), grid AS (
        |  SELECT unnest(generate_series(h0, h1, INTERVAL 1 HOUR)) AS h
        |  FROM bounds
        |), typ AS (
        |  SELECT DISTINCT event_type FROM ev
        |), f AS (
        |  SELECT g.h, t2.event_type, coalesce(c.n, 0) AS n
        |  FROM grid g CROSS JOIN typ t2
        |  LEFT JOIN counts c ON c.h = g.h AND c.event_type = t2.event_type
        |)
        |SELECT strftime(h, '%Y-%m-%d %H:%M:%S') AS hour, event_type,
        |  CAST(n AS BIGINT) AS n,
        |  CAST(sum(n) OVER (PARTITION BY event_type ORDER BY h) AS BIGINT)
        |    AS cum_n
        |FROM f ORDER BY hour, event_type""".stripMargin,

    "q_events_anomaly" ->
      """WITH ev AS (
        |  SELECT date_trunc('hour', ts) AS h, event_type FROM events
        |), counts AS (
        |  SELECT h, event_type, count(*) AS n FROM ev GROUP BY 1, 2
        |), bounds AS (
        |  SELECT min(h) AS h0, max(h) AS h1 FROM ev
        |), grid AS (
        |  SELECT unnest(generate_series(h0, h1, INTERVAL 1 HOUR)) AS h
        |  FROM bounds
        |), typ AS (SELECT DISTINCT event_type FROM ev
        |), dense AS (
        |  SELECT g.h, t2.event_type, CAST(coalesce(c.n, 0) AS BIGINT) AS n
        |  FROM grid g CROSS JOIN typ t2
        |  LEFT JOIN counts c ON c.h = g.h AND c.event_type = t2.event_type
        |), win AS (
        |  SELECT h, event_type, n,
        |    CAST(count(*) OVER tw AS BIGINT) AS w_n,
        |    CAST(coalesce(sum(n) OVER tw, 0) AS BIGINT) AS w_sum,
        |    coalesce(sum(CAST(n AS HUGEINT) * n) OVER tw,
        |             CAST(0 AS HUGEINT)) AS w_sum2h
        |  FROM dense
        |  WINDOW tw AS (PARTITION BY event_type ORDER BY h
        |                ROWS BETWEEN 24 PRECEDING AND 1 PRECEDING)
        |)
        |SELECT strftime(h, '%Y-%m-%d %H:%M:%S') AS hour, event_type, n,
        |  w_n, w_sum,
        |  CAST(CAST((CAST(w_n AS HUGEINT) * n - w_sum)
        |       * (CAST(w_n AS HUGEINT) * n - w_sum) * (w_n - 1)
        |    AS DECIMAL(38,0)) AS VARCHAR) AS dev2w,
        |  CAST(CAST(9 * CAST(w_n AS HUGEINT)
        |       * (w_n * w_sum2h - CAST(w_sum AS HUGEINT) * w_sum)
        |    AS DECIMAL(38,0)) AS VARCHAR) AS var_w,
        |  (w_n >= 12 AND
        |   (CAST(w_n AS HUGEINT) * n - w_sum)
        |     * (CAST(w_n AS HUGEINT) * n - w_sum) * (w_n - 1)
        |     > 9 * CAST(w_n AS HUGEINT)
        |       * (w_n * w_sum2h - CAST(w_sum AS HUGEINT) * w_sum)) AS is_anomaly
        |FROM win ORDER BY hour, event_type""".stripMargin,

    "q_events_locf" ->
      """WITH ev AS (
        |  SELECT event_id, ts, date_trunc('hour', ts) AS h, event_type,
        |    CAST(round(value * 100) AS BIGINT) AS cents
        |  FROM events
        |), obs AS (
        |  SELECT h, event_type, cents FROM (
        |    SELECT h, event_type, cents,
        |      row_number() OVER (PARTITION BY h, event_type
        |                         ORDER BY ts DESC, event_id DESC) AS rn
        |    FROM ev) WHERE rn = 1
        |), bounds AS (
        |  SELECT min(h) AS h0, max(h) AS h1 FROM ev
        |), grid AS (
        |  SELECT unnest(generate_series(h0, h1, INTERVAL 1 HOUR)) AS h
        |  FROM bounds
        |), typ AS (
        |  SELECT DISTINCT event_type FROM ev
        |), g AS (
        |  SELECT gr.h, t2.event_type, o.cents
        |  FROM grid gr CROSS JOIN typ t2
        |  LEFT JOIN obs o ON o.h = gr.h AND o.event_type = t2.event_type
        |)
        |SELECT strftime(h, '%Y-%m-%d %H:%M:%S') AS hour, event_type,
        |  cents IS NOT NULL AS observed,
        |  CAST(coalesce(last_value(cents IGNORE NULLS) OVER (
        |    PARTITION BY event_type ORDER BY h
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW), -100)
        |    AS DOUBLE) / 100.0 AS gauge
        |FROM g ORDER BY hour, event_type""".stripMargin,

    "q_events_props" ->
      """SELECT event_id,
        |  CAST(regexp_extract(props, '"k":\s*(\d+)', 1) AS BIGINT) AS k
        |FROM events
        |WHERE CAST(regexp_extract(props, '"k":\s*(\d+)', 1) AS BIGINT) > 80
        |ORDER BY event_id""".stripMargin,

    "q_sort_nulls" ->
      """SELECT c_custkey,
        |  CASE WHEN c_acctbal < 0 THEN c_acctbal END AS neg_bal
        |FROM customer
        |ORDER BY neg_bal ASC NULLS FIRST, c_custkey LIMIT 2000""".stripMargin,

    "q_pivot" ->
      """SELECT o_orderpriority,
        |  round(sum(CASE WHEN o_orderstatus = 'F' THEN o_totalprice END), 2) AS "F",
        |  round(sum(CASE WHEN o_orderstatus = 'O' THEN o_totalprice END), 2) AS "O",
        |  round(sum(CASE WHEN o_orderstatus = 'P' THEN o_totalprice END), 2) AS "P"
        |FROM orders GROUP BY o_orderpriority ORDER BY o_orderpriority""".stripMargin,

    "q_unpivot" ->
      """SELECT c_custkey, 'c_acctbal' AS metric, c_acctbal AS value FROM customer
        |UNION ALL
        |SELECT c_custkey, 'c_nation_d' AS metric,
        |  CAST(c_nationkey AS DOUBLE) AS value FROM customer
        |ORDER BY c_custkey, metric""".stripMargin
  )
}
