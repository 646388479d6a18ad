package graft.ops

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.engine.Engine
import graft.engine.Engine.{MaterializeOps, table => t}

/** SURVEY §2 inventory, continued: value-window functions, RANGE frames,
  * distinct set ops + ALL variants, null-semantics predicates, try_cast,
  * recursive CTE, map functions, approx percentiles, HAVING/DISTINCT. */
object Relational2 {

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(

    // first_value / last_value / nth_value over a running frame
    "q_window_firstlast" -> ((s, dir) => {
      val w = Window.partitionBy(col("o_custkey")).orderBy(col("o_orderkey"))
        .rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
      t(s, dir, "orders")
        .select(col("o_custkey"), col("o_orderkey"),
          first(col("o_orderkey")).over(w).as("first_key"),
          last(col("o_orderkey")).over(w).as("last_key"),
          nth_value(col("o_orderkey"), 2).over(w).as("second_key"))
        .orderBy(col("o_custkey"), col("o_orderkey"))
    }),

    // RANGE frame over a numeric ordering key
    "q_window_range" -> ((s, dir) => {
      val w = Window.partitionBy(col("o_orderpriority"))
        .orderBy(col("o_orderkey")).rangeBetween(-1000, 0)
      t(s, dir, "orders")
        .select(col("o_orderpriority"), col("o_orderkey"),
          count(lit(1)).over(w).as("n_in_range"),
          round(sum(col("o_totalprice")).over(w), 2).as("sum_in_range"))
        .orderBy(col("o_orderpriority"), col("o_orderkey"))
    }),

    // GROUPS frames (absent from Spark) EMULATED exactly: a GROUPS frame
    // over the ORDER BY peer-groups equals a RANGE frame over dense_rank
    // (consecutive ints, one per peer group). Pre-aggregate per peer
    // group (map-side partial), window the tiny per-group frame, join
    // back — two narrow shuffles, no row explosion. The oracle is
    // DuckDB's NATIVE `GROUPS BETWEEN 1 PRECEDING AND 1 FOLLOWING`.
    "q_window_groups" -> ((s, dir) => {
      val rows = t(s, dir, "orders")
        .select(col("o_orderkey"), col("o_orderpriority"), col("o_orderdate"),
          col("o_totalprice"))
      val drw = Window.partitionBy(col("o_orderpriority")).orderBy(col("o_orderdate"))
      val ranked = rows.withColumn("dr", dense_rank().over(drw))
      val perGroup = ranked.groupBy(col("o_orderpriority"), col("dr"))
        .agg(count(lit(1)).as("grp_n"), sum(col("o_totalprice")).as("grp_sum"))
      val gw = Window.partitionBy(col("o_orderpriority")).orderBy(col("dr"))
        .rangeBetween(-1, 1)
      val framed = perGroup
        .select(col("o_orderpriority"), col("dr"),
          sum(col("grp_n")).over(gw).as("g_n"),
          sum(col("grp_sum")).over(gw).as("g_sum_raw"))
      ranked.join(framed, Seq("o_orderpriority", "dr"))
        .select(col("o_orderkey"), col("o_orderpriority"),
          col("g_n"), round(col("g_sum_raw"), 2).as("g_sum"))
        .orderBy(col("o_orderkey"))
    }),

    // UNION with distinct semantics
    // equi-width histogram — the value-distribution report (the first
    // thing a data profile shows; also the stats a cost model feeds on).
    // Bucketing is EXACT INTEGER on the cents grid: bucket =
    // (v − vmin)·20 div (vmax − vmin + 1) — every boundary decision is
    // BIGINT, so a value on a bucket edge can never land differently
    // across engines (the float (x−mn)/width route can). 1-row min/max
    // broadcast, one map-side-combinable 20-row count — the profile
    // costs one scan at any SF. Bucket bounds are reported back on the
    // cents grid as exact doubles.
    "q_histogram" -> ((s, dir) => {
      val B = 20
      val cents = round(col("o_totalprice") * 100).cast("long")
      val v = t(s, dir, "orders").select(cents.as("v"))
      val mm = v.agg(min(col("v")).as("vmin"), max(col("v")).as("vmax"))
      v.crossJoin(broadcast(mm))
        .withColumn("bucket",
          expr(s"((v - vmin) * $B) div (vmax - vmin + 1)"))
        .groupBy(col("bucket"), col("vmin"), col("vmax"))
        .agg(count(lit(1)).as("n"))
        .select(col("bucket"),
          (expr(s"vmin + (bucket * (vmax - vmin + 1)) div $B")
            .cast("double") / 100.0).as("lo_approx"),
          col("n"))
        .orderBy(col("bucket"))
    }),

    "q_setop_union" -> ((s, dir) => {
      val a = t(s, dir, "orders").select(col("o_orderpriority").as("v"))
      val b = t(s, dir, "orders").select(col("o_orderstatus").as("v"))
      a.union(b).distinct().orderBy(col("v"))
    }),

    "q_setop_intersect_all" -> ((s, dir) => {
      val a = t(s, dir, "lineitem").select(col("l_quantity").as("q"))
        .filter(col("l_quantity") <= 5)
      val b = t(s, dir, "lineitem").select(col("l_quantity").as("q"))
        .filter(col("l_returnflag") === "A" && col("l_quantity") <= 5)
      a.intersectAll(b).groupBy(col("q")).agg(count(lit(1)).as("n")).orderBy(col("q"))
    }),

    "q_setop_except_all" -> ((s, dir) => {
      val a = t(s, dir, "lineitem").select(col("l_linenumber").as("ln"))
        .filter(col("l_quantity") <= 3)
      val b = t(s, dir, "lineitem").select(col("l_linenumber").as("ln"))
        .filter(col("l_quantity") <= 1)
      a.exceptAll(b).groupBy(col("ln")).agg(count(lit(1)).as("n"))
        .select(col("ln").cast("long").as("ln"), col("n")).orderBy(col("ln"))
    }),

    // IS [NOT] DISTINCT FROM (null-safe equality), try_cast, ||, BETWEEN
    "q_pred_misc" -> ((s, dir) => {
      Engine.registerTestdata(s, dir)
      s.sql(
        """SELECT c_custkey,
          |  (CASE WHEN c_acctbal < 0 THEN c_mktsegment END IS DISTINCT FROM c_mktsegment) AS d,
          |  (c_mktsegment IS NOT DISTINCT FROM c_mktsegment) AS nd,
          |  try_cast(c_name AS DOUBLE) AS bad_cast,
          |  try_cast(CAST(c_custkey AS STRING) AS BIGINT) AS good_cast,
          |  c_name || '/' || c_mktsegment AS joined
          |FROM customer ORDER BY c_custkey""".stripMargin)
    }),

    // recursive CTE (Spark 4 WITH RECURSIVE)
    "q_cte_recursive" -> ((s, _) =>
      s.sql(
        """WITH RECURSIVE seq(n) AS (
          |  SELECT 1
          |  UNION ALL
          |  SELECT n + 1 FROM seq WHERE n < 25
          |)
          |SELECT CAST(n AS BIGINT) AS n, CAST(n * n AS BIGINT) AS sq
          |FROM seq ORDER BY n""".stripMargin)),

    // map construction + access functions
    "q_map_funcs" -> ((s, dir) =>
      t(s, dir, "nation")
        .groupBy(col("n_regionkey"))
        .agg(map_from_arrays(
          sort_array(collect_list(col("n_name"))),
          sort_array(collect_list(col("n_name")))).as("m"))
        .select(col("n_regionkey"),
          // serialize the key list (driver's comparer can't sort nested cols)
          array_join(map_keys(col("m")), ",").as("ks"),
          size(col("m")).cast("long").as("m_size"),
          element_at(map_values(col("m")), 1).as("first_v"))
        .orderBy(col("n_regionkey"))),

    // map family round-out: concat / filter / transform_values / entries
    // (serialized as sorted "k:v" strings — the nested-output rule)
    "q_map_funcs2" -> ((s, _) =>
      s.sql(
        """SELECT k,
          |  map_concat(map('a', k, 'b', k * 2), map('c', k * 3)) AS mc
          |FROM VALUES (1), (2), (3) AS t(k)""".stripMargin)
        .selectExpr("CAST(k AS BIGINT) AS k",
          "array_join(transform(array_sort(map_entries(mc)), e -> concat(e.key, ':', e.value)), ',') AS me",
          "array_join(transform(array_sort(map_entries(map_filter(mc, (mk, v) -> v > k))), e -> concat(e.key, ':', e.value)), ',') AS mf",
          "array_join(transform(array_sort(map_entries(transform_values(mc, (mk, v) -> v + 1))), e -> concat(e.key, ':', e.value)), ',') AS tv",
          "array_join(array_sort(map_keys(mc)), ',') AS mk")
        .orderBy(col("k"))),

    // t-digest style approx percentile — the raw estimate is
    // algorithm-specific, but the driver can GATE it (the HLL-bracket
    // pattern): the exact p45/p50/p55 are hash-compared against DuckDB
    // quantile_cont, and a bracket bit pins that the sketch's p50 lands
    // inside the exact p45..p55 rank window (50× looser than its
    // 1/accuracy rank guarantee — failure means broken, not unlucky).
    // Tight per-group accuracy stays in SketchAccuracySpec.
    "q_agg_approx_percentile" -> ((s, dir) =>
      t(s, dir, "orders")
        .groupBy(col("o_orderstatus"))
        .agg(
          percentile_approx(col("o_totalprice"), lit(0.5), lit(1000)).as("pa"),
          round(median(col("o_totalprice")), 4).as("p50_exact"),
          round(percentile(col("o_totalprice"), lit(0.45)), 4).as("p45"),
          round(percentile(col("o_totalprice"), lit(0.55)), 4).as("p55"))
        .select(col("o_orderstatus"), col("p50_exact"), col("p45"), col("p55"),
          col("pa").between(col("p45"), col("p55")).as("p50_in_rank_bounds"))
        .orderBy(col("o_orderstatus"))),

    "q_having" -> ((s, dir) =>
      t(s, dir, "lineitem")
        .groupBy(col("l_suppkey"))
        .agg(round(sum(col("l_extendedprice")), 2).as("total"), count(lit(1)).as("n"))
        .filter(col("n") > 550)
        .orderBy(col("l_suppkey"))),

    "q_select_distinct" -> ((s, dir) =>
      t(s, dir, "orders")
        .select(col("o_orderstatus"), col("o_orderpriority")).distinct()
        .orderBy(col("o_orderstatus"), col("o_orderpriority"))),

    "q_join_right" -> ((s, dir) => {
      val o = t(s, dir, "orders").filter(col("o_totalprice") > 100000)
      val c = t(s, dir, "customer")
      o.join(c, o("o_custkey") === c("c_custkey"), "right")
        .groupBy(col("c_custkey"))
        .agg(count(col("o_orderkey")).as("n_big"))
        .orderBy(col("c_custkey"))
    }),

    // DataFusion's date_bin ≡ floor((ts-origin)/stride)*stride+origin —
    // composed from integer epoch arithmetic (exact; SURVEY §2.8 mapping)
    "q_date_bin" -> ((s, dir) =>
      t(s, dir, "events")
        .withColumn("tsx", Engine.eventTs(col("ts")))
        .withColumn("bin", timestamp_seconds(
          (unix_timestamp(col("tsx")) - pmod(unix_timestamp(col("tsx")), lit(900)))))
        .groupBy(date_format(col("bin"), "yyyy-MM-dd HH:mm:ss").as("bin15m"))
        // integer cents: avg-of-decimals rounding sits on tie boundaries
        // whenever |bin| is a power of two — sums in cents are exact
        .agg(count(lit(1)).as("n"),
          round(sum(col("value")) * 100).cast("long").as("sum_cents"))
        .orderBy(col("bin15m"))),

    // catalog DDL surface: CREATE OR REPLACE TEMP VIEW + query-through
    "q_ddl_view" -> ((s, dir) => {
      Engine.registerTestdata(s, dir)
      s.sql(
        """CREATE OR REPLACE TEMPORARY VIEW big_suppliers AS
          |SELECT s_suppkey, s_name, s_acctbal FROM supplier WHERE s_acctbal > 5000""".stripMargin)
      s.sql(
        """SELECT count(*) AS n, round(sum(s_acctbal), 2) AS total
          |FROM big_suppliers""".stripMargin)
    }),

    // GROUP BY ALL / ORDER BY ALL (the DuckDB-invented shorthand Spark
    // adopted): every non-aggregate select item groups, every select
    // item orders — the analyst surface where adding a dimension can't
    // silently de-group a query. Pure SQL-surface parity row; the plan
    // is the ordinary two-phase hash aggregate.
    "q_group_by_all" -> ((s, dir) => {
      Engine.registerTestdata(s, dir)
      s.sql(
        """SELECT l_returnflag, l_linestatus, count(*) AS n,
          |  round(sum(l_quantity), 2) AS qty
          |FROM lineitem GROUP BY ALL ORDER BY ALL""".stripMargin)
    }),

    // union by column NAME, inputs with different column order
    "q_union_byname" -> ((s, dir) => {
      val a = t(s, dir, "customer").select(col("c_custkey").as("k"), col("c_acctbal").as("bal"))
      val b = t(s, dir, "supplier").select(col("s_acctbal").as("bal"), col("s_suppkey").as("k"))
      a.unionByName(b)
        .groupBy(col("k")).agg(round(sum(col("bal")), 2).as("bal_sum"))
        .orderBy(col("k"))
    }),

    // nondeterministic functions (uuid, rand) — asserted via
    // deterministic invariants so the oracle can hash-match
    "q_nondet_fns" -> ((s, _) =>
      s.range(1).select(
        (length(expr("uuid()")) === 36).as("uuid_ok"),
        (rand() >= 0 && rand() < 1).as("rand_ok"),
        (randn().isNotNull).as("randn_ok"))),

    // sliding event-time windows: 1h windows every 30min (each event in 2)
    "q_events_sliding" -> ((s, dir) =>
      t(s, dir, "events")
        .withColumn("tsx", Engine.eventTs(col("ts")))
        .groupBy(window(col("tsx"), "1 hour", "30 minutes"), col("event_type"))
        .agg(count(lit(1)).as("n"))
        .select(date_format(col("window.start"), "yyyy-MM-dd HH:mm:ss").as("w_start"),
          col("event_type"), col("n"))
        .orderBy(col("w_start"), col("event_type"))),

    // NATIVE session-window aggregation (session_window(ts, gap) — the
    // AGG-engine sessionizer, distinct from the flatMapGroupsWithState
    // sessionize and from the batch gaps-and-islands twin): sessions
    // merge inside the aggregation operator itself, window = [first
    // event, last event + gap). Boundary rule is HALF-OPEN — an event
    // exactly `gap` after the last one starts a NEW session — which the
    // oracle mirrors with `diff >= gap` (the `>` rule belongs to
    // q_sessionize, a deliberately different contract). Values ride
    // the exact cents grid; window bounds render at second precision
    // (micros truncate identically in both engines, and two sessions
    // of one user are ≥ gap apart so the string order is total).
    "q_events_session_window" -> ((s, dir) =>
      t(s, dir, "events")
        .withColumn("tsx", Engine.eventTs(col("ts")))
        .withColumn("cents", round(col("value") * 100).cast("long"))
        .groupBy(session_window(col("tsx"), "30 minutes"), col("user_id"))
        .agg(count(lit(1)).as("n_events"), sum(col("cents")).as("cents"))
        .select(col("user_id"),
          date_format(col("session_window.start"), "yyyy-MM-dd HH:mm:ss")
            .as("sess_start"),
          date_format(col("session_window.end"), "yyyy-MM-dd HH:mm:ss")
            .as("sess_end"),
          col("n_events"),
          (col("cents").cast("double") / 100.0).as("sum_value"))
        .orderBy(col("user_id"), col("sess_start"))),

    // ordered funnel conversion — the product-analytics staple: how
    // many users progress view → click → purchase, each step within
    // 24 h of the previous one and strictly after it. Stage k's entry
    // time is min(ts) among qualifying events, so the whole funnel is
    // three user-keyed conditional aggregations chained by narrow
    // (user, t) joins — no corpus self-join, no per-user window; at
    // 100 TB each stage's exchange carries one row per surviving user.
    // All time arithmetic on the exact epoch-micros BIGINT grid;
    // conversion rates on the 1e-6 ratioRoundInt grid.
    "q_events_funnel" -> ((s, dir) => {
      val dayUs = 24L * 3600 * 1000 * 1000
      val ev = t(s, dir, "events").select(col("user_id"), col("event_type"),
        Engine.eventTsMicros(col("ts")).as("ts_us"))
      val s1 = ev.filter(col("event_type") === "view")
        .groupBy(col("user_id")).agg(min(col("ts_us")).as("t1"))
      val s2 = ev.filter(col("event_type") === "click")
        .join(s1, "user_id")
        .filter(col("ts_us") > col("t1") && col("ts_us") - col("t1") <= dayUs)
        .groupBy(col("user_id")).agg(min(col("ts_us")).as("t2"))
      val s3 = ev.filter(col("event_type") === "purchase")
        .join(s2, "user_id")
        .filter(col("ts_us") > col("t2") && col("ts_us") - col("t2") <= dayUs)
        .groupBy(col("user_id")).agg(min(col("ts_us")).as("t3"))
      val n1 = s1.agg(count(lit(1)).as("n1"))
      val n2 = s2.agg(count(lit(1)).as("n2"))
      val n3 = s3.agg(count(lit(1)).as("n3"))
      val rr = graft.ext.TextAnalysis.ratioRound _
      n1.crossJoin(n2).crossJoin(n3).select(explode(array(
          struct(lit(1L).as("stage_no"), lit("view").as("stage"),
            col("n1").as("n_users"), lit(1.0).as("conv_from_prev")),
          struct(lit(2L).as("stage_no"), lit("click").as("stage"),
            col("n2").as("n_users"),
            rr(col("n2"), greatest(col("n1"), lit(1L)), 6).as("conv_from_prev")),
          struct(lit(3L).as("stage_no"), lit("purchase").as("stage"),
            col("n3").as("n_users"),
            rr(col("n3"), greatest(col("n2"), lit(1L)), 6).as("conv_from_prev"))))
          .as("r"))
        .select(col("r.stage_no"), col("r.stage"), col("r.n_users"),
          col("r.conv_from_prev"))
        .orderBy(col("stage_no"))
    }),

    // last-touch attribution — the third analytics staple: each
    // purchase credits the user's LATEST click within the preceding
    // 7 days (channel = props.k mod 10 — the campaign key a real feed
    // carries); unattributed purchases land in channel −1 ("direct").
    // Deterministic in two steps: max(click_ts) per purchase, then a
    // re-join on that exact timestamp with max(channel) breaking
    // same-microsecond ties — no arg_max/max_by whose tie order is
    // engine-defined. Scale shape: the per-user purchase×click join is
    // bounded by per-user activity (the sessionize bound); at extreme
    // per-user fan-out the bucketed as-of machinery (ext/AsOf) is the
    // drop-in replacement for the range join. Revenue rides the exact
    // cents grid.
    "q_events_attribution" -> ((s, dir) => {
      val wkUs = 7L * 24 * 3600 * 1000 * 1000
      val ev = t(s, dir, "events")
      val purchases = ev.filter(col("event_type") === "purchase")
        .select(col("event_id"), col("user_id"),
          Engine.eventTsMicros(col("ts")).as("p_ts"),
          round(col("value") * 100).cast("long").as("cents"))
      val clicks = ev.filter(col("event_type") === "click")
        .select(col("user_id").as("cu"),
          Engine.eventTsMicros(col("ts")).as("c_ts"),
          (get_json_object(col("props"), "$.k").cast("long") % 10)
            .as("channel"))
      val lastT = purchases.join(clicks,
          col("user_id") === col("cu") && col("c_ts") <= col("p_ts") &&
            col("p_ts") - col("c_ts") <= wkUs, "left")
        .groupBy(col("event_id"), col("user_id"), col("cents"))
        .agg(max(col("c_ts")).as("l_ts"))
      lastT.join(clicks,
          col("user_id") === col("cu") && col("c_ts") === col("l_ts"), "left")
        .groupBy(col("event_id"), col("cents"))
        .agg(coalesce(max(col("channel")), lit(-1L)).as("channel"))
        .groupBy(col("channel"))
        .agg(count(lit(1)).as("n_purchases"),
          sum(col("cents")).as("revenue_cents"))
        .orderBy(col("channel"))
    }),

    // cohort retention matrix — the other analytics staple: users
    // cohorted by first-activity day, the share still active on each of
    // the next 7 days. One distinct user-day pass, a user-keyed min for
    // the cohort, one narrow join back, and a (days × 8)-cell
    // aggregation — the triangle frame is calendar-sized at any corpus
    // scale. day 0 is the cohort size by definition (retention 1.0).
    "q_events_retention" -> ((s, dir) => {
      val ud = t(s, dir, "events")
        .select(col("user_id"), to_date(Engine.eventTs(col("ts"))).as("day"))
        .distinct()
      val cohort = ud.groupBy(col("user_id")).agg(min(col("day")).as("cday"))
      val cells = ud.join(cohort, "user_id")
        .withColumn("off", datediff(col("day"), col("cday")).cast("long"))
        .filter(col("off") <= 7)
        .groupBy(col("cday"), col("off"))
        .agg(countDistinct(col("user_id")).as("n_active"))
      val size = cells.filter(col("off") === 0)
        .select(col("cday"), col("n_active").as("cohort_size"))
      cells.join(size, "cday")
        .select(date_format(col("cday"), "yyyy-MM-dd").as("cohort_day"),
          col("off").as("day_offset"), col("n_active"),
          graft.ext.TextAnalysis.ratioRound(col("n_active"),
            col("cohort_size"), 6).as("retention"))
        .orderBy(col("cohort_day"), col("day_offset"))
    }),

    // first-order Markov transition matrix over the per-user event
    // stream — the behavioral profile behind next-event prediction and
    // bot detection: P(next=to | cur=from). One user-partitioned lead()
    // window (the sessionize shuffle shape — state per user, never
    // global), then a (|types|²)-cell aggregation; the matrix is
    // 25 cells regardless of corpus size. (user_id, ts) is unique in
    // the feed, so (ts, event_id) ordering is total and the pairs are
    // deterministic. Probability rides the exact ratioRound grid,
    // denominated by the count of NON-TERMINAL from-events (rows that
    // actually have a successor), so each from-row sums to 1.
    "q_events_transitions" -> ((s, dir) => {
      val w = Window.partitionBy(col("user_id"))
        .orderBy(col("ts"), col("event_id"))
      val pairs = t(s, dir, "events")
        .select(col("user_id"), col("ts"), col("event_id"),
          col("event_type").as("from_type"))
        .withColumn("to_type", lead(col("from_type"), 1).over(w))
        .filter(col("to_type").isNotNull)
      val fromTot = pairs.groupBy(col("from_type"))
        .agg(count(lit(1)).as("n_from"))
      pairs.groupBy(col("from_type"), col("to_type"))
        .agg(count(lit(1)).as("n"))
        .join(broadcast(fromTot), "from_type")
        .select(col("from_type"), col("to_type"), col("n"),
          graft.ext.TextAnalysis.ratioRound(col("n"), col("n_from"), 6)
            .as("p"))
        .orderBy(col("from_type"), col("to_type"))
    }),

    // RFM (recency / frequency / monetary) quartile scoring — the
    // classic customer-value segmentation. Per-user stats are one
    // map-side-combinable aggregation; the three quartile cuts are ONE
    // exact-percentile agg over the user-sized frame (3 rows out,
    // broadcast back), so no global rank window ever materializes —
    // at billions of users swap the exact percentile for the DistRank
    // cutoff machinery (ext/Pipeline's curriculum precedent) or
    // approx_percentile. Scores compare exact integers against the
    // interpolated cuts: 1 + (m > q1) + (m > q2) + (m > q3), recency
    // negated so "more recent" scores higher; ties at a cut share a
    // score (value-based, not rank-based — deterministic under
    // duplicates, unlike ntile). Output is the 4³-cell segment matrix.
    "q_events_rfm" -> ((s, dir) => {
      val ev = t(s, dir, "events")
      val maxDay = ev.agg(max(to_date(Engine.eventTs(col("ts")))).as("d0"))
      val stats = ev
        .select(col("user_id"), to_date(Engine.eventTs(col("ts"))).as("day"),
          when(col("event_type") === "purchase",
            round(col("value") * 100).cast("long")).otherwise(lit(0L))
            .as("cents"))
        .groupBy(col("user_id"))
        .agg(max(col("day")).as("last_day"), count(lit(1)).as("freq"),
          sum(col("cents")).as("monetary"))
        .crossJoin(broadcast(maxDay))
        .select(col("user_id"),
          (-datediff(col("d0"), col("last_day")).cast("long")).as("neg_rec"),
          col("freq"), col("monetary"))
      val cuts = stats.agg(
        percentile(col("neg_rec"), lit(Array(0.25, 0.5, 0.75))).as("rc"),
        percentile(col("freq"), lit(Array(0.25, 0.5, 0.75))).as("fc"),
        percentile(col("monetary"), lit(Array(0.25, 0.5, 0.75))).as("mc"))
      def score(m: Column, c: Column): Column =
        (lit(1) + (m > c.getItem(0)).cast("int") +
          (m > c.getItem(1)).cast("int") +
          (m > c.getItem(2)).cast("int")).cast("long")
      stats.crossJoin(broadcast(cuts))
        .select(score(col("neg_rec"), col("rc")).as("r_score"),
          score(col("freq"), col("fc")).as("f_score"),
          score(col("monetary"), col("mc")).as("m_score"),
          col("monetary"))
        .groupBy(col("r_score"), col("f_score"), col("m_score"))
        .agg(count(lit(1)).as("n_users"),
          sum(col("monetary")).as("revenue_cents"))
        .orderBy(col("r_score"), col("f_score"), col("m_score"))
    }),

    // DAU / WAU / MAU — rolling distinct-actives, the engagement
    // metric every analytics stack ships first. Exact distinct over a
    // SLIDING window can't partial-aggregate directly, so the plan
    // collapses events to the user-day frame ONCE (corpus-sized →
    // calendar×users-sized, the retention precedent), then each
    // user-day is exploded into the ≤7 / ≤28 anchor days it supports —
    // a FIXED fan-out, partitioned by anchor day, never a per-day
    // re-scan of the window. The calendar spine (sequence over
    // min..max) left-joins the three counts so gap days report 0 DAU
    // but keep their trailing actives. At extreme user counts the
    // exact countDistinct swaps for HLL sketch merge
    // (q_agg_approx_distinct's machinery) — same plan shape.
    // SQL:2003 FILTER clause on aggregates — per-predicate conditional
    // aggregation without CASE scaffolding; Catalyst plans it as the
    // same two-phase hash aggregate with a per-aggregate filter, so
    // this is surface parity at zero plan cost (one scan, map-side
    // partials, no Expand)
    "q_agg_filter_clause" -> ((s, dir) =>
      t(s, dir, "lineitem")
        .groupBy(col("l_returnflag"))
        .agg(
          expr("count(*) FILTER (WHERE l_quantity > 25)").as("n_bulk"),
          expr("round(sum(l_extendedprice) FILTER (WHERE l_discount > 0.05), 2)")
            .as("disc_rev"),
          expr("round(avg(l_quantity) FILTER (WHERE l_linestatus = 'F'), 4)")
            .as("avg_f_qty"),
          count(lit(1)).as("n_all"))
        .orderBy(col("l_returnflag"))),

    // DISTINCT ON / per-group first row (the Postgres/DuckDB idiom):
    // the representative-record selector. Implemented as max_by over a
    // composite ordering struct — ONE two-phase aggregation carrying a
    // single row per group, never a rank window over the corpus (the
    // window formulation shuffles and sorts every row; this shuffles
    // one candidate per group per partition). Tie on acctbal broken by
    // smallest custkey via the negated key in the ordering struct.
    "q_distinct_on" -> ((s, dir) =>
      t(s, dir, "customer")
        .groupBy(col("c_mktsegment"))
        .agg(max_by(
          struct(col("c_custkey"), col("c_name"), col("c_acctbal")),
          struct(col("c_acctbal"), (-col("c_custkey")).as("nk"))).as("top"))
        .select(col("c_mktsegment"),
          col("top.c_custkey").as("c_custkey"),
          col("top.c_name").as("c_name"),
          round(col("top.c_acctbal"), 2).as("c_acctbal"))
        .orderBy(col("c_mktsegment"))),

    "q_events_dau" -> ((s, dir) => {
      val ud = t(s, dir, "events")
        .select(col("user_id"), to_date(Engine.eventTs(col("ts"))).as("day"))
        .distinct()
      val bounds = ud.agg(min(col("day")).as("d0"), max(col("day")).as("d1"))
      val spine = bounds.select(explode(expr(
        "sequence(d0, d1, interval 1 day)")).as("day"))
      def rolling(days: Int, out: String): DataFrame = ud
        .select(col("user_id"), explode(expr(
          s"sequence(day, date_add(day, ${days - 1}), interval 1 day)"))
          .as("day"))
        .groupBy(col("day"))
        .agg(countDistinct(col("user_id")).as(out))
      spine
        .join(rolling(1, "dau"), Seq("day"), "left")
        .join(rolling(7, "wau"), Seq("day"), "left")
        .join(rolling(28, "mau"), Seq("day"), "left")
        .select(date_format(col("day"), "yyyy-MM-dd").as("day"),
          coalesce(col("dau"), lit(0L)).as("dau"),
          coalesce(col("wau"), lit(0L)).as("wau"),
          coalesce(col("mau"), lit(0L)).as("mau"))
        .orderBy(col("day"))
    }),

    // top event PATHS — the order-2 extension of q_events_transitions:
    // the most-traveled 3-step sequences (two stacked lead() columns
    // over the same user-partitioned sort — ONE window exchange, both
    // leads ride it), counted and top-10'd via TakeOrderedAndProject.
    "q_events_paths" -> ((s, dir) => {
      val w = Window.partitionBy(col("user_id"))
        .orderBy(col("ts"), col("event_id"))
      t(s, dir, "events")
        .select(col("user_id"), col("ts"), col("event_id"),
          col("event_type").as("e1"))
        .withColumn("e2", lead(col("e1"), 1).over(w))
        .withColumn("e3", lead(col("e1"), 2).over(w))
        .filter(col("e3").isNotNull)
        .select(concat_ws(">", col("e1"), col("e2"), col("e3")).as("path"))
        .groupBy(col("path")).agg(count(lit(1)).as("n"))
        .orderBy(col("n").desc, col("path")).limit(10)
    }),

    // revenue concentration: exact Gini + top-decile share — the
    // whale-curve statistic a marketplace reports next to DAU. The
    // ranked frame is PURCHASERS ONLY (zero-revenue users would pile
    // into one massive tie shard); their analytic contribution is
    // closed-form (rank offset z, zero mass), so exactness costs
    // nothing. Rank is the two-level DistRank (log2-cents shard —
    // order-consistent, ≤64-row census; a tie-dense cents value bounds
    // its shard by that value's population, the vocab-rank caveat) —
    // no global sort at any scale. Gini = (2·Σ(rank·cents) −
    // (n+1)·Σcents) / (n·Σcents), all BIGINT on the cents grid until
    // the final 1e-6 rounding; Σ(rank·cents) overflows ~1e18 at
    // ~1e9 users × 1e9 cents — the DECIMAL(38,0) swap documented at
    // q_events_anomaly applies verbatim.
    "q_events_gini" -> ((s, dir) => {
      val rev = t(s, dir, "events")
        .filter(col("event_type") === "purchase")
        .groupBy(col("user_id"))
        .agg(sum(round(col("value") * 100).cast("long")).as("cents"))
      val nAll = t(s, dir, "events").select(col("user_id")).distinct().count()
      val (ranked, nBuy) = graft.ext.DistRank.rowNumberWithCount(s, rev,
        floor(log2(col("cents") + 2)).cast("long"),
        Seq(col("cents").asc, col("user_id").asc), "r0")
      val z = nAll - nBuy
      val k = nAll / 10 // top decile (integer floor, matches // in SQL)
      ranked
        .select((col("r0") + lit(z)).as("rank"), col("cents"))
        .agg(sum(col("cents")).as("s"),
          sum(col("rank") * col("cents")).as("w"),
          sum(when(col("rank") > lit(nAll - k), col("cents"))
            .otherwise(0L)).as("top_cents"))
        .select(lit(nAll).as("n_users"), lit(nBuy).as("n_buyers"),
          col("s").as("total_cents"),
          graft.ext.TextAnalysis.ratioRound(
            lit(2) * col("w") - lit(nAll + 1) * col("s"),
            lit(nAll) * col("s"), 6).as("gini"),
          graft.ext.TextAnalysis.ratioRound(col("top_cents"), col("s"), 6)
            .as("top10_share"))
    }),

    // two-sample A/B readout — deterministic hash assignment
    // (user_id mod 2: the planted stand-in for a real bucketing hash),
    // per-user collapse first (conversion and revenue are USER
    // properties, not event properties), then ONE conditional
    // aggregation row — two map-side-combinable passes, nothing
    // user-count-sized past the per-user frame. Conversion rates ride
    // the exact 1e-6 grid. The test statistic is Welch's t on per-user
    // revenue, built from EXACT integer moments (Σc, Σc² as BIGINT —
    // associative, merge-order-free; a double running variance would
    // be partial-agg-order nondeterministic): t = (m1−m0)/
    // √(s0²/n0 + s1²/n1), the one deliberately-double step, identical
    // expression shape in both engines, rounded at 4 (zipf_fit
    // precedent), NULL-guarded via CASE when both variances are 0
    // (ANSI division semantics) — a proportion z-test is degenerate
    // here because conversion saturates at 1.0 corpus-wide. Σc²
    // overflows BIGINT at ~10⁹ users × 10⁵ cents: the DECIMAL(38,0)
    // swap documented at q_events_anomaly applies.
    "q_events_ab_test" -> ((s, dir) => {
      val perUser = t(s, dir, "events")
        .select(col("user_id"),
          (col("user_id") % 2).as("variant"),
          when(col("event_type") === "purchase", 1L).otherwise(0L).as("p"),
          when(col("event_type") === "purchase",
            round(col("value") * 100).cast("long")).otherwise(0L).as("cents"))
        .groupBy(col("user_id"), col("variant"))
        .agg(max(col("p")).as("conv"), sum(col("cents")).as("cents"))
      def side(v: Int, c: Column): Column =
        sum(when(col("variant") === v, c).otherwise(lit(0L)))
      def svar(n: Column, sm: Column, q: Column): Column =
        (n.cast("double") * q.cast("double") -
          sm.cast("double") * sm.cast("double")) /
          (n.cast("double") * (n.cast("double") - lit(1.0)))
      perUser
        .agg(side(0, lit(1L)).as("n0"), side(1, lit(1L)).as("n1"),
          side(0, col("conv")).as("c0"), side(1, col("conv")).as("c1"),
          side(0, col("cents")).as("rev0_cents"),
          side(1, col("cents")).as("rev1_cents"),
          side(0, col("cents") * col("cents")).as("q0"),
          side(1, col("cents") * col("cents")).as("q1"))
        .select(col("n0"), col("n1"),
          graft.ext.TextAnalysis.ratioRound(col("c0"), col("n0"), 6)
            .as("conv0"),
          graft.ext.TextAnalysis.ratioRound(col("c1"), col("n1"), 6)
            .as("conv1"),
          col("rev0_cents"), col("rev1_cents"),
          when(svar(col("n0"), col("rev0_cents"), col("q0")) +
              svar(col("n1"), col("rev1_cents"), col("q1")) > lit(0.0),
            round(
              (col("rev1_cents").cast("double") / col("n1") -
                col("rev0_cents").cast("double") / col("n0")) /
              sqrt(svar(col("n0"), col("rev0_cents"), col("q0")) / col("n0") +
                svar(col("n1"), col("rev1_cents"), col("q1")) / col("n1")), 4))
            .as("t_welch"))
    }),

    // market-basket association rules over order baskets — support /
    // confidence / lift for co-purchased brand pairs, the classic
    // recommender-bootstrap aggregation. The self-join is WITHIN an
    // order (key = l_orderkey, fan-out bounded by basket size² — a
    // per-group bound like sessionize, never corpus²) on the
    // distinct (order, brand) frame; brand-level item counts are a
    // 25-row broadcast. Every metric stays integer until the 1e-6
    // grid: lift = c_xy·n / (c_x·c_y) as a BIGINT ratio (overflow at
    // ~10⁹ orders × dense counts → the documented DECIMAL swap).
    "q_basket_rules" -> ((s, dir) => {
      // items has FOUR consumers (the order census, the per-brand
      // counts, and both sides of the within-order self-join) — without
      // materialization each re-runs the lineitem scan + broadcast join
      // + distinct; checkpointed it is a (order, brand) frame, basket-
      // mass-sized at any SF, and the self-join reads the same blocks
      val items = t(s, dir, "lineitem")
        .join(broadcast(t(s, dir, "part")
          .select(col("p_partkey"), col("p_brand"))),
          col("l_partkey") === col("p_partkey"))
        .select(col("l_orderkey").as("o"), col("p_brand").as("b"))
        .distinct()
        .materialize(false)
      val nOrders = items.select(col("o")).distinct().count()
      val itemN = items.groupBy(col("b")).agg(count(lit(1)).as("c"))
      val pairs = items.join(
          items.select(col("o"), col("b").as("b2")), Seq("o"))
        .filter(col("b") < col("b2"))
        .groupBy(col("b"), col("b2")).agg(count(lit(1)).as("c_xy"))
        .filter(col("c_xy") >= 5)
      pairs
        .join(broadcast(itemN.select(col("b"), col("c").as("c_x"))), "b")
        .join(broadcast(itemN.select(col("b").as("b2"), col("c").as("c_y"))),
          "b2")
        .select(col("b").as("brand_a"), col("b2").as("brand_b"),
          col("c_xy"),
          graft.ext.TextAnalysis.ratioRound(col("c_xy"), lit(nOrders), 6)
            .as("support"),
          graft.ext.TextAnalysis.ratioRound(col("c_xy"), col("c_x"), 6)
            .as("confidence"),
          graft.ext.TextAnalysis.ratioRound(col("c_xy") * lit(nOrders),
            col("c_x") * col("c_y"), 6).as("lift"))
        .orderBy(col("lift").desc, col("brand_a"), col("brand_b"))
        .limit(15)
    }),

    // bot / automation flags — inhuman regularity in the per-user
    // event cadence: coefficient of variation of inter-event gaps,
    // from EXACT integer moments (gaps in whole seconds; Σg, Σg² as
    // BIGINT — the ab_test determinism trick; Σg² overflows at
    // ~10⁶ gaps × (10⁶ s)² per user, far past any per-user stream).
    // cv² = n(nQ − S²)/((n−1)S²) on the 1e-6 grid; a user is flagged
    // when cv² < 0.25 (gaps within ±50% of their mean) AND the stream
    // is long enough to mean it (≥20 gaps). One user-partitioned lag
    // window (the sessionize exchange), one per-user aggregation —
    // output is user-sized, every metric exact.
    "q_events_bot_flags" -> ((s, dir) => {
      val gaps = t(s, dir, "events")
        .select(col("user_id"), col("ts"), col("event_id"),
          Engine.eventTsMicros(col("ts")).as("us"))
        .withColumn("gap_s",
          expr("(us - lag(us, 1) OVER (PARTITION BY user_id " +
            "ORDER BY ts, event_id)) div 1000000"))
        .filter(col("gap_s").isNotNull)
      gaps.groupBy(col("user_id"))
        .agg(count(lit(1)).as("n_gaps"), sum(col("gap_s")).as("sg"),
          sum(col("gap_s") * col("gap_s")).as("qg"))
        .filter(col("n_gaps") >= 2)
        .select(col("user_id"), col("n_gaps"),
          expr("sg div n_gaps").as("mean_gap_s"),
          // cv² leaves the integer grid HERE, not at the aggregate: the
          // moments are exact BIGINTs and the division is one double
          // expression in identical shape both engines (the ab_test
          // pattern — an integer-grid cv² would overflow BIGINT at
          // n·(nQ−S²)·2·10⁶ ≈ 10²¹ for a 66-event user). greatest(·,1):
          // an all-zero-gap user (S=0) is perfectly regular — numerator
          // is 0 too, so cv²=0 and the flag fires
          round(col("n_gaps").cast("double") *
            (col("n_gaps").cast("double") * col("qg").cast("double") -
              col("sg").cast("double") * col("sg").cast("double")) /
            greatest((col("n_gaps") - 1).cast("double") *
              col("sg").cast("double") * col("sg").cast("double"), lit(1.0)),
            4).as("cv2"),
          (col("n_gaps") >= 20 &&
            col("n_gaps").cast("double") *
              (col("n_gaps").cast("double") * col("qg").cast("double") -
                col("sg").cast("double") * col("sg").cast("double")) /
              greatest((col("n_gaps") - 1).cast("double") *
                col("sg").cast("double") * col("sg").cast("double"),
                lit(1.0)) < lit(0.25))
            .as("bot_flag"))
        .orderBy(col("user_id"))
    }),

    // cohort LTV curves — the revenue-weighted half of the retention
    // triangle: cumulative revenue per signup cohort per day offset,
    // normalized per cohort user (the payback-period readout). Same
    // calendar×cohort-sized frames as q_events_retention; the
    // cumulative sum is a COHORT-partitioned window over ≤8 offset
    // rows (never corpus-sized). Cents grid end-to-end; per-user LTV
    // on the exact 1e-4 grid.
    "q_events_ltv" -> ((s, dir) => {
      val ev = t(s, dir, "events")
        .select(col("user_id"), to_date(Engine.eventTs(col("ts"))).as("day"),
          when(col("event_type") === "purchase",
            round(col("value") * 100).cast("long")).otherwise(0L).as("cents"))
      val cohort = ev.groupBy(col("user_id")).agg(min(col("day")).as("cday"))
      val sizes = cohort.groupBy(col("cday"))
        .agg(countDistinct(col("user_id")).as("cohort_users"))
      val cells = ev.join(cohort, "user_id")
        .withColumn("off", datediff(col("day"), col("cday")).cast("long"))
        .filter(col("off") <= 7)
        .groupBy(col("cday"), col("off"))
        .agg(sum(col("cents")).as("rev_cents"))
      val w = Window.partitionBy(col("cday")).orderBy(col("off"))
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      cells
        .withColumn("cum_cents", sum(col("rev_cents")).over(w))
        .join(sizes, "cday")
        .select(date_format(col("cday"), "yyyy-MM-dd").as("cohort_day"),
          col("off").as("day_offset"), col("cohort_users"),
          col("rev_cents"), col("cum_cents"),
          graft.ext.TextAnalysis.ratioRound(col("cum_cents"),
            col("cohort_users"), 4).as("ltv_cents_per_user"))
        .orderBy(col("cohort_day"), col("day_offset"))
    }),

    // correlated LATERAL subquery: top order per customer
    "q_lateral" -> ((s, dir) => {
      Engine.registerTestdata(s, dir)
      s.sql(
        """SELECT c.c_custkey, t.best_price
          |FROM customer c,
          |LATERAL (SELECT max(o_totalprice) AS best_price
          |         FROM orders WHERE o_custkey = c.c_custkey) t
          |WHERE t.best_price IS NOT NULL
          |ORDER BY c.c_custkey""".stripMargin)
    })
  )

  val oracleSql: Map[String, String] = Map(
    "q_events_funnel" ->
      """WITH ev AS (
        |  SELECT user_id, event_type, epoch_us(ts) AS ts_us FROM events
        |), s1 AS (
        |  SELECT user_id, min(ts_us) AS t1 FROM ev
        |  WHERE event_type = 'view' GROUP BY user_id
        |), s2 AS (
        |  SELECT e.user_id, min(ts_us) AS t2 FROM ev e JOIN s1 USING (user_id)
        |  WHERE event_type = 'click' AND ts_us > t1 AND ts_us - t1 <= 86400000000
        |  GROUP BY e.user_id
        |), s3 AS (
        |  SELECT e.user_id, min(ts_us) AS t3 FROM ev e JOIN s2 USING (user_id)
        |  WHERE event_type = 'purchase' AND ts_us > t2 AND ts_us - t2 <= 86400000000
        |  GROUP BY e.user_id
        |), n AS (
        |  SELECT (SELECT CAST(count(*) AS BIGINT) FROM s1) AS n1,
        |         (SELECT CAST(count(*) AS BIGINT) FROM s2) AS n2,
        |         (SELECT CAST(count(*) AS BIGINT) FROM s3) AS n3
        |)
        |SELECT * FROM (
        |  SELECT CAST(1 AS BIGINT) AS stage_no, 'view' AS stage,
        |    n1 AS n_users, 1.0 AS conv_from_prev FROM n
        |  UNION ALL
        |  SELECT 2, 'click', n2,
        |    CAST((2 * n2 * 1000000 + greatest(n1, 1)) // (2 * greatest(n1, 1))
        |      AS DOUBLE) / 1000000.0 FROM n
        |  UNION ALL
        |  SELECT 3, 'purchase', n3,
        |    CAST((2 * n3 * 1000000 + greatest(n2, 1)) // (2 * greatest(n2, 1))
        |      AS DOUBLE) / 1000000.0 FROM n
        |) ORDER BY stage_no""".stripMargin,

    "q_events_attribution" ->
      """WITH p AS (
        |  SELECT event_id, user_id, epoch_us(ts) AS p_ts,
        |    CAST(round(value * 100) AS BIGINT) AS cents
        |  FROM events WHERE event_type = 'purchase'
        |), c AS (
        |  SELECT user_id AS cu, epoch_us(ts) AS c_ts,
        |    CAST(json_extract(props, '$.k') AS BIGINT) % 10 AS channel
        |  FROM events WHERE event_type = 'click'
        |), lastt AS (
        |  SELECT p.event_id, p.user_id, p.cents, max(c.c_ts) AS l_ts
        |  FROM p LEFT JOIN c ON p.user_id = c.cu AND c.c_ts <= p.p_ts
        |    AND p.p_ts - c.c_ts <= 604800000000
        |  GROUP BY p.event_id, p.user_id, p.cents
        |), attr AS (
        |  SELECT l.event_id, l.cents,
        |    coalesce(max(c.channel), -1) AS channel
        |  FROM lastt l LEFT JOIN c ON l.user_id = c.cu AND c.c_ts = l.l_ts
        |  GROUP BY l.event_id, l.cents
        |)
        |SELECT CAST(channel AS BIGINT) AS channel,
        |  CAST(count(*) AS BIGINT) AS n_purchases,
        |  CAST(sum(cents) AS BIGINT) AS revenue_cents
        |FROM attr GROUP BY channel ORDER BY channel""".stripMargin,

    "q_events_transitions" ->
      """WITH pairs AS (
        |  SELECT event_type AS from_type,
        |    lead(event_type) OVER (PARTITION BY user_id
        |      ORDER BY ts, event_id) AS to_type
        |  FROM events
        |), p AS (SELECT * FROM pairs WHERE to_type IS NOT NULL
        |), tot AS (
        |  SELECT from_type, CAST(count(*) AS BIGINT) AS n_from
        |  FROM p GROUP BY 1
        |)
        |SELECT p.from_type, p.to_type, CAST(count(*) AS BIGINT) AS n,
        |  CAST((2 * count(*) * 1000000 + t.n_from) // (2 * t.n_from)
        |    AS DOUBLE) / 1000000.0 AS p
        |FROM p JOIN tot t ON p.from_type = t.from_type
        |GROUP BY p.from_type, p.to_type, t.n_from
        |ORDER BY p.from_type, p.to_type""".stripMargin,

    "q_events_rfm" ->
      """WITH d0 AS (SELECT max(CAST(ts AS DATE)) AS d0 FROM events
        |), stats AS (
        |  SELECT user_id,
        |    -CAST(date_diff('day', max(CAST(ts AS DATE)),
        |      (SELECT d0 FROM d0)) AS BIGINT) AS neg_rec,
        |    CAST(count(*) AS BIGINT) AS freq,
        |    CAST(sum(CASE WHEN event_type = 'purchase'
        |      THEN CAST(round(value * 100) AS BIGINT) ELSE 0 END)
        |      AS BIGINT) AS monetary
        |  FROM events GROUP BY user_id
        |), cuts AS (
        |  SELECT quantile_cont(neg_rec, [0.25, 0.5, 0.75]) AS rc,
        |    quantile_cont(freq, [0.25, 0.5, 0.75]) AS fc,
        |    quantile_cont(monetary, [0.25, 0.5, 0.75]) AS mc
        |  FROM stats
        |), scored AS (
        |  SELECT CAST(1 + (neg_rec > rc[1])::INT + (neg_rec > rc[2])::INT
        |      + (neg_rec > rc[3])::INT AS BIGINT) AS r_score,
        |    CAST(1 + (freq > fc[1])::INT + (freq > fc[2])::INT
        |      + (freq > fc[3])::INT AS BIGINT) AS f_score,
        |    CAST(1 + (monetary > mc[1])::INT + (monetary > mc[2])::INT
        |      + (monetary > mc[3])::INT AS BIGINT) AS m_score,
        |    monetary
        |  FROM stats CROSS JOIN cuts
        |)
        |SELECT r_score, f_score, m_score,
        |  CAST(count(*) AS BIGINT) AS n_users,
        |  CAST(sum(monetary) AS BIGINT) AS revenue_cents
        |FROM scored GROUP BY 1, 2, 3 ORDER BY 1, 2, 3""".stripMargin,

    "q_basket_rules" ->
      """WITH items AS (
        |  SELECT DISTINCT l.l_orderkey AS o, p.p_brand AS b
        |  FROM lineitem l JOIN part p ON l.l_partkey = p.p_partkey
        |), nn AS (SELECT CAST(count(DISTINCT o) AS BIGINT) AS n FROM items
        |), itemn AS (
        |  SELECT b, CAST(count(*) AS BIGINT) AS c FROM items GROUP BY 1
        |), pairs AS (
        |  SELECT a.b AS brand_a, c.b AS brand_b,
        |    CAST(count(*) AS BIGINT) AS c_xy
        |  FROM items a JOIN items c ON a.o = c.o AND a.b < c.b
        |  GROUP BY 1, 2 HAVING count(*) >= 5
        |)
        |SELECT p.brand_a, p.brand_b, p.c_xy,
        |  CAST((2 * p.c_xy * 1000000 + nn.n) // (2 * nn.n) AS DOUBLE)
        |    / 1000000.0 AS support,
        |  CAST((2 * p.c_xy * 1000000 + ix.c) // (2 * ix.c) AS DOUBLE)
        |    / 1000000.0 AS confidence,
        |  CAST((2 * p.c_xy * nn.n * 1000000 + ix.c * iy.c)
        |    // (2 * ix.c * iy.c) AS DOUBLE) / 1000000.0 AS lift
        |FROM pairs p CROSS JOIN nn
        |JOIN itemn ix ON p.brand_a = ix.b
        |JOIN itemn iy ON p.brand_b = iy.b
        |ORDER BY lift DESC, brand_a, brand_b LIMIT 15""".stripMargin,

    "q_events_bot_flags" ->
      """WITH g AS (
        |  SELECT user_id,
        |    (epoch_us(ts) - lag(epoch_us(ts)) OVER (PARTITION BY user_id
        |      ORDER BY ts, event_id)) // 1000000 AS gap_s
        |  FROM events
        |), a AS (
        |  SELECT user_id, CAST(count(*) AS BIGINT) AS n_gaps,
        |    CAST(sum(gap_s) AS BIGINT) AS sg,
        |    CAST(sum(gap_s * gap_s) AS BIGINT) AS qg
        |  FROM g WHERE gap_s IS NOT NULL
        |  GROUP BY 1 HAVING count(*) >= 2
        |)
        |SELECT user_id, n_gaps, sg // n_gaps AS mean_gap_s,
        |  round(CAST(n_gaps AS DOUBLE)
        |      * (CAST(n_gaps AS DOUBLE) * CAST(qg AS DOUBLE)
        |         - CAST(sg AS DOUBLE) * CAST(sg AS DOUBLE))
        |    / greatest(CAST(n_gaps - 1 AS DOUBLE)
        |        * CAST(sg AS DOUBLE) * CAST(sg AS DOUBLE), 1.0), 4) AS cv2,
        |  n_gaps >= 20 AND
        |    CAST(n_gaps AS DOUBLE)
        |      * (CAST(n_gaps AS DOUBLE) * CAST(qg AS DOUBLE)
        |         - CAST(sg AS DOUBLE) * CAST(sg AS DOUBLE))
        |    / greatest(CAST(n_gaps - 1 AS DOUBLE)
        |        * CAST(sg AS DOUBLE) * CAST(sg AS DOUBLE), 1.0) < 0.25
        |    AS bot_flag
        |FROM a ORDER BY user_id""".stripMargin,

    "q_agg_filter_clause" ->
      """SELECT l_returnflag,
        |  CAST(count(*) FILTER (WHERE l_quantity > 25) AS BIGINT) AS n_bulk,
        |  round(sum(l_extendedprice) FILTER (WHERE l_discount > 0.05), 2)
        |    AS disc_rev,
        |  round(avg(l_quantity) FILTER (WHERE l_linestatus = 'F'), 4)
        |    AS avg_f_qty,
        |  CAST(count(*) AS BIGINT) AS n_all
        |FROM lineitem GROUP BY l_returnflag
        |ORDER BY l_returnflag""".stripMargin,

    "q_distinct_on" ->
      """SELECT DISTINCT ON (c_mktsegment) c_mktsegment, c_custkey,
        |  c_name, round(c_acctbal, 2) AS c_acctbal
        |FROM customer
        |ORDER BY c_mktsegment, c_acctbal DESC, c_custkey ASC""".stripMargin,

    "q_events_gini" ->
      """WITH rev AS (
        |  SELECT user_id,
        |    CAST(sum(CAST(round(value * 100) AS BIGINT)) AS BIGINT) AS cents
        |  FROM events WHERE event_type = 'purchase' GROUP BY user_id
        |), nn AS (
        |  SELECT (SELECT CAST(count(DISTINCT user_id) AS BIGINT)
        |          FROM events) AS n_all,
        |    (SELECT CAST(count(*) AS BIGINT) FROM rev) AS n_buy
        |), r AS (
        |  SELECT cents,
        |    row_number() OVER (ORDER BY cents, user_id)
        |      + (SELECT n_all - n_buy FROM nn) AS rank
        |  FROM rev
        |), agg AS (
        |  SELECT (SELECT n_all FROM nn) AS n_users,
        |    (SELECT n_buy FROM nn) AS n_buyers,
        |    CAST(sum(cents) AS BIGINT) AS s,
        |    CAST(sum(rank * cents) AS BIGINT) AS w,
        |    CAST(sum(CASE WHEN rank > (SELECT n_all - n_all // 10 FROM nn)
        |      THEN cents ELSE 0 END) AS BIGINT) AS top_cents
        |  FROM r
        |)
        |SELECT n_users, n_buyers, s AS total_cents,
        |  CAST((2 * (2 * w - (n_users + 1) * s) * 1000000 + n_users * s)
        |    // (2 * n_users * s) AS DOUBLE) / 1000000.0 AS gini,
        |  CAST((2 * top_cents * 1000000 + s) // (2 * s) AS DOUBLE)
        |    / 1000000.0 AS top10_share
        |FROM agg""".stripMargin,

    "q_events_ab_test" ->
      """WITH pu AS (
        |  SELECT user_id, user_id % 2 AS variant,
        |    max(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END) AS conv,
        |    sum(CASE WHEN event_type = 'purchase'
        |      THEN CAST(round(value * 100) AS BIGINT) ELSE 0 END) AS cents
        |  FROM events GROUP BY 1, 2
        |), a AS (
        |  SELECT
        |    CAST(sum(CASE WHEN variant = 0 THEN 1 ELSE 0 END) AS BIGINT) AS n0,
        |    CAST(sum(CASE WHEN variant = 1 THEN 1 ELSE 0 END) AS BIGINT) AS n1,
        |    CAST(sum(CASE WHEN variant = 0 THEN conv ELSE 0 END) AS BIGINT) AS c0,
        |    CAST(sum(CASE WHEN variant = 1 THEN conv ELSE 0 END) AS BIGINT) AS c1,
        |    CAST(sum(CASE WHEN variant = 0 THEN cents ELSE 0 END) AS BIGINT)
        |      AS rev0_cents,
        |    CAST(sum(CASE WHEN variant = 1 THEN cents ELSE 0 END) AS BIGINT)
        |      AS rev1_cents,
        |    CAST(sum(CASE WHEN variant = 0 THEN cents * cents ELSE 0 END)
        |      AS BIGINT) AS q0,
        |    CAST(sum(CASE WHEN variant = 1 THEN cents * cents ELSE 0 END)
        |      AS BIGINT) AS q1
        |  FROM pu
        |), v AS (
        |  SELECT *,
        |    (CAST(n0 AS DOUBLE) * CAST(q0 AS DOUBLE)
        |      - CAST(rev0_cents AS DOUBLE) * CAST(rev0_cents AS DOUBLE))
        |      / (CAST(n0 AS DOUBLE) * (CAST(n0 AS DOUBLE) - 1.0)) AS s0,
        |    (CAST(n1 AS DOUBLE) * CAST(q1 AS DOUBLE)
        |      - CAST(rev1_cents AS DOUBLE) * CAST(rev1_cents AS DOUBLE))
        |      / (CAST(n1 AS DOUBLE) * (CAST(n1 AS DOUBLE) - 1.0)) AS s1
        |  FROM a
        |)
        |SELECT n0, n1,
        |  CAST((2 * c0 * 1000000 + n0) // (2 * n0) AS DOUBLE) / 1000000.0
        |    AS conv0,
        |  CAST((2 * c1 * 1000000 + n1) // (2 * n1) AS DOUBLE) / 1000000.0
        |    AS conv1,
        |  rev0_cents, rev1_cents,
        |  CASE WHEN s0 + s1 > 0.0 THEN
        |    round((CAST(rev1_cents AS DOUBLE) / n1
        |      - CAST(rev0_cents AS DOUBLE) / n0) /
        |      sqrt(s0 / n0 + s1 / n1), 4)
        |  ELSE NULL END AS t_welch
        |FROM v""".stripMargin,

    "q_events_dau" ->
      """WITH ud AS (
        |  SELECT DISTINCT user_id, CAST(ts AS DATE) AS day FROM events
        |), b AS (SELECT min(day) AS d0, max(day) AS d1 FROM ud
        |), spine AS (
        |  SELECT unnest(generate_series(d0, d1, INTERVAL 1 DAY))::DATE AS day
        |  FROM b
        |), dau AS (
        |  SELECT day, CAST(count(DISTINCT user_id) AS BIGINT) AS dau
        |  FROM ud GROUP BY 1
        |), wau AS (
        |  SELECT a.day, CAST(count(DISTINCT user_id) AS BIGINT) AS wau
        |  FROM (SELECT user_id,
        |          unnest(generate_series(day, day + 6, INTERVAL 1 DAY))::DATE
        |            AS day
        |        FROM ud) a
        |  GROUP BY 1
        |), mau AS (
        |  SELECT a.day, CAST(count(DISTINCT user_id) AS BIGINT) AS mau
        |  FROM (SELECT user_id,
        |          unnest(generate_series(day, day + 27, INTERVAL 1 DAY))::DATE
        |            AS day
        |        FROM ud) a
        |  GROUP BY 1
        |)
        |SELECT strftime(s.day, '%Y-%m-%d') AS day,
        |  coalesce(dau.dau, 0) AS dau, coalesce(wau.wau, 0) AS wau,
        |  coalesce(mau.mau, 0) AS mau
        |FROM spine s LEFT JOIN dau ON s.day = dau.day
        |LEFT JOIN wau ON s.day = wau.day
        |LEFT JOIN mau ON s.day = mau.day
        |ORDER BY day""".stripMargin,

    "q_events_paths" ->
      """WITH seq AS (
        |  SELECT event_type AS e1,
        |    lead(event_type, 1) OVER w AS e2,
        |    lead(event_type, 2) OVER w AS e3
        |  FROM events
        |  WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
        |)
        |SELECT e1 || '>' || e2 || '>' || e3 AS path,
        |  CAST(count(*) AS BIGINT) AS n
        |FROM seq WHERE e3 IS NOT NULL
        |GROUP BY 1 ORDER BY n DESC, path LIMIT 10""".stripMargin,

    "q_events_ltv" ->
      """WITH ev AS (
        |  SELECT user_id, CAST(ts AS DATE) AS day,
        |    CASE WHEN event_type = 'purchase'
        |      THEN CAST(round(value * 100) AS BIGINT) ELSE 0 END AS cents
        |  FROM events
        |), cohort AS (SELECT user_id, min(day) AS cday FROM ev GROUP BY 1
        |), sizes AS (
        |  SELECT cday, CAST(count(DISTINCT user_id) AS BIGINT)
        |    AS cohort_users
        |  FROM cohort GROUP BY 1
        |), cells AS (
        |  SELECT c.cday, CAST(date_diff('day', c.cday, e.day) AS BIGINT)
        |    AS off, CAST(sum(e.cents) AS BIGINT) AS rev_cents
        |  FROM ev e JOIN cohort c USING (user_id)
        |  WHERE date_diff('day', c.cday, e.day) <= 7
        |  GROUP BY 1, 2
        |), cum AS (
        |  SELECT cday, off, rev_cents,
        |    CAST(sum(rev_cents) OVER (PARTITION BY cday ORDER BY off)
        |      AS BIGINT) AS cum_cents
        |  FROM cells
        |)
        |SELECT strftime(cday, '%Y-%m-%d') AS cohort_day,
        |  off AS day_offset, s.cohort_users, rev_cents, cum_cents,
        |  CAST((2 * cum_cents * 10000 + s.cohort_users)
        |    // (2 * s.cohort_users) AS DOUBLE) / 10000.0
        |    AS ltv_cents_per_user
        |FROM cum JOIN sizes s USING (cday)
        |ORDER BY cohort_day, day_offset""".stripMargin,

    "q_events_retention" ->
      """WITH ud AS (
        |  SELECT DISTINCT user_id, CAST(ts AS DATE) AS day FROM events
        |), cohort AS (
        |  SELECT user_id, min(day) AS cday FROM ud GROUP BY user_id
        |), cells AS (
        |  SELECT cday, CAST(day - cday AS BIGINT) AS off,
        |    CAST(count(DISTINCT user_id) AS BIGINT) AS n_active
        |  FROM ud JOIN cohort USING (user_id)
        |  WHERE day - cday <= 7
        |  GROUP BY cday, day - cday
        |), sz AS (
        |  SELECT cday, n_active AS cohort_size FROM cells WHERE off = 0
        |)
        |SELECT strftime(c.cday, '%Y-%m-%d') AS cohort_day,
        |  c.off AS day_offset, c.n_active,
        |  CAST((2 * c.n_active * 1000000 + s.cohort_size)
        |    // (2 * s.cohort_size) AS DOUBLE) / 1000000.0 AS retention
        |FROM cells c JOIN sz s USING (cday)
        |ORDER BY cohort_day, day_offset""".stripMargin,
    "q_histogram" ->
      """WITH v AS (
        |  SELECT CAST(round(o_totalprice * 100) AS BIGINT) AS v FROM orders
        |), mm AS (
        |  SELECT min(v) AS vmin, max(v) AS vmax FROM v
        |)
        |SELECT ((v - vmin) * 20) // (vmax - vmin + 1) AS bucket,
        |  CAST(vmin + ((((v - vmin) * 20) // (vmax - vmin + 1))
        |    * (vmax - vmin + 1)) // 20 AS DOUBLE) / 100.0 AS lo_approx,
        |  count(*) AS n
        |FROM v CROSS JOIN mm
        |GROUP BY 1, 2 ORDER BY bucket""".stripMargin,

    "q_agg_approx_percentile" ->
      """SELECT o_orderstatus,
        |  round(median(o_totalprice), 4) AS p50_exact,
        |  round(quantile_cont(o_totalprice, 0.45), 4) AS p45,
        |  round(quantile_cont(o_totalprice, 0.55), 4) AS p55,
        |  TRUE AS p50_in_rank_bounds
        |FROM orders GROUP BY o_orderstatus ORDER BY o_orderstatus""".stripMargin,

    "q_window_firstlast" ->
      """SELECT o_custkey, o_orderkey,
        |  first_value(o_orderkey) OVER w AS first_key,
        |  last_value(o_orderkey) OVER w AS last_key,
        |  nth_value(o_orderkey, 2) OVER w AS second_key
        |FROM orders
        |WINDOW w AS (PARTITION BY o_custkey ORDER BY o_orderkey
        |             ROWS BETWEEN UNBOUNDED PRECEDING AND UNBOUNDED FOLLOWING)
        |ORDER BY o_custkey, o_orderkey""".stripMargin,

    "q_window_range" ->
      """SELECT o_orderpriority, o_orderkey,
        |  count(*) OVER w AS n_in_range,
        |  round(sum(o_totalprice) OVER w, 2) AS sum_in_range
        |FROM orders
        |WINDOW w AS (PARTITION BY o_orderpriority ORDER BY o_orderkey
        |             RANGE BETWEEN 1000 PRECEDING AND CURRENT ROW)
        |ORDER BY o_orderpriority, o_orderkey""".stripMargin,

    "q_setop_union" ->
      """SELECT o_orderpriority AS v FROM orders
        |UNION
        |SELECT o_orderstatus AS v FROM orders
        |ORDER BY v""".stripMargin,

    "q_setop_intersect_all" ->
      """SELECT q, count(*) AS n FROM (
        |  SELECT l_quantity AS q FROM lineitem WHERE l_quantity <= 5
        |  INTERSECT ALL
        |  SELECT l_quantity AS q FROM lineitem WHERE l_returnflag = 'A' AND l_quantity <= 5
        |) GROUP BY q ORDER BY q""".stripMargin,

    "q_setop_except_all" ->
      """SELECT CAST(ln AS BIGINT) AS ln, count(*) AS n FROM (
        |  SELECT l_linenumber AS ln FROM lineitem WHERE l_quantity <= 3
        |  EXCEPT ALL
        |  SELECT l_linenumber AS ln FROM lineitem WHERE l_quantity <= 1
        |) GROUP BY ln ORDER BY ln""".stripMargin,

    "q_pred_misc" ->
      """SELECT c_custkey,
        |  (CASE WHEN c_acctbal < 0 THEN c_mktsegment END IS DISTINCT FROM c_mktsegment) AS d,
        |  (c_mktsegment IS NOT DISTINCT FROM c_mktsegment) AS nd,
        |  try_cast(c_name AS DOUBLE) AS bad_cast,
        |  try_cast(CAST(c_custkey AS VARCHAR) AS BIGINT) AS good_cast,
        |  c_name || '/' || c_mktsegment AS joined
        |FROM customer ORDER BY c_custkey""".stripMargin,

    "q_cte_recursive" ->
      """WITH RECURSIVE seq(n) AS (
        |  SELECT 1
        |  UNION ALL
        |  SELECT n + 1 FROM seq WHERE n < 25
        |)
        |SELECT CAST(n AS BIGINT) AS n, CAST(n * n AS BIGINT) AS sq
        |FROM seq ORDER BY n""".stripMargin,

    "q_map_funcs" ->
      """WITH m AS (
        |  SELECT n_regionkey, list_sort(list(n_name)) AS names
        |  FROM nation GROUP BY n_regionkey
        |)
        |SELECT n_regionkey, array_to_string(names, ',') AS ks,
        |  CAST(len(names) AS BIGINT) AS m_size,
        |  names[1] AS first_v
        |FROM m ORDER BY n_regionkey""".stripMargin,

    "q_having" ->
      """SELECT l_suppkey, round(sum(l_extendedprice), 2) AS total, count(*) AS n
        |FROM lineitem GROUP BY l_suppkey HAVING count(*) > 550
        |ORDER BY l_suppkey""".stripMargin,

    "q_select_distinct" ->
      """SELECT DISTINCT o_orderstatus, o_orderpriority FROM orders
        |ORDER BY o_orderstatus, o_orderpriority""".stripMargin,

    "q_join_right" ->
      """SELECT c_custkey, count(o_orderkey) AS n_big
        |FROM (SELECT * FROM orders WHERE o_totalprice > 100000) o
        |RIGHT JOIN customer ON o_custkey = c_custkey
        |GROUP BY c_custkey ORDER BY c_custkey""".stripMargin,

    "q_date_bin" ->
      """SELECT strftime(time_bucket(INTERVAL 15 MINUTE, ts), '%Y-%m-%d %H:%M:%S') AS bin15m,
        |  count(*) AS n, CAST(round(sum(value) * 100) AS BIGINT) AS sum_cents
        |FROM events GROUP BY 1 ORDER BY bin15m""".stripMargin,

    "q_group_by_all" ->
      """SELECT l_returnflag, l_linestatus, count(*) AS n,
        |  round(sum(l_quantity), 2) AS qty
        |FROM lineitem GROUP BY ALL ORDER BY ALL""".stripMargin,

    "q_ddl_view" ->
      """SELECT count(*) AS n, round(sum(s_acctbal), 2) AS total
        |FROM (SELECT s_suppkey, s_name, s_acctbal FROM supplier
        |      WHERE s_acctbal > 5000)""".stripMargin,

    "q_union_byname" ->
      """SELECT k, round(sum(bal), 2) AS bal_sum FROM (
        |  SELECT c_custkey AS k, c_acctbal AS bal FROM customer
        |  UNION ALL
        |  SELECT s_suppkey AS k, s_acctbal AS bal FROM supplier
        |) GROUP BY k ORDER BY k""".stripMargin,

    // (this DuckDB build lacks native GROUPS frames too, so the oracle
    // computes the same semantics by an INDEPENDENT shape: a range
    // self-join on dense_rank distance, not a window)
    "q_window_groups" ->
      """WITH r AS (
        |  SELECT o_orderkey, o_orderpriority AS pri, o_totalprice,
        |    dense_rank() OVER (PARTITION BY o_orderpriority
        |                       ORDER BY o_orderdate) AS dr
        |  FROM orders)
        |SELECT a.o_orderkey, a.pri AS o_orderpriority,
        |  count(b.o_orderkey) AS g_n,
        |  round(sum(b.o_totalprice), 2) AS g_sum
        |FROM r a JOIN r b
        |  ON b.pri = a.pri AND b.dr BETWEEN a.dr - 1 AND a.dr + 1
        |GROUP BY a.o_orderkey, a.pri
        |ORDER BY a.o_orderkey""".stripMargin,

    "q_map_funcs2" ->
      """WITH t(k) AS (VALUES (1), (2), (3)),
        |e AS (
        |  SELECT k,
        |    [struct_pack(ky := 'a', v := k),
        |     struct_pack(ky := 'b', v := k * 2),
        |     struct_pack(ky := 'c', v := k * 3)] AS ent
        |  FROM t)
        |SELECT CAST(k AS BIGINT) AS k,
        |  array_to_string(list_transform(ent, x -> x.ky || ':' || x.v), ',') AS me,
        |  array_to_string(list_transform(list_filter(ent, x -> x.v > k),
        |    x -> x.ky || ':' || x.v), ',') AS mf,
        |  array_to_string(list_transform(ent, x -> x.ky || ':' || (x.v + 1)), ',') AS tv,
        |  array_to_string(list_sort(list_transform(ent, x -> x.ky)), ',') AS mk
        |FROM e ORDER BY k""".stripMargin,

    "q_nondet_fns" ->
      """SELECT length(CAST(uuid() AS VARCHAR)) = 36 AS uuid_ok,
        |  random() >= 0 AND random() < 1 AS rand_ok,
        |  TRUE AS randn_ok""".stripMargin,

    "q_events_sliding" ->
      """WITH starts AS (
        |  SELECT event_type,
        |    unnest([time_bucket(INTERVAL 30 MINUTE, ts),
        |            time_bucket(INTERVAL 30 MINUTE, ts) - INTERVAL 30 MINUTE]) AS w_start
        |  FROM events
        |)
        |SELECT strftime(w_start, '%Y-%m-%d %H:%M:%S') AS w_start, event_type,
        |  count(*) AS n
        |FROM starts GROUP BY 1, 2 ORDER BY w_start, event_type""".stripMargin,

    // gaps-and-islands with session_window's HALF-OPEN boundary
    // (diff >= gap starts a new session) and end = last + gap
    "q_events_session_window" ->
      """WITH ev AS (
        |  SELECT user_id, ts, epoch_us(ts) AS ts_us,
        |    CAST(round(value * 100) AS BIGINT) AS cents
        |  FROM events
        |), marked AS (
        |  SELECT user_id, ts, ts_us, cents,
        |    CASE WHEN lag(ts_us) OVER w IS NULL
        |           OR ts_us - lag(ts_us) OVER w >= 1800000000 THEN 1 ELSE 0
        |    END AS new_sess
        |  FROM ev WINDOW w AS (PARTITION BY user_id ORDER BY ts_us)
        |), numbered AS (
        |  SELECT user_id, ts, cents,
        |    sum(new_sess) OVER (PARTITION BY user_id ORDER BY ts_us
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS sess_no
        |  FROM marked
        |)
        |SELECT user_id,
        |  strftime(min(ts), '%Y-%m-%d %H:%M:%S') AS sess_start,
        |  strftime(max(ts) + INTERVAL 30 MINUTES, '%Y-%m-%d %H:%M:%S') AS sess_end,
        |  count(*) AS n_events,
        |  CAST(sum(cents) AS DOUBLE) / 100.0 AS sum_value
        |FROM numbered GROUP BY user_id, sess_no
        |ORDER BY user_id, sess_start""".stripMargin,

    "q_lateral" ->
      """SELECT c.c_custkey, t.best_price
        |FROM customer c,
        |LATERAL (SELECT max(o_totalprice) AS best_price
        |         FROM orders WHERE o_custkey = c.c_custkey) t
        |WHERE t.best_price IS NOT NULL
        |ORDER BY c.c_custkey""".stripMargin
  )
}
