package graft.ops

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.engine.Engine
import graft.engine.Engine.{table => t}

/** Events time-series analytics, continued from the dense-grid family in
  * [[Relational]] (gap-fill / LOCF / 3σ anomaly): autocorrelation,
  * CUSUM change-point detection, seasonal-naive forecast backtest,
  * weekly seasonality profile, and audience overlap.
  *
  * Scale shape shared by the grid queries: ONE corpus-sized aggregation
  * (events → hourly counts), after which every frame is time-range- or
  * type-pair-sized — a year of hourly grid is 8.8k rows/type regardless
  * of corpus size, so the windows/self-joins below cost the same at
  * 100 TB as at sf0.01. All test statistics are evaluated on the exact
  * BIGINT count grid (the q_events_anomaly discipline): sums, products
  * and cross-terms stay integers until one final presentation division
  * on the 1e-6 grid, so no verdict can flip on float accumulation
  * order across engines.
  */
object Events {

  /** Round-half-up a/b onto the 1e-6 grid, entirely in BIGINT
    * (the q_events_gini presentation convention). */
  private def ratio6(a: String, b: String): String =
    s"(2 * $a * 1000000 + $b) div (2 * $b)"

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(

    // sample autocorrelation of the hourly count series, lags 1..24 —
    // the periodicity readout that motivates the seasonal forecast
    // below (a daily-cycled metric shows the lag-24 peak). Pearson r
    // over the aligned pairs (x_t, x_{t+L}) of the DENSE grid (zero
    // hours included — skipping them would shift every alignment).
    // Instead of 24 constant-lag windows, the grid self-joins once
    // through an exploded lag column: grid×24 rows on the left, one
    // hash join on (type, hour) — both sides time-range-sized, so the
    // join costs the same at any corpus scale. The five sufficient
    // statistics (m, Σx, Σy, Σx², Σy², Σxy) aggregate as exact BIGINTs
    // and the three Pearson terms are integer-assembled; only the
    // final r divides in double (IEEE sqrt/div of identical integers
    // on both engines, rounded at 4 dp). MAGNITUDE BOUND: m·Σxy peaks
    // ~H²·C² for H grid hours of counts ≤ C — under 2⁶³ while
    // H·C ≲ 3·10⁹ (a year of hours × ~340k events/hour/type); past
    // that, swap the assembly to DECIMAL(38,0) as documented at
    // q_events_anomaly.
    "q_events_acf" -> ((s, dir) => {
      val g = Relational.denseHourlyCounts(s, dir)
      val x = g.select(col("event_type"), col("h"), col("n").as("x"))
        .withColumn("lag", explode(expr("sequence(1, 24)")))
        .withColumn("h2", expr("timestampadd(HOUR, lag, h)"))
      val y = g.select(col("event_type"), col("h").as("h2"), col("n").as("y"))
      x.join(y, Seq("event_type", "h2"))
        .groupBy(col("event_type"), col("lag").cast("long").as("lag"))
        .agg(count(lit(1)).as("m"),
          sum(col("x")).as("sx"), sum(col("y")).as("sy"),
          sum(col("x") * col("x")).as("sxx"),
          sum(col("y") * col("y")).as("syy"),
          sum(col("x") * col("y")).as("sxy"))
        .withColumn("num", col("m") * col("sxy") - col("sx") * col("sy"))
        .withColumn("den_x", col("m") * col("sxx") - col("sx") * col("sx"))
        .withColumn("den_y", col("m") * col("syy") - col("sy") * col("sy"))
        .select(col("event_type"), col("lag"), col("m"),
          col("num"), col("den_x"), col("den_y"),
          when(col("den_x") > 0 && col("den_y") > 0,
            round(col("num").cast("double") /
              (sqrt(col("den_x").cast("double")) *
                sqrt(col("den_y").cast("double"))), 4))
            .as("acf"))
        .orderBy(col("event_type"), col("lag"))
    }),

    // CUSUM change-point detection on the hourly counts — the
    // sustained-shift complement to q_events_anomaly's single-hour 3σ
    // test (a 20% rate drop never trips a 3σ gate hour-by-hour; its
    // CUSUM accumulates linearly). The recursion S⁺_t = max(0,
    // S⁺_{t-1} + x_t − k) is not window-expressible directly, but has
    // the exact prefix closed form S⁺_t = P_t − min_{j≤t} P_j with
    // P_t = Σ_{i≤t} x_i − t·k and P_0 = 0 — one cumulative sum and one
    // running min per type, all BIGINT (allowance k = per-type mean,
    // floored). Dual side S⁻ symmetric. Decision threshold 5k (floored
    // at 5 so a sparse type cannot flag on every hour). Windows
    // partition by event_type over the time-range-sized grid.
    "q_events_cusum" -> ((s, dir) => {
      val g = Relational.denseHourlyCounts(s, dir)
      val tot = g.groupBy(col("event_type"))
        .agg(sum(col("n")).as("tot"), count(lit(1)).as("hours"))
        .withColumn("k", expr("tot div hours"))
        .select(col("event_type"), col("k"))
      val w = Window.partitionBy(col("event_type")).orderBy(col("h"))
      val run = w.rowsBetween(Window.unboundedPreceding, Window.currentRow)
      g.join(broadcast(tot), Seq("event_type"))
        .withColumn("idx", row_number().over(w).cast("long"))
        .withColumn("p", sum(col("n")).over(run) - col("idx") * col("k"))
        .withColumn("s_hi", col("p") - least(lit(0L), min(col("p")).over(run)))
        .withColumn("s_lo", greatest(lit(0L), max(col("p")).over(run)) - col("p"))
        .withColumn("thr", greatest(lit(5L) * col("k"), lit(5L)))
        .select(date_format(col("h"), "yyyy-MM-dd HH:mm:ss").as("hour"),
          col("event_type"), col("n"), col("p"), col("s_hi"), col("s_lo"),
          (col("s_hi") > col("thr")).as("flag_hi"),
          (col("s_lo") > col("thr")).as("flag_lo"))
        .orderBy(col("hour"), col("event_type"))
    }),

    // seasonal-naive forecast backtest — the baseline every real
    // forecaster must beat, and a readout of HOW periodic each metric
    // is: predict n(h) by the same hour last week (lag 168) vs the
    // plain-naive previous hour (lag 1), scored by MAE over the common
    // eval window (hours with a full week of history). Two constant-lag
    // values off ONE per-type window sort; absolute errors sum as
    // BIGINTs; the two MAEs and their ratio (skill < 1 ⇔ weekly
    // seasonality beats persistence) divide once onto the 1e-6 grid.
    "q_events_forecast" -> ((s, dir) => {
      val w = Window.partitionBy(col("event_type")).orderBy(col("h"))
      Relational.denseHourlyCounts(s, dir)
        .withColumn("idx", row_number().over(w).cast("long"))
        .withColumn("pred_season", lag(col("n"), 168).over(w))
        .withColumn("pred_naive", lag(col("n"), 1).over(w))
        .filter(col("idx") > 168)
        .groupBy(col("event_type"))
        .agg(count(lit(1)).as("n_eval"),
          sum(abs(col("n") - col("pred_season"))).as("sae_season"),
          sum(abs(col("n") - col("pred_naive"))).as("sae_naive"))
        .withColumn("mae_season",
          expr(ratio6("sae_season", "n_eval")).cast("double") / 1e6)
        .withColumn("mae_naive",
          expr(ratio6("sae_naive", "n_eval")).cast("double") / 1e6)
        .withColumn("skill",
          when(col("sae_naive") > 0,
            expr(ratio6("sae_season", "sae_naive")).cast("double") / 1e6))
        .select(col("event_type"), col("n_eval"), col("sae_season"),
          col("sae_naive"), col("mae_season"), col("mae_naive"), col("skill"))
        .orderBy(col("event_type"))
    }),

    // weekly seasonality profile: the 7×24 (day-of-week × hour-of-day)
    // traffic heat-map plus each cell's deviation from hour-of-day
    // independence. Day-of-week and hour-of-day come from pure epoch
    // integer arithmetic ((epoch_day + 4) mod 7, epoch 1970-01-01 =
    // Thursday; 0 = Sunday) — no calendar/locale function whose week
    // numbering could differ across engines. share6 = cell/row and
    // colshare6 = column/total land on the 1e-6 grid by integer
    // division; dev6 = share6 − colshare6 is the lift of this hour on
    // this day vs the hour's all-week share. One corpus aggregation;
    // everything after is a 168-row frame with broadcast margins.
    "q_events_seasonality" -> ((s, dir) => {
      val ev = t(s, dir, "events")
        .withColumn("us", Engine.eventTsMicros(col("ts")))
        .withColumn("dow", expr("(us div 86400000000 + 4) % 7"))
        .withColumn("hod", expr("(us div 3600000000) % 24"))
      val cells = ev.groupBy(col("dow"), col("hod"))
        .agg(count(lit(1)).as("n"))
      val grid = ev.sparkSession.range(7).select(col("id").as("dow"))
        .crossJoin(broadcast(ev.sparkSession.range(24).select(col("id").as("hod"))))
      val rows = cells.groupBy(col("dow")).agg(sum(col("n")).as("row_n"))
      val cols = cells.groupBy(col("hod")).agg(sum(col("n")).as("col_n"))
      val total = cells.agg(sum(col("n")).as("tot"))
      grid.join(cells, Seq("dow", "hod"), "left")
        .withColumn("n", coalesce(col("n"), lit(0L)))
        .join(broadcast(rows), Seq("dow"), "left")
        .join(broadcast(cols), Seq("hod"), "left")
        .withColumn("row_n", coalesce(col("row_n"), lit(0L)))
        .withColumn("col_n", coalesce(col("col_n"), lit(0L)))
        .crossJoin(broadcast(total))
        .withColumn("share6",
          when(col("row_n") > 0, expr(ratio6("n", "row_n"))).otherwise(0L))
        .withColumn("colshare6",
          when(col("tot") > 0, expr(ratio6("col_n", "tot"))).otherwise(0L))
        .select(col("dow"), col("hod"), col("n"), col("row_n"), col("col_n"),
          col("share6"), col("colshare6"),
          (col("share6") - col("colshare6")).as("dev6"))
        .orderBy(col("dow"), col("hod"))
    }),

    // audience overlap matrix: exact Jaccard + containment between the
    // distinct-user audiences of every event-type pair — the "do
    // purchasers also click" readout. The corpus collapses to the
    // distinct (type, user) frame first (ONE shuffle, map-side
    // partial); the self-join then carries ≤ n_types rows per user and
    // explodes to ≤ n_types² pairs per user — bounded fan-out, no skew
    // hazard however hot one user is. The pair spine comes from the
    // per-type counts (broadcast), so zero-overlap pairs still emit a
    // row. All counts BIGINT; jaccard6/containment6 divide once.
    "q_events_audience_overlap" -> ((s, dir) => {
      val u = t(s, dir, "events")
        .select(col("event_type"), col("user_id")).distinct()
      val per = u.groupBy(col("event_type")).agg(count(lit(1)).as("nu"))
      val inter = u.as("a")
        .join(u.withColumnRenamed("event_type", "type_b").as("b"), Seq("user_id"))
        .filter(col("event_type") < col("type_b"))
        .groupBy(col("event_type").as("type_a"), col("type_b"))
        .agg(count(lit(1)).as("inter"))
      val spine = broadcast(per.select(col("event_type").as("type_a"),
          col("nu").as("n_a")))
        .join(broadcast(per.select(col("event_type").as("type_b"),
          col("nu").as("n_b"))), col("type_a") < col("type_b"))
      spine.join(inter, Seq("type_a", "type_b"), "left")
        .withColumn("inter", coalesce(col("inter"), lit(0L)))
        .withColumn("uni", col("n_a") + col("n_b") - col("inter"))
        .withColumn("jaccard6",
          when(col("uni") > 0, expr(ratio6("inter", "uni"))).otherwise(0L))
        .withColumn("containment6",
          when(col("n_a") > 0, expr(ratio6("inter", "n_a"))).otherwise(0L))
        .select(col("type_a"), col("type_b"), col("n_a"), col("n_b"),
          col("inter"), col("uni"), col("jaccard6"), col("containment6"))
        .orderBy(col("type_a"), col("type_b"))
    }),

    // MERGEABLE distinct-count sketches (Datasketches HLL, the Spark 4
    // hll_sketch_agg/hll_union_agg surface): per-day user sketches built
    // ONCE, then the month/corpus total comes from unioning the K daily
    // sketch binaries — never rescanning history. This is the 100 TB
    // incremental pattern q_agg_approx_distinct can't show: a new shard
    // updates global distinct counts by merging one more 16 KB sketch,
    // and the union estimate is provably the same as sketching the
    // concatenated input (the Datasketches merge contract). Oracle
    // discipline follows q_agg_approx_distinct: the EXACT count is
    // hash-compared, the estimator contributes a pinned bracket bit
    // (±5% at lgK=14, rsd≈0.8% — 6σ headroom), so an estimator or merge
    // regression flips a TRUE to FALSE. The merged-vs-exact global row
    // proves the union path specifically: its exact count is NOT the
    // sum of the daily rows (users repeat across days), so a broken
    // merge cannot hide behind per-day agreement.
    "q_events_hll_merge" -> ((s, dir) => {
      val ud = t(s, dir, "events")
        .select(date_format(to_date(Engine.eventTs(col("ts"))), "yyyy-MM-dd")
          .as("day"), col("user_id"))
      val daySk = ud.groupBy(col("day"))
        .agg(hll_sketch_agg(col("user_id"), lit(14)).as("sk"),
          countDistinct(col("user_id")).as("exact_users"))
      val perDay = daySk.select(col("day"), col("exact_users"),
        (abs(hll_sketch_estimate(col("sk")) - col("exact_users")) * lit(100L)
          <= col("exact_users") * lit(5L)).as("hll_ok"))
      val exactAll = ud.agg(countDistinct(col("user_id")).as("exact_users"))
      val mergedAll = daySk.agg(
        hll_sketch_estimate(hll_union_agg(col("sk"), lit(false))).as("est"))
      val allRow = exactAll.crossJoin(broadcast(mergedAll))
        .select(lit("ALL").as("day"), col("exact_users"),
          (abs(col("est") - col("exact_users")) * lit(100L)
            <= col("exact_users") * lit(5L)).as("hll_ok"))
      perDay.unionByName(allRow).orderBy(col("day"))
    }),

    // Markov steady state of the user-journey chain — the PageRank-shaped
    // importance readout over event types: row-normalize the consecutive
    // (from → to) transition counts (q_events_transitions' matrix), then
    // run 5 power-iteration steps from the uniform vector. Identifies
    // the attractor states of typical sessions (where user flows
    // concentrate), the event-analytics twin of centrality ranking.
    //
    // Scale + determinism shape (the emb_pca discipline): ONE corpus
    // pass builds the K×K transition matrix (per-user lead window —
    // per-key sort state); every iterate is K-row arithmetic on the
    // 1e-6 BIGINT grid, broadcast-joined — π·p products peak at 10¹²,
    // nowhere near 2⁶³, and each step re-rounds HALF_UP to the grid so
    // both engines walk identical integer sequences. Types with no
    // outgoing edges shed their mass (no damping term — the chain is
    // observed, not smoothed); rounding drift is identical both sides.
    "q_events_markov" -> ((s, dir) => {
      import scala.jdk.CollectionConverters._
      val w = Window.partitionBy(col("user_id"))
        .orderBy(col("ts"), col("event_id"))
      val pairs = t(s, dir, "events")
        .select(col("user_id"), col("ts"), col("event_id"),
          col("event_type").as("from_type"))
        .withColumn("to_type", lead(col("from_type"), 1).over(w))
        .filter(col("to_type").isNotNull)
      // the corpus collapses to the K×K transition-count matrix in ONE
      // window+aggregate pass; the matrix and the K-row type spine come
      // to the driver under the toLocal K-row contract (K = the event
      // TYPE catalog, an algorithm constant — the emb_pca eigen-step
      // precedent), where the normalization and all 5 power-iteration
      // steps are K²-element integer arithmetic. The first cut ran the
      // iterates as chained broadcast joins instead: ~12 micro-jobs of
      // exchange scheduling that probed 20× slower than this plan on
      // identical data, all overhead, no parallelism to buy.
      val counts = pairs.groupBy(col("from_type"), col("to_type"))
        .agg(count(lit(1)).as("n"))
        .collect().map(r => (r.getString(0), r.getString(1), r.getLong(2)))
      val types = t(s, dir, "events").select(col("event_type"))
        .distinct().collect().map(_.getString(0)).sorted
      import org.apache.spark.sql.Row
      import org.apache.spark.sql.types._
      val outSchema = StructType(Seq(
        StructField("event_type", StringType, false),
        StructField("pi6", LongType, false),
        StructField("p_steady", DoubleType, false)))
      // empty events table: 1000000/types.length below would throw
      // driver-side while the DuckDB oracle returns an empty frame —
      // short-circuit to the same empty result (the guarded-division
      // rule the rest of this file follows)
      if (types.isEmpty) s.createDataFrame(List.empty[Row].asJava, outSchema)
      else {
        val nFrom = counts.groupBy(_._1).map { case (f, xs) =>
          f -> xs.map(_._3).sum }
        val p6 = counts.map { case (f, to, n) =>
          (f, to) -> ((2L * n * 1000000L + nFrom(f)) / (2L * nFrom(f))) }.toMap
        var pi = types.map(_ -> 1000000L / types.length).toMap
        for (_ <- 1 to 5) {
          val num = types.map(to => to -> types.map(f =>
            pi(f) * p6.getOrElse((f, to), 0L)).sum).toMap
          pi = types.map(to => to -> (num(to) + 500000L) / 1000000L).toMap
        }
        s.createDataFrame(
            types.map(ty => Row(ty, pi(ty), pi(ty).toDouble / 1e6))
              .toList.asJava, outSchema)
          .orderBy(col("pi6").desc, col("event_type"))
      }
    }),

    // new-vs-returning split — growth accounting's first chart: each
    // day's actives decomposed into first-ever-seen users and returners
    // (DAU alone can grow while retention collapses; this is the
    // decomposition that shows it). One distinct (user, day) pass, a
    // per-user min-day aggregate, one join — all map-side-combinable;
    // the day spine keeps zero-activity days visible.
    "q_events_new_vs_returning" -> ((s, dir) => {
      val ud = t(s, dir, "events")
        .select(col("user_id"), to_date(Engine.eventTs(col("ts"))).as("day"))
        .distinct()
      val firstDay = ud.groupBy(col("user_id")).agg(min(col("day")).as("d1"))
      val per = ud.join(firstDay, Seq("user_id"))
        .groupBy(col("day"))
        .agg(count(lit(1)).as("dau"),
          sum((col("day") === col("d1")).cast("long")).as("n_new"))
      val spine = ud.agg(min(col("day")).as("d0"), max(col("day")).as("d9"))
        .select(explode(expr("sequence(d0, d9, interval 1 day)")).as("day"))
      spine.join(per, Seq("day"), "left")
        .select(date_format(col("day"), "yyyy-MM-dd").as("day"),
          coalesce(col("dau"), lit(0L)).as("dau"),
          coalesce(col("n_new"), lit(0L)).as("n_new"),
          (coalesce(col("dau"), lit(0L)) - coalesce(col("n_new"), lit(0L)))
            .as("n_returning"))
        .orderBy(col("day"))
    }),

    // time-to-convert — the funnel's TIMING readout (q_events_funnel
    // counts who converts; this measures HOW LONG conversion takes,
    // the latency product teams actually tune): per user, first 'view'
    // to first 'purchase' at/after it, then exact p25/p50/p90 of the
    // integer second deltas. Two map-side-combinable min-aggregations
    // + one user-sized join; percentile interpolation runs on exact
    // integers so (1−d)·a + d·b is the same binary rational in both
    // engines (q_agg_median precedent, rounded at 4dp).
    "q_events_time_to_convert" -> ((s, dir) => {
      val ev = t(s, dir, "events")
        .select(col("user_id"), col("event_type"),
          Engine.eventTsMicros(col("ts")).as("ts_us"))
      val firstView = ev.filter(col("event_type") === "view")
        .groupBy(col("user_id")).agg(min(col("ts_us")).as("v_ts"))
      val firstBuy = ev.filter(col("event_type") === "purchase")
        .groupBy(col("user_id")).agg(min(col("ts_us")).as("b_ts"))
      firstView.join(firstBuy, Seq("user_id"))
        .filter(col("b_ts") >= col("v_ts"))
        .select(expr("(b_ts - v_ts) div 1000000").as("delta_s"))
        .agg(count(lit(1)).as("n_converted"),
          round(expr("percentile(delta_s, 0.25)"), 4).as("p25_s"),
          round(expr("percentile(delta_s, 0.5)"), 4).as("p50_s"),
          round(expr("percentile(delta_s, 0.9)"), 4).as("p90_s"),
          max(col("delta_s")).as("max_s"))
    }),

    // stickiness (DAU/MAU) — the engagement-frequency ratio product
    // analytics watches daily (DAU and MAU alone move with acquisition;
    // their RATIO moves with habit): q_events_dau's rolling-active
    // machinery (distinct (user, day) frame exploded over the
    // trailing-window spine — corpus touched once, everything after is
    // time-range-sized) with the division on the 1e-6 BIGINT grid.
    // Days with MAU = 0 cannot exist on the spine's [d0, d1] range by
    // construction (d0/d1 come from the same frame), so the ratio is
    // total.
    "q_events_stickiness" -> ((s, dir) => {
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
        .join(rolling(28, "mau"), Seq("day"), "left")
        .select(date_format(col("day"), "yyyy-MM-dd").as("day"),
          coalesce(col("dau"), lit(0L)).as("dau"),
          coalesce(col("mau"), lit(0L)).as("mau"))
        .withColumn("stickiness", graft.ext.TextAnalysis
          .ratioRound(col("dau"), greatest(col("mau"), lit(1L)), 6))
        .orderBy(col("day"))
    }),

    // time-weighted average over IRREGULAR samples (the monitoring/IoT
    // aggregate a plain avg gets wrong: a value held for an hour must
    // weigh 3600× one held a second): per (user, day), trapezoid rule
    // over consecutive events — twa = Σ Δt·(v_i+v_{i+1}) / (2·span).
    // Entirely BIGINT: time on the per-second grid (µs div 10⁶ — both
    // engines truncate the same integers), value on the exact cents
    // grid (q_events_gini precedent), one HALF_UP presentation division
    // at 1e-6. Per-(user,day) lead window — per-key sort state, never
    // corpus-wide; the aggregate is map-side-combinable after it.
    // MAGNITUDE BOUND: 2·Σseg·10⁶ stays under 2⁶³ while
    // span_s·max_cents ≲ 4.6·10¹² (a full day needs values past $500M);
    // past that, assemble the final ratio in DECIMAL(38,0) as
    // documented at q_events_anomaly.
    "q_events_twa" -> ((s, dir) => {
      val e = t(s, dir, "events").select(col("user_id"),
        date_format(to_date(Engine.eventTs(col("ts"))), "yyyy-MM-dd")
          .as("day"),
        expr("unix_micros(CAST(ts AS TIMESTAMP)) div 1000000").as("t_s"),
        col("event_id"),
        round(col("value") * 100).cast("long").as("vc"))
      val w = Window.partitionBy(col("user_id"), col("day"))
        .orderBy(col("t_s"), col("event_id"))
      e.withColumn("t2", lead(col("t_s"), 1).over(w))
        .withColumn("v2", lead(col("vc"), 1).over(w))
        .groupBy(col("user_id"), col("day"))
        .agg(count(lit(1)).as("n_events"),
          (max(col("t_s")) - min(col("t_s"))).as("span_s"),
          sum(when(col("t2").isNotNull,
              (col("t2") - col("t_s")) * (col("vc") + col("v2")))
            .otherwise(lit(0L))).as("sseg"))
        .filter(col("span_s") > 0)
        .select(col("user_id"), col("day"), col("n_events"), col("span_s"),
          (expr("(2 * sseg * 1000000 + 200 * span_s) div (400 * span_s)")
            .cast("double") / lit(1000000.0)).as("twa"))
        .orderBy(col("user_id"), col("day"))
    }))

  /** Shared dense-grid CTE prefix (the q_events_gapfill oracle shape). */
  private val gridCte: String =
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
      |  SELECT g.h, t2.event_type, CAST(coalesce(c.n, 0) AS BIGINT) AS n
      |  FROM grid g CROSS JOIN typ t2
      |  LEFT JOIN counts c ON c.h = g.h AND c.event_type = t2.event_type
      |)""".stripMargin

  val oracleSql: Map[String, String] = Map(

    "q_events_acf" -> (gridCte +
      """, lags AS (
        |  SELECT unnest(generate_series(1, 24)) AS lag
        |), pairs AS (
        |  SELECT x.event_type, l.lag, x.n AS xv, y.n AS yv
        |  FROM f x CROSS JOIN lags l
        |  JOIN f y ON y.event_type = x.event_type
        |    AND y.h = x.h + l.lag * INTERVAL 1 HOUR
        |), s AS (
        |  SELECT event_type, CAST(lag AS BIGINT) AS lag,
        |    CAST(count(*) AS BIGINT) AS m,
        |    CAST(sum(xv) AS BIGINT) AS sx, CAST(sum(yv) AS BIGINT) AS sy,
        |    CAST(sum(xv * xv) AS BIGINT) AS sxx,
        |    CAST(sum(yv * yv) AS BIGINT) AS syy,
        |    CAST(sum(xv * yv) AS BIGINT) AS sxy
        |  FROM pairs GROUP BY 1, 2
        |)
        |SELECT event_type, lag, m,
        |  CAST(m * sxy - sx * sy AS BIGINT) AS num,
        |  CAST(m * sxx - sx * sx AS BIGINT) AS den_x,
        |  CAST(m * syy - sy * sy AS BIGINT) AS den_y,
        |  CASE WHEN m * sxx - sx * sx > 0 AND m * syy - sy * sy > 0 THEN
        |    round(CAST(m * sxy - sx * sy AS DOUBLE) /
        |      (sqrt(CAST(m * sxx - sx * sx AS DOUBLE)) *
        |       sqrt(CAST(m * syy - sy * sy AS DOUBLE))), 4)
        |  END AS acf
        |FROM s ORDER BY event_type, lag""".stripMargin),

    "q_events_cusum" -> (gridCte +
      """, kk AS (
        |  SELECT event_type, CAST(sum(n) // count(*) AS BIGINT) AS k
        |  FROM f GROUP BY 1
        |), p AS (
        |  SELECT f.h, f.event_type, f.n, kk.k,
        |    CAST(sum(f.n) OVER (PARTITION BY f.event_type ORDER BY f.h
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
        |      - row_number() OVER (PARTITION BY f.event_type ORDER BY f.h)
        |        * kk.k AS BIGINT) AS p
        |  FROM f JOIN kk USING (event_type)
        |), sc AS (
        |  SELECT h, event_type, n, k, p,
        |    CAST(p - least(0, min(p) OVER (PARTITION BY event_type ORDER BY h
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW))
        |      AS BIGINT) AS s_hi,
        |    CAST(greatest(0, max(p) OVER (PARTITION BY event_type ORDER BY h
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)) - p
        |      AS BIGINT) AS s_lo
        |  FROM p
        |)
        |SELECT strftime(h, '%Y-%m-%d %H:%M:%S') AS hour, event_type, n, p,
        |  s_hi, s_lo,
        |  s_hi > greatest(5 * k, 5) AS flag_hi,
        |  s_lo > greatest(5 * k, 5) AS flag_lo
        |FROM sc ORDER BY hour, event_type""".stripMargin),

    "q_events_forecast" -> (gridCte +
      """, lagged AS (
        |  SELECT event_type, n,
        |    row_number() OVER (PARTITION BY event_type ORDER BY h) AS idx,
        |    lag(n, 168) OVER (PARTITION BY event_type ORDER BY h) AS ps,
        |    lag(n, 1) OVER (PARTITION BY event_type ORDER BY h) AS pn
        |  FROM f
        |), agg AS (
        |  SELECT event_type, CAST(count(*) AS BIGINT) AS n_eval,
        |    CAST(sum(abs(n - ps)) AS BIGINT) AS sae_season,
        |    CAST(sum(abs(n - pn)) AS BIGINT) AS sae_naive
        |  FROM lagged WHERE idx > 168 GROUP BY 1
        |)
        |SELECT event_type, n_eval, sae_season, sae_naive,
        |  CAST((2 * sae_season * 1000000 + n_eval) // (2 * n_eval)
        |    AS DOUBLE) / 1000000.0 AS mae_season,
        |  CAST((2 * sae_naive * 1000000 + n_eval) // (2 * n_eval)
        |    AS DOUBLE) / 1000000.0 AS mae_naive,
        |  CASE WHEN sae_naive > 0 THEN
        |    CAST((2 * sae_season * 1000000 + sae_naive) // (2 * sae_naive)
        |      AS DOUBLE) / 1000000.0
        |  END AS skill
        |FROM agg ORDER BY event_type""".stripMargin),

    "q_events_seasonality" ->
      """WITH ev AS (
        |  SELECT (epoch_us(ts) // 86400000000 + 4) % 7 AS dow,
        |    (epoch_us(ts) // 3600000000) % 24 AS hod
        |  FROM events
        |), cells AS (
        |  SELECT dow, hod, CAST(count(*) AS BIGINT) AS n
        |  FROM ev GROUP BY 1, 2
        |), grid AS (
        |  SELECT d.dow, h.hod
        |  FROM (SELECT unnest(range(0, 7)) AS dow) d
        |  CROSS JOIN (SELECT unnest(range(0, 24)) AS hod) h
        |), rows_m AS (
        |  SELECT dow, CAST(sum(n) AS BIGINT) AS row_n FROM cells GROUP BY 1
        |), cols_m AS (
        |  SELECT hod, CAST(sum(n) AS BIGINT) AS col_n FROM cells GROUP BY 1
        |), tot_m AS (SELECT CAST(sum(n) AS BIGINT) AS tot FROM cells
        |), j AS (
        |  SELECT CAST(g.dow AS BIGINT) AS dow, CAST(g.hod AS BIGINT) AS hod,
        |    CAST(coalesce(c.n, 0) AS BIGINT) AS n,
        |    CAST(coalesce(r.row_n, 0) AS BIGINT) AS row_n,
        |    CAST(coalesce(cm.col_n, 0) AS BIGINT) AS col_n, t.tot
        |  FROM grid g
        |  LEFT JOIN cells c ON c.dow = g.dow AND c.hod = g.hod
        |  LEFT JOIN rows_m r ON r.dow = g.dow
        |  LEFT JOIN cols_m cm ON cm.hod = g.hod
        |  CROSS JOIN tot_m t
        |), sh AS (
        |  SELECT dow, hod, n, row_n, col_n,
        |    CASE WHEN row_n > 0 THEN
        |      CAST((2 * n * 1000000 + row_n) // (2 * row_n) AS BIGINT)
        |    ELSE 0 END AS share6,
        |    CASE WHEN tot > 0 THEN
        |      CAST((2 * col_n * 1000000 + tot) // (2 * tot) AS BIGINT)
        |    ELSE 0 END AS colshare6
        |  FROM j
        |)
        |SELECT dow, hod, n, row_n, col_n, share6, colshare6,
        |  CAST(share6 - colshare6 AS BIGINT) AS dev6
        |FROM sh ORDER BY dow, hod""".stripMargin,

    "q_events_audience_overlap" ->
      """WITH u AS (
        |  SELECT DISTINCT event_type, user_id FROM events
        |), per AS (
        |  SELECT event_type, CAST(count(*) AS BIGINT) AS nu
        |  FROM u GROUP BY 1
        |), inter AS (
        |  SELECT a.event_type AS type_a, b.event_type AS type_b,
        |    CAST(count(*) AS BIGINT) AS inter
        |  FROM u a JOIN u b ON a.user_id = b.user_id
        |    AND a.event_type < b.event_type
        |  GROUP BY 1, 2
        |), spine AS (
        |  SELECT pa.event_type AS type_a, pa.nu AS n_a,
        |    pb.event_type AS type_b, pb.nu AS n_b
        |  FROM per pa JOIN per pb ON pa.event_type < pb.event_type
        |), j AS (
        |  SELECT s.type_a, s.type_b, s.n_a, s.n_b,
        |    CAST(coalesce(i.inter, 0) AS BIGINT) AS inter,
        |    CAST(s.n_a + s.n_b - coalesce(i.inter, 0) AS BIGINT) AS uni
        |  FROM spine s LEFT JOIN inter i
        |    ON i.type_a = s.type_a AND i.type_b = s.type_b
        |)
        |SELECT type_a, type_b, n_a, n_b, inter, uni,
        |  CASE WHEN uni > 0 THEN
        |    CAST((2 * inter * 1000000 + uni) // (2 * uni) AS BIGINT)
        |  ELSE 0 END AS jaccard6,
        |  CASE WHEN n_a > 0 THEN
        |    CAST((2 * inter * 1000000 + n_a) // (2 * n_a) AS BIGINT)
        |  ELSE 0 END AS containment6
        |FROM j ORDER BY type_a, type_b""".stripMargin,

    "q_events_hll_merge" ->
      """SELECT CAST(CAST(ts AS DATE) AS VARCHAR) AS day,
        |  count(DISTINCT user_id) AS exact_users, TRUE AS hll_ok
        |FROM events GROUP BY 1
        |UNION ALL
        |SELECT 'ALL' AS day, count(DISTINCT user_id) AS exact_users,
        |  TRUE AS hll_ok
        |FROM events
        |ORDER BY day""".stripMargin,

    // tp/spine are multi-referenced (5 iterates + the spine in each) —
    // MATERIALIZED per the DuckDB CTE re-expansion gotcha
    "q_events_markov" ->
      """WITH pr AS MATERIALIZED (
        |  SELECT event_type AS from_type,
        |    lead(event_type) OVER (PARTITION BY user_id
        |      ORDER BY ts, event_id) AS to_type
        |  FROM events
        |), p2 AS (SELECT from_type, to_type FROM pr WHERE to_type IS NOT NULL
        |), ft AS (SELECT from_type, count(*) AS n_from FROM p2 GROUP BY 1
        |), tp AS MATERIALIZED (
        |  SELECT p.from_type, p.to_type,
        |    CAST((2 * count(*) * 1000000 + max(f.n_from))
        |      // (2 * max(f.n_from)) AS BIGINT) AS p6
        |  FROM p2 p JOIN ft f ON f.from_type = p.from_type
        |  GROUP BY 1, 2
        |), spine AS MATERIALIZED (
        |  SELECT DISTINCT event_type AS t FROM events
        |), k AS (SELECT count(*) AS k FROM spine
        |), it0 AS (SELECT t, CAST(1000000 // k.k AS BIGINT) AS pi
        |           FROM spine, k
        |), it1 AS MATERIALIZED (
        |  SELECT s.t, CAST((coalesce(x.num, 0) + 500000) // 1000000 AS BIGINT) AS pi
        |  FROM spine s LEFT JOIN (
        |    SELECT tp.to_type AS t, sum(i.pi * tp.p6) AS num
        |    FROM tp JOIN it0 i ON i.t = tp.from_type GROUP BY 1) x
        |    ON x.t = s.t
        |), it2 AS MATERIALIZED (
        |  SELECT s.t, CAST((coalesce(x.num, 0) + 500000) // 1000000 AS BIGINT) AS pi
        |  FROM spine s LEFT JOIN (
        |    SELECT tp.to_type AS t, sum(i.pi * tp.p6) AS num
        |    FROM tp JOIN it1 i ON i.t = tp.from_type GROUP BY 1) x
        |    ON x.t = s.t
        |), it3 AS MATERIALIZED (
        |  SELECT s.t, CAST((coalesce(x.num, 0) + 500000) // 1000000 AS BIGINT) AS pi
        |  FROM spine s LEFT JOIN (
        |    SELECT tp.to_type AS t, sum(i.pi * tp.p6) AS num
        |    FROM tp JOIN it2 i ON i.t = tp.from_type GROUP BY 1) x
        |    ON x.t = s.t
        |), it4 AS MATERIALIZED (
        |  SELECT s.t, CAST((coalesce(x.num, 0) + 500000) // 1000000 AS BIGINT) AS pi
        |  FROM spine s LEFT JOIN (
        |    SELECT tp.to_type AS t, sum(i.pi * tp.p6) AS num
        |    FROM tp JOIN it3 i ON i.t = tp.from_type GROUP BY 1) x
        |    ON x.t = s.t
        |), it5 AS (
        |  SELECT s.t, CAST((coalesce(x.num, 0) + 500000) // 1000000 AS BIGINT) AS pi
        |  FROM spine s LEFT JOIN (
        |    SELECT tp.to_type AS t, sum(i.pi * tp.p6) AS num
        |    FROM tp JOIN it4 i ON i.t = tp.from_type GROUP BY 1) x
        |    ON x.t = s.t
        |)
        |SELECT t AS event_type, pi AS pi6,
        |  CAST(pi AS DOUBLE) / 1000000.0 AS p_steady
        |FROM it5 ORDER BY pi6 DESC, event_type""".stripMargin,

    "q_events_new_vs_returning" ->
      """WITH ud AS (
        |  SELECT DISTINCT user_id, CAST(ts AS DATE) AS day FROM events
        |), fd AS (
        |  SELECT user_id, min(day) AS d1 FROM ud GROUP BY 1
        |), per AS (
        |  SELECT ud.day, count(*) AS dau,
        |    CAST(sum(CASE WHEN ud.day = fd.d1 THEN 1 ELSE 0 END) AS BIGINT)
        |      AS n_new
        |  FROM ud JOIN fd USING (user_id) GROUP BY 1
        |), b AS (SELECT min(day) AS d0, max(day) AS d9 FROM ud
        |), spine AS (
        |  SELECT unnest(generate_series(d0, d9, INTERVAL 1 DAY))::DATE AS day
        |  FROM b
        |)
        |SELECT strftime(s.day, '%Y-%m-%d') AS day,
        |  coalesce(per.dau, 0) AS dau,
        |  coalesce(per.n_new, 0) AS n_new,
        |  coalesce(per.dau, 0) - coalesce(per.n_new, 0) AS n_returning
        |FROM spine s LEFT JOIN per ON s.day = per.day
        |ORDER BY day""".stripMargin,

    "q_events_time_to_convert" ->
      """WITH ev AS (
        |  SELECT user_id, event_type, epoch_us(ts) AS ts_us FROM events
        |), fv AS (
        |  SELECT user_id, min(ts_us) AS v_ts FROM ev
        |  WHERE event_type = 'view' GROUP BY 1
        |), fb AS (
        |  SELECT user_id, min(ts_us) AS b_ts FROM ev
        |  WHERE event_type = 'purchase' GROUP BY 1
        |), d AS (
        |  SELECT (b_ts - v_ts) // 1000000 AS delta_s
        |  FROM fv JOIN fb USING (user_id) WHERE b_ts >= v_ts
        |)
        |SELECT count(*) AS n_converted,
        |  round(quantile_cont(delta_s, 0.25), 4) AS p25_s,
        |  round(quantile_cont(delta_s, 0.5), 4) AS p50_s,
        |  round(quantile_cont(delta_s, 0.9), 4) AS p90_s,
        |  CAST(max(delta_s) AS BIGINT) AS max_s
        |FROM d""".stripMargin,

    "q_events_stickiness" ->
      """WITH ud AS (
        |  SELECT DISTINCT user_id, CAST(ts AS DATE) AS day FROM events
        |), b AS (SELECT min(day) AS d0, max(day) AS d1 FROM ud
        |), spine AS (
        |  SELECT unnest(generate_series(d0, d1, INTERVAL 1 DAY))::DATE AS day
        |  FROM b
        |), dau AS (
        |  SELECT day, CAST(count(DISTINCT user_id) AS BIGINT) AS dau
        |  FROM ud GROUP BY 1
        |), mau AS (
        |  SELECT a.day, CAST(count(DISTINCT user_id) AS BIGINT) AS mau
        |  FROM (SELECT user_id,
        |          unnest(generate_series(day, day + 27, INTERVAL 1 DAY))::DATE
        |            AS day
        |        FROM ud) a
        |  GROUP BY 1
        |)
        |SELECT strftime(s.day, '%Y-%m-%d') AS day,
        |  coalesce(dau.dau, 0) AS dau, coalesce(mau.mau, 0) AS mau,
        |  CAST((2 * coalesce(dau.dau, 0) * 1000000
        |        + greatest(coalesce(mau.mau, 0), 1))
        |    // (2 * greatest(coalesce(mau.mau, 0), 1)) AS DOUBLE)
        |    / 1000000.0 AS stickiness
        |FROM spine s LEFT JOIN dau ON s.day = dau.day
        |LEFT JOIN mau ON s.day = mau.day
        |ORDER BY day""".stripMargin,

    "q_events_twa" ->
      """WITH e AS (
        |  SELECT user_id, CAST(CAST(ts AS DATE) AS VARCHAR) AS day,
        |    epoch_us(ts) // 1000000 AS t_s, event_id,
        |    CAST(round(value * 100) AS BIGINT) AS vc
        |  FROM events
        |), s AS (
        |  SELECT user_id, day, t_s, vc,
        |    lead(t_s) OVER (PARTITION BY user_id, day
        |      ORDER BY t_s, event_id) AS t2,
        |    lead(vc) OVER (PARTITION BY user_id, day
        |      ORDER BY t_s, event_id) AS v2
        |  FROM e
        |), g AS (
        |  SELECT user_id, day, count(*) AS n_events,
        |    max(t_s) - min(t_s) AS span_s,
        |    sum(CASE WHEN t2 IS NOT NULL
        |        THEN (t2 - t_s) * (vc + v2) ELSE 0 END) AS sseg
        |  FROM s GROUP BY 1, 2
        |)
        |SELECT user_id, day, n_events, CAST(span_s AS BIGINT) AS span_s,
        |  CAST((2 * sseg * 1000000 + 200 * span_s)
        |    // (400 * span_s) AS DOUBLE) / 1000000.0 AS twa
        |FROM g WHERE span_s > 0 ORDER BY user_id, day""".stripMargin)
}
