package graft.ext

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.engine.Engine
import graft.engine.Engine.{table => t}

/** As-of (temporal) join — an operator Spark lacks natively (SURVEY §2.3
  * lists it as absent in both engines; DuckDB grew `ASOF JOIN`, which
  * serves as the oracle).
  *
  * Implemented with the union+ordered-window technique rather than a
  * range join: tag probe and build rows, union, and per key take
  * `last(build_value, ignoreNulls)` over the event-time order. One
  * shuffle on (key), no O(n·m) range explosion — at 100 TB this is a
  * single sort-merge pass, the same cost class as any windowed analytic,
  * and skew follows the key distribution (saltable the usual way).
  */
object AsOf {

  /** For each probe row: the latest build row with build.ts <= probe.ts
    * and equal key (or, with `forward = true`, the EARLIEST build row
    * with build.ts >= probe.ts — pandas merge_asof's direction switch:
    * same union+window pass with event time walked in reverse). Probe
    * columns pass through; matched build columns arrive as `m_ts` and
    * `m_val` (null when nothing precedes/follows). */
  def asofJoin(probe: DataFrame, build: DataFrame,
      key: String, ts: String, valueCol: String,
      forward: Boolean = false): DataFrame = {
    val p = probe.withColumn("__side", lit(1))
      .withColumn("__bts", lit(null).cast("long"))
      .withColumn("__bval", lit(null).cast("double"))
    val b = build.select(col(key), col(ts), col(ts).as("__bts"),
      col(valueCol).cast("double").as("__bval"), lit(0).as("__side"))
    val probeCols = probe.columns.toIndexedSeq.map(col)
    val unioned = p.select(col(key), col(ts), col("__bts"), col("__bval"),
        col("__side"), struct(probeCols: _*).as("__probe"))
      .unionByName(b.withColumn("__probe",
        lit(null).cast(p.select(struct(probeCols: _*)).schema.head.dataType)),
        allowMissingColumns = false)
    // build rows sort BEFORE probe rows at equal ts (__side 0 < 1), so a
    // same-instant build row is visible to the probe — ASOF (<=) semantics
    // (and >= in the forward direction, where time is walked in reverse).
    // __bval breaks ties among build rows sharing (key, ts): the max value
    // deterministically wins (DuckDB ASOF leaves this unspecified)
    val tsOrd = if (forward) col(ts).desc else col(ts).asc
    val w = Window.partitionBy(col(key))
      .orderBy(tsOrd, col("__side"), col("__bval").asc_nulls_last)
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    unioned
      .withColumn("m_ts", last(col("__bts"), ignoreNulls = true).over(w))
      .withColumn("m_val", last(col("__bval"), ignoreNulls = true).over(w))
      .filter(col("__side") === 1)
      .select(col("__probe.*"), col("m_ts"), col("m_val"))
  }

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    // for each 'view' event: the user's most recent 'purchase' at/before it
    "q_asof_join" -> ((s, dir) => {
      val ev = t(s, dir, "events")
        .select(col("event_id"), col("user_id"), col("event_type"),
          graft.engine.Engine.eventTsMicros(col("ts")).as("ts_us"), col("value"))
      val views = ev.filter(col("event_type") === "view")
        .select(col("event_id"), col("user_id"), col("ts_us"))
      // dedupe build rows at (user, ts) keeping the max value: makes the
      // tie semantics explicit on BOTH sides (DuckDB ASOF leaves the pick
      // among equal-ts rows unspecified); map-side partial agg, no extra
      // shuffle beyond the aggregation's own
      val purchases = ev.filter(col("event_type") === "purchase")
        .groupBy(col("user_id"), col("ts_us"))
        .agg(max(col("value")).as("value"))
      asofJoin(views, purchases, "user_id", "ts_us", "value")
        .select(col("event_id"), col("user_id"), col("ts_us"),
          col("m_ts").as("purchase_ts_us"),
          round(col("m_val"), 2).as("purchase_value"))
        .orderBy(col("event_id"))
    }),

    // the FORWARD direction: for each 'view', the user's NEXT purchase
    // at/after it — the conversion-attribution lookup (q_asof_join is
    // the state-at-time lookup). Identical single-pass plan, time
    // walked in reverse.
    "q_asof_forward" -> ((s, dir) => {
      val ev = t(s, dir, "events")
        .select(col("event_id"), col("user_id"), col("event_type"),
          graft.engine.Engine.eventTsMicros(col("ts")).as("ts_us"), col("value"))
      val views = ev.filter(col("event_type") === "view")
        .select(col("event_id"), col("user_id"), col("ts_us"))
      val purchases = ev.filter(col("event_type") === "purchase")
        .groupBy(col("user_id"), col("ts_us"))
        .agg(max(col("value")).as("value"))
      asofJoin(views, purchases, "user_id", "ts_us", "value",
          forward = true)
        .select(col("event_id"), col("user_id"), col("ts_us"),
          col("m_ts").as("purchase_ts_us"),
          round(col("m_val"), 2).as("purchase_value"))
        .orderBy(col("event_id"))
    })
  )

  val oracleSql: Map[String, String] = Map(
    "q_asof_join" ->
      """WITH ev AS (
        |  SELECT event_id, user_id, event_type, epoch_us(ts) AS ts_us, value
        |  FROM events
        |), v AS (SELECT event_id, user_id, ts_us FROM ev WHERE event_type = 'view'),
        |p AS (SELECT user_id, ts_us, max(value) AS value
        |     FROM ev WHERE event_type = 'purchase' GROUP BY user_id, ts_us)
        |SELECT v.event_id, v.user_id, v.ts_us,
        |  p.ts_us AS purchase_ts_us, round(p.value, 2) AS purchase_value
        |FROM v ASOF LEFT JOIN p
        |  ON v.user_id = p.user_id AND v.ts_us >= p.ts_us
        |ORDER BY v.event_id""".stripMargin,

    "q_asof_forward" ->
      """WITH ev AS (
        |  SELECT event_id, user_id, event_type, epoch_us(ts) AS ts_us, value
        |  FROM events
        |), v AS (SELECT event_id, user_id, ts_us FROM ev WHERE event_type = 'view'),
        |p AS (SELECT user_id, ts_us, max(value) AS value
        |     FROM ev WHERE event_type = 'purchase' GROUP BY user_id, ts_us)
        |SELECT v.event_id, v.user_id, v.ts_us,
        |  p.ts_us AS purchase_ts_us, round(p.value, 2) AS purchase_value
        |FROM v ASOF LEFT JOIN p
        |  ON v.user_id = p.user_id AND v.ts_us <= p.ts_us
        |ORDER BY v.event_id""".stripMargin
  )
}
