package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Watermarked stream-stream join (SURVEY §2.10 extension scope): the
  * click→purchase attribution join — for every purchase, every click by
  * the same user in the preceding `windowHours` hours. This is the one
  * join shape the rest of the streaming family doesn't cover: BOTH
  * sides are unbounded (contrast [[EnrichStream]], whose dim side is
  * static), so each side must buffer rows in the state store until the
  * other side's matching rows can no longer arrive.
  *
  * Scale shape: state is partitioned by the join key (the same hash
  * clustering a batch shuffle join uses), so it shards across
  * executors; the event-time range condition plus the two watermarks
  * gives Spark a provable eviction bound — a click is dropped from
  * state once the purchase-side watermark passes `click_ts +
  * windowHours`, and a purchase once the click-side watermark passes
  * `purchase_ts`. Retention is therefore O(ingest rate × (window +
  * watermark delay)) per side — NEVER O(stream length). The spec
  * drives this to an observable fixpoint: after far-future sentinel
  * batches advance both watermarks, state collapses to the sentinels
  * alone (every real row evicted).
  */
object JoinStream {

  /** Core join on two streaming frames with columns
    * (user_id, event_id, ts[, value]). Kept separate from the file
    * wiring so tests can feed MemoryStream micro-batches. */
  def attribution(clicks: DataFrame, purchases: DataFrame,
      windowHours: Int = 24): DataFrame = {
    val c = clicks
      .select(col("user_id"), col("event_id").as("click_id"),
        col("ts").as("click_ts"))
      .withWatermark("click_ts", "1 hour")
    val p = purchases
      .select(col("user_id").as("p_user"), col("event_id").as("purchase_id"),
        col("value"), col("ts").as("purchase_ts"))
      .withWatermark("purchase_ts", "1 hour")
    c.join(p,
        col("user_id") === col("p_user") &&
          col("click_ts") <= col("purchase_ts") &&
          col("click_ts") >= col("purchase_ts") - expr(s"INTERVAL $windowHours HOURS"))
      .select(col("purchase_id"), col("click_id"), col("user_id"),
        col("click_ts"), col("purchase_ts"), col("value"))
  }

  /** LEFT OUTER variant — purchases keep a row even with no qualifying
    * click. The outer semantics are where the watermark machinery does
    * REAL work the inner join never exercises: a null-joined row may
    * only be emitted once the purchase provably cannot match — i.e.
    * when the CLICK-side watermark passes `purchase_ts` (any future
    * click arrives above that watermark, and matching clicks need
    * `click_ts ≤ purchase_ts`). State/eviction bounds are identical to
    * [[attribution]]; the extra behavior is the deferred null-row
    * emission on closure, which the driver-gated multi-batch replay
    * (`q_stream_outer_join`) forces deterministically by advancing both
    * watermarks past every real row with sentinel events. */
  def attributionOuter(clicks: DataFrame, purchases: DataFrame,
      windowHours: Int = 24): DataFrame = {
    val c = clicks
      .select(col("user_id").as("c_user"), col("event_id").as("click_id"),
        col("ts").as("click_ts"))
      .withWatermark("click_ts", "1 hour")
    val p = purchases
      .select(col("user_id"), col("event_id").as("purchase_id"),
        col("value"), col("ts").as("purchase_ts"))
      .withWatermark("purchase_ts", "1 hour")
    p.join(c,
        col("c_user") === col("user_id") &&
          col("click_ts") <= col("purchase_ts") &&
          col("click_ts") >= col("purchase_ts") - expr(s"INTERVAL $windowHours HOURS"),
        "left_outer")
      .select(col("purchase_id"), col("click_id"), col("user_id"),
        col("click_ts"), col("purchase_ts"), col("value"))
  }

  /** File wiring over the events table: clicks × purchases, 24 h
    * attribution window. ONE source, self-joined (r16): the sides used
    * to be two independent FileStreamSources over the same parquet, so
    * every micro-batch paid the directory listing, offset bookkeeping
    * and batch-file read twice. A streaming self-join is supported and
    * semantically identical here — each side still advances its own
    * watermark column (click_ts / purchase_ts; the per-node watermarks
    * and the min-policy global watermark are unchanged because both
    * sources always read the same files at the same offsets), and the
    * oracle hash pins the output. */
  def attributed(spark: SparkSession, dir: String): DataFrame = {
    val src = graft.engine.Engine.stream(spark, dir, "events")
      .withColumn("ts", graft.engine.Engine.eventTs(col("ts")))
    attribution(
      src.filter(col("event_type") === "click"),
      src.filter(col("event_type") === "purchase"))
  }
}
