package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Streaming exact deduplication — the continuous-ingest form of
  * `dedup_exact`: documents/events arriving on a stream are deduped by
  * content hash with `dropDuplicatesWithinWatermark`, so the seen-hash
  * state is EVICTED once the watermark passes — bounded state on an
  * unbounded stream (the plain `dropDuplicates` would hold every hash
  * forever, which a 100 TB/day ingest cannot).
  *
  * Duplicates of a payload are expected to arrive close together in
  * event time (re-sends, crawler revisits within a window); duplicates
  * farther apart than the watermark delay re-emerge, which the batch
  * `dedup_exact` pass downstream catches — the standard two-tier design.
  */
object DedupStream {

  /** Distinct events (event_id, h) by content hash `h` within a 1-hour
    * watermark. */
  def dedupedEvents(spark: SparkSession, dir: String): DataFrame = {
    graft.engine.Engine.stream(spark, dir, "events")
      .withColumn("tsx", graft.engine.Engine.eventTs(col("ts")))
      // content identity: the payload minus the per-delivery fields
      .withColumn("h", md5(concat_ws("|", col("user_id"), col("event_type"), col("props"))))
      .withWatermark("tsx", "1 hour")
      .dropDuplicatesWithinWatermark("h")
      .select(col("event_id"), col("h"))
  }
}
