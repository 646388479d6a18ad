package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Structured Streaming extension over the `events` table (SURVEY §2.10:
  * the reference is batch-only; this is the north-star streaming surface).
  *
  * The same tumbling-window aggregation as the batch `q_events_window`
  * query, expressed as Engine.stream → watermark → windowed agg, run
  * by StreamQueries.drain. At scale this is the standard
  * continuous-ingest shape: event-time windows tolerate late data up to
  * the watermark, and state is bounded because expired windows are
  * evicted.
  */
object EventsStream {

  /** Hourly tumbling-window counts/sums per event_type as a streaming DF. */
  def hourlyAgg(spark: SparkSession, dir: String): DataFrame = {
    graft.engine.Engine.stream(spark, dir, "events")
      .withColumn("ts", graft.engine.Engine.eventTs(col("ts")))
      .withWatermark("ts", "1 hour")
      .groupBy(window(col("ts"), "1 hour"), col("event_type"))
      .agg(count(lit(1)).as("n"), round(sum(col("value")), 2).as("total_value"))
      .select(
        date_format(col("window.start"), "yyyy-MM-dd HH:mm:ss").as("hour"),
        col("event_type"), col("n"), col("total_value"))
  }
}
