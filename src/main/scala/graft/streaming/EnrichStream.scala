package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Stream-static dim enrichment (SURVEY §2.10 extension scope): the
  * continuous-ingest join every event pipeline runs — each arriving
  * event picks up its customer's market segment from the static dim
  * table, inner join on the key.
  *
  * Scale shape: the static side is re-planned per micro-batch (so a dim
  * refresh is picked up without restarting the query) and broadcast
  * when under the threshold — at 100 TB/day the events NEVER shuffle
  * for this join, and the operator is STATELESS: no watermark, no state
  * store, nothing grows with stream length (asserted in the spec via
  * empty `stateOperators`). Contrast [[Sessionize.incremental]], whose
  * per-user state is the bounded-but-nonzero case, measured in the r16
  * record `sessionize_state` (PROBE_LOCAL_100x.json). A dim too large
  * to broadcast falls back to a per-batch shuffle join — correct, but
  * the cue to pre-bucket the dim (see the `incremental_bucketed` record)
  * instead.
  */
object EnrichStream {

  /** Events stream enriched with `c_mktsegment`; inner join drops
    * events whose user has no customer row (the testdata overlap). */
  def enriched(spark: SparkSession, dir: String): DataFrame = {
    val events = graft.engine.Engine.stream(spark, dir, "events")
    val customers = broadcast(
      graft.engine.Engine.table(spark, dir, "customer")
        .select(col("c_custkey"), col("c_mktsegment")))
    events
      .join(customers, events("user_id") === customers("c_custkey"))
      .select(col("event_id"), col("user_id"), col("event_type"),
        col("value"), col("c_mktsegment"))
  }
}
