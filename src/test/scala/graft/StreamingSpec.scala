package graft

import graft.streaming.{EventsStream, StreamQueries}
import graft.streaming.StreamQueries.Sink

/** Streaming extension: the windowed aggregation over events matches the
  * equivalent batch computation when the finite input is fully drained. */
class StreamingSpec extends SparkSpecBase {

  test("checkpoint recovery: killed replay resumes exactly-once and is non-vacuous") {
    import org.apache.spark.sql.functions._
    // the restart must be invisible: kill-and-resume output == the
    // uninterrupted replay's output, row for row
    val rec = SparkEntry.queries("q_stream_recovery")(spark, sfDir)
      .collect().map(_.toString).toSeq.sorted
    val unint = SparkEntry.queries("q_sessionize_stream")(spark, sfDir)
      .collect().map(_.toString).toSeq.sorted
    assert(rec.nonEmpty, "no sessions emitted at all")
    assert(rec == unint, "recovered output differs from uninterrupted replay")
    // non-vacuousness on PLANTED data (no natural testdata session
    // straddles the kill at any SF — checked at sf0.001/sf0.01): over a
    // 3h span the kill lands at lo + span·2/3 = 2:00, so user 2's
    // events at 1:55 and 2:05 are ONE session whose state must survive
    // the restart and merge with a post-restart event, and user 1's
    // 0:00–0:10 session closes under the phase-1 watermark (1:55 −
    // 30min delay), so the file sink committed output BEFORE the kill.
    import spark.implicits._
    val dir = graft.Scratch.tempDir("graft_rec_plant").toString
    val base = java.sql.Timestamp.valueOf("2024-03-01 00:00:00")
    def at(minute: Long) = new java.sql.Timestamp(base.getTime + minute * 60000L)
    Seq(
      (1L, at(0), 1L, "a", 1.0, "{}"),
      (2L, at(10), 1L, "a", 1.0, "{}"),     // closes pre-kill
      (3L, at(115), 2L, "a", 1.0, "{}"),    // 1:55 — in phase 1
      (4L, at(125), 2L, "a", 1.0, "{}"),    // 2:05 — after the kill
      (5L, at(60), 3L, "a", 1.0, "{}"),
      (6L, at(180), 3L, "a", 1.0, "{}"))    // 3:00 — pins hi
      .toDF("event_id", "ts", "user_id", "event_type", "value", "props")
      .write.parquet(s"$dir/events.parquet")
    val rec2 = SparkEntry.queries("q_stream_recovery")(spark, dir)
      .collect().map(x => (x.getLong(0), x.getLong(1), x.getLong(2),
        x.getLong(3), x.getLong(4)))
    val batch = SparkEntry.queries("q_sessionize")(spark, dir)
      .collect().map(x => (x.getLong(0), x.getLong(1), x.getLong(2),
        x.getLong(3), x.getLong(4)))
    assert(rec2.toSet == batch.toSet,
      s"planted recovery ${rec2.toSeq} != batch ${batch.toSeq}")
    // the replay's own arithmetic: span = hi − lo + 1 µs over [0:00, 3:00]
    val bound2Us = base.getTime * 1000L + (180L * 60000000L + 1L) * 2 / 3
    assert(rec2.exists { case (u, _, n, s0, s1) =>
      u == 2L && n == 2L && s0 < bound2Us && s1 >= bound2Us },
      s"planted spanning session missing: ${rec2.toSeq}")
    // the RocksDB/transformWithState recovery twin must produce the
    // same sessions from the same planted kill (snapshot + changelog
    // replay restoring named state AND registered timers)
    val recTws = SparkEntry.queries("q_stream_recovery_tws")(spark, dir)
      .collect().map(x => (x.getLong(0), x.getLong(1), x.getLong(2),
        x.getLong(3), x.getLong(4)))
    assert(recTws.toSet == batch.toSet,
      s"tws recovery ${recTws.toSeq} != batch ${batch.toSeq}")
  }

  test("incremental sessionization across micro-batches matches the pure fold") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    import graft.streaming.Sessionize
    import graft.streaming.Sessionize.{Event, Session, TimedEvent}
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    import spark.implicits._

    def tsUs(us: Long) = {
      val t = new java.sql.Timestamp(us / 1000)
      t.setNanos(((us % 1000000) * 1000).toInt)
      t
    }
    val min = 60L * 1000 * 1000 // µs
    // user 1: two sessions (gap 30min, break at 90min); the 10min event
    // arrives LATE (in batch 2, within watermark) — it must extend the
    // open session's count without rewinding its end (regression: a
    // merge that overwrote last with the late ts split the session).
    // user 2: one session
    val u1 = Seq(0L, 5 * min, 10 * min, 20 * min, 120 * min, 130 * min)
    val u2 = Seq(10 * min, 15 * min)
    val base = 1700000000L * 1000000

    val input = MemoryStream[TimedEvent]
    val q = Sessionize.incremental(input.toDS(), gapMinutes = 30)
      .writeStream.outputMode("append").format("memory")
      .queryName("sess_inc_test").start()
    try {
      // batch 1: session 1 minus the late event; batch 2: late 10min
      // event + session 2 (state carries over); batch 3+4:
      // watermark-advancing sentinels close open sessions
      input.addData(
        (Seq(0L, 5 * min, 20 * min).map(us => TimedEvent(1L, tsUs(base + us), "e")) ++
          u2.map(us => TimedEvent(2L, tsUs(base + us), "e"))): _*)
      q.processAllAvailable()
      input.addData(Seq(10 * min, 120 * min, 130 * min)
        .map(us => TimedEvent(1L, tsUs(base + us), "e")): _*)
      q.processAllAvailable()
      input.addData(TimedEvent(99L, tsUs(base + 1000 * min), "sentinel"))
      q.processAllAvailable()
      input.addData(TimedEvent(99L, tsUs(base + 2000 * min), "sentinel"))
      q.processAllAvailable()

      val got = spark.table("sess_inc_test").as[Session].collect()
        .filter(_.user_id != 99L).map(s => (s.user_id, s.start_us, s.end_us, s.n_events))
        .toSet
      val want = (
        Sessionize.sessionize(u1.map(us => Event(1L, base + us, "e")).iterator, 30 * min).map(s => (1L, s.start_us, s.end_us, s.n_events)) ++
        Sessionize.sessionize(u2.map(us => Event(2L, base + us, "e")).iterator, 30 * min).map(s => (2L, s.start_us, s.end_us, s.n_events))
      ).toSet
      assert(got == want, s"got=$got want=$want")
    } finally q.stop()
  }

  test("streaming dedup within watermark matches batch distinct") {
    import org.apache.spark.sql.functions._
    StreamQueries.drain(graft.streaming.DedupStream.dedupedEvents(spark, sfDir),
      Sink.Memory("dedup_stream_test"))
    val streamed = spark.table("dedup_stream_test").count()
    val batch = graft.engine.Engine.table(spark, sfDir, "events")
      .select(md5(concat_ws("|", col("user_id"), col("event_type"), col("props"))).as("h"))
      .distinct().count()
    // finite input arrives within one watermark window → exact dedup
    assert(streamed == batch, s"streamed=$streamed batch=$batch")
  }

  test("streaming curation matches the batch dedup+gate per language") {
    import org.apache.spark.sql.functions._
    StreamQueries.drain(graft.streaming.CurationStream.curatedDocs(spark, sfDir),
      Sink.Memory("curation_stream_test"))
    val streamed = spark.sql(
      """SELECT lang, count(*) AS n_docs, sum(n_tok) AS total_tokens
        |FROM curation_stream_test GROUP BY lang""".stripMargin)
      .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2))).toSet
    // batch equivalent with the same copy-invariant stats: one survivor
    // per (normalized-content hash, lang) — lang is in the dedup key
    // because it is metadata, not derivable from the content (see
    // CurationStream scaladoc) — then the same gate
    val nTok = size(regexp_extract_all(col("text"), lit("[A-Za-z0-9]+"), lit(0)))
    val batch = graft.engine.Engine.table(spark, sfDir, "documents")
      .select(col("lang"),
        md5(regexp_replace(trim(lower(col("text"))), "\\s+", " ")).as("h"),
        length(regexp_replace(trim(lower(col("text"))), "\\s+", " "))
          .as("n_chars_norm"),
        nTok.cast("long").as("n_tok"))
      .groupBy(col("h"), col("lang"))
      .agg(min(col("n_chars_norm")).as("n_chars_norm"),
        min(col("n_tok")).as("n_tok"))
      .filter(col("n_chars_norm").between(50, 5000) && col("n_tok") >= 10)
      .groupBy(col("lang"))
      .agg(count(lit(1)).as("n_docs"), sum(col("n_tok")).as("total_tokens"))
      .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2))).toSet
    assert(streamed == batch, s"streamed=$streamed batch=$batch")
    assert(streamed.nonEmpty)
  }

  test("stream-static enrichment matches the batch join and holds ZERO state") {
    import org.apache.spark.sql.functions._
    val q = StreamQueries.drain(graft.streaming.EnrichStream.enriched(spark, sfDir),
      Sink.Memory("enrich_stream_test"))
    val streamed = spark.table("enrich_stream_test")
      .collect().map(r => (r.getLong(0), r.getString(4))).toSet
    val ev = graft.engine.Engine.table(spark, sfDir, "events")
    val cust = graft.engine.Engine.table(spark, sfDir, "customer")
      .select(col("c_custkey"), col("c_mktsegment"))
    val batch = ev.join(cust, ev("user_id") === cust("c_custkey"))
      .select(col("event_id"), col("c_mktsegment"))
      .collect().map(r => (r.getLong(0), r.getString(1))).toSet
    assert(streamed == batch, s"sizes: streamed=${streamed.size} batch=${batch.size}")
    assert(streamed.nonEmpty)
    // the scale property: dim enrichment is STATELESS — nothing in a
    // state store, nothing that grows with stream length
    assert(q.lastProgress.stateOperators.isEmpty,
      s"expected no state operators, got ${q.lastProgress.stateOperators.toSeq}")
  }

  test("streaming decontamination matches batch pipe_decontam_bloom (and exact) rows") {
    StreamQueries.drain(graft.streaming.DecontamStream.flaggedDocs(spark, sfDir),
      Sink.Memory("decontam_stream_test"))
    val streamed = spark.table("decontam_stream_test")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getBoolean(2))).toSet
    val bloom = SparkEntry.queries("pipe_decontam_bloom")(spark, sfDir)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getBoolean(2))).toSet
    val exact = SparkEntry.queries("pipe_decontam")(spark, sfDir)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getBoolean(2))).toSet
    // stateless stream-static flagging is a pure per-row function, so
    // the stream must reproduce the batch rows verbatim (set compare:
    // micro-batch order is not meaningful). The stream's bloom is a
    // prefilter with an exact binary-search verdict, so it equals BOTH
    // batch paths, false positives killed.
    assert(streamed.nonEmpty && streamed == bloom && streamed == exact,
      s"streamed=${streamed.size} bloom=${bloom.size} exact=${exact.size}")
  }

  test("decontam broadcast guard: oversized bench set fails loudly, naming the batch fallback") {
    import graft.streaming.DecontamStream
    // in-bounds: no throw (the real stream path exercises this too)
    DecontamStream.assertBenchBroadcastable(0L)
    DecontamStream.assertBenchBroadcastable(DecontamStream.MaxBenchGrams)
    val e = intercept[IllegalArgumentException] {
      DecontamStream.assertBenchBroadcastable(DecontamStream.MaxBenchGrams + 1)
    }
    // actionable message: states the size, the bound, and the fallback
    assert(e.getMessage.contains("pipe_decontam_bloom"), e.getMessage)
    assert(e.getMessage.contains(DecontamStream.MaxBenchGrams.toString), e.getMessage)
  }

  test("streaming hourly agg matches batch q1 shape and totals") {
    StreamQueries.drain(EventsStream.hourlyAgg(spark, sfDir),
      Sink.Memory("ev_stream_test"), mode = "complete")
    val streamed = spark.sql(
      "SELECT sum(n) AS total FROM ev_stream_test").head().getLong(0)
    val batch = SparkEntry.queries("q_events_window")(spark, sfDir)
      .agg(org.apache.spark.sql.functions.sum("n")).head().getLong(0)
    assert(streamed == batch, s"streamed=$streamed batch=$batch")
    assert(streamed == 1000L) // sf0.001 events row count
  }

  test("chained distinct→count stream reproduces batch DAU exactly") {
    import spark.implicits._
    import org.apache.spark.sql.functions.lit
    // planted: u1 appears TWICE on day 0 (the distinct stage must
    // collapse it), u2 once on day 0, u3 once on day 1 — DAU 2 then 1;
    // the two sentinel heartbeat windows must NOT appear in the output
    def ts(day: Int, h: Int) =
      java.sql.Timestamp.valueOf(f"2024-03-${day + 1}%02d $h%02d:00:00")
    val rows = Seq(
      (1L, ts(0, 1), 1L), (2L, ts(0, 5), 1L), (3L, ts(0, 9), 2L),
      (4L, ts(1, 3), 3L))
    val tmp = graft.Scratch.tempDir("sdau").toString
    rows.toDF("event_id", "ts", "user_id")
      .withColumn("event_type", lit("view"))
      .withColumn("value", lit(1.0)).withColumn("props", lit("{}"))
      .write.mode("overwrite").parquet(s"$tmp/events.parquet")
    val out = SparkEntry.queries("q_stream_dau")(spark, tmp)
      .collect().map(r => (r.getString(0), r.getLong(1)))
    assert(out.toSeq == Seq(("2024-03-01", 2L), ("2024-03-02", 1L)),
      s"got ${out.toSeq}")
  }

  test("stream-stream attribution join matches the batch range join") {
    import org.apache.spark.sql.functions._
    StreamQueries.drain(graft.streaming.JoinStream.attributed(spark, sfDir),
      Sink.Memory("join_stream_test"))
    val streamed = spark.table("join_stream_test")
      .select(col("purchase_id"), col("click_id"))
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val ev = graft.engine.Engine.table(spark, sfDir, "events")
      .withColumn("tsq", graft.engine.Engine.eventTs(col("ts")))
    val c = ev.filter(col("event_type") === "click")
      .select(col("user_id").as("cu"), col("event_id").as("click_id"),
        col("tsq").as("click_ts"))
    val p = ev.filter(col("event_type") === "purchase")
      .select(col("user_id").as("pu"), col("event_id").as("purchase_id"),
        col("tsq").as("purchase_ts"))
    val batch = c.join(p,
        col("cu") === col("pu") &&
          col("click_ts") <= col("purchase_ts") &&
          col("click_ts") >= col("purchase_ts") - expr("INTERVAL 24 HOURS"))
      .select(col("purchase_id"), col("click_id"))
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(batch.nonEmpty, "vacuous fixture: no attributable purchases")
    assert(streamed == batch, s"streamed=${streamed.size} batch=${batch.size}")
  }

  test("stream-stream join state collapses once both watermarks pass") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    import graft.streaming.JoinStream
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    import spark.implicits._
    def ts(h: Long) = new java.sql.Timestamp(1700000000L * 1000 + h * 3600L * 1000)
    val clicks = MemoryStream[AttrEvent]
    val purchases = MemoryStream[AttrEvent]
    val q = JoinStream.attribution(clicks.toDF(), purchases.toDF())
      .writeStream.outputMode("append").format("memory")
      .queryName("join_state_test").start()
    try {
      // batch 1: user 1 clicks at h=0 and h=9, purchase at h=10 (both in
      // the 24h window); user 2 click with no purchase; user 3 purchase
      // with no click
      clicks.addData(AttrEvent(1L, 101L, ts(0), 0.0),
        AttrEvent(1L, 102L, ts(9), 0.0), AttrEvent(2L, 201L, ts(9), 0.0))
      purchases.addData(AttrEvent(1L, 901L, ts(10), 42.0),
        AttrEvent(3L, 903L, ts(10), 7.0))
      q.processAllAvailable()
      val got = spark.table("join_state_test")
        .select($"purchase_id", $"click_id")
        .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
      assert(got == Set((901L, 101L), (901L, 102L)), s"got=$got")
      // real rows are in state now (both sides buffer for future matches)
      val before = q.recentProgress.reverse
        .find(_.stateOperators.nonEmpty).get.stateOperators.map(_.numRowsTotal).sum
      assert(before >= 5, s"expected all 5 real rows buffered, got $before")
      // two far-future sentinel batches on BOTH sides: the first advances
      // the watermarks past every real row's eviction bound, the second
      // triggers the eviction pass. The scale property: state is
      // O(window + delay), never O(stream length).
      for (h <- Seq(1000L, 2000L)) {
        clicks.addData(AttrEvent(99L, 9000L + h, ts(h), 0.0))
        purchases.addData(AttrEvent(99L, 9100L + h, ts(h), 0.0))
        q.processAllAvailable()
      }
      val after = q.recentProgress.reverse
        .find(_.stateOperators.nonEmpty).get.stateOperators.map(_.numRowsTotal).sum
      assert(after <= 4,
        s"state did not collapse to the sentinels: $after rows retained")
    } finally q.stop()
  }

  test("outer join defers the null row until the click watermark closes the purchase") {
    // the LEFT OUTER contract q_stream_outer_join's oracle can't see
    // (it only checks the FINAL row set): the null-joined row for an
    // unmatched purchase must NOT appear while a matching click could
    // still arrive — only after the click-side watermark passes
    // purchase_ts. Matched pairs emit immediately, like the inner join.
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    import graft.streaming.JoinStream
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    import spark.implicits._
    def ts(h: Long) = new java.sql.Timestamp(1700000000L * 1000 + h * 3600L * 1000)
    val clicks = MemoryStream[AttrEvent]
    val purchases = MemoryStream[AttrEvent]
    val q = JoinStream.attributionOuter(clicks.toDF(), purchases.toDF())
      .writeStream.outputMode("append").format("memory")
      .queryName("outer_join_defer_test").start()
    try {
      def rows() = spark.table("outer_join_defer_test")
        .select($"purchase_id", $"click_id")
        .collect()
        .map(r => (r.getLong(0), if (r.isNullAt(1)) None else Some(r.getLong(1))))
        .toSet
      // batch 1: user 1 purchase matched by a click; user 3 purchase
      // with no click at all
      clicks.addData(AttrEvent(1L, 101L, ts(9), 0.0))
      purchases.addData(AttrEvent(1L, 901L, ts(10), 42.0),
        AttrEvent(3L, 903L, ts(10), 7.0))
      q.processAllAvailable()
      assert(rows() == Set((901L, Some(101L))),
        s"unmatched purchase emitted before closure: ${rows()}")
      // later batches: far-future rows on both sides advance both
      // watermarks past purchase_ts=h10 (+delay) — now, and only now,
      // the null row for 903 must emit. Two rounds: the first advances
      // the watermark, the second runs the eviction/closure pass.
      for (h <- Seq(1000L, 2000L)) {
        clicks.addData(AttrEvent(99L, 9000L + h, ts(h), 0.0))
        purchases.addData(AttrEvent(99L, 9100L + h, ts(h), 0.0))
        q.processAllAvailable()
      }
      val finalRows = rows()
      assert(finalRows.contains((903L, None)),
        s"closure never emitted the null row: $finalRows")
      assert(!finalRows.exists { case (p, c) => p == 901L && c.isEmpty },
        s"matched purchase also got a null row: $finalRows")
    } finally q.stop()
  }

  test("late replay drops exactly the clone rows at the watermark (engine metrics)") {
    // q_stream_late_drop's oracle proves the FINAL row set; this pins
    // the mechanism from the engine's own accounting. Granularity
    // matters: numRowsDroppedByWatermark counts at the STATE STORE,
    // which sits above the partial aggregation — the late file's input
    // rows collapse to their (hour, type) groups first, so the metric
    // must equal the number of DISTINCT clone windows, no more (no
    // real row is late in an in-order chunked replay) and no fewer
    // (every clone window is behind the watermark by construction).
    import org.apache.spark.sql.functions._
    val ev = graft.engine.Engine.table(spark, sfDir, "events")
    val us = unix_micros(col("ts").cast("timestamp"))
    val bound = graft.streaming.Replay.firstChunkBound(spark, sfDir, 3)
    val nClones = ev.filter(us < bound).count()
    assert(nClones > 0, "vacuous fixture: empty first chunk")
    val nCloneWindows = ev.filter(us < bound)
      .select(date_trunc("hour",
        graft.engine.Engine.eventTs(col("ts"))).as("h"), col("event_type"))
      .distinct().count()
    val late = ev.filter(us < bound)
      .select((col("event_id") + 5000000L).as("event_id"), col("ts"),
        col("user_id"), col("event_type"), col("value"), col("props"))
    val rd = graft.streaming.Replay.eventsDir(spark, sfDir, 3, Some(late), "late-clones")
    val agg = graft.engine.Engine.stream(spark, sfDir, "events", Some(rd), Some(1))
      .withColumn("ts", graft.engine.Engine.eventTs(col("ts")))
      .withWatermark("ts", "1 hour")
      .groupBy(window(col("ts"), "1 hour"), col("event_type"))
      .agg(count(lit(1)).as("n"))
    val q = agg.writeStream.outputMode("append").format("memory")
      .queryName("late_drop_metrics_test")
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .start()
    q.awaitTermination()
    try {
      val dropped = q.recentProgress.flatMap(_.stateOperators)
        .map(_.numRowsDroppedByWatermark).sum
      // ≥ distinct windows (each late group reaches the store at least
      // once), ≤ input rows (a multi-split late file emits one partial
      // per group × split, so exact equality would couple the spec to
      // the file-split layout); at this suite's sf0.001 the file is one
      // split and the value lands exactly on nCloneWindows
      assert(dropped >= nCloneWindows && dropped <= nClones,
        s"watermark dropped $dropped group rows, expected between " +
          s"$nCloneWindows (distinct clone windows) and $nClones (clone rows)")
      // and no window was ever emitted twice — the leak a non-dropping
      // engine would show
      val dup = spark.table("late_drop_metrics_test")
        .groupBy(col("window"), col("event_type")).count()
        .filter(col("count") > 1).count()
      assert(dup == 0, s"$dup windows emitted more than once")
    } finally q.stop()
  }

  test("foreachBatch upsert folds identically under a forced micro-batch split") {
    // the q_stream_upsert claim: because updates touch disjoint docs,
    // ANY split of the source into micro-batches produces the same final
    // corpus as one batch merge — drive the same versioned copy-on-write
    // foreachBatch over TWO MemoryStream batches and compare to the
    // one-shot batch merge of the union
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    import org.apache.spark.sql.functions._
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    import spark.implicits._
    val root = graft.Scratch.tempDir("fb_upsert").toString
    val baseRows = Seq((1L, "a"), (7L, "b"), (13L, "c"), (14L, "d"), (20L, "e"))
    baseRows.toDF("doc_id", "text").withColumn("lang", lit("en"))
      .select(col("doc_id"), col("lang"), col("text"))
      .write.mode("overwrite").parquet(s"$root/corpus_v0")
    val corpus = new StreamQueries.VersionedCorpus(root, StreamQueries.upsertChange)
    val src = MemoryStream[(Long, String)]
    val q = src.toDF().toDF("doc_id", "text").withColumn("lang", lit("en"))
      .select(col("doc_id"), col("lang"), col("text"))
      .writeStream.foreachBatch(corpus.merge _).start()
    try {
      src.addData((7L, "b2"), (14L, "d2"))  // batch 1: one update, one no-op
      q.processAllAvailable()
      src.addData((13L, "c2"), (20L, "e2")) // batch 2: update+insert, no-op
      q.processAllAvailable()
      assert(corpus.version == 2, s"expected 2 merge versions, got ${corpus.version}")
      val streamed = spark.read.parquet(s"$root/corpus_v2")
        .collect().map(r => (r.getLong(0), r.getString(2))).toSet
      // one-shot merge of the SAME four rows over the same base
      val all = Seq((7L, "b2"), (14L, "d2"), (13L, "c2"), (20L, "e2"))
        .toDF("doc_id", "text").withColumn("lang", lit("en"))
      val base = spark.read.parquet(s"$root/corpus_v0")
      val up = all.filter(col("doc_id") % 7 === 0)
        .select(col("doc_id"), col("lang"),
          concat(col("text"), lit(" [recrawl]")).as("text"))
      val ins = all.filter(col("doc_id") % 13 === 0)
        .select((col("doc_id") + 10000000L).as("doc_id"), col("lang"),
          concat(lit("NEW "), col("text")).as("text"))
      val oneShot = base
        .join(up.unionAll(ins).select(col("doc_id")), Seq("doc_id"), "left_anti")
        .unionAll(up.unionAll(ins))
        .collect().map(r => (r.getLong(0), r.getString(2))).toSet
      assert(streamed == oneShot, s"streamed=$streamed\noneShot=$oneShot")
      // and the merge really happened: 7 recrawled, 13-insert present
      assert(streamed.contains((7L, "b2 [recrawl]")))
      assert(streamed.contains((10000013L, "NEW c2")))
    } finally q.stop()
  }

  test("foreachBatch CDC merge applies deletes split-invariantly") {
    // the q_stream_cdc claim extended to DELETES: any micro-batch split
    // produces the same final corpus, and a key hit by both the update
    // and delete rule takes the delete (latest-op-wins)
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    import org.apache.spark.sql.functions._
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    import spark.implicits._
    val root = graft.Scratch.tempDir("fb_cdc").toString
    // 77 matches BOTH %7 (update) and %11 (delete) → must be deleted
    val baseRows = Seq((1L, "a"), (7L, "b"), (11L, "c"), (13L, "d"),
      (77L, "e"))
    baseRows.toDF("doc_id", "text").withColumn("lang", lit("en"))
      .select(col("doc_id"), col("lang"), col("text"))
      .write.mode("overwrite").parquet(s"$root/corpus_v0")
    val corpus = new StreamQueries.VersionedCorpus(root, StreamQueries.cdcChange)
    val src = MemoryStream[(Long, String)]
    val q = src.toDF().toDF("doc_id", "text").withColumn("lang", lit("en"))
      .select(col("doc_id"), col("lang"), col("text"))
      .writeStream.foreachBatch(corpus.merge _).start()
    try {
      src.addData((7L, "b"), (77L, "e"))  // update 7; 77 hits BOTH rules
      q.processAllAvailable()
      src.addData((11L, "c"), (13L, "d")) // delete 11; insert from 13
      q.processAllAvailable()
      assert(corpus.version == 2)
      val fin = spark.read.parquet(s"$root/corpus_v2")
        .collect().map(r => (r.getLong(0), r.getString(2))).toSet
      assert(fin == Set(
        (1L, "a"),            // untouched
        (7L, "b [v2]"),       // updated
        (13L, "d"),           // base copy of 13 stays (not deleted)
        (20000013L, "CDC d")  // insert from 13
      ), s"got $fin")         // 11 and 77 deleted — 77 NOT updated
    } finally q.stop()
  }

  test("drain restores the session conf, set or unset, when start throws and when it succeeds") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    import spark.implicits._
    val keys = Seq("spark.sql.shuffle.partitions",
      "spark.sql.streaming.stateStore.providerClass",
      "spark.sql.streaming.stateStore.rocksdb.changelogCheckpointing.enabled")
    // explicitly set values only: an unset key must stay unset, not
    // come back pinned to its default
    def explicit() = keys.map(k => k -> spark.conf.getAll.get(k)).toMap
    val session = explicit()
    // append-mode streaming aggregation without a watermark: start throws
    val unstartable = MemoryStream[Int].toDF().groupBy($"value").count()
    val input = MemoryStream[Int]
    input.addData(1, 2, 3)
    val drainable = input.toDF()
    def check(): Unit = {
      val before = explicit()
      intercept[org.apache.spark.sql.AnalysisException] {
        StreamQueries.drain(unstartable, Sink.Memory("drain_conf_fail"),
          statePartitions = 3, rocksDb = true)
      }
      assert(explicit() == before, "failed start leaked conf")
      StreamQueries.drain(drainable, Sink.Memory("drain_conf_ok"),
        statePartitions = 3, rocksDb = true)
      assert(explicit() == before, "successful drain leaked conf")
    }
    try {
      keys.foreach(spark.conf.unset)
      check()
      keys.zip(Seq("5", "org.example.Provider", "false"))
        .foreach { case (k, v) => spark.conf.set(k, v) }
      check()
    } finally keys.foreach { k =>
      session(k).fold(spark.conf.unset(k))(spark.conf.set(k, _))
    }
  }

  test("amortized recovery probe: uninterrupted and recovered runs agree with the batch sessions") {
    import org.apache.spark.sql.functions.{col, count, lit, sum}
    // the recovery rows replay one file per trigger; here the same
    // kill-and-resume runs at 2 files per trigger (one batch per phase),
    // and the killed and uninterrupted runs must emit the same sessions
    def sessions(kill: Boolean): (Long, Long) = {
      val out = StreamQueries.killAndResume(spark, sfDir, 2, rocksDb = false, kill = kill)
      val agg = spark.read.parquet(out).filter(col("user_id") =!= -1L)
        .agg(count(lit(1)), sum(col("n_events"))).head()
      (agg.getLong(0), agg.getLong(1))
    }
    val (uN, uEv) = sessions(kill = false)
    val (rN, rEv) = sessions(kill = true)
    assert((rN, rEv) == ((uN, uEv)), s"killed ($rN, $rEv) vs uninterrupted ($uN, $uEv)")
    val batch = SparkEntry.queries("q_sessionize")(spark, sfDir)
      .agg(count(lit(1))).head().getLong(0)
    assert(uN > 0, "no sessions emitted")
    assert(uN == batch, s"stream sessions=$uN batch=$batch")
  }
}

/** MemoryStream row for the stream-stream join spec (top-level for the
  * case-class Encoder). */
case class AttrEvent(user_id: Long, event_id: Long,
  ts: java.sql.Timestamp, value: Double)
