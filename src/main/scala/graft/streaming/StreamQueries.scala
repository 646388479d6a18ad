package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Driver-gated entries that exercise the STREAMING code paths
  * themselves (SURVEY §2.10): the batch twins verify the SEMANTICS,
  * but a CORRECTNESS row must run the streaming OPERATOR — watermarked
  * windowed agg, `dropDuplicatesWithinWatermark`, stream-static join,
  * watermarked stream-stream join, `flatMapGroupsWithState` — through
  * the real micro-batch engine. Here the finite testdata parquet is
  * replayed through Engine.stream into a memory sink, drained to
  * completion, and the sink is projected onto a DETERMINISTIC surface
  * that one DuckDB oracle can hash:
  *
  *  - single-batch rows deliver every file in the FIRST micro-batch
  *    (no `maxFilesPerTrigger` cap), so nothing is ever late against a
  *    watermark and the append-mode output is the exact
  *    batch-equivalent set; the MULTI-batch rows (sessionize, late
  *    drop, outer join) instead replay [[Replay.eventsDir]]'s ordered
  *    chunk files one per micro-batch, making the watermark trajectory
  *    — and therefore what is late and when state closes —
  *    deterministic by construction;
  *  - where the stream's row CHOICE is arrival-order-dependent (which
  *    duplicate `dropDuplicatesWithinWatermark` keeps), the projection
  *    keeps only the copy-invariant columns — the kept-row identity is
  *    the documented nondeterminism of the operator itself, not of
  *    this harness.
  *
  * Each entry stops its query after the drain so repeated runs (bench
  * medians) never accumulate active streams against one sink name.
  */
object StreamQueries {

  /** Plan a streaming query with `n` state partitions instead of the
    * session's one per core ([[graft.engine.Engine.session]]), restoring
    * the session conf after `start` returns.
    * A stateful operator commits one state-store file PER PARTITION
    * (per side, for joins) PER BATCH; on the finite single-batch
    * replays below that fixed commit overhead dominates wall time
    * (measured on the stream-stream join: 6.1 s → 3.1 s). The
    * state-partition count is a per-QUERY layout choice fixed at first
    * start — a production deployment sizes it to ingest rate × state
    * volume, exactly like sizing shuffle partitions for a batch job —
    * and output content is partitioning-invariant (every drain below
    * stays oracle-hash-checked). */
  private[streaming] def withStatePartitions[T](spark: SparkSession, n: Int)(
      start: => T): T = {
    val key = "spark.sql.shuffle.partitions"
    val prev = spark.conf.get(key)
    try { spark.conf.set(key, n.toString); start }
    finally spark.conf.set(key, prev)
  }

  /** Drain a runToMemory-style stream and read back its sink table. */
  private def drained(s: SparkSession, sink: String)(
      run: => org.apache.spark.sql.streaming.StreamingQuery): DataFrame = {
    val q = run
    q.stop()
    s.table(sink)
  }

  /** Far-future heartbeat rows (user −1, max(ts) + 30 days), schema-
    * aligned with events — one row per requested (event_id,
    * event_type). Shared by every multi-batch replay entry: the frame
    * must stay byte-identical per replay tag or the shared cached
    * replay dir would silently fork semantics. */
  private def sentinelEvents(s: SparkSession, dir: String,
      rows: Seq[(Long, String)], offsetDays: Int = 30): DataFrame =
    graft.engine.Engine.table(s, dir, "events")
      .agg(max(col("ts")).as("mts"))
      .select(explode(array(rows.map { case (id, tpe) =>
          struct(lit(id).as("event_id"), lit(tpe).as("event_type")) }: _*))
        .as("sv"), col("mts"))
      .select(col("sv.event_id").as("event_id"),
        (col("mts") + expr(s"INTERVAL $offsetDays DAYS")).as("ts"),
        lit(-1L).as("user_id"), col("sv.event_type").as("event_type"),
        lit(0.0).as("value"), lit("{}").as("props"))

  /** One-file-per-micro-batch `events` stream over a replay dir. */
  private def replaySrc(s: SparkSession, dir: String, rd: String): DataFrame =
    graft.engine.Engine.stream(s, dir, "events", Some(rd), Some(1))

  /** Probe-only (r10 verdict task 8, run by ScaleProbe — never a
    * driver-contract row): the recovery ROWS replay at
    * maxFilesPerTrigger=1 on purpose, exercising per-batch state/
    * offset/sink commits as many times as the input allows — which is
    * why their 100× walls are nearly all commit overhead. A production
    * deployment batches; this probe re-runs the SAME kill-and-resume
    * sessionization at a production batch size (half the replay files
    * per trigger ⇒ one batch per phase) and measures it against the
    * UNINTERRUPTED streaming run of the same input at the same
    * trigger. The restart's own cost — query re-start + offset-log +
    * state reload — is the only delta, so the ratio shows recovery
    * amortizing once commits stop dominating. Outputs must agree
    * exactly (count + Σn_events), same bar as the contract rows.
    * Returns (uninterrupted_s, recovered_s, sessions). */
  private[graft] def recoveryAmortized(s: SparkSession, dir: String): (Double, Double, Long) = {
    import s.implicits._
    import java.nio.file.Files
    val sentinel = sentinelEvents(s, dir, Seq(-1L -> "sentinel"))
    val rd = Replay.eventsDir(s, dir, 3, Some(sentinel), "sessionize-sentinel")
    val files = {
      val st = Files.list(java.nio.file.Paths.get(rd))
      try {
        import scala.jdk.CollectionConverters._
        st.iterator().asScala
          .filter(_.getFileName.toString.endsWith(".parquet"))
          .toSeq.sortBy(_.getFileName.toString)
      } finally st.close()
    }
    val mft = math.max(files.size / 2, 1)
    def run(kill: Boolean): (Double, Long, Long) = {
      val work = graft.Scratch.tempDir("graft_rec_amort")
      val in = work.resolve("in")
      Files.createDirectories(in)
      val out = work.resolve("out").toString
      val ckpt = work.resolve("ckpt").toString
      def arm(names: Seq[java.nio.file.Path]): Unit = names.foreach { p =>
        val dst = in.resolve(p.getFileName)
        Files.copy(p, dst)
        if (!dst.toFile.setLastModified(p.toFile.lastModified))
          throw new IllegalStateException(s"cannot stamp mtime on $dst")
      }
      def drain(): Unit = {
        val src = graft.engine.Engine.stream(s, dir, "events", Some(in.toString), Some(mft))
          .select(col("user_id"),
            graft.engine.Engine.eventTs(col("ts")).as("ts"), col("event_type"))
          .as[Sessionize.TimedEvent]
        val q = withStatePartitions(s, 8) {
          Sessionize.incremental(src, 30).writeStream
            .outputMode("append").format("parquet")
            .option("path", out).option("checkpointLocation", ckpt)
            .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
            .start()
        }
        q.awaitTermination()
        q.stop()
      }
      val t0 = System.nanoTime()
      if (kill) {
        arm(files.take(files.size / 2)); drain()
        arm(files.drop(files.size / 2)); drain()
      } else { arm(files); drain() }
      val wall = (System.nanoTime() - t0) / 1e9
      val agg = s.read.parquet(out).filter(col("user_id") =!= -1L)
        .agg(count(lit(1)).as("n"), sum(col("n_events")).as("ev")).head()
      (wall, agg.getLong(0), agg.getLong(1))
    }
    // discarded warm-up: the first drain pays replay-dir build, codegen
    // and sink-format JIT that neither measured variant should carry —
    // without it the uninterrupted run (measured first) reads SLOWER
    // than the recovered one and the ratio dips below 1 for the wrong
    // reason (r11's first cut measured 0.8)
    run(kill = false)
    val (uWall, uN, uEv) = run(kill = false)
    val (rWall, rN, rEv) = run(kill = true)
    require(uN == rN && uEv == rEv,
      s"recovered output diverged: uninterrupted ($uN, $uEv) vs killed ($rN, $rEv)")
    (uWall, rWall, uN)
  }

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    // MULTI-batch sessionization through the UNBOUNDED operator
    // (Sessionize.incremental — event-time watermark + timeout): the
    // replay delivers 3 chronological chunks one per micro-batch, so
    // sessions straddling a chunk boundary exercise real cross-batch
    // state, and a far-future SENTINEL event as the last file advances
    // the GLOBAL watermark past every real session's last+gap — the
    // event-time timeouts fire inside the AvailableNow drain (the
    // engine's closing no-data batch), emitting the trailing open
    // sessions. The sentinel user (-1) is projected out; its own
    // session stays un-timed-out in state by construction (nothing is
    // ever later than it), which is exactly the unbounded contract.
    // Oracle: the batch twin unchanged — multi-batch replay of an
    // in-order chunking must reproduce the batch fold row for row.
    "q_sessionize_stream" -> ((s, dir) => {
      import s.implicits._
      val sink = "q_sessionize_stream_sink"
      val sentinel = sentinelEvents(s, dir, Seq(-1L -> "sentinel"))
      val rd = Replay.eventsDir(s, dir, 3, Some(sentinel), "sessionize-sentinel")
      val src = replaySrc(s, dir, rd)
        .select(col("user_id"),
          graft.engine.Engine.eventTs(col("ts")).as("ts"), col("event_type"))
        .as[Sessionize.TimedEvent]
      val q = withStatePartitions(s, 8) {
        Sessionize.incremental(src, 30).writeStream
          .outputMode("append").format("memory").queryName(sink)
          .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
          .start()
      }
      q.awaitTermination()
      q.stop()
      // sessions of one user are time-disjoint, so numbering by
      // start_us reproduces the batch twin's cumulative sess_no
      val w = Window.partitionBy(col("user_id")).orderBy(col("start_us"))
      s.table(sink)
        .filter(col("user_id") =!= -1L)
        .select(col("user_id"),
          row_number().over(w).cast("long").as("sess_no"),
          col("n_events"), col("start_us"), col("end_us"))
        .orderBy(col("user_id"), col("sess_no"))
    }),

    // EXACTLY-ONCE ACROSS RESTART — the one streaming behavior the
    // other rows don't pin (r9 verdict #5): the sessionize replay is
    // KILLED mid-stream (phase 1 drains only the first 2 of the 4
    // replay files, then stops, leaving open sessions and committed
    // offsets in the checkpoint), and a NEW query resumes from the
    // same checkpointLocation as the remaining files arrive. The sink
    // is the production parquet FILE sink: its _spark_metadata commit
    // log is what makes the restart exactly-once (a memory sink resets
    // on restart and would silently drop phase-1 emissions), and the
    // final read-back goes through that log, so an uncommitted file
    // from the kill could never leak into the result. The drained
    // output must hash-match the UNINTERRUPTED batch oracle — sessions
    // straddling the kill boundary prove state recovery; the offset
    // log proves no row is lost or replayed. The kill lands at a batch
    // boundary deliberately: Spark's commit protocol makes ANY
    // interruption resume from the last committed batch, so the
    // boundary is the deterministic representative of every kill
    // point. Work dirs are per-invocation temps (the result frame
    // reads `out` lazily, so nothing here may delete them).
    "q_stream_recovery" -> ((s, dir) => {
      import s.implicits._
      import java.nio.file.Files
      val sentinel = sentinelEvents(s, dir, Seq(-1L -> "sentinel"))
      val rd = Replay.eventsDir(s, dir, 3, Some(sentinel), "sessionize-sentinel")
      val work = graft.Scratch.tempDir("graft_recovery")
      val in = work.resolve("in")
      Files.createDirectories(in)
      val out = work.resolve("out").toString
      val ckpt = work.resolve("ckpt").toString
      val files = {
        val st = Files.list(java.nio.file.Paths.get(rd))
        try {
          import scala.jdk.CollectionConverters._
          st.iterator().asScala
            .filter(_.getFileName.toString.endsWith(".parquet"))
            .toSeq.sortBy(_.getFileName.toString)
        } finally st.close()
      }
      def arm(names: Seq[java.nio.file.Path]): Unit = names.foreach { p =>
        val dst = in.resolve(p.getFileName)
        Files.copy(p, dst)
        // preserve the replay order key (FileStreamSource sorts by mtime)
        if (!dst.toFile.setLastModified(p.toFile.lastModified))
          throw new IllegalStateException(s"cannot stamp mtime on $dst")
      }
      def drain(): Unit = {
        val src = graft.engine.Engine.stream(s, dir, "events", Some(in.toString), Some(1))
          .select(col("user_id"),
            graft.engine.Engine.eventTs(col("ts")).as("ts"), col("event_type"))
          .as[Sessionize.TimedEvent]
        val q = withStatePartitions(s, 8) {
          Sessionize.incremental(src, 30).writeStream
            .outputMode("append").format("parquet")
            .option("path", out).option("checkpointLocation", ckpt)
            .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
            .start()
        }
        q.awaitTermination()
        q.stop()
      }
      arm(files.take(2)); drain() // phase 1: killed with state in flight
      arm(files.drop(2)); drain() // phase 2: recovery from the checkpoint
      val w = Window.partitionBy(col("user_id")).orderBy(col("start_us"))
      s.read.parquet(out)
        .filter(col("user_id") =!= -1L)
        .select(col("user_id"),
          row_number().over(w).cast("long").as("sess_no"),
          col("n_events"), col("start_us"), col("end_us"))
        .orderBy(col("user_id"), col("sess_no"))
    }),

    // the SAME kill-and-resume on the PRODUCTION state backend:
    // transformWithState over RocksDB with changelog checkpointing.
    // What this pins beyond q_stream_recovery's HDFS-store run: the
    // resume path must rebuild phase-1 state by loading the last
    // RocksDB snapshot and REPLAYING the per-batch changelogs (the
    // changelog commit writes a delta, not a snapshot — recovery is
    // where that design choice gets exercised), plus timer state
    // (named ValueState + registered event-time timers) surviving the
    // restart. Same oracle — the restart and the backend must both be
    // invisible in the output.
    "q_stream_recovery_tws" -> ((s, dir) => {
      import s.implicits._
      import java.nio.file.Files
      val sentinel = sentinelEvents(s, dir, Seq(-1L -> "sentinel"))
      val rd = Replay.eventsDir(s, dir, 3, Some(sentinel), "sessionize-sentinel")
      val work = graft.Scratch.tempDir("graft_recovery_tws")
      val in = work.resolve("in")
      Files.createDirectories(in)
      val out = work.resolve("out").toString
      val ckpt = work.resolve("ckpt").toString
      val files = {
        val st = Files.list(java.nio.file.Paths.get(rd))
        try {
          import scala.jdk.CollectionConverters._
          st.iterator().asScala
            .filter(_.getFileName.toString.endsWith(".parquet"))
            .toSeq.sortBy(_.getFileName.toString)
        } finally st.close()
      }
      def arm(names: Seq[java.nio.file.Path]): Unit = names.foreach { p =>
        val dst = in.resolve(p.getFileName)
        Files.copy(p, dst)
        if (!dst.toFile.setLastModified(p.toFile.lastModified))
          throw new IllegalStateException(s"cannot stamp mtime on $dst")
      }
      val provKey = "spark.sql.streaming.stateStore.providerClass"
      val clKey = "spark.sql.streaming.stateStore.rocksdb." +
        "changelogCheckpointing.enabled"
      def drain(): Unit = {
        val src = graft.engine.Engine.stream(s, dir, "events", Some(in.toString), Some(1))
          .select(col("user_id"),
            graft.engine.Engine.eventTs(col("ts")).as("ts"), col("event_type"))
          .as[Sessionize.TimedEvent]
        val prev = s.conf.getOption(provKey)
        val prevCl = s.conf.getOption(clKey)
        val q =
          try {
            s.conf.set(provKey, "org.apache.spark.sql.execution.streaming." +
              "state.RocksDBStateStoreProvider")
            s.conf.set(clKey, "true")
            withStatePartitions(s, 8) {
              SessionizeTws.incremental(src, 30).writeStream
                .outputMode("append").format("parquet")
                .option("path", out).option("checkpointLocation", ckpt)
                .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
                .start()
            }
          } finally {
            prev match {
              case Some(v) => s.conf.set(provKey, v)
              case None => s.conf.unset(provKey)
            }
            prevCl match {
              case Some(v) => s.conf.set(clKey, v)
              case None => s.conf.unset(clKey)
            }
          }
        q.awaitTermination()
        q.stop()
      }
      arm(files.take(2)); drain() // killed with RocksDB state in flight
      arm(files.drop(2)); drain() // snapshot + changelog replay resume
      val w = Window.partitionBy(col("user_id")).orderBy(col("start_us"))
      s.read.parquet(out)
        .filter(col("user_id") =!= -1L)
        .select(col("user_id"),
          row_number().over(w).cast("long").as("sess_no"),
          col("n_events"), col("start_us"), col("end_us"))
        .orderBy(col("user_id"), col("sess_no"))
    }),

    // the SAME unbounded sessionization on transformWithState (Spark
    // 4's arbitrary stateful API — named typed state + explicit
    // event-time timers, RocksDB-backed state-v2): identical fold,
    // identical input replay, identical oracle — two independent
    // stateful-API implementations pinned to one hash. The RocksDB
    // provider requirement is per-query conf, captured at start and
    // restored after.
    "q_sessionize_tws" -> ((s, dir) => {
      import s.implicits._
      val sink = "q_sessionize_tws_sink"
      val sentinel = sentinelEvents(s, dir, Seq(-1L -> "sentinel"))
      val rd = Replay.eventsDir(s, dir, 3, Some(sentinel), "sessionize-sentinel")
      val src = replaySrc(s, dir, rd)
        .select(col("user_id"),
          graft.engine.Engine.eventTs(col("ts")).as("ts"), col("event_type"))
        .as[Sessionize.TimedEvent]
      val provKey = "spark.sql.streaming.stateStore.providerClass"
      // changelog checkpointing: commit a per-batch delta instead of a
      // full RocksDB snapshot upload — the production setting at real
      // state sizes (snapshot cost ∝ total state, changelog ∝ batch
      // writes) and ~0.4s/run of the tws-vs-fMGWS bench gap here
      val clKey = "spark.sql.streaming.stateStore.rocksdb." +
        "changelogCheckpointing.enabled"
      val prev = s.conf.getOption(provKey)
      val prevCl = s.conf.getOption(clKey)
      val q =
        try {
          s.conf.set(provKey, "org.apache.spark.sql.execution.streaming." +
            "state.RocksDBStateStoreProvider")
          s.conf.set(clKey, "true")
          withStatePartitions(s, 8) {
            SessionizeTws.incremental(src, 30).writeStream
              .outputMode("append").format("memory").queryName(sink)
              .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
              .start()
          }
        } finally {
          prev match {
            case Some(v) => s.conf.set(provKey, v)
            case None => s.conf.unset(provKey)
          }
          prevCl match {
            case Some(v) => s.conf.set(clKey, v)
            case None => s.conf.unset(clKey)
          }
        }
      q.awaitTermination()
      q.stop()
      val w = Window.partitionBy(col("user_id")).orderBy(col("start_us"))
      s.table(sink)
        .filter(col("user_id") =!= -1L)
        .select(col("user_id"),
          row_number().over(w).cast("long").as("sess_no"),
          col("n_events"), col("start_us"), col("end_us"))
        .orderBy(col("user_id"), col("sess_no"))
    }),

    // NATIVE streaming session_window aggregation — the AGG-engine
    // sessionizer (state-store session MERGING, a different operator
    // from the flatMapGroupsWithState sessionize above): the 3-chunk
    // replay forces sessions to merge across micro-batch boundaries
    // inside the session state store, and the same far-future sentinel
    // (identical frame + tag ⇒ the cached replay dir is shared with
    // q_sessionize_stream) advances the watermark so every real
    // session finalizes in append mode. Oracle shared by reference
    // with the batch twin — the multi-batch merge must reproduce the
    // batch gaps-and-islands fold exactly.
    "q_stream_session_window" -> ((s, dir) => {
      val sink = "q_stream_session_window_sink"
      val sentinel = sentinelEvents(s, dir, Seq(-1L -> "sentinel"))
      val rd = Replay.eventsDir(s, dir, 3, Some(sentinel), "sessionize-sentinel")
      val agg = replaySrc(s, dir, rd)
        .withColumn("ts", graft.engine.Engine.eventTs(col("ts")))
        .withColumn("cents", round(col("value") * 100).cast("long"))
        .withWatermark("ts", "30 minutes")
        .groupBy(session_window(col("ts"), "30 minutes"), col("user_id"))
        .agg(count(lit(1)).as("n_events"), sum(col("cents")).as("cents"))
      val q = withStatePartitions(s, 8) {
        agg.writeStream.outputMode("append").format("memory")
          .queryName(sink)
          .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
          .start()
      }
      q.awaitTermination()
      q.stop()
      s.table(sink)
        .filter(col("user_id") =!= -1L)
        .select(col("user_id"),
          date_format(col("session_window.start"), "yyyy-MM-dd HH:mm:ss")
            .as("sess_start"),
          date_format(col("session_window.end"), "yyyy-MM-dd HH:mm:ss")
            .as("sess_end"),
          col("n_events"),
          (col("cents").cast("double") / 100.0).as("sum_value"))
        .orderBy(col("user_id"), col("sess_start"))
    }),

    // watermark LATE-DATA DROP, proven by oracle: 3 in-order chunks
    // advance the watermark to max(ts)−1h, then the LAST file re-plays
    // clones (event_id+5M) of every first-chunk row — all of them now
    // >9 days behind the watermark, all of their windows long emitted,
    // so the engine must DROP every clone. The oracle is the batch
    // hourly agg WITHOUT the clones, restricted to the finalized
    // windows (end ≤ max(ts)−1h — append mode never emits the trailing
    // in-watermark windows): green ⟺ the clones died at the watermark,
    // not by any filter (no filter exists), and a non-dropping engine
    // would emit duplicate window rows and hash-fail.
    "q_stream_late_drop" -> ((s, dir) => {
      val sink = "q_stream_late_drop_sink"
      val ev = graft.engine.Engine.table(s, dir, "events")
      val us = unix_micros(col("ts").cast("timestamp"))
      val late = ev.filter(us < Replay.firstChunkBoundUs(s, dir, 3))
        .select((col("event_id") + 5000000L).as("event_id"), col("ts"),
          col("user_id"), col("event_type"), col("value"), col("props"))
      val rd = Replay.eventsDir(s, dir, 3, Some(late), "late-clones")
      val agg = replaySrc(s, dir, rd)
        .withColumn("ts", graft.engine.Engine.eventTs(col("ts")))
        .withWatermark("ts", "1 hour")
        .groupBy(window(col("ts"), "1 hour"), col("event_type"))
        .agg(count(lit(1)).as("n"),
          round(sum(col("value")), 2).as("total_value"))
        .select(
          date_format(col("window.start"), "yyyy-MM-dd HH:mm:ss").as("hour"),
          col("event_type"), col("n"), col("total_value"))
      val q = withStatePartitions(s, 8) {
        agg.writeStream.outputMode("append").format("memory")
          .queryName(sink)
          .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
          .start()
      }
      q.awaitTermination()
      q.stop()
      s.table(sink).orderBy(col("hour"), col("event_type"))
    }),

    // watermarked tumbling-window agg through the streaming engine;
    // complete mode = the final window states, the batch twin's frame
    "q_events_window_stream" -> ((s, dir) => {
      val sink = "q_events_window_stream_sink"
      drained(s, sink)(EventsStream.runToMemory(s, dir, sink))
        .orderBy(col("hour"), col("event_type"))
    }),

    // streaming DAU — CHAINED stateful operators (Spark 3.4+'s
    // multi-stateful pipeline): dropDuplicates on (user, day-window)
    // distinct-izes the stream, feeding a second stateful windowed
    // count, both under one event-time watermark. This is the one
    // streaming shape no other row covers: every other entry runs a
    // SINGLE stateful operator. State is bounded on both stages
    // (distinct user-days within the watermark horizon; one count per
    // open window). Multi-batch replay (3 chronological chunks) with
    // TWO trailing sentinel heartbeats: watermark propagation to the
    // DOWNSTREAM stateful operator runs one batch behind the upstream
    // advance, so the first heartbeat advances the source watermark
    // and the second carries it into the count stage, flushing the
    // last real day inside the AvailableNow drain (measured: one
    // sentinel leaves exactly the final day unflushed). The sentinel
    // rows flow through the WHOLE pipeline — an in-stream user filter
    // gets PUSHED DOWN into the parquet source by Catalyst, so the
    // watermark node would never see the heartbeat event times
    // (measured: numInputRows=0 on the sentinel batches); instead
    // their far-future day windows are dropped POST-drain against the
    // batch max real day (the sessionize rows' sentinel-projection
    // rule, at the day grain because user_id does not survive the
    // aggregation). Oracle: batch per-day countDistinct — the chained
    // stream must reproduce it exactly.
    "q_stream_dau" -> ((s, dir) => {
      val sink = "q_stream_dau_sink"
      val rd = Replay.eventsDirExtras(s, dir, 3,
        Seq(sentinelEvents(s, dir, Seq(-1L -> "sentinel"), 30),
          sentinelEvents(s, dir, Seq(-2L -> "sentinel"), 60)),
        "dau-two-sentinels")
      val stream = replaySrc(s, dir, rd)
        .withColumn("ts", graft.engine.Engine.eventTs(col("ts")))
        .withWatermark("ts", "1 hour")
        .select(col("user_id"), window(col("ts"), "1 day").as("w"))
        .dropDuplicates("user_id", "w")
        .groupBy(col("w")).agg(count(lit(1)).as("dau"))
        .select(date_format(col("w.start"), "yyyy-MM-dd").as("day"),
          col("dau"))
      val q = withStatePartitions(s, 8) {
        stream.writeStream
          .outputMode("append").format("memory").queryName(sink)
          .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
          .start()
      }
      q.awaitTermination()
      q.stop()
      val maxDay = graft.engine.Engine.table(s, dir, "events")
        .agg(date_format(max(to_date(
          graft.engine.Engine.eventTs(col("ts")))), "yyyy-MM-dd").as("d"))
        .head().getString(0)
      s.table(sink).filter(col("day") <= maxDay).orderBy(col("day"))
    }),

    // streaming top-k: per-hour top-3 event types by count. Window
    // functions cannot run INSIDE a streaming agg (no rank over an
    // unfinished window), so the production shape is aggregate
    // in-stream / rank downstream: the watermarked windowed agg drains
    // through the engine, the k-of-n cut runs on the drained (hour,
    // type)-sized frame — dashboard-sized, never event-sized, so the
    // rank window's state is bounded by types-per-hour at any ingest
    // rate. Oracle: batch hourly top-3 — the stream must reproduce it.
    "q_stream_topk" -> ((s, dir) => {
      val sink = "q_stream_topk_sink"
      val agg = drained(s, sink)(EventsStream.runToMemory(s, dir, sink))
      val w = Window.partitionBy(col("hour"))
        .orderBy(col("n").desc, col("event_type"))
      agg.withColumn("rk", row_number().over(w).cast("long"))
        .filter(col("rk") <= 3)
        .select(col("hour"), col("rk"), col("event_type"), col("n"))
        .orderBy(col("hour"), col("rk"))
    }),

    // dropDuplicatesWithinWatermark: WHICH duplicate survives is
    // arrival-order-dependent, so the gate hashes the surviving content
    // identity set — exactly the operator's guaranteed output
    "q_stream_dedup" -> ((s, dir) => {
      val sink = "q_stream_dedup_sink"
      drained(s, sink)(DedupStream.runToMemory(s, dir, sink))
        .select(col("h")).distinct().orderBy(col("h"))
    }),

    // stream-static broadcast enrichment: stateless, exactly-once per
    // event — the full joined frame is deterministic
    "q_stream_enrich" -> ((s, dir) => {
      val sink = "q_stream_enrich_sink"
      drained(s, sink)(EnrichStream.runToMemory(s, dir, sink))
        .orderBy(col("event_id"))
    }),

    // watermarked stream-stream join: every (purchase, click-within-24h)
    // pair appended exactly once; timestamps rendered as strings for the
    // cross-engine hash
    "q_stream_join" -> ((s, dir) => {
      val sink = "q_stream_join_sink"
      drained(s, sink)(JoinStream.runToMemory(s, dir, sink))
        .select(col("purchase_id"), col("click_id"), col("user_id"),
          date_format(col("click_ts"), "yyyy-MM-dd HH:mm:ss").as("click_t"),
          date_format(col("purchase_ts"), "yyyy-MM-dd HH:mm:ss").as("purchase_t"),
          col("value"))
        .orderBy(col("purchase_id"), col("click_id"))
    }),

    // watermarked stream-stream LEFT OUTER join, multi-batch: matched
    // (purchase, click) pairs emit on arrival; a purchase with NO
    // qualifying click emits its null-joined row only when the
    // click-side watermark passes purchase_ts — the closure decision
    // the inner q_stream_join never exercises. The replay delivers 3
    // chronological chunks one per micro-batch (cross-batch join state)
    // and a far-future sentinel click+purchase pair as the last file,
    // advancing BOTH watermarks past every real row so every unmatched
    // purchase's closure fires before AvailableNow terminates. With all
    // closures fired, the oracle is the plain batch LEFT JOIN (sentinel
    // user projected out) — no partial-closure carve-outs needed.
    "q_stream_outer_join" -> ((s, dir) => {
      val sink = "q_stream_outer_join_sink"
      val sentinel = sentinelEvents(s, dir,
        Seq(-1L -> "click", -2L -> "purchase"))
      val rd = Replay.eventsDir(s, dir, 3, Some(sentinel), "outer-sentinels")
      // ONE source, self-joined (r16): `def src` built two independent
      // FileStreamSources over the same replay dir, so every micro-batch
      // listed the dir, logged offsets and read the batch file twice.
      // One source feeds both filter branches; each side's own watermark
      // column and the min-policy global watermark are unchanged (both
      // sources always read identical files at identical offsets), so
      // what is late and when closures fire is byte-identical — the
      // oracle hash is the gate.
      val src = replaySrc(s, dir, rd)
        .withColumn("ts", graft.engine.Engine.eventTs(col("ts")))
      val joined = JoinStream.attributionOuter(
        src.filter(col("event_type") === "click"),
        src.filter(col("event_type") === "purchase"))
      // 4 state partitions, not the join default 8: a MULTI-batch outer
      // join commits per partition PER SIDE PER BATCH (5 batches here),
      // so the fixed commit cost doubles relative to the single-batch
      // inner join — measured 8/4/2 partitions = 5.9/5.0/5.1 s
      val q = withStatePartitions(s, 4) {
        joined.writeStream.outputMode("append").format("memory")
          .queryName(sink)
          .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
          .start()
      }
      q.awaitTermination()
      q.stop()
      s.table(sink)
        .filter(col("user_id") =!= -1L)
        .select(col("purchase_id"),
          coalesce(col("click_id"), lit(-1L)).as("click_id"),
          col("user_id"),
          coalesce(date_format(col("click_ts"), "yyyy-MM-dd HH:mm:ss"),
            lit("none")).as("click_t"),
          date_format(col("purchase_ts"), "yyyy-MM-dd HH:mm:ss")
            .as("purchase_t"),
          col("value"))
        .orderBy(col("purchase_id"), col("click_id"))
    }),

    // curation stream: the gate stats are copy-invariant by construction
    // (see CurationStream), so the content-keyed projection is the
    // deterministic surface; the survivor doc_id is not
    "q_stream_curation" -> ((s, dir) => {
      val sink = "q_stream_curation_sink"
      drained(s, sink)(CurationStream.runToMemory(s, dir, sink))
        .select(col("h"), col("lang"), col("n_tok"), col("stop_ratio"))
        .distinct() // robust to >watermark-apart re-emergence of a content key
        .orderBy(col("h"), col("lang"))
    }),

    // two-stage (bloom + exact) decontamination on the stream: verdict
    // is content-determined, row-identical to batch pipe_decontam
    "q_stream_decontam" -> ((s, dir) => {
      val sink = "q_stream_decontam_sink"
      drained(s, sink)(DecontamStream.runToMemory(s, dir, sink))
        .orderBy(col("doc_id"))
    }),

    // foreachBatch — the ONE sink API the memory-sink entries above
    // don't exercise, and the standard production pattern for
    // non-append sinks: each micro-batch of recrawl updates/new docs is
    // MERGED into a versioned parquet corpus with the same anti-join ∪
    // batch copy-on-write rule as batch `pipe_upsert` (whose oracle
    // this entry shares by reference — updates touch disjoint docs, so
    // any micro-batch split folds to the same final corpus). Versioned
    // dirs, not in-place overwrite: a batch reads corpus_vN and writes
    // corpus_vN+1, the real table-format pattern (and Spark cannot
    // overwrite a path it is reading).
    // streaming CDC apply — q_cdc_apply's streaming twin and
    // q_stream_upsert's completion: the change feed now carries
    // DELETES as well as updates/inserts, applied per micro-batch by a
    // foreachBatch MERGE (anti-join on the batch's touched keys, union
    // the surviving changes) — the Delta/Iceberg streaming-ingest
    // shape. Per-key operations are idempotent and each doc arrives in
    // exactly one file, so the final snapshot is independent of how
    // AvailableNow chunks the files into batches (what makes the batch
    // oracle exact). Keys hit by both the update and delete rule take
    // the delete — latest-op-wins, as in the batch twin.
    "q_stream_cdc" -> ((s, dir) => {
      val root = graft.Scratch.tempDir("stream_cdc").toString
      graft.engine.Engine.table(s, dir, "documents")
        .select(col("doc_id"), col("lang"), col("text"))
        .write.mode("overwrite").parquet(s"$root/corpus_v0")
      val ver = new java.util.concurrent.atomic.AtomicInteger(0)
      val src = graft.engine.Engine.stream(s, dir, "documents")
        .select(col("doc_id"), col("lang"), col("text"))
      val q = src.writeStream
        .foreachBatch { (batchDf: DataFrame, _: Long) =>
          val v = ver.get()
          val corpus = batchDf.sparkSession.read.parquet(s"$root/corpus_v$v")
          val dels = batchDf.filter(col("doc_id") % 11 === 0)
            .select(col("doc_id"))
          val ups = batchDf
            .filter(col("doc_id") % 7 === 0 && col("doc_id") % 11 =!= 0)
            .select(col("doc_id"), col("lang"),
              concat(col("text"), lit(" [v2]")).as("text"))
          val ins = batchDf.filter(col("doc_id") % 13 === 0)
            .select((col("doc_id") + 20000000L).as("doc_id"), col("lang"),
              concat(lit("CDC "), col("text")).as("text"))
          val touched = dels.unionAll(ups.select(col("doc_id")))
          corpus.join(touched, Seq("doc_id"), "left_anti")
            .unionAll(ups).unionAll(ins)
            .write.mode("overwrite").parquet(s"$root/corpus_v${v + 1}")
          ver.set(v + 1)
          ()
        }
        .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
        .start()
      q.awaitTermination()
      s.read.parquet(s"$root/corpus_v${ver.get()}")
        .groupBy(col("lang"))
        .agg(count(lit(1)).as("n_docs"),
          sum(length(col("text")).cast("long")).as("sum_chars"),
          max(col("doc_id")).as("max_id"))
        .orderBy(col("lang"))
    }),

    "q_stream_upsert" -> ((s, dir) => {
      val root = graft.Scratch.tempDir("stream_upsert").toString
      graft.engine.Engine.table(s, dir, "documents")
        .select(col("doc_id"), col("lang"), col("text"))
        .write.mode("overwrite").parquet(s"$root/corpus_v0")
      val ver = new java.util.concurrent.atomic.AtomicInteger(0)
      val src = graft.engine.Engine.stream(s, dir, "documents")
        .select(col("doc_id"), col("lang"), col("text"))
      val q = src.writeStream
        .foreachBatch { (batchDf: DataFrame, _: Long) =>
          val v = ver.get()
          val corpus = batchDf.sparkSession.read.parquet(s"$root/corpus_v$v")
          val updates = batchDf.filter(col("doc_id") % 7 === 0)
            .select(col("doc_id"), col("lang"),
              concat(col("text"), lit(" [recrawl]")).as("text"))
          val inserts = batchDf.filter(col("doc_id") % 13 === 0)
            .select((col("doc_id") + 10000000L).as("doc_id"), col("lang"),
              concat(lit("NEW "), col("text")).as("text"))
          val b = updates.unionAll(inserts)
          corpus.join(b.select(col("doc_id")), Seq("doc_id"), "left_anti")
            .unionAll(b)
            .write.mode("overwrite").parquet(s"$root/corpus_v${v + 1}")
          ver.set(v + 1)
          ()
        }
        .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
        .start()
      q.awaitTermination()
      s.read.parquet(s"$root/corpus_v${ver.get()}")
        .groupBy(col("lang"))
        .agg(count(lit(1)).as("n_docs"),
          sum(length(col("text")).cast("long")).as("sum_chars"),
          max(col("doc_id")).as("max_id"))
        .orderBy(col("lang"))
    })
  )

  /** Batch twins' oracles, shared by reference where one exists so the
    * stream and batch entries can never drift. */
  val oracleSql: Map[String, String] = Map(
    "q_sessionize_stream" -> graft.ops.Analytical.oracleSql("q_sessionize"),
    "q_sessionize_tws" -> graft.ops.Analytical.oracleSql("q_sessionize"),
    // the restart must be INVISIBLE in the output — same batch oracle
    "q_stream_recovery" -> graft.ops.Analytical.oracleSql("q_sessionize"),
    "q_stream_recovery_tws" -> graft.ops.Analytical.oracleSql("q_sessionize"),
    "q_stream_session_window" ->
      graft.ops.Relational2.oracleSql("q_events_session_window"),
    "q_events_window_stream" -> graft.ops.Relational.oracleSql("q_events_window"),

    // the chained distinct→count stream against plain batch DAU: the
    // in-order replay never drops anything, so the oracle is the full
    // per-day distinct count (UTC day grid, the q_events_dau dau column
    // restricted to active days)
    "q_stream_dau" ->
      """SELECT strftime(CAST(ts AS DATE), '%Y-%m-%d') AS day,
        |  CAST(count(DISTINCT user_id) AS BIGINT) AS dau
        |FROM events GROUP BY 1 ORDER BY 1""".stripMargin,
    "q_stream_decontam" -> graft.ext.Extensions.oracleSql("pipe_decontam"),
    "q_stream_upsert" -> graft.ext.Extensions.oracleSql("pipe_upsert"),

    // batch replay of the full I/U/D feed over the whole corpus — the
    // per-key ops are idempotent and each doc arrives once, so the
    // final snapshot is batch-chunking-independent by construction
    "q_stream_cdc" ->
      """WITH dels AS (
        |  SELECT doc_id FROM documents WHERE doc_id % 11 = 0
        |), ups AS (
        |  SELECT doc_id, lang, text || ' [v2]' AS text FROM documents
        |  WHERE doc_id % 7 = 0 AND doc_id % 11 <> 0
        |), ins AS (
        |  SELECT doc_id + 20000000 AS doc_id, lang, 'CDC ' || text AS text
        |  FROM documents WHERE doc_id % 13 = 0
        |), fin AS (
        |  SELECT doc_id, lang, text FROM documents
        |  WHERE doc_id NOT IN (SELECT doc_id FROM dels)
        |    AND doc_id NOT IN (SELECT doc_id FROM ups)
        |  UNION ALL SELECT * FROM ups
        |  UNION ALL SELECT * FROM ins
        |)
        |SELECT lang, CAST(count(*) AS BIGINT) AS n_docs,
        |  CAST(sum(length(text)) AS BIGINT) AS sum_chars,
        |  CAST(max(doc_id) AS BIGINT) AS max_id
        |FROM fin GROUP BY lang ORDER BY lang""".stripMargin,

    // the batch hourly agg MINUS the watermark-dropped clones (absent
    // from the live table by construction) and MINUS the never-emitted
    // trailing windows (append mode: only windows whose end the final
    // watermark passed are final). The 1h-in-µs literal mirrors
    // Spark's watermark = max event time − delay exactly; window ends
    // are whole hours and max(ts) sits mid-hour, so the ≤ boundary is
    // never exercised within watermark precision.
    "q_stream_late_drop" ->
      """WITH h AS (
        |  SELECT date_trunc('hour', ts) AS hh, event_type,
        |         count(*) AS n, round(sum(value), 2) AS total_value
        |  FROM events GROUP BY 1, 2),
        |m AS (SELECT max(ts) AS mts FROM events)
        |SELECT strftime(hh, '%Y-%m-%d %H:%M:%S') AS hour,
        |  event_type, n, total_value
        |FROM h, m
        |WHERE hh + INTERVAL 1 HOUR <= mts - INTERVAL 1 HOUR
        |ORDER BY hour, event_type""".stripMargin,

    "q_stream_dedup" ->
      """SELECT DISTINCT md5(user_id || '|' || event_type || '|' || props) AS h
        |FROM events ORDER BY h""".stripMargin,

    "q_stream_topk" ->
      """WITH h AS (
        |  SELECT date_trunc('hour', ts) AS hh, event_type, count(*) AS n
        |  FROM events GROUP BY 1, 2
        |), r AS (
        |  SELECT hh, event_type, n,
        |    row_number() OVER (PARTITION BY hh
        |      ORDER BY n DESC, event_type) AS rk
        |  FROM h
        |)
        |SELECT strftime(hh, '%Y-%m-%d %H:%M:%S') AS hour,
        |  CAST(rk AS BIGINT) AS rk, event_type, n
        |FROM r WHERE rk <= 3 ORDER BY hour, rk""".stripMargin,

    "q_stream_enrich" ->
      """SELECT e.event_id, e.user_id, e.event_type, e.value, c.c_mktsegment
        |FROM events e JOIN customer c ON e.user_id = c.c_custkey
        |ORDER BY e.event_id""".stripMargin,

    "q_stream_join" ->
      """SELECT p.event_id AS purchase_id, c.event_id AS click_id,
        |  p.user_id,
        |  strftime(c.ts, '%Y-%m-%d %H:%M:%S') AS click_t,
        |  strftime(p.ts, '%Y-%m-%d %H:%M:%S') AS purchase_t,
        |  p.value
        |FROM events p JOIN events c
        |  ON c.user_id = p.user_id
        | AND c.ts <= p.ts AND c.ts >= p.ts - INTERVAL 24 HOURS
        |WHERE p.event_type = 'purchase' AND c.event_type = 'click'
        |ORDER BY purchase_id, click_id""".stripMargin,

    // plain batch LEFT JOIN: the sentinel-forced closure means every
    // unmatched purchase's null row was emitted, so no carve-outs
    "q_stream_outer_join" ->
      """SELECT p.event_id AS purchase_id,
        |  coalesce(c.event_id, -1) AS click_id,
        |  p.user_id,
        |  coalesce(strftime(c.ts, '%Y-%m-%d %H:%M:%S'), 'none') AS click_t,
        |  strftime(p.ts, '%Y-%m-%d %H:%M:%S') AS purchase_t,
        |  p.value
        |FROM (SELECT * FROM events WHERE event_type = 'purchase') p
        |LEFT JOIN (SELECT * FROM events WHERE event_type = 'click') c
        |  ON c.user_id = p.user_id
        | AND c.ts <= p.ts AND c.ts >= p.ts - INTERVAL 24 HOURS
        |ORDER BY purchase_id, click_id""".stripMargin,

    "q_stream_curation" ->
      """WITH norm AS (
        |  SELECT md5(regexp_replace(trim(lower(text)), '\s+', ' ', 'g')) AS h,
        |    lang,
        |    length(regexp_replace(trim(lower(text)), '\s+', ' ', 'g'))
        |      AS n_chars_norm,
        |    CAST(length(regexp_extract_all(text, '[A-Za-z0-9]+')) AS BIGINT)
        |      AS n_tok,
        |    CAST(length(regexp_extract_all(lower(text),
        |      '\b(the|a|and|of|to|in|is|on|for|with)\b')) AS BIGINT) AS stops
        |  FROM documents)
        |SELECT DISTINCT h, lang, n_tok,
        |  CAST(stops AS DOUBLE) / greatest(n_tok, 1) AS stop_ratio
        |FROM norm
        |WHERE n_chars_norm BETWEEN 50 AND 5000 AND n_tok >= 10
        |ORDER BY h, lang""".stripMargin
  )
}
