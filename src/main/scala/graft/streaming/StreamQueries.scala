package graft.streaming

import java.nio.file.{Files, Paths}
import scala.jdk.CollectionConverters._
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{StreamingQuery, Trigger}
import graft.engine.Engine

/** Driver-gated entries that exercise the STREAMING code paths
  * themselves (SURVEY §2.10): the batch twins verify the SEMANTICS,
  * but a CORRECTNESS row must run the streaming OPERATOR — watermarked
  * windowed agg, `dropDuplicatesWithinWatermark`, stream-static join,
  * watermarked stream-stream join, `flatMapGroupsWithState` — through
  * the real micro-batch engine. Here the finite testdata parquet is
  * replayed through Engine.stream into a memory sink, run to
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
  * Every entry runs its stream through [[drain]], which stops the query
  * once the input is exhausted, so repeated runs (bench medians) never
  * accumulate active streams against one sink name.
  */
object StreamQueries {

  /** Where [[drain]] writes: a memory table, a parquet directory with its
    * checkpoint, or a function called once per micro-batch. */
  sealed trait Sink
  object Sink {
    final case class Memory(table: String) extends Sink
    final case class Parquet(path: String, checkpoint: String) extends Sink
    final case class Batches(f: (DataFrame, Long) => Unit) extends Sink
  }

  private val rocksDbConf = Seq(
    "spark.sql.streaming.stateStore.providerClass" ->
      "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider",
    // changelog checkpointing: commit a per-batch delta instead of a full
    // RocksDB snapshot upload — the production setting at real state
    // sizes (snapshot cost ∝ total state, changelog ∝ batch writes)
    "spark.sql.streaming.stateStore.rocksdb.changelogCheckpointing.enabled" -> "true")

  /** Run the finite stream `df` to completion into `sink` — the one place
    * a streaming query is started in src/main: AvailableNow trigger (every
    * available file, then the closing no-data batch that fires pending
    * watermark closures), await, stop. Returns the stopped query, whose
    * progress stays readable.
    *
    * `statePartitions` is the shuffle-partition count the query is
    * planned with instead of the session's one per core
    * ([[graft.engine.Engine.session]]). A stateful operator commits one
    * state-store file PER PARTITION (per side, for joins) PER BATCH; on
    * the finite replays below that fixed commit overhead dominates wall
    * time (measured on the stream-stream join: 6.1 s → 3.1 s). It is a
    * per-QUERY layout choice fixed at first start — a production
    * deployment sizes it to ingest rate × state volume, like shuffle
    * partitions for a batch job — and output content is
    * partitioning-invariant (every row stays oracle-hash-checked).
    * `rocksDb` selects the RocksDB state store with changelog
    * checkpointing (required by `transformWithState`). The query keeps
    * the values it was started with; the session conf is restored as
    * soon as `start` returns or throws, to what it was before, set or
    * unset. */
  def drain(df: DataFrame, sink: Sink, statePartitions: Int = 8,
      rocksDb: Boolean = false, mode: String = "append"): StreamingQuery = {
    val conf = df.sparkSession.conf
    val set = ("spark.sql.shuffle.partitions" -> statePartitions.toString) +:
      (if (rocksDb) rocksDbConf else Nil)
    val explicit = conf.getAll
    val prev = set.map { case (k, _) => k -> explicit.get(k) }
    val q = try {
      set.foreach { case (k, v) => conf.set(k, v) }
      val w = df.writeStream.outputMode(mode).trigger(Trigger.AvailableNow())
      (sink match {
        case Sink.Memory(table) => w.format("memory").queryName(table)
        case Sink.Parquet(path, checkpoint) => w.format("parquet")
          .option("path", path).option("checkpointLocation", checkpoint)
        case Sink.Batches(f) => w.foreachBatch(f)
      }).start()
    } finally prev.foreach {
      case (k, Some(v)) => conf.set(k, v)
      case (k, None) => conf.unset(k)
    }
    try q.awaitTermination() finally q.stop()
    q
  }

  /** Far-future heartbeat rows (user −1, max(ts) + 30 days), schema-
    * aligned with events — one row per requested (event_id,
    * event_type). Shared by every multi-batch replay entry: the frame
    * must stay byte-identical per replay tag or the shared cached
    * replay dir would silently fork semantics. */
  private def sentinelEvents(s: SparkSession, dir: String,
      rows: Seq[(Long, String)], offsetDays: Int = 30): DataFrame =
    Engine.table(s, dir, "events")
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
    Engine.stream(s, dir, "events", Some(rd), Some(1))

  /** The sessionize replay: 3 chronological chunks plus a far-future
    * sentinel (user −1) as the last file, whose event time advances the
    * watermark past every real session's last+gap. */
  private def sessionizeReplay(s: SparkSession, dir: String): String =
    Replay.eventsDir(s, dir, 3, Some(sentinelEvents(s, dir, Seq(-1L -> "sentinel"))),
      "sessionize-sentinel")

  /** Sessions (30-minute gap) of the events files under `path`, read
    * `filesPerTrigger` files per micro-batch: `flatMapGroupsWithState`,
    * or with `rocksDb` its `transformWithState` twin, which needs that
    * state store. */
  private def sessions(s: SparkSession, dir: String, path: String,
      filesPerTrigger: Int, rocksDb: Boolean): DataFrame = {
    import s.implicits._
    val src = Engine.stream(s, dir, "events", Some(path), Some(filesPerTrigger))
      .select(col("user_id"), Engine.eventTs(col("ts")).as("ts"), col("event_type"))
      .as[Sessionize.TimedEvent]
    (if (rocksDb) SessionizeTws.incremental(src, 30)
     else Sessionize.incremental(src, 30)).toDF()
  }

  /** The batch twin's row surface of sink sessions: sentinel user
    * projected out, sessions numbered per user by start (sessions of one
    * user are time-disjoint, so this reproduces q_sessionize's
    * cumulative sess_no). */
  private def sessionRows(df: DataFrame): DataFrame = {
    val w = Window.partitionBy(col("user_id")).orderBy(col("start_us"))
    df.filter(col("user_id") =!= -1L)
      .select(col("user_id"),
        row_number().over(w).cast("long").as("sess_no"),
        col("n_events"), col("start_us"), col("end_us"))
      .orderBy(col("user_id"), col("sess_no"))
  }

  /** Kill-and-resume sessionization into a parquet file sink. The
    * sessionize replay's files are copied into a fresh input dir (mtimes
    * kept: FileStreamSource orders by them); with `kill`, phase 1 drains
    * the first half and stops with sessions open in state and offsets
    * committed, and phase 2, a NEW query on the same checkpoint, drains
    * the rest. Without `kill` one query drains every file. Returns the
    * sink dir; its `_spark_metadata` log is what makes the restart
    * exactly-once, and a read through it can never see an uncommitted
    * file. The work dir is a per-invocation temp that nothing here
    * deletes (a caller's frame reads the sink lazily). */
  private[graft] def killAndResume(s: SparkSession, dir: String,
      filesPerTrigger: Int, rocksDb: Boolean, kill: Boolean = true): String = {
    val files = {
      val st = Files.list(Paths.get(sessionizeReplay(s, dir)))
      try st.iterator().asScala
        .filter(_.getFileName.toString.endsWith(".parquet"))
        .toSeq.sortBy(_.getFileName.toString)
      finally st.close()
    }
    val work = graft.Scratch.tempDir("graft_recovery")
    val in = work.resolve("in")
    Files.createDirectories(in)
    val out = work.resolve("out").toString
    val sink = Sink.Parquet(out, work.resolve("ckpt").toString)
    def armAndDrain(batch: Seq[java.nio.file.Path]): Unit = {
      batch.foreach { p =>
        val dst = in.resolve(p.getFileName)
        Files.copy(p, dst)
        if (!dst.toFile.setLastModified(p.toFile.lastModified))
          throw new IllegalStateException(s"cannot stamp mtime on $dst")
      }
      drain(sessions(s, dir, in.toString, filesPerTrigger, rocksDb), sink,
        rocksDb = rocksDb): Unit
    }
    if (kill) {
      armAndDrain(files.take(files.size / 2)) // killed with state in flight
      armAndDrain(files.drop(files.size / 2)) // resumed from the checkpoint
    } else armAndDrain(files)
    out
  }

  /** Copy-on-write versioned corpus under `root`, the foreachBatch body
    * of q_stream_upsert and q_stream_cdc: [[merge]] reads corpus_vN,
    * drops the doc_ids `change` touches, appends the rows it yields and
    * writes corpus_vN+1 (the table-format pattern; Spark cannot overwrite
    * a path it is reading). `change` maps a micro-batch to (touched
    * doc_ids, rows to append). Every per-key operation is idempotent and
    * each doc arrives in one batch, so any split of the input into
    * micro-batches folds to the same final corpus. */
  private[graft] final class VersionedCorpus(root: String,
      change: DataFrame => (DataFrame, DataFrame)) {
    private val ver = new java.util.concurrent.atomic.AtomicInteger(0)
    def path(v: Int): String = s"$root/corpus_v$v"
    def version: Int = ver.get()
    def merge(batch: DataFrame, batchId: Long): Unit = {
      val v = ver.get()
      val (touched, rows) = change(batch)
      batch.sparkSession.read.parquet(path(v))
        .join(touched, Seq("doc_id"), "left_anti").unionAll(rows)
        .write.mode("overwrite").parquet(path(v + 1))
      ver.set(v + 1)
    }
  }

  /** q_stream_upsert's rule: recrawl updates of every 7th doc and new
    * docs from every 13th, both replacing any doc with their id. */
  private[graft] val upsertChange: DataFrame => (DataFrame, DataFrame) = batch => {
    val updates = batch.filter(col("doc_id") % 7 === 0)
      .select(col("doc_id"), col("lang"),
        concat(col("text"), lit(" [recrawl]")).as("text"))
    val inserts = batch.filter(col("doc_id") % 13 === 0)
      .select((col("doc_id") + 10000000L).as("doc_id"), col("lang"),
        concat(lit("NEW "), col("text")).as("text"))
    val b = updates.unionAll(inserts)
    (b.select(col("doc_id")), b)
  }

  /** q_stream_cdc's rule: deletes of every 11th doc, updates of every
    * 7th not deleted (a key hit by both takes the delete —
    * latest-op-wins, as in the batch twin), inserts from every 13th. */
  private[graft] val cdcChange: DataFrame => (DataFrame, DataFrame) = batch => {
    val dels = batch.filter(col("doc_id") % 11 === 0).select(col("doc_id"))
    val ups = batch
      .filter(col("doc_id") % 7 === 0 && col("doc_id") % 11 =!= 0)
      .select(col("doc_id"), col("lang"),
        concat(col("text"), lit(" [v2]")).as("text"))
    val ins = batch.filter(col("doc_id") % 13 === 0)
      .select((col("doc_id") + 20000000L).as("doc_id"), col("lang"),
        concat(lit("CDC "), col("text")).as("text"))
    (dels.unionAll(ups.select(col("doc_id"))), ups.unionAll(ins))
  }

  /** Stream `documents` through a [[VersionedCorpus]] seeded with the
    * table itself and summarize the final version per language. */
  private def corpusRow(s: SparkSession, dir: String, tag: String,
      change: DataFrame => (DataFrame, DataFrame)): DataFrame = {
    val docCols = Seq(col("doc_id"), col("lang"), col("text"))
    val corpus = new VersionedCorpus(graft.Scratch.tempDir(tag).toString, change)
    Engine.table(s, dir, "documents").select(docCols: _*)
      .write.mode("overwrite").parquet(corpus.path(0))
    drain(Engine.stream(s, dir, "documents").select(docCols: _*),
      Sink.Batches(corpus.merge))
    s.read.parquet(corpus.path(corpus.version))
      .groupBy(col("lang"))
      .agg(count(lit(1)).as("n_docs"),
        sum(length(col("text")).cast("long")).as("sum_chars"),
        max(col("doc_id")).as("max_id"))
      .orderBy(col("lang"))
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
      val sink = "q_sessionize_stream_sink"
      drain(sessions(s, dir, sessionizeReplay(s, dir), 1, rocksDb = false),
        Sink.Memory(sink))
      sessionRows(s.table(sink))
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
    // from the kill could never leak into the result. The sink
    // output must hash-match the UNINTERRUPTED batch oracle — sessions
    // straddling the kill boundary prove state recovery; the offset
    // log proves no row is lost or replayed. The kill lands at a batch
    // boundary deliberately: Spark's commit protocol makes ANY
    // interruption resume from the last committed batch, so the
    // boundary is the deterministic representative of every kill
    // point.
    "q_stream_recovery" -> ((s, dir) =>
      sessionRows(s.read.parquet(killAndResume(s, dir, 1, rocksDb = false)))),

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
    "q_stream_recovery_tws" -> ((s, dir) =>
      sessionRows(s.read.parquet(killAndResume(s, dir, 1, rocksDb = true)))),

    // the SAME unbounded sessionization on transformWithState (Spark
    // 4's arbitrary stateful API — named typed state + explicit
    // event-time timers, RocksDB-backed state-v2): identical fold,
    // identical input replay, identical oracle — two independent
    // stateful-API implementations pinned to one hash. The RocksDB
    // provider requirement is per-query conf, set and restored by drain.
    "q_sessionize_tws" -> ((s, dir) => {
      val sink = "q_sessionize_tws_sink"
      drain(sessions(s, dir, sessionizeReplay(s, dir), 1, rocksDb = true),
        Sink.Memory(sink), rocksDb = true)
      sessionRows(s.table(sink))
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
      val agg = replaySrc(s, dir, sessionizeReplay(s, dir))
        .withColumn("ts", Engine.eventTs(col("ts")))
        .withColumn("cents", round(col("value") * 100).cast("long"))
        .withWatermark("ts", "30 minutes")
        .groupBy(session_window(col("ts"), "30 minutes"), col("user_id"))
        .agg(count(lit(1)).as("n_events"), sum(col("cents")).as("cents"))
      drain(agg, Sink.Memory(sink))
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
      val ev = Engine.table(s, dir, "events")
      val us = unix_micros(col("ts").cast("timestamp"))
      val late = ev.filter(us < Replay.firstChunkBound(s, dir, 3))
        .select((col("event_id") + 5000000L).as("event_id"), col("ts"),
          col("user_id"), col("event_type"), col("value"), col("props"))
      val rd = Replay.eventsDir(s, dir, 3, Some(late), "late-clones")
      val agg = replaySrc(s, dir, rd)
        .withColumn("ts", Engine.eventTs(col("ts")))
        .withWatermark("ts", "1 hour")
        .groupBy(window(col("ts"), "1 hour"), col("event_type"))
        .agg(count(lit(1)).as("n"),
          round(sum(col("value")), 2).as("total_value"))
        .select(
          date_format(col("window.start"), "yyyy-MM-dd HH:mm:ss").as("hour"),
          col("event_type"), col("n"), col("total_value"))
      drain(agg, Sink.Memory(sink))
      s.table(sink).orderBy(col("hour"), col("event_type"))
    }),

    // watermarked tumbling-window agg through the streaming engine;
    // complete mode = the final window states, the batch twin's frame
    "q_events_window_stream" -> ((s, dir) => {
      val sink = "q_events_window_stream_sink"
      drain(EventsStream.hourlyAgg(s, dir), Sink.Memory(sink), mode = "complete")
      s.table(sink).orderBy(col("hour"), col("event_type"))
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
        .withColumn("ts", Engine.eventTs(col("ts")))
        .withWatermark("ts", "1 hour")
        .select(col("user_id"), window(col("ts"), "1 day").as("w"))
        .dropDuplicates("user_id", "w")
        .groupBy(col("w")).agg(count(lit(1)).as("dau"))
        .select(date_format(col("w.start"), "yyyy-MM-dd").as("day"),
          col("dau"))
      drain(stream, Sink.Memory(sink))
      val maxDay = Engine.table(s, dir, "events")
        .agg(date_format(max(to_date(
          Engine.eventTs(col("ts")))), "yyyy-MM-dd").as("d"))
        .head().getString(0)
      s.table(sink).filter(col("day") <= maxDay).orderBy(col("day"))
    }),

    // streaming top-k: per-hour top-3 event types by count. Window
    // functions cannot run INSIDE a streaming agg (no rank over an
    // unfinished window), so the production shape is aggregate
    // in-stream / rank downstream: the watermarked windowed agg drains
    // through the engine, the k-of-n cut runs on the sink's (hour,
    // type)-sized frame — dashboard-sized, never event-sized, so the
    // rank window's state is bounded by types-per-hour at any ingest
    // rate. Oracle: batch hourly top-3 — the stream must reproduce it.
    "q_stream_topk" -> ((s, dir) => {
      val sink = "q_stream_topk_sink"
      drain(EventsStream.hourlyAgg(s, dir), Sink.Memory(sink), mode = "complete")
      val w = Window.partitionBy(col("hour"))
        .orderBy(col("n").desc, col("event_type"))
      s.table(sink).withColumn("rk", row_number().over(w).cast("long"))
        .filter(col("rk") <= 3)
        .select(col("hour"), col("rk"), col("event_type"), col("n"))
        .orderBy(col("hour"), col("rk"))
    }),

    // dropDuplicatesWithinWatermark: WHICH duplicate survives is
    // arrival-order-dependent, so the gate hashes the surviving content
    // identity set — exactly the operator's guaranteed output
    "q_stream_dedup" -> ((s, dir) => {
      val sink = "q_stream_dedup_sink"
      drain(DedupStream.dedupedEvents(s, dir), Sink.Memory(sink))
      s.table(sink).select(col("h")).distinct().orderBy(col("h"))
    }),

    // stream-static broadcast enrichment: stateless, exactly-once per
    // event — the full joined frame is deterministic
    "q_stream_enrich" -> ((s, dir) => {
      val sink = "q_stream_enrich_sink"
      drain(EnrichStream.enriched(s, dir), Sink.Memory(sink))
      s.table(sink).orderBy(col("event_id"))
    }),

    // watermarked stream-stream join: every (purchase, click-within-24h)
    // pair appended exactly once; timestamps rendered as strings for the
    // cross-engine hash
    "q_stream_join" -> ((s, dir) => {
      val sink = "q_stream_join_sink"
      drain(JoinStream.attributed(s, dir), Sink.Memory(sink))
      s.table(sink).select(col("purchase_id"), col("click_id"), col("user_id"),
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
        .withColumn("ts", Engine.eventTs(col("ts")))
      val joined = JoinStream.attributionOuter(
        src.filter(col("event_type") === "click"),
        src.filter(col("event_type") === "purchase"))
      // 4 state partitions, not the join default 8: a MULTI-batch outer
      // join commits per partition PER SIDE PER BATCH (5 batches here),
      // so the fixed commit cost doubles relative to the single-batch
      // inner join — measured 8/4/2 partitions = 5.9/5.0/5.1 s
      drain(joined, Sink.Memory(sink), statePartitions = 4)
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
      drain(CurationStream.curatedDocs(s, dir), Sink.Memory(sink))
      s.table(sink).select(col("h"), col("lang"), col("n_tok"), col("stop_ratio"))
        .distinct() // robust to >watermark-apart re-emergence of a content key
        .orderBy(col("h"), col("lang"))
    }),

    // two-stage (bloom + exact) decontamination on the stream: verdict
    // is content-determined, row-identical to batch pipe_decontam
    "q_stream_decontam" -> ((s, dir) => {
      val sink = "q_stream_decontam_sink"
      drain(DecontamStream.flaggedDocs(s, dir), Sink.Memory(sink))
      s.table(sink).orderBy(col("doc_id"))
    }),

    // foreachBatch — the ONE sink API the memory-sink entries above
    // don't exercise, and the standard production pattern for
    // non-append sinks: each micro-batch is MERGED into a versioned
    // parquet corpus (see VersionedCorpus). Streaming CDC apply —
    // q_cdc_apply's streaming twin: the change feed carries DELETES as
    // well as updates/inserts, the Delta/Iceberg streaming-ingest shape.
    // Per-key operations are idempotent and each doc arrives in exactly
    // one file, so the final snapshot is independent of how AvailableNow
    // chunks the files into batches (what makes the batch oracle exact).
    "q_stream_cdc" -> ((s, dir) => corpusRow(s, dir, "stream_cdc", cdcChange)),
    // recrawl updates/new docs with the same anti-join ∪ batch
    // copy-on-write rule as batch `pipe_upsert`, whose oracle this entry
    // shares by reference
    "q_stream_upsert" -> ((s, dir) => corpusRow(s, dir, "stream_upsert", upsertChange))
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
