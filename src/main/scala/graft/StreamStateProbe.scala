package graft

import org.apache.spark.sql.execution.streaming.runtime.MemoryStream

/** Streaming state-boundedness probe for [[graft.streaming.Sessionize]].
  *
  * The scale claim on `Sessionize.incremental` is the one every
  * continuous-ingest design stands on: state per user is ONE
  * (start, last, n) triple, evicted by event-time timeout, so a
  * 100 TB/day stream holds state for currently-ACTIVE users — not for
  * history. Specs prove the fold's correctness; this probe makes the
  * boundedness measured: drive B micro-batches of U users × k events
  * (every batch 45 min of event time later, so each arrival breaks the
  * previous session) and read the state-store operator metrics
  * (`numRowsTotal`, `memoryUsedBytes`) off `lastProgress` after every
  * batch. Input grows linearly, B × U × k events; the asserts hold the
  * state store flat at U rows the whole way and require every closed
  * session to have been emitted exactly once.
  *
  * Result merged into PROBE_LOCAL_100x.json (the scale-evidence
  * artifact) under `sessionize_state`.
  *
  * Usage: tools/run.sh graft.StreamStateProbe [users] [batches]
  */
object StreamStateProbe {

  def main(args: Array[String]): Unit = {
    val users = args.headOption.map(_.toInt).getOrElse(2000)
    val batches = args.drop(1).headOption.map(_.toInt).getOrElse(12)
    val perUser = 25 // events per user per batch
    // default = HDFS-backed (state lives in executor heap). At real
    // state sizes the production pick is RocksDB — state off-heap on
    // local disk, heap holds only block cache — same API, one conf.
    // The probe runs under either to show the boundedness result is a
    // property of the OPERATOR, not of a store implementation.
    val rocks = sys.env.get("SPARK_GRAFT_STATE_STORE").contains("rocksdb")
    // reclaim checkpoint/state-store debris at exit (the ScaleProbe policy)
    Scratch.install("stateprobe", preferTmpfs = false): Unit
    val spark = graft.engine.Engine.session()
    val artifact = ProbeArtifact.forFactor(100, merge = true)
    if (rocks) spark.conf.set("spark.sql.streaming.stateStore.providerClass",
      "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    import spark.implicits._
    import graft.streaming.Sessionize
    import Sessionize.TimedEvent

    val minUs = 60L * 1000 * 1000
    val base = 1700000000L * 1000000 // µs
    def ts(us: Long) = {
      val t = new java.sql.Timestamp(us / 1000)
      t.setNanos(((us % 1000000) * 1000).toInt)
      t
    }

    val input = MemoryStream[TimedEvent]
    val q = Sessionize.incremental(input.toDS(), gapMinutes = 30)
      .writeStream.outputMode("append").format("memory")
      .queryName("state_probe").start()
    val stateRows = new Array[Long](batches)
    val stateMb = new Array[Double](batches)
    try {
      for (b <- 0 until batches) {
        // batch b: each user emits perUser events over ~8 min starting
        // 45 min after the previous batch — past the 30 min gap, so the
        // arrival itself closes the prior session (the state handler's
        // gap break, not the timeout, is the common path — mirroring a
        // daily ingest where users return before any TTL sweep)
        val t0 = base + b.toLong * 45 * minUs
        val evs = for {
          u <- 0 until users
          j <- 0 until perUser
        } yield TimedEvent(u.toLong, ts(t0 + j.toLong * 20 * 1000 * 1000), "e")
        input.addData(evs: _*)
        q.processAllAvailable()
        val so = q.lastProgress.stateOperators
        require(so.nonEmpty, "no state operator in progress")
        stateRows(b) = so.map(_.numRowsTotal).sum
        stateMb(b) = so.map(_.memoryUsedBytes).sum / 1e6
        println(f"BATCH $b%2d events_so_far=${(b + 1).toLong * users * perUser}%9d " +
          f"state_rows=${stateRows(b)}%6d state_mb=${stateMb(b)}%6.1f")
      }
      val eventsTotal = batches.toLong * users * perUser
      val closed = spark.table("state_probe").count()
      // the boundedness claim: state is U rows — one per ACTIVE user —
      // after EVERY batch, while input grew batches×U×perUser events
      require(stateRows.forall(r => r == users),
        s"state not pinned at $users rows: ${stateRows.toSeq}")
      // every batch after the first closes exactly one session per user
      require(closed == users.toLong * (batches - 1),
        s"expected ${users * (batches - 1)} closed sessions, got $closed")
      println(f"STREAM STATE: events=$eventsTotal sessions_closed=$closed " +
        f"state_rows_final=${stateRows.last} state_mb_final=${stateMb.last}%.1f")
      def r1(v: Double): Double = math.rint(v * 10) / 10
      artifact.record(
        if (rocks) "sessionize_state_rocksdb" else "sessionize_state",
        s"""{"users":$users,"batches":$batches,"events_total":$eventsTotal,""" +
          s""""sessions_closed":$closed,"state_rows_max":${stateRows.max},""" +
          s""""state_rows_final":${stateRows.last},"state_mb_final":${r1(stateMb.last)}}""")
    } finally q.stop()

    // ---- second claim: stream-stream join state PLATEAUS -------------
    // JoinStream's retention bound is O(rate × (window + delay)) per
    // side, never O(stream length) — the spec proves eviction with
    // sentinels; this measures the PLATEAU: drive batches that each
    // advance event time by 6 h (4 clicks + 2 purchases per user per
    // batch), so with the 24 h window + 1 h watermark the state store
    // must level off at ~5 batches of rows while input grows linearly.
    if (!rocks) {
      val users2 = 500
      val batches2 = 12
      val hourUs = 3600L * 1000000L
      val clicks = MemoryStream[JoinProbeEvent]
      val purchases = MemoryStream[JoinProbeEvent]
      val jq = graft.streaming.JoinStream
        .attribution(clicks.toDF(), purchases.toDF())
        .writeStream.outputMode("append").format("memory")
        .queryName("join_state_probe").start()
      val jRows = new Array[Long](batches2)
      try {
        for (b <- 0 until batches2) {
          val t0 = base + b.toLong * 6 * hourUs
          clicks.addData((for {
            u <- 0 until users2; j <- 0 until 4
          } yield JoinProbeEvent(u.toLong, b.toLong * 100000 + u * 10 + j,
            ts(t0 + j * 15 * minUs), 0.0)): _*)
          purchases.addData((for {
            u <- 0 until users2; j <- 0 until 2
          } yield JoinProbeEvent(u.toLong, b.toLong * 100000 + 50000 + u * 10 + j,
            ts(t0 + (j + 4) * 15 * minUs), 1.0)): _*)
          jq.processAllAvailable()
          val so = jq.lastProgress.stateOperators
          require(so.nonEmpty, "no join state operator in progress")
          jRows(b) = so.map(_.numRowsTotal).sum
          println(f"JOIN BATCH $b%2d rows_in=${(b + 1).toLong * users2 * 6}%8d " +
            f"state_rows=${jRows(b)}%7d")
        }
        val rowsIn = batches2.toLong * users2 * 6
        // plateau: once the window has filled (~5 batches), doubling the
        // input must not grow state materially
        require(jRows(batches2 - 1) <= (jRows(5) * 13) / 10,
          s"join state kept growing past the window fill: ${jRows.toSeq}")
        // linear-growth refutation: final state ≪ everything ever buffered
        require(jRows(batches2 - 1) * 2 < rowsIn,
          s"join state ~ stream length: ${jRows.last} of $rowsIn rows retained")
        artifact.record("stream_join_state",
          s"""{"users":$users2,"batches":$batches2,"rows_in":$rowsIn,""" +
            s""""state_rows_at_fill":${jRows(5)},""" +
            s""""state_rows_final":${jRows.last}}""")
      } finally jq.stop()
    }
    spark.stop()
  }
}

/** MemoryStream row for the stream-stream join probe (top-level for the
  * case-class Encoder). */
case class JoinProbeEvent(user_id: Long, event_id: Long,
  ts: java.sql.Timestamp, value: Double)
