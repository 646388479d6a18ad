package graft

import org.apache.spark.sql.SparkSession

/** Per-batch wall breakdown for every declared streaming row (r15
  * verdict task 1): the claim "the streaming block is micro-batch
  * commit arithmetic" was asserted but measured nowhere. This probe
  * runs each StreamQueries row exactly as the bench does (builder +
  * noop sink) with a [[StreamingQueryListener]] attached and publishes,
  * per row, the floor decomposition:
  *
  *  - `n_queries` / `n_batches` — query starts and micro-batches per
  *    invocation (replay semantics fix both: the chunk count IS the
  *    watermark trajectory);
  *  - `trigger_ms` — Σ durationMs("triggerExecution") across batches:
  *    the in-engine time, further split into addBatch (the jobs),
  *    queryPlanning (per-batch incremental planning) and offset/commit
  *    WAL writes;
  *  - `state_commit_ms` — Σ stateOperators.commitTimeMs: state-store
  *    commit time summed over every state-store partition's task, so
  *    TASK time, not wall; with partitions committing in parallel it can
  *    exceed `trigger_ms`, and it is not a share of addBatch;
  *  - `wall_s` — wall of the second timed run, the one the breakdown
  *    comes from; `min_wall_s` is the faster of the two timed runs;
  *  - `outside_ms` — wall − Σtrigger: everything the micro-batch engine
  *    does NOT see — query analysis/start/stop, replay-dir fingerprint
  *    checks, sentinel/maxDay batch jobs, and the post-drain oracle
  *    projection through the noop sink.
  *
  * Each run is one [[Profiler]] window, and rows run strictly one at a
  * time, so attribution needs no name matching (foreachBatch/file-sink
  * rows are anonymous). Results: printed table + one JSON row per query
  * in `SPARK_GRAFT_FLOOR_OUT` (default plans/r16/STREAM_FLOOR.json under
  * the working directory), through [[ProbeArtifact]]: a full run rewrites
  * the file, a gated run merges its rows into the existing one.
  *
  * Usage: tools/run.sh graft.StreamFloorProbe   (SPARK_GRAFT_ONLY filters)
  */
object StreamFloorProbe {

  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val only = sys.env.get("SPARK_GRAFT_ONLY")
      .map(_.split(",").map(_.trim).toSet)
    Scratch.install("streamfloor", preferTmpfs = true): Unit
    val spark = graft.engine.Engine.session()
    val profiler = new Profiler(spark)
    val artifact = new ProbeArtifact(java.nio.file.Paths.get(sys.env.getOrElse(
      "SPARK_GRAFT_FLOOR_OUT", "plans/r16/STREAM_FLOOR.json")), merge = only.isDefined)

    def run(fn: (SparkSession, String) => org.apache.spark.sql.DataFrame)
        : Profile =
      profiler.measure(
        fn(spark, sfDir).write.format("noop").mode("overwrite").save())._2

    val rows = graft.streaming.StreamQueries.queries.toSeq.sortBy(_._1)
      .filter { case (n, _) => only.forall(_.contains(n)) }
    rows.foreach { case (name, fn) =>
      run(fn) // warmup: replay-dir build, codegen, sink JIT
      val wall1 = run(fn).wallS
      // the breakdown is run 2's, so `wall` (and `outside`) is run 2's
      // too; the faster run's wall is kept apart as `min_wall_s`
      val p = run(fn)
      val wall = p.wallS
      val minWall = math.min(wall1, wall)
      val bs = p.batches
      val nq = p.queryStarts
      def sum(key: String): Long = bs.map(_.durationMs.getOrElse(key, 0L)).sum
      val trigger = sum("triggerExecution")
      val addBatch = sum("addBatch")
      val planning = sum("queryPlanning")
      val wal = sum("walCommit") + sum("commitOffsets") +
        sum("latestOffset") + sum("getBatch") + sum("commitBatch")
      val stateCommit = bs.map(_.stateCommitMs).sum
      val inRows = bs.map(_.inputRows).sum
      val outside = wall * 1000 - trigger
      println(f"$name%-28s wall=${wall}%6.2fs q=$nq b=${bs.size}%2d " +
        f"trig=${trigger / 1000.0}%5.2f add=${addBatch / 1000.0}%5.2f " +
        f"plan=${planning / 1000.0}%5.2f wal=${wal / 1000.0}%5.2f " +
        f"stCommit=${stateCommit / 1000.0}%5.2f outside=${outside / 1000.0}%5.2f " +
        f"rows=$inRows")
      artifact.record(name, s"""{"wall_s":${math.rint(wall * 100) / 100},""" +
        s""""min_wall_s":${math.rint(minWall * 100) / 100},""" +
        s""""n_queries":$nq,"n_batches":${bs.size},"trigger_ms":$trigger,""" +
        s""""add_batch_ms":$addBatch,"planning_ms":$planning,""" +
        s""""offset_wal_ms":$wal,"state_commit_ms":$stateCommit,""" +
        s""""outside_ms":${math.rint(outside)},"input_rows":$inRows,""" +
        s""""n_sources":${bs.map(_.nSources).maxOption.getOrElse(0)}}""")
    }
    artifact.write()
    spark.stop()
  }
}
