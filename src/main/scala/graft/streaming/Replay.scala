package graft.streaming

import java.nio.file.{Files, Path, Paths}
import scala.jdk.CollectionConverters._
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Ordered multi-file replay input for the streaming CORRECTNESS rows.
  *
  * The r8 streaming rows replayed the finite events parquet as ONE
  * micro-batch, so the watermark machinery was structurally idle:
  * nothing was ever late (no row can trail a watermark that is only
  * computed after the last row), and no state ever survived a batch
  * boundary. This helper builds the input that actually exercises both
  * paths: the events table split into `chunks` CHRONOLOGICAL parquet
  * files (chunk k+1's every timestamp ≥ chunk k's — so an in-order
  * replay never loses rows to the watermark), with strictly ascending
  * modification times so `FileStreamSource` (latestFirst=false, sorted
  * by modTime) + `maxFilesPerTrigger=1` delivers exactly one chunk per
  * micro-batch in event-time order. An optional `extra` frame becomes
  * the LAST file — the deliberately out-of-order delivery: by the time
  * it arrives the watermark has advanced through every earlier chunk,
  * so rows constructed to sit far behind it are dropped BY THE
  * WATERMARK, deterministically (the construction, not scheduling,
  * decides what is late).
  *
  * Chunk membership is exact integer arithmetic on epoch microseconds
  * (`lo + span·k/chunks` bounds) — deterministic across runs, so the
  * per-batch watermark trajectory is too. Builds are cached under a
  * source-content fingerprint (see [[eventsDir]]): the layout is a
  * pure function of (source, chunks, extraTag), and replay queries
  * run without a checkpointLocation, so a reused input dir is still a
  * full from-scratch replay on every start.
  */
object Replay {

  /** Move the single part file of a freshly-written one-file parquet
    * dir into `root` under `name`, stamping `mtimeMs`. */
  private def promote(stageDir: Path, root: Path, name: String,
      mtimeMs: Long): Unit = {
    val part = {
      val st = Files.list(stageDir)
      try st.iterator().asScala
        .filter(_.getFileName.toString.matches("part-.*\\.parquet"))
        .toList match {
          case one :: Nil => one
          case other => throw new IllegalStateException(
            s"expected exactly one part file in $stageDir, got $other")
        }
      finally st.close()
    }
    val dst = root.resolve(name)
    Files.move(part, dst)
    if (!dst.toFile.setLastModified(mtimeMs))
      throw new IllegalStateException(s"cannot stamp mtime on $dst")
  }

  /** Cache key for a replay layout — Engine.contentFingerprint of the
    * source events.parquet salted with (chunks, extraTag): the layout
    * is a pure function of those three, so repeated invocations
    * (bench warm + 3 timed runs × 3 replay queries) reuse one build
    * instead of re-scanning and re-writing the chunk files every
    * time. A regenerated source invalidates the key; a fresh
    * streaming query on a REUSED input dir is still a full replay (no
    * checkpointLocation is set, so each run gets a fresh temp
    * checkpoint and reads every file again). */
  private def sourceFingerprint(dir: String, chunks: Int, extraTag: String): String =
    graft.engine.Engine.contentFingerprint(
      Paths.get(dir, "events.parquet"), s"$chunks|$extraTag")

  /** Build (or reuse) the replay dir: `chunks` chronological event
    * files plus the optional `extra` frame (schema-aligned with
    * events) as the last file. `extraTag` names the extra-frame
    * construction for the cache key — callers must give semantically
    * different extras different tags. Returns the dir to point
    * `Engine.stream`'s `path` at. */
  def eventsDir(s: SparkSession, dir: String, chunks: Int,
      extra: Option[DataFrame] = None, extraTag: String = "plain"): String =
    eventsDirExtras(s, dir, chunks, extra.toSeq, extraTag)

  /** [[eventsDir]] with SEVERAL extra frames, one file (= one
    * micro-batch) each, appended in order after the chunks. Chained
    * stateful operators (q_stream_dau's distinct→count) need this:
    * watermark PROPAGATION to the downstream operator runs one batch
    * behind the upstream advance, so flushing the last real window in
    * append mode takes two trailing heartbeat batches, not one. */
  def eventsDirExtras(s: SparkSession, dir: String, chunks: Int,
      extras: Seq[DataFrame], extraTag: String): String = {
    val fp = sourceFingerprint(dir, chunks, extraTag)
    val root = Paths.get(sys.props("java.io.tmpdir"), s"graft_replay_$fp")
    // build-into-temp + atomic rename (graft.ops.Scale.ensureGeneration,
    // r12 verdict task 2): the pre-r13 code deleted a marker-less root
    // and rebuilt IN PLACE — safe within one JVM (builds are serialized
    // by the query map) but a second JVM racing the same fingerprint
    // could delete chunk files the first was actively streaming from.
    // Under the commit protocol the root only ever appears complete.
    graft.ops.Scale.ensureGeneration(root.toString, "_REPLAY_COMPLETE") { tmp =>
      val out = Paths.get(tmp)
      Files.createDirectories(out)
      val stage = graft.Scratch.tempDir("graft_replay_stage")
      val ev = graft.engine.Engine.table(s, dir, "events")
      val us = unix_micros(col("ts").cast("timestamp"))
      val Array(lo, hi) = ev.agg(min(us), max(us)).head() match {
        case r => Array(r.getLong(0), r.getLong(1))
      }
      val span = hi - lo + 1
      // fixed epoch base: mtimes must only be distinct and ascending
      val base = 1700000000000L
      (0 until chunks).foreach { k =>
        val b0 = lo + span * k / chunks
        val b1 = lo + span * (k + 1) / chunks
        ev.filter(us >= b0 && us < b1)
          .coalesce(1).write.mode("overwrite").parquet(s"$stage/c$k")
        promote(Paths.get(s"$stage/c$k"), out, f"f$k%03d.parquet",
          base + k * 60000L)
      }
      extras.zipWithIndex.foreach { case (df, j) =>
        df.coalesce(1).write.mode("overwrite").parquet(s"$stage/extra$j")
        promote(Paths.get(s"$stage/extra$j"), out,
          f"f${chunks + j}%03d.parquet", base + (chunks + j) * 60000L)
      }
      // the staging dir has served its purpose (only _SUCCESS/.crc
      // leftovers remain after the part-file moves) — reclaim it
      // instead of leaking one per build
      graft.ops.Scale.deleteTree(stage)
      Files.writeString(out.resolve("_REPLAY_COMPLETE"), "ok"): Unit
    }
    root.toString
  }

  /** The earliest-chunk bound (lo + span/chunks in epoch µs) as a
    * scalar subquery over events — callers construct the deliberately-
    * late frame from rows strictly below it so "late" is defined by the
    * same integer arithmetic that defined chunk 0. The min/max scan runs
    * only when that frame runs, i.e. on a cold [[eventsDir]] build, not
    * on every query that merely plans it. */
  def firstChunkBound(s: SparkSession, dir: String, chunks: Int): Column = {
    val us = unix_micros(col("ts").cast("timestamp"))
    graft.engine.Engine.table(s, dir, "events")
      .agg(min(us).as("lo"), max(us).as("hi"))
      .select(expr(s"lo + (hi - lo + 1) div $chunks"))
      .scalar()
  }
}
