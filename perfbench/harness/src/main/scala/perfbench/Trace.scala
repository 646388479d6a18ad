package perfbench

import java.util.concurrent.ConcurrentLinkedQueue
import scala.jdk.CollectionConverters._

import org.apache.spark.metrics.source.CodegenMetrics
import org.apache.spark.scheduler._
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.execution.datasources.{HadoopFsRelation, LogicalRelation}
import org.apache.spark.sql.streaming.StreamingQueryListener
import org.apache.spark.sql.util.QueryExecutionListener

/** In-memory record of one benchmark process. Every record is one JSON
  * object; nothing is written until [[dump]], so recording costs no I/O
  * while ops run. Times are epoch milliseconds, the clock Spark's own
  * listener events use, so spans and listener events line up. */
object Trace {
  private val records = new ConcurrentLinkedQueue[String]()
  private val wallBase = System.currentTimeMillis().toDouble
  private val nanoBase = System.nanoTime()

  /** Epoch milliseconds with sub-millisecond resolution. */
  def nowMs(): Double = wallBase + (System.nanoTime() - nanoBase) / 1e6

  def add(fields: (String, Any)*): Unit = records.add(json(fields))

  /** Write every record as one JSON line to `path`. */
  def dump(path: String): Unit = {
    val body = records.asScala.mkString("", "\n", "\n")
    java.nio.file.Files.writeString(java.nio.file.Paths.get(path), body)
  }


  def json(fields: Seq[(String, Any)]): String =
    fields.map { case (k, v) => s"${quote(k)}:${value(v)}" }.mkString("{", ",", "}")

  private def value(v: Any): String = v match {
    case null => "null"
    case s: String => quote(s)
    case d: Double => if (d.isNaN || d.isInfinite) "null" else d.toString
    case f: Float => value(f.toDouble)
    case b: Boolean => b.toString
    case n: Number => n.toString
    case m: Map[_, _] => json(m.toSeq.map { case (k, x) => k.toString -> x })
    case xs: Iterable[_] => xs.map(value).mkString("[", ",", "]")
    case other => quote(other.toString)
  }

  def quote(s: String): String = "\"" + s.flatMap {
    case '"' => "\\\""
    case '\\' => "\\\\"
    case '\n' => "\\n"
    case '\r' => "\\r"
    case '\t' => "\\t"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  } + "\""
}

/** Jobs, stages and tasks, from Spark's public listener bus. A job is
  * tied to the op that caused it through the `perfbench.op` local
  * property the harness sets; the REPL host sets none, and its jobs are
  * placed by time instead. Registered through `spark.extraListeners`, so
  * the program under test is not changed. */
class JobListener extends SparkListener {
  override def onJobStart(e: SparkListenerJobStart): Unit = {
    val op = Option(e.properties).map(_.getProperty("perfbench.op")).orNull
    Trace.add("t" -> "job", "id" -> e.jobId, "start_ms" -> e.time.toDouble,
      "op" -> op, "stages" -> e.stageIds)
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit =
    Trace.add("t" -> "job_end", "id" -> e.jobId, "end_ms" -> e.time.toDouble,
      "ok" -> (e.jobResult == JobSucceeded))

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = {
    val s = e.stageInfo
    Trace.add("t" -> "stage", "id" -> s.stageId, "name" -> s.name,
      "tasks" -> s.numTasks,
      // the long call site lists the user frames that created the stage
      "schema_read" -> s.details.contains("graft.engine.Engine$.table("),
      "start_ms" -> s.submissionTime.map(_.toDouble).getOrElse(Double.NaN),
      "end_ms" -> s.completionTime.map(_.toDouble).getOrElse(Double.NaN))
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
    val i = e.taskInfo
    val m = e.taskMetrics
    if (m != null) Trace.add("t" -> "task", "stage" -> e.stageId,
      "start_ms" -> i.launchTime.toDouble, "end_ms" -> i.finishTime.toDouble,
      "run_ms" -> m.executorRunTime, "cpu_ms" -> m.executorCpuTime / 1e6,
      "deser_ms" -> m.executorDeserializeTime, "gc_ms" -> m.jvmGCTime,
      "shuffle_write_b" -> m.shuffleWriteMetrics.bytesWritten,
      "shuffle_read_b" -> m.shuffleReadMetrics.totalBytesRead,
      "fetch_wait_ms" -> m.shuffleReadMetrics.fetchWaitTime,
      "spill_b" -> (m.memoryBytesSpilled + m.diskBytesSpilled))
  }

  /** The REPL host has no command channel; its trace is written when the
    * program stops its session. */
  override def onApplicationEnd(e: SparkListenerApplicationEnd): Unit =
    sys.props.get("perfbench.trace").foreach(Trace.dump)
}

/** Catalyst phase times and the parquet files each query scans,
  * registered through `spark.sql.queryExecutionListeners`. Spark calls it
  * from its listener bus after the query ends, so a query is placed by
  * its end time minus its duration. */
class PlanListener extends QueryExecutionListener {
  override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
    record(qe, durationNs)

  override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit =
    record(qe, 0L)

  private def record(qe: QueryExecution, durationNs: Long): Unit = {
    val end = Trace.nowMs()
    val phases = qe.tracker.phases.map { case (k, p) => k -> p.durationMs.toDouble }
    val files = qe.optimizedPlan.collect { case l: LogicalRelation => l.relation }
      .collect { case r: HadoopFsRelation => r.location.rootPaths.map(_.toString) }
      .flatten.filter(_.endsWith(".parquet")).distinct
    // JVM-wide totals so far; the growth from one query to the next is
    // the codegen that query caused. The time comes from Spark's sampled
    // histogram, so it is an estimate once the histogram is full.
    val h = CodegenMetrics.METRIC_COMPILATION_TIME
    Trace.add("t" -> "query", "start_ms" -> (end - durationNs / 1e6), "end_ms" -> end,
      "phases" -> phases, "files" -> files,
      "codegen_compiles" -> h.getCount, "codegen_ms" -> h.getCount * h.getSnapshot.getMean)
  }
}

/** Micro-batch progress of every streaming query, registered through
  * `spark.sql.streaming.streamingQueryListeners`. */
class StreamListener extends StreamingQueryListener {
  override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
  override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
  override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit = {
    val p = e.progress
    Trace.add("t" -> "batch", "end_ms" -> Trace.nowMs(), "batch" -> p.batchId,
      "rows" -> p.numInputRows,
      "durations" -> p.durationMs.asScala.map { case (k, v) => k -> v.longValue }.toMap)
  }
}
