package perfbench

import java.nio.file.{Files, Paths}

import graft.SparkEntry
import graft.engine.Engine

/** Batch-workload runner. Builds the session through the engine's public
  * entry points, then runs one op per `op` command read from stdin and
  * answers on stdout with lines that start with `@@` (the program under
  * test may print too). One op is a row's builder call,
  * `SparkEntry.queries(row)(spark, dataDir)`, followed by a `noop`-sink
  * write of the frame it returns.
  *
  * Commands:
  *  - `op <id> <row>`   → `@@done <id> ok|err <builder_ms> <action_ms> [message]`
  *  - `check <row> <dir>` → writes the row's result as parquet → `@@checked <row> ok|err [message]`
  *  - `oracle <file>`   → writes `SparkEntry.oracleSql` as JSON → `@@oracle`
  *  - `configure`       → times one more `Engine.configure` → `@@configured`
  *  - `heap`            → full GC, then `@@heap <used MB>`
  *  - `quit <file>`     → stops the session, writes the trace → `@@bye`
  */
object Harness {
  private def reply(s: String): Unit = { println(s"@@$s"); Console.out.flush() }

  private def span(name: String, op: String, start: Double, end: Double): Unit =
    Trace.add("t" -> "span", "name" -> name, "op" -> op, "start_ms" -> start, "end_ms" -> end)

  private def timed[T](name: String)(body: => T): T = {
    val t0 = Trace.nowMs()
    try body finally span(name, null, t0, Trace.nowMs())
  }

  private def oneLine(t: Throwable): String =
    s"${t.getClass.getSimpleName}: ${Option(t.getMessage).getOrElse("")}"
      .replaceAll("\\s+", " ").take(300)

  def main(args: Array[String]): Unit = {
    val Array(dataDir) = args
    val spark = timed("engine.build")(Engine.build())
    timed("engine.register_testdata")(Engine.registerTestdata(spark, dataDir))
    val queries = SparkEntry.queries
    val sc = spark.sparkContext
    reply(s"ready ${sc.master}")
    Iterator.continually(scala.io.StdIn.readLine()).takeWhile(_ != null)
      .map(_.trim.split(" ")).foreach {
      case Array("op", id, row) =>
        sc.setLocalProperty("perfbench.op", id)
        // the builder and action spans share their boundary instants with
        // the op span, so they add up to it exactly
        val t0 = Trace.nowMs()
        var t1 = Double.NaN
        val error =
          try {
            val df = queries(row)(spark, dataDir)
            t1 = Trace.nowMs()
            df.write.format("noop").mode("overwrite").save()
            None
          } catch { case t: Throwable => Some(oneLine(t)) }
        val t2 = Trace.nowMs()
        if (t1.isNaN) t1 = t2
        span("op", id, t0, t2)
        span("builder", id, t0, t1)
        span("action", id, t1, t2)
        sc.setLocalProperty("perfbench.op", null)
        reply(f"done $id ${if (error.isEmpty) "ok" else "err"} ${t1 - t0}%.4f ${t2 - t1}%.4f" +
          error.map(" " + _).getOrElse(""))
      case Array("check", row, dir) =>
        sc.setLocalProperty("perfbench.op", "check")
        val status =
          try {
            queries(row)(spark, dataDir).coalesce(1).write.mode("overwrite").parquet(dir)
            "ok"
          } catch { case t: Throwable => s"err ${oneLine(t)}" }
        sc.setLocalProperty("perfbench.op", null)
        reply(s"checked $row $status")
      case Array("oracle", file) =>
        Files.writeString(Paths.get(file), Trace.json(SparkEntry.oracleSql.toSeq))
        reply("oracle")
      case Array("configure") =>
        timed("engine.configure")(Engine.configure(spark))
        reply("configured")
      case Array("heap") =>
        reply(f"heap ${Heap.liveMb()}%.4f")
      case Array("quit", file) =>
        spark.stop()
        Trace.dump(file)
        reply("bye")
        sys.exit(0)
      case other =>
        reply(s"unknown ${other.mkString(" ")}")
    }
  }
}

object Heap {
  /** Heap in use after a full collection, in MB, once it has settled:
    * Spark's context cleaner frees shuffle, broadcast and checkpoint data
    * in the background after a collection finds them unreachable, so the
    * first reading can be tens of MB above the next. */
  def liveMb(): Double = {
    def used(): Double = {
      System.gc()
      java.lang.management.ManagementFactory.getMemoryMXBean.getHeapMemoryUsage.getUsed / 1048576.0
    }
    var last = used()
    var now = { Thread.sleep(300); used() }
    var tries = 0
    while (math.abs(now - last) > 1.0 && tries < 8) {
      last = now
      Thread.sleep(300)
      now = used()
      tries += 1
    }
    now
  }
}

/** Runs `graft.Main` unchanged in this JVM. The only addition is a
  * daemon thread that, when the file `heap.req` appears in the working
  * directory, runs a full GC and writes the live heap to `heap.txt`:
  * the REPL has no command for it, and attaching a tool from outside
  * would write outside the run's directory. */
object MainHost {
  def main(args: Array[String]): Unit = {
    val probe = new Thread(() => {
      val req = Paths.get("heap.req")
      while (true) {
        if (Files.exists(req)) {
          val mb = Heap.liveMb()
          Files.writeString(Paths.get("heap.tmp"), f"$mb%.4f")
          Files.move(Paths.get("heap.tmp"), Paths.get("heap.txt"))
          Files.delete(req)
        }
        Thread.sleep(20)
      }
    })
    probe.setDaemon(true)
    probe.start()
    graft.Main.main(args)
  }
}
