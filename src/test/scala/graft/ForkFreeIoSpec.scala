package graft

import java.nio.file.{Files, Path}
import java.nio.file.attribute.PosixFilePermissions
import scala.jdk.CollectionConverters._

/** Local file I/O runs in-process: a streaming drain (offset and commit
  * logs, state-store delta and checksum files) and a parquet write start
  * no child process. Without `libhadoop` Hadoop's stock local filesystem
  * forks a `chmod` per created file and `FileContext` renames fork two
  * `readlink`s, hundreds per drain; [[graft.engine.Engine.session]]
  * replaces both. The check records JFR `jdk.ProcessStart` events around
  * the work. */
class ForkFreeIoSpec extends SparkSpecBase {

  private def mode(p: Path): String =
    PosixFilePermissions.toString(Files.getPosixFilePermissions(p))

  test("file: is graft's filesystem; a late-drop drain and a parquet write start no process") {
    // Hadoop caches one filesystem per scheme and user, whatever the
    // conf: the first file: filesystem the JVM built is the one in use
    val fs = org.apache.hadoop.fs.FileSystem.get(
      new java.net.URI("file:///"), spark.sparkContext.hadoopConfiguration)
    assert(fs.getClass == classOf[graft.engine.ForkFreeLocalFileSystem],
      s"file: is served by ${fs.getClass.getName}")
    // the executor heartbeat's one-time page-size probe (`getconf
    // PAGESIZE`, in ProcfsMetricsGetter's initializer) is JVM set-up, not
    // file I/O, and fires on whichever heartbeat comes first: run it now
    Class.forName("org.apache.spark.executor.ProcfsMetricsGetter$", true,
      getClass.getClassLoader): Unit
    val dir = Scratch.tempDir("fork_free")
    try {
      val out = dir.resolve("frame")
      val rec = new jdk.jfr.Recording()
      rec.enable("jdk.ProcessStart")
      rec.start()
      try {
        SparkEntry.queries("q_stream_late_drop")(spark, sfDir).collect(): Unit
        spark.range(1000).toDF("id").write.parquet(out.toString)
      } finally rec.stop()
      val jfr = dir.resolve("process_start.jfr")
      rec.dump(jfr)
      rec.close()
      val commands = jdk.jfr.consumer.RecordingFile.readAllEvents(jfr).asScala
        .map(_.getString("command")).toSeq
      assert(commands.isEmpty,
        s"${commands.size} processes started: ${commands.take(10).mkString("; ")}")
      // the modes Hadoop's chmod path gave at its default umask 022
      val walk = Files.walk(out)
      val (dirs, files) = try walk.iterator().asScala.toSeq.partition(Files.isDirectory(_))
        finally walk.close()
      assert(files.exists(_.getFileName.toString.endsWith(".parquet")))
      assert(files.forall(mode(_) == "rw-r--r--"),
        files.map(f => s"${f.getFileName} ${mode(f)}").mkString(", "))
      assert(dirs.forall(mode(_) == "rwxr-xr-x"),
        dirs.map(d => s"${d.getFileName} ${mode(d)}").mkString(", "))
      // and a mode other than the umask default lands bit for bit
      fs.setPermission(new org.apache.hadoop.fs.Path(out.toUri),
        new org.apache.hadoop.fs.permission.FsPermission("750"))
      assert(mode(out) == "rwxr-x---", mode(out))
    } finally graft.ops.Scale.deleteTree(dir)
  }
}
