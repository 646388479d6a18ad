package graft

import java.nio.file.{Files, Paths}

/** Per-run `java.io.tmpdir` redirect for Verify and Bench (and the test
  * JVM): everything Spark parks in tmpdir — memory-sink
  * temp checkpoints, RocksDB state-store working dirs, `spark.local.dir`
  * shuffle files, the scratch warehouse, replay layouts and every
  * [[tempDir]] a row makes — lands in a fresh per-pid root that is
  * reclaimed at JVM exit, so a run can never leave debris that fills
  * /tmp or degrades a later measurement window (the r12 round's bench
  * timed out in a window taxed by ~10 GB of probe-shard churn that
  * nothing cleaned up). */
object Scratch {

  /** A temp directory under the CURRENT `java.io.tmpdir` property.
    * `Files.createTempDirectory(prefix)` (one-arg) resolves the
    * property ONCE in a JVM-wide static (sun.nio.fs.TempFileHelper), so
    * in an sbt-hosted test JVM — where sbt touched temp files long
    * before [[install]] ran — the redirect is silently ignored and the
    * dirs leak into the real /tmp forever. Every scratch-dir call site
    * in this repo goes through here instead. */
  def tempDir(prefix: String): java.nio.file.Path =
    Files.createTempDirectory(
      Paths.get(sys.props("java.io.tmpdir")), prefix)

  /** Redirects `java.io.tmpdir` to a fresh per-pid root — tmpfs-backed
    * (`/dev/shm`) when `preferTmpfs` is set and writable, else a child
    * of the original tmpdir — and registers recursive deletion at JVM
    * exit. Normal return and the SIGTERM an external timeout delivers
    * both run the hook; only SIGKILL leaks (until reboot). Must be
    * called BEFORE the SparkSession is built: Spark resolves its local
    * dirs from the property at context start. Returns the medium
    * (`"tmpfs"` or `"disk"`) for the caller's artifact. */
  def install(tag: String, preferTmpfs: Boolean): String = {
    val shm = Paths.get("/dev/shm")
    val useShm = preferTmpfs && Files.isDirectory(shm) && Files.isWritable(shm)
    val base = if (useShm) shm else Paths.get(sys.props("java.io.tmpdir"))
    val root = base.resolve(s"graft_${tag}_${ProcessHandle.current().pid()}")
    Files.createDirectories(root)
    sys.props("java.io.tmpdir") = root.toString
    // other shutdown hooks delete their own entries under `root` at the
    // same time (Spark's temp dirs, the JFR repository a recording left
    // in tmpdir); a walk that meets a vanished entry throws and deletes
    // nothing, so walk again once they are done
    Runtime.getRuntime.addShutdownHook(new Thread(() =>
      Iterator.range(0, 20).exists { _ =>
        scala.util.Try(graft.ops.Scale.deleteTree(root)).isSuccess ||
          { Thread.sleep(50); false }
      }: Unit))
    if (useShm) "tmpfs" else "disk"
  }
}
