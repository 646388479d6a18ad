package graft
import java.nio.file.{Files, Paths}
/** Driver-run correctness dump: each SparkEntry.queries result → parquet,
  * plus oracle_sql.json, for the driver's DuckDB compare. */
object Verify {
  def main(args: Array[String]): Unit = {
    val Array(sfDir, outDir) = args
    Scratch.install("verify", preferTmpfs = false): Unit
    val spark = graft.engine.Engine.session()
    new java.io.File(outDir).mkdirs()
    // JSON string escape: backslash, quote, and ALL control chars (<0x20)
    // — a tab or CR in builder-authored SQL would otherwise make the
    // driver's json.load fail and silently zero the round's correctness.
    def q(s: String): String = "\"" + s.flatMap {
      case '"'  => "\\\""
      case '\\' => "\\\\"
      case '\n' => "\\n"
      case '\r' => "\\r"
      case '\t' => "\\t"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    } + "\""
    // r10 verdict task 4: the README-trio row's oracle input — the
    // seeded 1M-row types table, dumped NEXT TO the output dir (never
    // inside it: the driver globs outDir's subdirectories as query
    // results). The __GRAFT_TYPES1M__ placeholder in the trio's oracle
    // SQL becomes this absolute path so DuckDB aggregates the exact
    // same float32 column Spark aggregated.
    // absolute: the oracle SQL's interpolated path is resolved by the
    // driver's DuckDB process from ITS working directory, not ours
    val typesDir = Paths.get(s"${outDir.stripSuffix("/")}__aux/types_1m")
      .toAbsolutePath.toString
    graft.engine.TypesTable.generate(spark, 1000000L, seed = 42)
      .write.mode("overwrite").parquet(typesDir)
    // oracle_sql.json is written FIRST, atomically (r13, the bench's
    // un-losable lesson applied here): it was written after the ~5-min
    // query dump, so an external timeout killing Verify mid-sweep would
    // have zeroed the round's ENTIRE correctness artifact — with the map
    // on disk up front, every per-query parquet that lands is
    // oracle-comparable even if the sweep dies partway.
    val json = SparkEntry.oracleSql
      .map { case (k, v) =>
        s"${q(k)}: ${q(v.replace("__GRAFT_TYPES1M__", typesDir))}" }
      .mkString("{", ",", "}")
    val oraclePath = Paths.get(s"$outDir/oracle_sql.json")
    Files.writeString(Paths.get(s"$outDir/oracle_sql.json.tmp"), json)
    Files.move(Paths.get(s"$outDir/oracle_sql.json.tmp"), oraclePath,
      java.nio.file.StandardCopyOption.ATOMIC_MOVE,
      java.nio.file.StandardCopyOption.REPLACE_EXISTING)
    // optional name filter (comma-separated) for fast local iteration;
    // the driver never sets it, so the full dump is the default
    val only = sys.env.get("SPARK_GRAFT_ONLY")
      .map(_.split(",").map(_.trim).toSet)
    // each dump is staged OUTSIDE outDir and renamed in only when
    // complete: the driver globs outDir's subdirectories as results, so
    // a dump killed mid-write would otherwise be compared as an empty
    // frame instead of reading as absent
    val stage = s"${outDir.stripSuffix("/")}__stage"
    new java.io.File(stage).mkdirs()
    SparkEntry.queries
      .filter { case (name, _) => only.forall(_.contains(name)) }
      .foreach { case (name, fn) =>
      try {
        fn(spark, sfDir).coalesce(1).write.mode("overwrite")
          .parquet(s"$stage/$name")
        graft.ops.Scale.deleteTree(Paths.get(s"$outDir/$name"))
        Files.move(Paths.get(s"$stage/$name"), Paths.get(s"$outDir/$name"),
          java.nio.file.StandardCopyOption.ATOMIC_MOVE)
      }
      catch { case e: Throwable =>
        System.err.println(s"[verify] $name failed: ${e.getMessage}")
        // a failed query must read as ABSENT, not as its prior
        // generation (r13 ADVICE): with the stage-then-rename flow a
        // throw leaves the PREVIOUS run's complete dump at
        // outDir/<name> in every failure mode, so a driver reusing
        // outDir would grade a now-broken query against a stale,
        // previously-correct result
        try graft.ops.Scale.deleteTree(Paths.get(s"$outDir/$name"))
        catch { case cleanup: Throwable =>
          System.err.println(s"[verify] $name stale-dump cleanup failed: $cleanup") }
      }
    }
    graft.ops.Scale.deleteTree(Paths.get(stage))
    spark.stop()
  }
}
