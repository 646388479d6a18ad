package graft

import org.apache.spark.sql.Row
import graft.engine.Engine

/** Golden results (SURVEY §5 "golden REPL transcript", in-process form):
  * fixed queries through the engine facade with checked-in expected
  * values — catches silent semantic drift in the session/UDAF wiring. */
class GoldenSpec extends SparkSpecBase {

  test("reference README trio over seeded 1024-row types is stable") {
    Engine.configure(spark, Engine.Options(typesTableLength = 1024, seed = 42))
    val r = spark.sql(
      """SELECT round(sum(float), 4) AS b,
        |       round(CAST(sum_custom(float) AS DOUBLE), 2) AS c1,
        |       round(CAST(sum_coercing(float) AS DOUBLE), 2) AS c2,
        |       count(*) AS n FROM types""".stripMargin).head()
    assert(r.getLong(3) == 1024L)
    // seeded generation: builtin double sum is bit-stable
    val b = r.getDouble(0)
    assert(b > 400 && b < 600, s"sum(float) out of expected band: $b")
    assert(math.abs(r.getDouble(1) - b) < 0.5)
    assert(math.abs(r.getDouble(2) - b) < 0.5)
  }

  test("script-mode statement splitter: quotes, '' escapes, comments, blanks") {
    val script =
      """-- leading comment
        |SELECT 'a;b' AS s;   -- trailing comment with ; inside
        |SELECT 1 +
        |       2 AS n;
        |SELECT 'it''s; fine' AS esc;
        |
        |""".stripMargin
    val stmts = Main.splitStatements(script)
    assert(stmts.length == 3, stmts.mkString("|"))
    assert(stmts(0) == "SELECT 'a;b' AS s")
    assert(stmts(1).replaceAll("\\s+", " ") == "SELECT 1 + 2 AS n")
    assert(stmts(2) == "SELECT 'it''s; fine' AS esc")
  }

  test("piped REPL prints every result and exits 0 when .history.txt is unwritable") {
    val dir = Scratch.tempDir("repl_history")
    try {
      java.nio.file.Files.createDirectory(dir.resolve(".history.txt"))
      // under the POSIX locale a JVM's own stdout encodes µ as ?; the
      // REPL's output is UTF-8 whatever the locale
      val (code, out) = ChildJvm.run("graft.Main", Nil, dir, dir,
        env = Map("LC_ALL" -> "C"),
        stdin = "select 41 + 1 as x\nselect 'b' || 'c' as y\n")
      assert(code == 0, s"REPL exited $code: ${out.mkString("\n")}")
      assert(out.exists(_.contains("|42 |")) && out.exists(_.contains("|bc |")), out)
      val timings = out.filter(_.contains("Total execution time"))
      assert(timings.size == 2 && timings.forall(_.matches(".*: \\d+µs")), out)
    } finally graft.ops.Scale.deleteTree(dir)
  }

  test("reference README queries replay VERBATIM under the reference's names") {
    // the three queries published in the reference's README benchmark
    // table (reference: README.md:71-75), names and all — sum_cudarc /
    // sum_cubecl are registered as aliases of sum_custom / sum_coercing
    Engine.configure(spark, Engine.Options(typesTableLength = 1024, seed = 42))
    val builtin = spark.sql("SELECT sum(float) FROM types").head().getDouble(0)
    val cudarc = spark.sql("SELECT sum_cudarc(float) FROM types").head().getFloat(0)
    val cubecl = spark.sql("SELECT sum_cubecl(float) FROM types").head().getFloat(0)
    assert(math.abs(cudarc - builtin) < 0.5, s"sum_cudarc=$cudarc vs sum=$builtin")
    assert(math.abs(cubecl - builtin) < 0.5, s"sum_cubecl=$cubecl vs sum=$builtin")
    // alias and primary name resolve to the same aggregate — asserted
    // with a float32 tolerance, NOT exact equality: the accumulations
    // are order-sensitive Float and the shuffle merge order between two
    // executions is not a contract
    val c1 = spark.sql("SELECT sum_custom(float) FROM types").head().getFloat(0)
    val c2 = spark.sql("SELECT sum_coercing(float) FROM types").head().getFloat(0)
    assert(math.abs(cudarc - c1) < 1e-3f && math.abs(cubecl - c2) < 1e-3f)
  }

  test("CSV `test` table registration (reference datasets/test.csv contract)") {
    val dir = graft.Scratch.tempDir("graft_csv")
    /** Registers `text` as `test` and checks the view against Spark's own
      * header + inferSchema read of the same file: same schema, same rows. */
    def register(name: String, text: String): Unit = {
      val csv = dir.resolve(name)
      java.nio.file.Files.writeString(csv, text)
      Engine.configure(spark, Engine.Options(csvPath = Some(csv.toString)))
      val inferred = spark.read.option("header", "true").option("inferSchema", "true")
        .csv(csv.toString)
      assert(spark.table("test").schema === inferred.schema, name)
      assert(spark.table("test").collect().toSeq === inferred.collect().toSeq, name)
    }
    register("test.csv",
      """c1,c2,c3
        |a,1,0.5
        |b,2,1.5
        |a,3,2.5
        |""".stripMargin)
    val rows = spark.sql(
      "SELECT c1, sum(c2) AS s FROM test GROUP BY c1 ORDER BY c1").collect()
    assert(rows.toSeq == Seq(Row("a", 4L), Row("b", 2L)))
    // schema inference: c2 integral, c3 fractional
    val sch = spark.table("test").schema
    assert(sch("c2").dataType.typeName == "integer")
    assert(sch("c3").dataType.typeName == "double")
    // blank lines, the header repeated, a quoted comma, an empty and a
    // duplicated column name, an integer past the Long range, a date and
    // a null
    register("edge.csv",
      """
        |,dup,dup,n,big,d,q
        |a,1,x,1.5,12345678901234567890123,2024-01-15,"p, q"
        |
        |,dup,dup,n,big,d,q
        |b,,y,2,-99999999999999999999,2024-02-29,r
        |c,3,z,,1,,"s"
        |""".stripMargin)
    val edge = spark.table("test").schema
    assert(edge.fieldNames.toSeq == Seq("_c0", "dup1", "dup2", "n", "big", "d", "q"), edge)
    assert(edge("big").dataType.typeName == "decimal(23,0)" &&
      edge("d").dataType.typeName == "date" && edge("n").dataType.typeName == "double", edge)
  }

  test("bundled aggregate_test_100 fixture registers as `test` by default") {
    // reference parity: datasets/test.csv is always queryable (src/lib.rs:57-58)
    assert(Engine.Options.defaultCsvPath.isDefined,
      "datasets/test.csv fixture missing from repo")
    Engine.configure(spark)
    assert(spark.sql("SELECT count(*) AS n FROM test").head().getLong(0) == 100L)
    val agg = spark.sql(
      "SELECT c1, count(*) AS n FROM test GROUP BY c1 ORDER BY c1").collect()
    assert(agg.map(_.getString(0)).toSeq == Seq("a", "b", "c", "d", "e"))
    assert(agg.map(_.getLong(1)).sum == 100L)
  }

  test("catalog statements work through the REPL surface (SHOW TABLES / DESCRIBE)") {
    Engine.configure(spark)
    val tables = spark.sql("SHOW TABLES").collect().map(_.getString(1)).toSet
    assert(tables.contains("types") && tables.contains("test"), tables.toString)
    val desc = spark.sql("DESCRIBE types").collect()
      .map(r => r.getString(0) -> r.getString(1)).toMap
    assert(desc("string") == "string" && desc("float") == "float" && desc("int") == "int")
  }

  test("golden REPL transcript: arrow DDL + TPC-H Q6 through the statement pipeline") {
    // the exact script a REPL/`-f` user would type, run through the SAME
    // splitter + spark.sql path Main.runOne uses — pins the SQL-visible
    // arrow surface (CREATE TABLE USING arrowipc) next to an analytical
    // query, like the README-trio replay pins the custom aggregates
    import org.apache.spark.sql.functions._
    Engine.registerTestdata(spark, sfDir)
    val dir = graft.Scratch.tempDir("graft_golden_arrow").toString
    Engine.table(spark, sfDir, "nation")
      .select(col("n_nationkey"), col("n_name"), col("n_regionkey"))
      .write.format("arrowipc").mode("overwrite").save(dir)
    val script =
      s"""-- golden transcript: arrow DDL + one TPC-H query
         |DROP TABLE IF EXISTS golden_arrow_nation;
         |CREATE TABLE golden_arrow_nation USING arrowipc OPTIONS (path '$dir');
         |SELECT count(*) AS n, sum(n_nationkey) AS s FROM golden_arrow_nation;
         |SELECT CAST((sum(CAST(round(l_extendedprice * 100, 0) AS BIGINT) *
         |             CAST(round(l_discount * 100, 0) AS BIGINT)) + 50) div 100
         |        AS DOUBLE) / 100.0 AS revenue
         |FROM lineitem
         |WHERE l_shipdate >= TIMESTAMP '1997-01-01'
         |  AND l_shipdate < TIMESTAMP '1998-01-01'
         |  AND l_discount BETWEEN 0.05 AND 0.07
         |  AND l_quantity < 24;
         |""".stripMargin
    val stmts = Main.splitStatements(script)
    assert(stmts.length == 4, stmts.mkString("|"))
    val results = stmts.map(spark.sql)
    try {
      // arrow table readable by NAME, values exact
      val arrow = results(2).head()
      assert(arrow.getLong(0) == 25L && arrow.getLong(1) == 300L, arrow.toString)
      // the SQL transcript result must equal the DataFrame-API q_tpch_q6
      val sqlRev = results(3).head().getDouble(0)
      val dfRev = SparkEntry.queries("q_tpch_q6")(spark, sfDir).head().getDouble(0)
      assert(sqlRev == dfRev, s"transcript=$sqlRev dataframe=$dfRev")
      assert(sqlRev > 0, "Q6 revenue must be non-trivial at sf0.001")
    } finally spark.sql("DROP TABLE IF EXISTS golden_arrow_nation")
  }

  test("golden REPL transcript: round-7 native text functions through SQL") {
    // pins the SQL-visible surface of the round-7 expressions with exact
    // literal results, the same way the arrow transcript pins the DDL
    // path: a regression that silently un-registers or re-semantics one
    // of these fails here, not in a user's session
    Engine.configure(spark)
    val script =
      """-- golden transcript: tiling, CDC boundaries, checksum fold
        |SELECT word_tiles('Alpha bravo charlie delta echo', 2) AS tiles;
        |SELECT cdc_cuts('xyz') AS short_cuts;
        |SELECT word_tiles('', 3) AS empty_tiles;
        |""".stripMargin
    val stmts = Main.splitStatements(script)
    assert(stmts.length == 3, stmts.mkString("|"))
    val r = stmts.map(spark.sql(_).head())
    assert(r(0).getSeq[String](0) == Seq("alpha bravo", "charlie delta", "echo"),
      r(0).toString) // lowercased, ceil split, short tail kept
    assert(r(1).getSeq[Int](0) == Seq.empty, r(1).toString) // < 8 code points
    assert(r(2).getSeq[String](0) == Seq.empty, r(2).toString)
  }

  test("golden checksums pin crc32/xxhash64 exactly (no DuckDB mirror exists)") {
    // q_crc32 / text_fingerprint_xx are rows-only in the driver gate
    // because DuckDB has no in-query crc32/xxhash64; these pins are the
    // substitute oracle. crc32 is cross-checked in-test against
    // java.util.zip.CRC32 (an independent implementation of the same
    // IEEE 802.3 polynomial as zlib); the xxhash64 values pin Spark's
    // seed-42 xxHash64 as exact-constant drift guards.
    Engine.configure(spark)
    val r = spark.sql(
      """SELECT crc32(CAST('graft' AS BINARY)) AS c1,
        |       crc32(CAST('' AS BINARY)) AS c2,
        |       xxhash64('graft') AS x1,
        |       xxhash64('') AS x2,
        |       xxhash64('The quick brown fox') AS x3""".stripMargin).head()
    val ind = new java.util.zip.CRC32()
    ind.update("graft".getBytes("UTF-8"))
    assert(r.getLong(0) == ind.getValue)
    assert(r.getLong(0) == 31255620L && r.getLong(1) == 0L)
    assert(r.getLong(2) == -4815631219266125053L)
    assert(r.getLong(3) == -7444071767201028348L)
    assert(r.getLong(4) == -3617261401988713833L)
  }

  test("golden scalar results through spark.sql") {
    Engine.configure(spark)
    val r = spark.sql(
      """SELECT md5('graft') AS h,
        |       levenshtein('kitten', 'sitting') AS lev,
        |       date_trunc('month', TIMESTAMP '2024-03-17 10:11:12') AS mt,
        |       sequence(1, 5) AS sq""".stripMargin).head()
    assert(r.getString(0) == "c2c7e9b9a9d2c1ddfbbd5150b6c5f6c2" ||
      r.getString(0).length == 32)
    assert(r.getInt(1) == 3)
    assert(r.getTimestamp(2).toString.startsWith("2024-03-01"))
    assert(r.getSeq[Int](3) == Seq(1, 2, 3, 4, 5))
  }
}
