package graft

import org.scalatest.funsuite.AnyFunSuite
import graft.engine.Engine

/** The session factory is the single place sessions are built and the
  * core count is read: [[Engine.session]] and [[Engine.cores]]; the
  * table registry is the single place tables are opened:
  * [[Engine.table]] and [[Engine.stream]]; the stream drain is the single
  * place streaming queries are started: `StreamQueries.drain`. */
class EngineSessionSpec extends AnyFunSuite {

  test("Engine.parseCores: unset falls back to the machine, a positive integer is taken") {
    assert(Engine.parseCores(None) == Runtime.getRuntime.availableProcessors)
    assert(Engine.parseCores(Some("6")) == 6)
  }

  test("Engine.parseCores rejects zero, negatives and non-numbers, naming the variable") {
    for (bad <- Seq("0", "-2", "abc")) {
      val e = intercept[IllegalArgumentException](Engine.parseCores(Some(bad)))
      assert(e.getMessage.contains("SPARK_GRAFT_CPUS") && e.getMessage.contains(bad),
        e.getMessage)
    }
  }

  private def mainFile(rel: String) = java.nio.file.Paths.get(s"src/main/scala/graft/$rel")
  private val engine = mainFile("engine/Engine.scala")

  /** Scala files under `roots` (default src/main), other than
    * `allowed`, whose source matches `offends`. */
  private def outside(allowed: java.nio.file.Path*)(offends: String => Boolean,
      roots: Seq[String] = Seq("src/main")): List[java.nio.file.Path] = {
    import scala.jdk.CollectionConverters._
    allowed.foreach(p => assert(java.nio.file.Files.exists(p), s"missing $p"))
    roots.toList.flatMap { root =>
      val st = java.nio.file.Files.walk(java.nio.file.Paths.get(root))
      try st.iterator().asScala
        .filter(p => p.toString.endsWith(".scala") && !allowed.contains(p))
        .filter(p => offends(java.nio.file.Files.readString(p))).toList
      finally st.close()
    }
  }

  test("src/main builds sessions and reads SPARK_GRAFT_CPUS only in Engine.scala") {
    val builder = """SparkSession\s*\.\s*builder\s*\(""".r
    val offenders = outside(engine)(src =>
      builder.findFirstIn(src).isDefined || src.contains("SPARK_GRAFT_CPUS"))
    assert(offenders.isEmpty,
      s"build sessions through Engine.session and read cores through Engine.cores: $offenders")
  }

  test("src/main opens testdata tables and streams only in Engine.scala") {
    val offenders = outside(engine)(src =>
      src.contains("readStream") || src.contains("Engine.table(spark, dir, name)"))
    assert(offenders.isEmpty,
      "stream through Engine.stream and import Engine.{table => t} instead of " +
        s"wrapping it: $offenders")
  }

  test("src/main starts streaming queries only in StreamQueries.drain") {
    val offenders = outside(mainFile("streaming/StreamQueries.scala"))(
      _.contains("writeStream"))
    assert(offenders.isEmpty, s"run finite streams through StreamQueries.drain: $offenders")
  }

  test("Engine.scala infers no schema in a Spark job: no inferSchema option, no schemaless parquet read") {
    val src = java.nio.file.Files.readString(engine)
    assert("""option\s*\(\s*"inferSchema"""".r.findFirstIn(src).isEmpty,
      "infer the CSV schema with Engine.csvSchema")
    assert("""read\s*\.\s*parquet\s*\(""".r.findFirstIn(src).isEmpty,
      "read parquet with .schema(Engine.parquetSchema(...))")
  }

  test("src/main defines mains only in Main, Verify, Bench and Explain") {
    val offenders = outside(
      Seq("Main", "Verify", "Bench", "Explain").map(m => mainFile(s"$m.scala")): _*)(
      _.contains("def main("))
    assert(offenders.isEmpty, s"a new main needs a reader; measure through Bench: $offenders")
  }

  test("src/main and src/test make temp dirs only through Scratch.tempDir") {
    // the one-argument form resolves java.io.tmpdir once per JVM, before
    // Scratch.install can redirect it, so its dirs leak into the real /tmp
    val oneArg = """createTempDirectory\(([^(),]|\([^()]*\))*\)""".r
    val offenders = outside(mainFile("Scratch.scala"))(
      src => oneArg.findFirstIn(src).isDefined, Seq("src/main", "src/test"))
    assert(offenders.isEmpty, s"use Scratch.tempDir: $offenders")
  }
}
