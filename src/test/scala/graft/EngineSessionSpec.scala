package graft

import org.scalatest.funsuite.AnyFunSuite
import graft.engine.Engine

/** The session factory is the single place sessions are built and the
  * core count is read: [[Engine.session]] and [[Engine.cores]]; the
  * table registry is the single place tables are opened:
  * [[Engine.table]] and [[Engine.stream]]. */
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

  private val engine = java.nio.file.Paths.get("src/main/scala/graft/engine/Engine.scala")

  /** Scala files under src/main, other than Engine.scala, whose source
    * matches `offends`. */
  private def outsideEngine(offends: String => Boolean): List[java.nio.file.Path] = {
    import scala.jdk.CollectionConverters._
    assert(java.nio.file.Files.exists(engine), s"missing $engine")
    val st = java.nio.file.Files.walk(java.nio.file.Paths.get("src/main"))
    try st.iterator().asScala
      .filter(p => p.toString.endsWith(".scala") && p != engine)
      .filter(p => offends(java.nio.file.Files.readString(p))).toList
    finally st.close()
  }

  test("src/main builds sessions and reads SPARK_GRAFT_CPUS only in Engine.scala") {
    val builder = """SparkSession\s*\.\s*builder\s*\(""".r
    val offenders = outsideEngine(src =>
      builder.findFirstIn(src).isDefined || src.contains("SPARK_GRAFT_CPUS"))
    assert(offenders.isEmpty,
      s"build sessions through Engine.session and read cores through Engine.cores: $offenders")
  }

  test("src/main opens testdata tables and streams only in Engine.scala") {
    val offenders = outsideEngine(src =>
      src.contains("readStream") || src.contains("Engine.table(spark, dir, name)"))
    assert(offenders.isEmpty,
      "stream through Engine.stream and import Engine.{table => t} instead of " +
        s"wrapping it: $offenders")
  }
}
