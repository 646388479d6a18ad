package graft

import org.scalatest.funsuite.AnyFunSuite
import graft.engine.Engine

/** The session factory is the single place sessions are built and the
  * core count is read: [[Engine.session]] and [[Engine.cores]]. */
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

  test("src/main builds sessions and reads SPARK_GRAFT_CPUS only in Engine.scala") {
    import scala.jdk.CollectionConverters._
    val root = java.nio.file.Paths.get("src/main")
    val engine = root.resolve("scala/graft/engine/Engine.scala")
    val builder = """SparkSession\s*\.\s*builder\s*\(""".r
    val st = java.nio.file.Files.walk(root)
    val offenders = try st.iterator().asScala
      .filter(p => p.toString.endsWith(".scala") && p != engine)
      .filter { p =>
        val src = java.nio.file.Files.readString(p)
        builder.findFirstIn(src).isDefined || src.contains("SPARK_GRAFT_CPUS")
      }.toList
    finally st.close()
    assert(java.nio.file.Files.exists(engine), s"missing $engine")
    assert(offenders.isEmpty,
      s"build sessions through Engine.session and read cores through Engine.cores: $offenders")
  }
}
