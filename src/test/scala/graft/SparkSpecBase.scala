package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

/** One shared local session for the whole test JVM. */
object SparkTestSession {
  /** Per-run scratch tmpdir, reclaimed at JVM exit: spec runs used to
    * leave hundreds of createTempDirectory dirs and replay layouts in
    * /tmp forever — exactly the disk-state drift the bench's env guard
    * keeps having to adjudicate (r12). Also isolates concurrent test
    * JVMs' scratch warehouses from each other. Touched from the
    * SparkSpecBase CONSTRUCTOR, not just the lazy session: test bodies
    * that call createTempDirectory before any spark reference must
    * already see the redirected property. */
  lazy val scratch: String = Scratch.install("test", preferTmpfs = false)
  lazy val spark: SparkSession = {
    scratch: Unit
    graft.engine.Engine.session(cores = 8)
  }
}

trait SparkSpecBase extends AnyFunSuite {
  SparkTestSession.scratch: Unit // before any test body touches tmpdir
  lazy val spark: SparkSession = SparkTestSession.spark
  val sfDir = "/root/testdata/sf0.001"
}
