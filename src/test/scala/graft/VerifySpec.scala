package graft

import java.nio.file.Files

/** The correctness dump cleans up after itself: [[Verify]] runs under
  * [[Scratch.install]], so the scratch dirs its rows make are reclaimed
  * when it exits. */
class VerifySpec extends SparkSpecBase {

  test("Verify leaves nothing in java.io.tmpdir") {
    // rows that make their own Scratch.tempDir checkpoints and state dirs
    val rows = Seq("q_stream_cdc", "q_stream_upsert", "q_stream_recovery")
    val tmp = Scratch.tempDir("verify_tmp")
    val work = Scratch.tempDir("verify_out")
    try {
      val out = work.resolve("out")
      val (code, _) = ChildJvm.run("graft.Verify", Seq(sfDir, out.toString),
        tmp, work, Map("SPARK_GRAFT_ONLY" -> rows.mkString(","),
          "SPARK_GRAFT_CPUS" -> "2"))
      assert(code == 0, s"Verify exited $code")
      rows.foreach(r => assert(Files.exists(out.resolve(s"$r/_SUCCESS")), s"$r not dumped"))
      val st = Files.list(tmp)
      val left = try st.toArray.toList finally st.close()
      assert(left.isEmpty, s"Verify left $left")
    } finally {
      graft.ops.Scale.deleteTree(tmp)
      graft.ops.Scale.deleteTree(work)
    }
  }
}
