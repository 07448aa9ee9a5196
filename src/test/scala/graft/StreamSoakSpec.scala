package graft

import org.scalatest.funsuite.AnyFunSuite

import graft.tools.StreamSoak

/** A short run of the whole soak table: every streaming twin is killed
  * and restarted on its checkpoint while the feed keeps writing, then
  * drained and compared with its batch twin over everything written.
  */
class StreamSoakSpec extends AnyFunSuite {

  test("every soak phase equals its batch twin after induced kill-restarts") {
    val sc = SparkTestSession.spark.sparkContext
    val root = java.nio.file.Files.createTempDirectory("graft-soak").toFile
    // every induced kill logs its interrupted tasks and aborted writes
    // (~3,900 lines per run); the phase results carry the verdict
    sc.setLogLevel("OFF")
    val results =
      try StreamSoak.run(SparkTestSession.spark, root.toString, seconds = 4,
        restartSeconds = 2)
      finally {
        sc.setLogLevel("WARN")
        org.apache.commons.io.FileUtils.deleteDirectory(root)
      }
    assert(results.map(_._1) == Seq("tumbling", "kmv", "cms", "mg", "lb",
      "funnel", "lsh", "tri", "session", "upsert", "perm"))
    results.foreach { case (name, r) =>
      assert(r.pass, s"$name: ${r.json}")
      assert(r.restarts >= 1, s"$name: ${r.json}")
    }
  }
}
