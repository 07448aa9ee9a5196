package graft

import org.scalatest.funsuite.AnyFunSuite

import graft.engine.Shape
import graft.operators.{Ann, Bpe, Dedup, GraphOps}

/** The `spark.graft.checkpointDir` switch (VERDICT r07 #5): every
  * iterative operator materializes per round through Shape.materialize,
  * which is localCheckpoint(eager) by default and reliable checkpoint()
  * when the conf names a durable directory (the 1000-executor setting —
  * executor-local blocks die WITH an executor; reliable blocks don't).
  * The two paths must be RESULT-identical: the switch changes where
  * blocks live, never what is computed.
  */
class CheckpointEquivalenceSpec extends AnyFunSuite {
  lazy val spark = SparkTestSession.spark
  import spark.implicits._

  private def withReliableDir[A](f: => A): A = {
    val dir = java.nio.file.Files.createTempDirectory("graft-ckpt").toString
    spark.conf.set(Shape.CheckpointDirConf, dir)
    try f
    finally {
      spark.conf.unset(Shape.CheckpointDirConf)
      // the sparkContext checkpoint dir cannot be unset; later local
      // runs are unaffected because materialize checks the CONF, and a
      // leftover sc dir only matters to forced checkpoint() calls
    }
  }

  private def labelsOf(df: org.apache.spark.sql.DataFrame): Map[Long, Long] =
    df.collect().map(r => r.getLong(0) -> r.getLong(1)).toMap

  test("dupClustersStar labels identical via local and reliable paths") {
    // two chains + a triangle + an isolated pair: multi-round CC shapes
    val pairs = Seq((1L, 2L), (2L, 3L), (3L, 4L), (10L, 11L), (11L, 12L),
      (12L, 10L), (20L, 21L), (30L, 31L), (31L, 32L), (32L, 33L), (33L, 34L))
      .toDF("a", "b")
    val local = labelsOf(Dedup.dupClustersStar(pairs, "a", "b"))
    val reliable = withReliableDir {
      labelsOf(Dedup.dupClustersStar(pairs, "a", "b"))
    }
    assert(local == reliable)
    assert(local(4L) == 1L && local(12L) == 10L && local(34L) == 30L)
  }

  test("dupClusters labels identical via local and reliable paths") {
    val docs = engine.Tables.documents(spark, SparkTestSession.sfDir)
    def run() = labelsOf(Dedup.dupClusters(
      Dedup.simHashDup(docs, "doc_id", "text", 16), "id_a", "id_b", 4))
    assert(run() == withReliableDir(run()))
  }

  test("ssspHops at unit weight identical via local and reliable paths") {
    val edges = Seq((1L, 2L), (2L, 3L), (3L, 4L), (4L, 5L), (9L, 1L))
      .toDF("a", "b").withColumn("w", org.apache.spark.sql.functions.lit(1L))
    val seeds = Seq(1L).toDF("s")
    def run() = GraphOps.ssspHops(edges, "a", "b", "w", seeds, "s", maxHops = 4)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val local = run()
    val reliable = withReliableDir(run())
    assert(local == reliable)
    assert(local(5L) == 4L && local(9L) == 1L)
  }

  // One representative per remaining loop family routed through
  // Shape.materialize (VERDICT r08 #7): peel loop (k-core), fixed-iter
  // rank loop (PageRank), Lloyd build (k-means), merge-round learn
  // (BPE). The switch's blast radius is every iterative operator, so
  // each family gets its own local==reliable assertion.

  test("kCore identical via local and reliable paths") {
    // triangle+tail: the tail peels over two rounds, the triangle stays
    val pairs = Seq((1L, 2L), (2L, 3L), (3L, 1L), (3L, 4L), (4L, 5L))
      .toDF("a", "b")
    def run() = GraphOps.kCore(pairs, "a", "b", k = 2, maxRounds = 5)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val local = run()
    val reliable = withReliableDir(run())
    assert(local == reliable)
    assert(local.keySet == Set(1L, 2L, 3L) && local(1L) == 2L)
  }

  test("pageRankInt identical via local and reliable paths") {
    val pairs = Seq((1L, 2L), (2L, 3L), (3L, 1L), (3L, 4L)).toDF("a", "b")
    def run() = GraphOps.pageRankInt(pairs, "a", "b", iters = 3)
      .collect().map(r => r.getLong(0) -> r.getLong(2)).toMap
    val local = run()
    val reliable = withReliableDir(run())
    assert(local == reliable)
    assert(local.keySet == Set(1L, 2L, 3L, 4L))
  }

  test("kmeansCentroids identical via local and reliable paths") {
    val corpus = Seq(
      (1L, Array(0.0f, 0.0f)), (2L, Array(0.1f, 0.0f)),
      (3L, Array(5.0f, 5.0f)), (4L, Array(5.1f, 5.0f)),
      (5L, Array(0.0f, 0.2f)), (6L, Array(5.0f, 5.2f)))
      .toDF("id", "v")
    def run() = Ann.kmeansCentroids(corpus, "id", "v", nLists = 2, iters = 2)
      .collect().map(r => r.getLong(0) -> r.getSeq[Double](1)).toMap
    val local = run()
    val reliable = withReliableDir(run())
    assert(local == reliable)
    assert(local.size == 2)
  }

  test("bpeMerges identical via local and reliable paths") {
    val docs = Seq(
      (1L, "low lower lowest"), (2L, "low low newer newest"),
      (3L, "wider wide widest lower")).toDF("doc_id", "text")
    def run() = Bpe.bpeMerges(docs, "text", iters = 4)
      .collect().map(_.toSeq).toList
    val local = run()
    val reliable = withReliableDir(run())
    assert(local == reliable)
    assert(local.nonEmpty)
  }

  test("reliable path actually writes checkpoint files") {
    val dir = java.nio.file.Files.createTempDirectory("graft-ckpt-w")
    spark.conf.set(Shape.CheckpointDirConf, dir.toString)
    try {
      Dedup.dupClustersStar(Seq((1L, 2L)).toDF("a", "b"), "a", "b").collect()
      val wrote = java.nio.file.Files.walk(dir).count() > 1
      assert(wrote, s"no checkpoint data under $dir")
    } finally spark.conf.unset(Shape.CheckpointDirConf)
  }

  test("labelPropagation identical via local and reliable paths") {
    // the round-11 loop family: barbell + an isolated pair
    val pairs = Seq((1L, 2L), (1L, 3L), (2L, 3L), (4L, 5L), (4L, 6L),
      (5L, 6L), (3L, 4L), (20L, 21L)).toDF("a", "b")
    def run() = labelsOf(GraphOps.labelPropagation(pairs, "a", "b", rounds = 3))
    val local = run()
    val reliable = withReliableDir(run())
    assert(local == reliable)
    assert(local(1L) == local(2L) && local(4L) == local(5L) &&
      local(1L) != local(4L))
  }
}
