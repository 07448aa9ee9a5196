package graft

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.functions._

import graft.operators.Dedup

/** Incremental ER maintenance (VERDICT r07 #4): a new batch's labels
  * merged into a standing clustering must EQUAL the full recompute —
  * including the hard case where one batch record BRIDGES two standing
  * components (their labels must both collapse to the global min).
  */
class IncrementalErSpec extends AnyFunSuite {
  lazy val spark = SparkTestSession.spark
  import spark.implicits._

  private def labels(df: org.apache.spark.sql.DataFrame): Map[Long, Long] =
    df.collect().map(r => r.getLong(0) -> r.getLong(1)).toMap

  private def joinPostings(batch: org.apache.spark.sql.DataFrame,
                           corpus: org.apache.spark.sql.DataFrame) =
    Dedup.editDistance1JoinPostings(batch,
      Dedup.deletionKeyPostings(corpus, "id", "s"), "id", "s")

  test("editDistance1JoinPostings finds exactly the cross ed<=1 pairs") {
    val corpus = Seq((1L, "smith"), (2L, "jones"), (3L, "brown"))
      .toDF("id", "s")
    val batch = Seq((10L, "smyth"), (11L, "jones"), (12L, "zzzzz"),
      (13L, "brwn")).toDF("id", "s")
    val got = joinPostings(batch, corpus)
      .select("batch_id", "corpus_id").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    // smyth~smith ed=1, jones==jones ed=0, brwn~brown ed=1, zzzzz none
    assert(got == Set((10L, 1L), (11L, 2L), (13L, 3L)))
  }

  test("editDistance1JoinPostings never pairs within the batch or corpus") {
    val corpus = Seq((1L, "aaa"), (2L, "aab")).toDF("id", "s")
    val batch = Seq((10L, "aac"), (11L, "aad")).toDF("id", "s")
    val got = joinPostings(batch, corpus)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(got == Set((10L, 1L), (10L, 2L), (11L, 1L), (11L, 2L)))
  }

  test("incrementalClusterLabels == full recompute, incl. component bridge") {
    // standing: components {1,2}, {5,6}, singletons 8, 9
    val standingPairs = Seq((1L, 2L), (5L, 6L)).toDF("a", "b")
    val standingNodes = Seq(1L, 2L, 5L, 6L, 8L, 9L).toDF("node")
    val standing = standingNodes.join(
        Dedup.dupClustersStar(standingPairs, "a", "b"), Seq("node"), "left")
      .select(col("node"), coalesce(col("label"), col("node")).as("label"))
    // batch edges: 20 bridges {1,2} and {5,6}; 21 attaches to singleton 8;
    // 22-23 form a pure-batch pair; 9 untouched
    val newEdges = Seq((20L, 2L), (20L, 5L), (21L, 8L), (22L, 23L))
      .toDF("a", "b")
    val inc = labels(
      Dedup.incrementalClusterLabels(standing, newEdges, "a", "b"))
    val full = labels(
      Dedup.dupClustersStar(standingPairs.unionAll(newEdges), "a", "b"))
    // full covers only edge-touched nodes; 9 stays self-labeled
    assert(inc == full + (9L -> 9L))
    assert(inc(5L) == 1L && inc(6L) == 1L && inc(20L) == 1L) // bridged min
    assert(inc(21L) == 8L && inc(23L) == 22L && inc(9L) == 9L)
  }

  test("local union-find path == forced distributed star path") {
    // localLimit = 0 forces the distributed dupClustersStar loop on the
    // same update graph the default (local union-find) path collapses
    // driver-side — the two must be value-identical, bridge included
    val standingPairs = Seq((1L, 2L), (5L, 6L)).toDF("a", "b")
    val standingNodes = Seq(1L, 2L, 5L, 6L, 8L, 9L).toDF("node")
    val standing = standingNodes.join(
        Dedup.dupClustersStar(standingPairs, "a", "b"), Seq("node"), "left")
      .select(col("node"), coalesce(col("label"), col("node")).as("label"))
    val newEdges = Seq((20L, 2L), (20L, 5L), (21L, 8L), (22L, 23L))
      .toDF("a", "b")
    val local = labels(
      Dedup.incrementalClusterLabels(standing, newEdges, "a", "b"))
    val dist = labels(
      Dedup.incrementalClusterLabels(standing, newEdges, "a", "b",
        localLimit = 0L))
    assert(local == dist)
    assert(local(20L) == 1L && local(23L) == 22L)
    // an empty update graph must take the distributed path too
    val none = Seq.empty[(Long, Long)].toDF("a", "b")
    assert(labels(Dedup.incrementalClusterLabels(standing, none, "a", "b")) ==
      labels(Dedup.incrementalClusterLabels(standing, none, "a", "b",
        localLimit = 0L)))
  }

  test("string node ids take the distributed path and still label correctly") {
    // ADVICE r9: the driver union-find assumes integral ids; a
    // string-keyed update graph must route to dupClustersStar (ordered
    // by string least/greatest) instead of ClassCastException-ing
    val standing = Seq(("a", "a"), ("b", "a"), ("x", "x"))
      .toDF("node", "label")
    val newEdges = Seq(("c", "b"), ("x", "y")).toDF("u", "v")
    val got = Dedup.incrementalClusterLabels(standing, newEdges, "u", "v")
      .collect().map(r => r.getString(0) -> r.getString(1)).toMap
    assert(got == Map("a" -> "a", "b" -> "a", "c" -> "a",
      "x" -> "x", "y" -> "x"))
  }

  test("incrementalClusterLabels with no new edges is the standing table") {
    val standing = Seq((1L, 1L), (2L, 1L), (7L, 7L)).toDF("node", "label")
    val empty = Seq.empty[(Long, Long)].toDF("a", "b")
    val inc = labels(Dedup.incrementalClusterLabels(standing, empty, "a", "b"))
    assert(inc == Map(1L -> 1L, 2L -> 1L, 7L -> 7L))
  }
}
