package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.QueryShared.{deleteRecursively, fixturePath}
import graft.SparkTestSession.jobsDuring
import graft.operators.Ann

/** The shared Lloyd trainer ([[Ann.kmeansBooksLocal]]): several books
  * trained in one pass per round equal the same books trained one by
  * one, and the IVF-PQ index built on it equals the index it replaced.
  */
class KmeansBooksSpec extends AnyFunSuite {
  lazy val spark = SparkTestSession.spark
  lazy val e = engine.Tables.embeddings(spark, SparkTestSession.sfDir)

  /** A book as comparable data: cids with the centroids' raw bits. */
  private def bits(book: Ann.Book): Seq[(Long, Seq[Long])] =
    book.toSeq.map { case (cid, cv) =>
      (cid, cv.toSeq.map(java.lang.Double.doubleToRawLongBits))
    }

  /** Each split's subspaces trained alone over a `slice`d frame. */
  private def oneByOne(corpus: DataFrame, splits: Seq[(Int, Int)], dim: Int,
                       sampleOneIn: Int): Seq[Ann.Book] =
    splits.flatMap { case (parts, k) =>
      val len = dim / parts
      (0 until parts).map { j =>
        Ann.kmeansCentroidsLocal(
          corpus.select(col("vec_id"),
            slice(col("embedding"), j * len + 1, len).as("sv")),
          "vec_id", "sv", k, iters = 2, sampleOneIn = sampleOneIn)
      }
    }

  private def assertSame(got: Seq[Ann.Book], want: Seq[Ann.Book]): Unit = {
    assert(got.length == want.length)
    got.zip(want).zipWithIndex.foreach { case ((g, w), b) =>
      assert(bits(g) == bits(w), s"book $b differs")
    }
  }

  test("m books in one pass are bit-identical to m one-book builds") {
    for (m <- Seq(1, 2, 8); sampleOneIn <- Seq(1, 3)) {
      val splits = Seq((m, 6))
      val got = Ann.kmeansBooksLocal(e, "vec_id", "embedding", splits,
        iters = 2, sampleOneIn = sampleOneIn)
      assert(got.forall(_.nonEmpty), s"m=$m")
      assertSame(got.toSeq, oneByOne(e, splits, 64, sampleOneIn))
    }
    // q230's mix: the coarse book and the PQ books together
    val mixed = Seq((1, 8), (8, 16))
    assertSame(Ann.kmeansBooksLocal(e, "vec_id", "embedding", mixed).toSeq,
      oneByOne(e, mixed, 64, 1))
  }

  test("empty corpus gives empty books; fewer rows than k keeps every row") {
    val none = Ann.kmeansBooksLocal(e.filter(lit(false)), "vec_id", "embedding",
      Seq((1, 4), (8, 16)))
    assert(none.length == 9 && none.forall(_.isEmpty))
    val three = e.filter(col("vec_id") < 3)
    val got = Ann.kmeansBooksLocal(three, "vec_id", "embedding", Seq((2, 5)))
    assert(got.map(_.length).toSeq == Seq(3, 3))
    assertSame(got.toSeq, oneByOne(three, Seq((2, 5)), 64, 1))
  }

  test("pqCodebooks submits as many jobs for 8 books as for 1") {
    val iters = 2
    val (_, one) = jobsDuring(Ann.pqCodebooks(e, "vec_id", "embedding", 1, 16, iters))
    val (_, eight) = jobsDuring(Ann.pqCodebooks(e, "vec_id", "embedding", 8, 16, iters))
    assert(one == eight, s"m=1: $one jobs, m=8: $eight jobs")
    assert(eight <= 2 + 3 * iters, s"$eight jobs")
  }

  test("q192 builds its PQ index in at most 10 jobs") {
    val (_, jobs) = jobsDuring(
      SparkEntry.queries("q192_pq_ann")(spark, SparkTestSession.sfDir))
    assert(jobs <= 10, s"$jobs jobs")
  }

  /** Runs `f` on fresh fixture namespaces over the test embeddings. */
  private def withNamespaces(n: Int)(f: Seq[String] => Unit): Unit = {
    val ds = (1 to n).map(_ =>
      java.nio.file.Files.createTempDirectory("kmeans-books").toString)
    def namespace(d: String) = new java.io.File(fixturePath(d, "x")).getParentFile
    try f(ds)
    finally ds.foreach { d =>
      deleteRecursively(namespace(d)); deleteRecursively(new java.io.File(d))
    }
  }

  private def centroidRows(cents: DataFrame): Seq[(Long, Seq[Double])] =
    cents.collect().map(r => (r.getLong(0), r.getSeq[Double](1))).sortBy(_._1).toSeq

  test("ivf_centroids are the same whether q230 or q207 builds them first") {
    withNamespaces(2) { case Seq(pqFirst, ivfFirst) =>
      val (viaPq, _, _) = QueryShared.ivfPqIndexFixture(spark, pqFirst, e)
      assert(!new java.io.File(fixturePath(pqFirst, "ivf_lists.parquet")).exists(),
        "q230 must not build q207's lists")
      val (viaIvf, _) = QueryShared.ivfIndexFixture(spark, ivfFirst, e)
      QueryShared.ivfPqIndexFixture(spark, ivfFirst, e)
      assert(centroidRows(viaPq) == centroidRows(viaIvf))
      assert(centroidRows(viaPq).length == QueryShared.IvfLists)
    }
  }

  test("q230's coded lists equal ivfListAssignments joined to pqEncodeWith") {
    withNamespaces(1) { case Seq(d) =>
      val (cents, books, coded) = QueryShared.ivfPqIndexFixture(spark, d, e)
      val joined = Ann.ivfListAssignments(e, "vec_id", "embedding", cents)
        .select(col("cid"), col("neighbor_id").cast("long").as("neighbor_id"))
        .join(Ann.pqEncodeWith(e, "vec_id", "embedding", books, QueryShared.PqM),
          Seq("neighbor_id"))
        .select("cid", "neighbor_id", "codes")
      def rows(df: DataFrame) = df.select("cid", "neighbor_id", "codes").collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getSeq[Long](2))).sortBy(_._2).toSeq
      val got = rows(coded)
      assert(got.length == e.count())
      assert(got == rows(joined))
    }
  }
}
