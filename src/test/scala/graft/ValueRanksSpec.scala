package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.operators.Relational.{RankGuard, valueAtRank, valueRanks}

/** The value-rank kernel against a driver-side sorted-list model: a row
  * of weight w is w copies of its value, and sorting a key's copies
  * gives every rank 1..n its value and every distinct value its
  * (cnt, below, n). Seeded integer data with heavy ties, NULL values
  * and weights, both orders, keyed and global input, empty input.
  */
class ValueRanksSpec extends AnyFunSuite {
  lazy val spark = SparkTestSession.spark
  import spark.implicits._

  type Row3 = (Int, Option[Long], Option[Long])

  private def chainText(t: Throwable): String =
    Iterator.iterate(t)(_.getCause).takeWhile(_ != null).map(_.getMessage).mkString("\n")

  /** Per key: the sorted copies of its ranked values. */
  private def sortedCopies(rows: Seq[Row3], keyed: Boolean,
                           desc: Boolean): Map[Int, Seq[Long]] =
    rows.collect { case (k, Some(v), Some(w)) => (if (keyed) k else 0, v, w) }
      .groupBy(_._1).map { case (k, rs) =>
        val copies = rs.flatMap { case (_, v, w) => Seq.fill(w.toInt)(v) }.sorted
        k -> (if (desc) copies.reverse else copies)
      }

  test("valueRanks and valueAtRank equal the sorted-list model") {
    val rnd = new scala.util.Random(14)
    for (trial <- 1 to 16) {
      val keyed = trial % 2 == 0
      val desc = trial % 4 >= 2
      val weighted = trial % 8 >= 4
      val nRows = if (trial <= 2) 0 else rnd.nextInt(60)
      val rows: Seq[Row3] = Seq.fill(nRows)((
        rnd.nextInt(3),
        if (rnd.nextInt(10) == 0) None else Some(rnd.nextInt(6).toLong - 2L),
        if (weighted && rnd.nextInt(10) == 0) None
        else Some(if (weighted) rnd.nextInt(4).toLong else 1L)))
      val df = rows.toDF("k", "v", "w")
      val keys = if (keyed) Seq("k") else Nil
      val table = valueRanks(df, keys, "v",
        weight = if (weighted) col("w") else lit(1L), descending = desc,
        guard = if (keyed) None else Some(RankGuard("spec", "none needed")))
        .withColumn("__k", if (keyed) col("k") else lit(0))
      val what = s"trial $trial (keyed=$keyed desc=$desc weighted=$weighted)"

      // (cnt, below, n) per (key, value)
      val got = table.select("__k", "v", "cnt", "below", "n").as[(Int, Long, Long, Long, Long)]
        .collect().toSeq.sorted
      val copies = sortedCopies(rows, keyed, desc)
      val distinct = rows.collect { case (k, Some(v), Some(w)) =>
        (if (keyed) k else 0, v) }.distinct
      val want = distinct.map { case (k, v) =>
        val cs = copies(k)
        val ahead = cs.count(u => if (desc) u > v else u < v)
        (k, v, cs.count(_ == v).toLong, ahead.toLong, cs.size.toLong)
      }.sorted
      assert(got == want, what)

      // every rank 1..n selects the model's value at that rank
      val atRanks = table.withColumn("r", explode(sequence(lit(1L), col("n"))))
        .filter(valueAtRank(col("r")))
        .select("__k", "r", "v").as[(Int, Long, Long)].collect().toSeq.sorted
      val wantRanks = copies.toSeq.flatMap { case (k, cs) =>
        cs.zipWithIndex.map { case (v, i) => (k, i + 1L, v) } }.sorted
      assert(atRanks == wantRanks, what)
    }
  }

  test("unkeyed guard fires past its bound naming the caller's remedy, silent at it") {
    val df = (1L to 12L).map(v => (v % 6, 1L)).toDF("v", "w")
    def ranks(bound: Long) = valueRanks(df, Nil, "v",
        guard = Some(RankGuard("guardCaller", "coarsen v first", bound)))
      .agg(max(when(valueAtRank(lit(7L)), col("v"))))
      .head().getLong(0)
    assert(ranks(6L) == 3L) // 6 distinct values: at the bound
    val ex = intercept[Exception](ranks(5L))
    val msg = chainText(ex)
    assert(msg.contains("guardCaller") && msg.contains("coarsen v first") &&
      msg.contains("> 5 distinct"), msg)
    intercept[IllegalArgumentException](valueRanks(df, Nil, "v"))
  }
}
