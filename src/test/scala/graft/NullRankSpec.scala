package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.operators.{Relational, Sketches}

/** One NULL rule for every rank statistic: a NULL value carries no rank,
  * so each operator gives the same result on an input with NULLs as on
  * the same input with those rows removed (complete cases for the
  * paired [[Relational.spearmanRho]]) — as SQL's `percentile_cont`
  * and Spark's `percentile` ignore NULL.
  */
class NullRankSpec extends AnyFunSuite {
  lazy val spark = SparkTestSession.spark
  import spark.implicits._

  private def rows(df: DataFrame): Seq[String] =
    df.collect().map(_.toSeq.mkString("|")).toSeq.sorted

  /** (group, arm, id, value) with heavy ties and ~30% NULL values. */
  private def seeded(seed: Int): DataFrame = {
    val rnd = new scala.util.Random(seed)
    Seq.tabulate(80) { i =>
      (s"g${rnd.nextInt(2)}", if (rnd.nextBoolean()) "a" else "b", i.toLong,
        if (rnd.nextInt(10) < 3) None else Some(rnd.nextInt(9).toLong * 5L),
        if (rnd.nextInt(10) < 3) None else Some(rnd.nextInt(7).toLong))
    }.toDF("g", "arm", "id", "v", "y")
  }

  private def sameWithoutNulls(what: String)(op: DataFrame => DataFrame): Unit =
    for (seed <- 1 to 3) {
      val df = seeded(seed)
      assert(rows(op(df)) == rows(op(df.filter(col("v").isNotNull))),
        s"$what, seed $seed")
    }

  test("histogramPercentiles: the median of (NULL, NULL, 1, 2, 3) is 2") {
    val df = Seq(("g", None), ("g", None), ("g", Some(1L)), ("g", Some(2L)),
      ("g", Some(3L))).toDF("g", "v")
    val med = Relational.histogramPercentiles(df, "g", "v", Seq("p50" -> 0.5))
      .head().getDouble(1)
    assert(med == 2.0)
    sameWithoutNulls("histogramPercentiles")(Relational.histogramPercentiles(
      _, "g", "v", Seq("p25" -> 0.25, "p50" -> 0.5, "p90" -> 0.9)))
  }

  test("exactDiscQuantiles ignores NULL values") {
    sameWithoutNulls("exactDiscQuantiles")(Sketches.exactDiscQuantiles(
      _, "g", col("v"), Seq(1L, 250000L, 500000L, 1000000L)))
  }

  test("mannWhitney ignores NULL values") {
    sameWithoutNulls("mannWhitney")(Relational.mannWhitney(_, "arm", "v"))
  }

  test("ksTwoSample ignores NULL values") {
    sameWithoutNulls("ksTwoSample")(Relational.ksTwoSample(_, "arm", "v", "a", "b"))
  }

  test("madOutlierFlags ignores NULL values in its medians") {
    sameWithoutNulls("madOutlierFlags")(df =>
      Relational.madOutlierFlags(df.select("id", "v"), "v")
        .filter(col("v").isNotNull))
  }

  test("spearmanRho ranks complete cases only") {
    for (seed <- 1 to 3) {
      val df = seeded(seed)
      val complete = df.filter(col("v").isNotNull && col("y").isNotNull)
      assert(rows(Relational.spearmanRho(df, "id", "v", "y")) ==
        rows(Relational.spearmanRho(complete, "id", "v", "y")), s"seed $seed")
    }
  }
}
