package org.apache.spark.sql {
  /** Writes a session conf value past SQLConf's type check, the way a
    * vendor runtime that sets `spark.sql.shuffle.partitions=auto` does.
    */
  object UncheckedConf {
    def put(spark: SparkSession, key: String, value: String): Unit =
      spark.sessionState.conf.settings.put(key, value)
  }
}

package graft {

  import org.apache.spark.sql.{DataFrame, UncheckedConf}
  import org.apache.spark.sql.functions._
  import org.scalatest.funsuite.AnyFunSuite

  import graft.engine.Shape

  /** One contract test per [[Shape]] tactic; `materialize` is covered by
    * CheckpointEquivalenceSpec.
    */
  class ShapeSpec extends AnyFunSuite {
    lazy val spark = SparkTestSession.spark
    import spark.implicits._

    private def plan(df: DataFrame): String = df.queryExecution.executedPlan.toString

    test("width: session shuffle partitions, 32 when the value is not numeric") {
      val key = "spark.sql.shuffle.partitions"
      val before = spark.conf.get(key)
      assert(Shape.width(spark) == before.toInt)
      try {
        UncheckedConf.put(spark, key, "auto")
        assert(Shape.width(spark) == 32)
      } finally spark.conf.set(key, before)
    }

    test("spread: identity on a wide scan, one exchange on a narrow one") {
      val w = Shape.width(spark)
      val wide = spark.range(0, 100, 1, w).toDF("id")
      assert(Shape.spread(wide, col("id")) eq wide)
      val narrow = spark.range(0, 100, 1, 1).toDF("id")
      assert(Shape.exchangeCount(narrow) == 0)
      val keyed = Shape.spread(narrow, col("id"))
      assert(Shape.exchangeCount(keyed) == 1)
      assert(plan(keyed).contains("hashpartitioning"), plan(keyed))
      val keyless = Shape.spread(narrow)
      assert(Shape.exchangeCount(keyless) == 1)
      assert(plan(keyless).contains("RoundRobinPartitioning"), plan(keyless))
      assert(keyed.as[Long].collect().sorted.sameElements(0L until 100L))
    }

    test("shield: a sorted UDF frame runs its UDF stage once") {
      val n = 1000L
      def udfCalls(shielded: Boolean): Long = {
        val calls = spark.sparkContext.longAccumulator
        val f = udf { x: Long => calls.add(1); x % 97 }
        val scored = spark.range(0, n, 1, 4).select(col("id"), f(col("id")).as("s"))
        val sorted = (if (shielded) Shape.shield(scored) else scored).orderBy("s", "id")
        assert(sorted.collect().length == n)
        calls.value
      }
      // unshielded, the range sampler re-runs the UDF stage
      assert(udfCalls(shielded = false) > n)
      assert(udfCalls(shielded = true) == n)
    }

    test("localRows: None at limit <= 0 and over the limit, the rows at it") {
      val five = spark.range(5).toDF("id")
      val empty = spark.range(0).toDF("id")
      assert(Shape.localRows(five, 0L).isEmpty)
      assert(Shape.localRows(five, -1L).isEmpty)
      assert(Shape.localRows(empty, 0L).isEmpty)
      assert(Shape.localRows(five, 4L).isEmpty)
      assert(Shape.localRows(five, 5L).map(_.map(_.getLong(0)).sorted.toSeq) ==
        Some(Seq(0L, 1L, 2L, 3L, 4L)))
      assert(Shape.localRows(empty, 1L).map(_.length) == Some(0))
      assert(Shape.integralIds(five) && !Shape.integralIds(five.select(col("id").cast("string"))))
    }

    test("inParallel: results in argument order, a failing task propagates") {
      assert(Shape.inParallel("a", 1) == ("a", 1))
      // the first side finishes last, and nested pairs still come back
      // in argument order
      val got = Shape.inParallel(
        Shape.inParallel({ Thread.sleep(50L); 1 }, { Thread.sleep(25L); 2 }),
        Shape.inParallel({ Thread.sleep(10L); 3 }, 4))
      assert(got == ((1, 2), (3, 4)))
      intercept[IllegalStateException] {
        Shape.inParallel(1, throw new IllegalStateException("boom"))
      }
      intercept[IllegalStateException] {
        Shape.inParallel(throw new IllegalStateException("boom"), 2)
      }
    }
  }
}
