package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.engine.Shape
import graft.functions.VectorFunctions

/** Scale-pattern tests: exchange widths, plan shapes that stay
  * shuffle-bounded, runtime pruning reaching the scan, and the exact
  * bounded-domain aggregates.
  */
class ScaleSpec extends AnyFunSuite {
  lazy val spark = SparkTestSession.spark
  import spark.implicits._

  test("gramExchangePartitions: session floor, gram-count scaling, hard cap") {
    import graft.operators.Dedup.gramExchangePartitions
    // small corpora never go below the session width (local plans
    // intact) — sf1 (14.2M grams) still rides the session width
    assert(gramExchangePartitions(1500000L, 24, 32) == 32)
    assert(gramExchangePartitions(14160000L, 24, 32) == 32)
    // sf10-shaped corpus (141.6M measured grams, hashed keys): drifts
    // gently above the session width (the earlier 16 MB-of-hash-build
    // target's 369-424-way exchange cost ~50% wall clock on local[32])
    val sf10 = gramExchangePartitions(141557600L, 24, 32)
    assert(sf10 > 32 && sf10 < 100, s"got $sf10")
    // 100 TB of text caps at 65536 instead of millions of partitions
    assert(gramExchangePartitions(100L * 1000 * 1000 * 1000000, 24, 32) == 65536)
    // string grams carry the gram bytes through the exchange: wider
    assert(gramExchangePartitions(141557600L, 24 + 40, 32) >
      gramExchangePartitions(141557600L, 24, 32))
  }

  test("self-mode spans never join the posting volume on (id, g)") {
    // the within-doc plane must be the groupBy(g, id) path: written as
    // a join with id_a === id_b, Catalyst extracts the equality into
    // the join key and re-shuffles the full posting volume at session
    // width with multi-column hash builds — the shape that OOM'd every
    // sf10 self-mode run. The groupBy adds no exchange on top of the
    // g-partitioned gram frame (HashPartitioning(g) satisfies
    // ClusteredDistribution(g, id)).
    val docs = spark.read.parquet(s"${SparkTestSession.sfDir}/documents.parquet")
    val plan = graft.operators.Dedup.selfRepeatSpans(
      docs, "doc_id", "text", minLen = 15, hashGrams = true)
      .queryExecution.executedPlan.toString
    // no join keyed on the doc id (the only joins left key on g); the
    // (id_a, id_b, diag) window exchange over the small anchor set is
    // expected and fine
    assert(!plan.contains("Join [id"), plan.take(800))
  }

  test("both-mode span anchors equal cross-anchors plus self-anchors") {
    import org.apache.spark.sql.functions._
    val docs = spark.read.parquet(s"${SparkTestSession.sfDir}/documents.parquet")
    def spans(includeSelf: Boolean) = graft.operators.Dedup.exactSubstringSpans(
      docs, "doc_id", "text", minLen = 15, hashGrams = true,
      includeSelf = includeSelf)
    val cross = spans(false)
    val both = spans(true)
    val self = graft.operators.Dedup.selfRepeatSpans(
      docs, "doc_id", "text", minLen = 15, hashGrams = true)
      .select(col("id").as("id_a"), col("id").as("id_b"),
        col("start_a"), col("start_b"), col("span_len"))
    // both == cross ∪ self, and the planes are disjoint
    assert(both.count() == cross.count() + self.count())
    assert(both.exceptAll(cross.unionByName(self)).count() == 0)
  }

  test("substring-span exchange width follows the measured gram count") {
    val docs = spark.read.parquet(s"${SparkTestSession.sfDir}/documents.parquet")
    val sessionPartitions = spark.sessionState.conf.numShufflePartitions
    val spans = graft.operators.Dedup.exactSubstringSpans(
      docs, "doc_id", "text", minLen = 40, hashGrams = true)
    val widths = spans.queryExecution.executedPlan.toString
    // at test scale the derived width IS the session width — the plan
    // is unchanged where it was already right
    import org.apache.spark.sql.functions._
    val grams = docs.agg(sum(greatest(length(col("text")) - lit(39), lit(0))))
      .first().getLong(0)
    assert(graft.operators.Dedup.gramExchangePartitions(
      grams, 24, sessionPartitions) == sessionPartitions, widths.take(500))
  }

  test("semDedupNLists: 8-list floor through sf0.1, then nLists grows with n") {
    // 625-per-cluster sizing (q119's r11 fix): the floor binds only
    // below sf0.1, so cluster size — hence pair volume per cluster —
    // stays ~constant upward from there
    assert(QueryShared.semDedupNLists(200) == 8)      // sf0.01
    assert(QueryShared.semDedupNLists(2000) == 8)     // sf0.1 (2000/625 < 8)
    assert(QueryShared.semDedupNLists(20000) == 32)   // sf1 fixture
    assert(QueryShared.semDedupNLists(200000) == 320) // sf10 fixture
    assert(QueryShared.semDedupNLists(2000000) == 3200)
  }

  test("exchangeCount counts shuffle exchanges, not broadcasts") {
    val df = spark.range(1000).toDF("id")
    val shuffled = df.groupBy(col("id") % 7).count()
    assert(Shape.exchangeCount(shuffled) >= 1)
    assert(Shape.exchangeCount(df.select(col("id") + 1)) == 0)
  }

  test("posting-list dedup plans scan the corpus exactly once (regression guard)") {
    // the round-1 self-join form planned the signature pipeline once per
    // join side (nondeterministic UDFs defeat exchange reuse) — measured
    // 2x compute; keep the single-scan property pinned
    for (q <- Seq("q30_dedup_ngram_jaccard", "q31_dedup_minhash_lsh",
        "q52_dedup_simhash_hamming", "q33_dedup_simhash", "q34_dedup_embedding")) {
      val df = SparkEntry.queries(q)(spark, SparkTestSession.sfDir)
      val scans = "FileScan parquet".r
        .findAllIn(df.queryExecution.executedPlan.toString).length
      assert(scans == 1, s"$q should scan its input once, saw $scans")
    }
  }

  test("AQE splits the skewed join partition and coalesces small ones at runtime") {
    val conf = spark.conf
    val saved = Seq(
      "spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes",
      "spark.sql.adaptive.advisoryPartitionSizeInBytes",
      "spark.sql.autoBroadcastJoinThreshold").map(k => k -> conf.getOption(k))
    try {
      conf.set("spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes", "64KB")
      conf.set("spark.sql.adaptive.advisoryPartitionSizeInBytes", "32KB")
      conf.set("spark.sql.autoBroadcastJoinThreshold", "-1") // force a shuffle join
      // 95% of rows share key 42 => one shuffle partition dwarfs the rest
      val big = (1 to 400000).map(i =>
        (if (i % 20 == 0) i.toLong % 7 else 42L, s"payload_$i")).toDF("k", "v")
      val dim = (0L to 60L).map(k => (k, s"name_$k")).toDF("k2", "name")
      val j = big.join(dim, col("k") === col("k2"))
      // execute THIS DataFrame's queryExecution: write/count would clone
      // a fresh plan and leave j's adaptive plan un-finalized
      assert(j.collect().length == 400000)
      val plan = j.queryExecution.executedPlan.toString
      assert(plan.contains("skew=true"), s"AQE did not mark the skewed join:\n$plan")
      assert(plan.contains("AQEShuffleRead"), "AQE shuffle read missing")
    } finally saved.foreach {
      case (k, Some(v)) => conf.set(k, v)
      case (k, None) => conf.unset(k)
    }
  }

  test("join strategy hints are respected (broadcast / shuffle_hash / merge)") {
    val o = spark.read.parquet(s"${SparkTestSession.sfDir}/orders.parquet")
      .select("o_orderkey", "o_custkey")
    val l = spark.read.parquet(s"${SparkTestSession.sfDir}/lineitem.parquet")
      .select("l_orderkey", "l_quantity")
    def planOf(hint: String) =
      o.join(l.hint(hint), col("o_orderkey") === col("l_orderkey"))
        .queryExecution.executedPlan.toString
    assert(planOf("broadcast").contains("BroadcastHashJoin"))
    assert(planOf("shuffle_hash").contains("ShuffledHashJoin"))
    assert(planOf("merge").contains("SortMergeJoin"))
  }

  test("orc source round-trips schema and values") {
    val base = spark.read.parquet(s"${SparkTestSession.sfDir}/orders.parquet")
      .select("o_orderkey", "o_custkey", "o_orderstatus", "o_totalprice")
    val tmp = "/tmp/graft-test-orc"
    base.write.mode("overwrite").orc(tmp)
    val viaOrc = spark.read.schema(base.schema).orc(tmp)
    assert(viaOrc.count() == base.count())
    assert(viaOrc.except(base).isEmpty && base.except(viaOrc).isEmpty)
  }

  test("zValue2 interleaves bits (hand-computed morton code)") {
    // x=0b101, y=0b011 -> z bits (y2 x2 y1 x1 y0 x0) = 0b011011 = 27
    val z = Seq((5L, 3L)).toDF("x", "y")
      .select(VectorFunctions.zValue2(col("x"), col("y"), 3)).as[Long].head()
    assert(z == 27L)
  }

  test("trailingRangeSum equals the naive per-row RANGE window") {
    import org.apache.spark.sql.expressions.Window
    val base = spark.read.parquet(s"${SparkTestSession.sfDir}/orders.parquet")
      .select(col("o_orderkey"), col("o_orderpriority"),
        datediff(col("o_orderdate"), lit("1995-01-01").cast("date")).as("day"),
        round(col("o_totalprice") * 100).cast("long").as("total_c"))
    val naiveW = Window.partitionBy("o_orderpriority").orderBy(col("day"))
      .rangeBetween(-30, Window.currentRow)
    val naive = base.withColumn("trail30_c", sum(col("total_c")).over(naiveW))
      .select("o_orderkey", "trail30_c").as[(Long, Long)].collect().toMap
    val got = operators.Relational
      .trailingRangeSum(base, "o_orderpriority", "day", "total_c", 30L, "trail30_c")
      .select("o_orderkey", "trail30_c").as[(Long, Long)].collect()
    assert(got.length == naive.size)
    got.foreach { case (k, v) => assert(naive(k) == v, s"order $k") }
  }

  test("trailingRangeSum windows the bounded series, not the fact table") {
    val base = spark.read.parquet(s"${SparkTestSession.sfDir}/orders.parquet")
      .select(col("o_orderkey"), col("o_orderpriority"),
        datediff(col("o_orderdate"), lit("1995-01-01").cast("date")).as("day"),
        round(col("o_totalprice") * 100).cast("long").as("total_c"))
    // the window input is the (priority, day) series — bounded by the
    // day domain (~2,400/priority at full TPC-H), NOT |orders|
    val seriesRows = base.groupBy("o_orderpriority", "day").count().count()
    assert(seriesRows <= 15000 && seriesRows < base.count(),
      s"day series $seriesRows should be far below |orders| ${base.count()}")
    // plan shape: Window sits INSIDE the broadcast build side (below the
    // BroadcastHashJoin line), with its HashAggregate child beneath it —
    // the naive plan would put Window at the top with no join at all
    val plan = operators.Relational
      .trailingRangeSum(base, "o_orderpriority", "day", "total_c", 30L, "t")
      .queryExecution.executedPlan.toString
    val lines = plan.linesIterator.toIndexedSeq
    val bhj = lines.indexWhere(_.contains("BroadcastHashJoin"))
    val win = lines.indexWhere(_.contains("Window"))
    val agg = lines.indexWhere(_.contains("HashAggregate"), win max 0)
    assert(bhj >= 0 && win > bhj && agg > win,
      s"want BroadcastHashJoin > Window > HashAggregate order in:\n$plan")
  }

  test("histogramPercentiles equals Spark's buffered percentile exactly") {
    // q101 vs q51 equivalence on real data: the histogram formulation
    // and the multiset-buffer percentile share the (n-1)*p rule
    val q51 = SparkEntry.queries("q51_median")(spark, SparkTestSession.sfDir)
      .collect().map(_.toSeq).toSeq
    val q101 = SparkEntry.queries("q101_histogram_percentile")(spark, SparkTestSession.sfDir)
      .collect().map(_.toSeq).toSeq
    assert(q101 == q51)
    // and its plan carries no percentile aggregate (no multiset buffer)
    val plan = SparkEntry.queries("q101_histogram_percentile")(spark, SparkTestSession.sfDir)
      .queryExecution.executedPlan.toString
    assert(!plan.toLowerCase.contains("percentile"), plan)
  }

  test("q169 builds lazily: its quartile boundaries are a broadcast frame") {
    val q169 = SparkEntry.queries("q169_equidepth_buckets")
    q169(spark, SparkTestSession.sfDir) // table schemas resolved once
    val (_, jobs) = SparkTestSession.jobsDuring(q169(spark, SparkTestSession.sfDir))
    assert(jobs == 0, s"$jobs construction jobs")
  }

  test("histogramPercentiles handles 1-row groups, duplicates, negatives") {
    import spark.implicits._
    val df = Seq(("a", 5L), ("b", -3L), ("b", -3L), ("b", 1L), ("b", 2L),
      ("c", 10L), ("c", 20L)).toDF("g", "v")
    val got = operators.Relational
      .histogramPercentiles(df, "g", "v", Seq("p50" -> 0.5, "p25" -> 0.25))
      .orderBy("g").collect().map(r => (r.getString(0), r.getDouble(1), r.getDouble(2)))
    val want = df.groupBy("g").agg(
        expr("percentile(v, 0.5)").as("p50"), expr("percentile(v, 0.25)").as("p25"))
      .orderBy("g").collect().map(r => (r.getString(0), r.getDouble(1), r.getDouble(2)))
    assert(got.toSeq == want.toSeq)
  }

  test("madByGroup: hand-computed medians and MADs, outlier-robust") {
    import spark.implicits._
    // a: med 3, |dev| sorted 0,1,1,2,97 -> mad 1 (the 97 outlier is
    // invisible to MAD; stddev would be ~43); b: med 15, mad 5;
    // c: single row -> mad 0
    val df = Seq(("a", 1L), ("a", 2L), ("a", 3L), ("a", 4L), ("a", 100L),
      ("b", 10L), ("b", 20L), ("c", 7L)).toDF("g", "v")
    val got = operators.Relational.madByGroup(df, "g", "v")
      .orderBy("g").collect()
      .map(r => (r.getString(0), r.getDouble(1), r.getDouble(2)))
    assert(got.toSeq == Seq(("a", 3.0, 1.0), ("b", 15.0, 5.0), ("c", 7.0, 0.0)))
  }

  test("trimmedMeanByGroup: brute-force parity and outlier robustness") {
    import spark.implicits._
    val rnd = new scala.util.Random(11)
    val rows = (1 to 500).map(i => ("a", rnd.nextInt(10000).toLong)) ++
      Seq(("a", 99999999L)) ++ // one extreme outlier
      (1 to 37).map(i => ("b", i.toLong)) ++
      Seq(("c", 5L)) // 1-row group: hi==lo is false at trim 10% (lo=0)
    val df = rows.toDF("g", "v")
    val got = operators.Relational
      .trimmedMeanByGroup(df, "g", col("v"), trimPpm = 100000L)
      .orderBy("g").collect()
      .map(r => (r.getString(0), r.getAs[Long]("n_rows"),
        r.getAs[Long]("n_kept"), r.getAs[Long]("sum_c"),
        r.getAs[Long]("mean_milli_c"))).toSeq
    // brute force: sort, drop floor(n/10) from each side
    def brute(vs: Seq[Long]): (Long, Long, Long, Long) = {
      val s = vs.sorted; val n = s.size; val lo = n / 10
      val kept = s.slice(lo, n - lo)
      (n.toLong, kept.size.toLong, kept.sum, kept.sum * 1000 / kept.size)
    }
    val wantA = brute(rows.filter(_._1 == "a").map(_._2))
    val wantB = brute(rows.filter(_._1 == "b").map(_._2))
    val wantC = brute(Seq(5L))
    assert(got == Seq(
      ("a", wantA._1, wantA._2, wantA._3, wantA._4),
      ("b", wantB._1, wantB._2, wantB._3, wantB._4),
      ("c", wantC._1, wantC._2, wantC._3, wantC._4)))
    // the outlier was trimmed: mean stays in the uniform range
    val meanA = got.find(_._1 == "a").get._5 / 1000.0
    assert(meanA < 10000.0, s"outlier leaked into trimmed mean: $meanA")
  }

  test("weightedMedianByGroup: brute-force parity incl. tie and boundary cases") {
    import spark.implicits._
    val rows = Seq(("a", 10L, 1L), ("a", 20L, 2L), ("a", 30L, 1L), // W=4, half at v=20
      ("b", 5L, 10L),                                              // single value
      ("c", 1L, 1L), ("c", 2L, 1L))                                // even split: lower median
    val df = rows.toDF("g", "v", "w")
    val got = operators.Relational
      .weightedMedianByGroup(df, "g", col("v"), col("w"))
      .orderBy("g").collect()
      .map(r => (r.getString(0), r.getAs[Long]("w_total"), r.getAs[Long]("wmedian")))
    def brute(vw: Seq[(Long, Long)]): (Long, Long) = {
      val tot = vw.map(_._2).sum
      var cum = 0L
      for ((v, w) <- vw.sortBy(_._1)) { cum += w; if (cum * 2 >= tot) return (tot, v) }
      sys.error("unreachable")
    }
    val want = rows.groupBy(_._1).view
      .mapValues(g => brute(g.map(t => (t._2, t._3)))).toMap
    assert(got.toSeq == want.toSeq.sortBy(_._1).map { case (g, (t, m)) => (g, t, m) })
  }

  test("tokenGini: a template source concentrates, a diverse one flattens") {
    import spark.implicits._
    val docs = (
      (1L to 20L).map(i => (i, "spam spam spam spam spam eggs", "template")) ++
      (21L to 40L).map(i => (i, s"u${i}a u${i}b u${i}c u${i}d u${i}e u${i}f", "diverse"))
    ).toDF("doc_id", "text", "source")
    val got = operators.Curation.tokenGini(docs, "doc_id", "text", "source")
      .collect().map(r => r.getAs[String]("src") -> r.getAs[Long]("gini_ppm")).toMap
    // diverse: every token count 1 -> gini exactly 0
    assert(got("diverse") == 0L, s"diverse gini ${got("diverse")}")
    // template: 100 spam vs 20 eggs over 2 vocab items -> strongly positive
    assert(got("template") > 200000L, s"template gini ${got("template")}")
  }

  test("ntileOf matches ntile(k) for every position at sizes 1..13, k in 2..5") {
    import org.apache.spark.sql.expressions.Window
    import spark.implicits._
    val df = (1 to 13).flatMap(n => (1 to n).map(p => (n, p))).toDF("g", "p")
    for (k <- 2 to 5) {
      val w = Window.partitionBy("g").orderBy("p")
      val rows = df
        .withColumn("naive", ntile(k).over(w).cast("long"))
        .withColumn("arith", operators.Relational
          .ntileOf(col("p").cast("long"), count(lit(1)).over(Window.partitionBy("g")), k)
          .cast("long"))
        .collect()
      rows.foreach(r => assert(r.getLong(2) == r.getLong(3), s"k=$k row $r"))
    }
  }

  test("q43 equals its naive full-window form; rank window is GroupLimit-pruned") {
    import org.apache.spark.sql.expressions.Window
    val base = spark.read.parquet(s"${SparkTestSession.sfDir}/orders.parquet")
      .select(col("o_orderpriority"), col("o_orderkey"),
        round(col("o_totalprice") * 100).cast("long").as("total_c"))
    val w = Window.partitionBy("o_orderpriority")
      .orderBy(col("total_c").desc, col("o_orderkey"))
    val naive = base.select(col("o_orderpriority"), col("o_orderkey"), col("total_c"),
        rank().over(w).cast("long").as("rnk"),
        dense_rank().over(w).cast("long").as("drnk"),
        lead("o_orderkey", 1).over(w).as("next_key"),
        ntile(4).over(w).cast("long").as("quartile"))
      .filter(col("rnk") <= 10)
      .orderBy("o_orderpriority", "rnk").collect().map(_.toSeq).toSeq
    val q43 = SparkEntry.queries("q43_window_ranking")(spark, SparkTestSession.sfDir)
    assert(q43.collect().map(_.toSeq).toSeq == naive)
    val plan = q43.queryExecution.executedPlan.toString
    assert(plan.contains("WindowGroupLimit"), plan)
    assert(!plan.contains("ntile"), "ntile must be arithmetic, not a window fn")
  }

  test("q79 equals its naive full-window form; no distribution fn over raw orders") {
    import org.apache.spark.sql.expressions.Window
    val base = spark.read.parquet(s"${SparkTestSession.sfDir}/orders.parquet")
      .select(col("o_orderpriority"), col("o_orderkey"),
        round(col("o_totalprice") * 100).cast("long").as("total_c"))
    val w = Window.partitionBy("o_orderpriority")
      .orderBy(col("total_c").desc, col("o_orderkey").asc)
    val naive = base
      .withColumn("pr", round(percent_rank().over(w), 6))
      .withColumn("cd", round(cume_dist().over(w), 6))
      .filter(col("pr") <= 0.001)
      .orderBy("o_orderpriority", "o_orderkey").collect().map(_.toSeq).toSeq
    val q79 = SparkEntry.queries("q79_window_distribution")(spark, SparkTestSession.sfDir)
    assert(q79.collect().map(_.toSeq).toSeq == naive)
    val plan = q79.queryExecution.executedPlan.toString
    assert(!plan.contains("percent_rank") && !plan.contains("cume_dist"),
      "pr/cd must be arithmetic on (__rn, __n), not window fns over orders")
  }

  test("histogramPercentiles property: random data/fracs equal percentile()") {
    import spark.implicits._
    val rnd = new scala.util.Random(20260812L)
    for (trial <- 1 to 5) {
      val nGroups = 1 + rnd.nextInt(4)
      val rows = (1 to 200 + rnd.nextInt(300)).map { _ =>
        (s"g${rnd.nextInt(nGroups)}", (rnd.nextInt(60) - 20).toLong)
      }
      val df = rows.toDF("g", "v")
      val fracs = Seq("a" -> (0.01 + rnd.nextDouble() * 0.98),
        "b" -> (0.01 + rnd.nextDouble() * 0.98))
      val got = operators.Relational.histogramPercentiles(df, "g", "v", fracs)
        .orderBy("g").collect().map(r => (r.getString(0), r.getDouble(1), r.getDouble(2)))
      val want = df.groupBy("g").agg(
          expr(s"percentile(v, ${fracs(0)._2})").as("a"),
          expr(s"percentile(v, ${fracs(1)._2})").as("b"))
        .orderBy("g").collect().map(r => (r.getString(0), r.getDouble(1), r.getDouble(2)))
      assert(got.toSeq == want.toSeq, s"trial $trial fracs $fracs")
    }
  }

  test("topFractionByValue property: exact positions and full coverage") {
    import org.apache.spark.sql.expressions.Window
    import spark.implicits._
    val rnd = new scala.util.Random(4242L)
    for (trial <- 1 to 5) {
      val rows = (1 to 150 + rnd.nextInt(200)).map { i =>
        (s"p${rnd.nextInt(3)}", (rnd.nextInt(40)).toLong, i.toLong)
      }
      val df = rows.toDF("p", "v", "id")
      val frac = 0.02 + rnd.nextDouble() * 0.4
      val w = Window.partitionBy("p").orderBy(col("v").desc, col("id").asc)
      val truth = df
        .withColumn("rn", row_number().over(w))
        .withColumn("n", count(lit(1)).over(Window.partitionBy("p")))
        .collect().map(r => (r.getString(0), r.getLong(2)) ->
          ((r.getInt(3).toLong, r.getLong(4)))).toMap
      val got = operators.Relational.topFractionByValue(df, "p", "v", "id", frac)
        .collect().map(r => (r.getString(0), r.getLong(2), r.getInt(4).toLong, r.getLong(3)))
      // every returned row carries its TRUE full-partition position and n
      got.foreach { case (p, id, rn, n) =>
        assert(truth((p, id)) == ((rn, n)), s"trial $trial ($p,$id)")
      }
      // and every row with (pos-1) <= frac*(n-1) is covered
      val gotKeys = got.map(t => (t._1, t._2)).toSet
      truth.foreach { case ((p, id), (rn, n)) =>
        if ((rn - 1).toDouble <= frac * (n - 1))
          assert(gotKeys.contains((p, id)), s"trial $trial missing ($p,$id) rn=$rn n=$n")
      }
    }
  }

  test("stratifiedSample property: exact quota and head-of-ordering on random sizes") {
    import org.apache.spark.sql.expressions.Window
    import spark.implicits._
    val rnd = new scala.util.Random(77L)
    for (trial <- 1 to 4) {
      val rows = (1 to 100 + rnd.nextInt(400)).map { i =>
        (i.toLong, s"s${rnd.nextInt(5)}")
      }
      val df = rows.toDF("doc_id", "source")
      val frac = 0.05 + rnd.nextDouble() * 0.5
      val out = operators.Curation.stratifiedSample(df, "source", "doc_id", frac)
      val keyed = df.withColumn("__k",
        pmod(graft.functions.TextFunctions.tokenHash64(
          concat(lit("strat_"), col("doc_id").cast("string"))), lit(1000000L)))
      val w = Window.partitionBy("source").orderBy(col("__k").asc, col("doc_id").asc)
      val naive = keyed.withColumn("rn", row_number().over(w))
        .withColumn("n", count(lit(1)).over(Window.partitionBy("source")))
        .filter(col("rn") <= ceil(lit(frac) * col("n")))
        .select("source", "doc_id").collect().map(_.toSeq).toSet
      assert(out.select("source", "doc_id").collect().map(_.toSeq).toSet == naive,
        s"trial $trial frac $frac")
    }
  }

  test("parquet schema evolution: mergeSchema unions old and new file schemas") {
    import spark.implicits._
    // a long-lived corpus accumulates files written under evolving
    // schemas; mergeSchema reads must surface the union with nulls for
    // the columns older files lack
    val path = "/tmp/graft-test-evolution"
    Seq((1L, "a")).toDF("id", "text")
      .write.mode("overwrite").parquet(path)
    Seq((2L, "b", 0.9)).toDF("id", "text", "quality")
      .write.mode("append").parquet(path)
    val merged = spark.read.option("mergeSchema", "true").parquet(path)
    assert(merged.columns.sorted.toSeq == Seq("id", "quality", "text"))
    val rows = merged.orderBy("id").collect()
    assert(rows.length == 2)
    assert(rows(0).isNullAt(rows(0).fieldIndex("quality")))
    assert(rows(1).getDouble(rows(1).fieldIndex("quality")) == 0.9)
    // without mergeSchema, footer sampling may expose either schema —
    // the corpus contract is to always pass the option on evolving paths
  }

  test("dynamic partition pruning fires on a dim-filtered join") {
    // join-driven pruning: the partitioned fact's scan is filtered at
    // RUNTIME by the dim side's selective predicate — the 100 TB path
    // where the pruning key is only known after the dim filter runs
    val ev = engine.Tables.events(spark, SparkTestSession.sfDir)
      .withColumn("day", date_format(col("ts"), "yyyy-MM-dd"))
    val path = "/tmp/graft-test-partitioned-dpp"
    ev.write.mode("overwrite").partitionBy("day").parquet(path)
    val days = ev.select("day").distinct().as[String].collect().sorted
    assume(days.length > 1)
    val fact = spark.read.parquet(path)
    // the dim must be a SOURCE with a real Filter on top — a pre-filtered
    // in-memory relation collapses to a LocalRelation and the pruning
    // rule no longer sees a selective predicate
    val dimPath = "/tmp/graft-test-dpp-dim"
    days.zipWithIndex.toSeq.toDF("day", "tag")
      .write.mode("overwrite").parquet(dimPath)
    val dim = spark.read.parquet(dimPath).filter(col("day") === days.head)
    val joined = fact.join(dim, Seq("day"))
    val plan = joined.queryExecution.executedPlan.toString
    assert(plan.toLowerCase.contains("dynamicpruning"), plan.take(2000))
    assert(joined.count() == ev.filter(col("day") === days.head).count())
  }

  test("runtime bloom filter prunes the big side of a selective shuffle join") {
    // row-level runtime pruning: a bloom filter built from the filtered
    // dim side is pushed into the fact scan — the complement to DPP when
    // the fact is NOT partitioned by the join key. Thresholds are
    // lowered because the gates default to 10 MB / 10 GB table sizes;
    // broadcast is disabled to force the shuffle join the rule targets.
    val c = spark.conf
    val saved = Seq(
      "spark.sql.optimizer.runtime.bloomFilter.enabled",
      "spark.sql.optimizer.runtime.bloomFilter.creationSideThreshold",
      "spark.sql.optimizer.runtime.bloomFilter.applicationSideScanSizeThreshold",
      "spark.sql.autoBroadcastJoinThreshold",
      "spark.sql.adaptive.autoBroadcastJoinThreshold")
      .map(k => k -> scala.util.Try(c.get(k)).toOption.filter(_ != null)).toMap
    try {
      c.set("spark.sql.optimizer.runtime.bloomFilter.enabled", "true")
      // creation threshold is a MAX (build only from sides smaller than
      // this); application threshold is a MIN (only scans bigger than it
      // are worth filtering) — widen both gates for the tiny test tables
      c.set("spark.sql.optimizer.runtime.bloomFilter.creationSideThreshold", "1GB")
      c.set("spark.sql.optimizer.runtime.bloomFilter.applicationSideScanSizeThreshold", "1")
      c.set("spark.sql.autoBroadcastJoinThreshold", "-1")
      c.set("spark.sql.adaptive.autoBroadcastJoinThreshold", "-1")
      val li = spark.read.parquet(s"${SparkTestSession.sfDir}/lineitem.parquet")
        .select("l_orderkey", "l_quantity")
      val orders = spark.read.parquet(s"${SparkTestSession.sfDir}/orders.parquet")
        .select("o_orderkey", "o_orderpriority")
        .filter(col("o_orderpriority") === "1-URGENT")
      val joined = li.join(orders, col("l_orderkey") === col("o_orderkey"))
      val plan = joined.queryExecution.executedPlan.toString.toLowerCase
      assert(plan.contains("bloom"), plan.take(2000))
      // and the filter is not wrong: same rows as the plain join
      val expect = spark.read.parquet(s"${SparkTestSession.sfDir}/lineitem.parquet")
        .join(spark.read.parquet(s"${SparkTestSession.sfDir}/orders.parquet")
            .filter(col("o_orderpriority") === "1-URGENT"),
          col("l_orderkey") === col("o_orderkey")).count()
      assert(joined.count() == expect)
    } finally saved.foreach {
      case (k, Some(v)) => c.set(k, v)
      case (k, None)    => c.unset(k)
    }
  }

  test("round-9 plan shapes: HRW map-only, skyline join-free, SCD2 one exchange") {
    val dir = SparkTestSession.sfDir
    // q156: the double HRW assignment is map-only — the only shuffles
    // are the 16-key count agg and the 16-ROW final sort; the scan
    // prunes to doc_id alone
    val hrw = SparkEntry.queries("q156_rendezvous_shards")(spark, dir)
    val hrwPlan = hrw.queryExecution.executedPlan.toString
    assert("Exchange hashpartitioning".r.findAllIn(hrwPlan).length == 1,
      s"HRW should hash-shuffle once (the count agg):\n$hrwPlan")
    assert(hrwPlan.contains("ReadSchema: struct<doc_id:bigint>"),
      s"HRW scan should prune to doc_id:\n$hrwPlan")
    // q157: the distributed skyline never plans a join of any kind —
    // dominance is resolved by two mapPartitions passes
    val sky = SparkEntry.queries("q157_skyline")(spark, dir)
    val skyPlan = sky.queryExecution.executedPlan.toString
    assert(!skyPlan.contains("Join") && !skyPlan.contains("CartesianProduct"),
      s"skyline must be join-free:\n$skyPlan")
    // q160: both SCD2 windows share the user_id partitioning — ONE
    // exchange feeds the lag-filter-lead chain (plus none for the sort)
    val scd = graft.operators.Relational.scd2History(
      graft.engine.Tables.events(spark, dir), "user_id", "ts", "event_type",
      "event_id")
    assert(Shape.exchangeCount(scd) == 1,
      s"SCD2 should reuse one exchange:\n${scd.queryExecution.executedPlan}")
    // q164: mode is two hash aggregations, never a rank window over rows
    val mode = SparkEntry.queries("q164_group_mode")(spark, dir)
    val modePlan = mode.queryExecution.executedPlan.toString
    assert(!modePlan.contains("Window"), s"mode must not window:\n$modePlan")
    // q159: diff + merge compose to exactly two full-outer joins and no
    // broadcast-nested-loop fallback
    val merge = SparkEntry.queries("q159_merge_upsert")(spark, dir)
    val mergePlan = merge.queryExecution.executedPlan.toString
    assert("FullOuter".r.findAllIn(mergePlan).length == 2 &&
      !mergePlan.contains("BroadcastNestedLoopJoin"),
      s"merge should be two full-outer equi-joins:\n$mergePlan")
  }

  test("round-11 plan shapes: q185 posting, q190 joinless, q193 windowless") {
    val d = SparkTestSession.sfDir
    // q185: pairs come from generators over ONE basket agg — no
    // sort-merge join anywhere (the self-join form measured 12.7 s
    // at sf1); marginals ride broadcasts
    val p185 = graft.SparkEntry.queries("q185_cooccur_recs")(spark, d)
      .queryExecution.executedPlan.toString
    assert(!p185.contains("SortMergeJoin"), p185.take(600))
    assert(p185.contains("Generate"), p185.take(600))
    // q190: the Theil-Sen pair loop lives in the agg-buffer UDF — the
    // plan has NO join at all (the join form shuffled 9M pair rows)
    val p190 = graft.SparkEntry.queries("q190_theilsen_trend")(spark, d)
      .queryExecution.executedPlan.toString
    assert(!p190.contains("Join"), p190.take(600))
    // q193: the global rank is the distributed prefix-sum shape —
    // no Window operator (a single-partition window would be the
    // classic SNM scale bug)
    val p193 = graft.SparkEntry.queries("q193_snm_dedup")(spark, d)
      .queryExecution.executedPlan.toString
    assert(!p193.contains("Window"), p193.take(600))
  }

  test("continuation plan shapes: fingerprint one exchange, funnel windowless, gap-fill join-bounded") {
    import graft.operators.Relational
    import graft.functions.TextFunctions.tokenHash64
    val d = SparkTestSession.sfDir
    // q243's operator: ONE hash exchange (the bucket agg) and no join —
    // the whole fingerprint is a map-side-combined aggregation
    val fp = Relational.bucketFingerprints(
      graft.engine.Tables.lineitem(spark, d),
      tokenHash64(concat(lit("b_"), col("l_orderkey").cast("string"))),
      tokenHash64(col("l_returnflag")), nBuckets = 16)
    val fpPlan = fp.queryExecution.executedPlan.toString
    assert(Shape.exchangeCount(fp) == 1, fpPlan.take(600))
    assert(!fpPlan.contains("Join"), fpPlan.take(600))
    // q241: the funnel is min-aggs + equi-joins — NO Window operator
    // (the collect_list/rank funnel would be the classic skew bug) and
    // no nested-loop fallback
    val p241 = graft.SparkEntry.queries("q241_funnel")(spark, d)
      .queryExecution.executedPlan.toString
    assert(!p241.contains("Window"), p241.take(600))
    assert(!p241.contains("BroadcastNestedLoopJoin") &&
      !p241.contains("CartesianProduct"), p241.take(600))
    // q246's operator: exactly one join (grid LEFT JOIN closes), one
    // LOCF window, no cartesian anywhere
    import spark.implicits._
    val closes = Seq((1L, java.sql.Date.valueOf("2024-01-01"), 1L))
      .toDF("k", "day", "v")
    val gf = Relational.gapFillLocf(closes, "k", "day", "v")
    val gfPlan = gf.queryExecution.executedPlan.toString
    assert("Join".r.findAllIn(gfPlan).length >= 1 &&
      !gfPlan.contains("CartesianProduct"), gfPlan.take(600))
    assert("Window".r.findAllIn(gfPlan).length == 1, gfPlan.take(600))
    // q250: the island window partitions by user — never a global
    // single-partition window
    val p250 = graft.SparkEntry.queries("q250_activity_streaks")(spark, d)
      .queryExecution.executedPlan.toString
    assert(!p250.contains("Window [") ||
      p250.contains("windowspecdefinition(user_id"), p250.take(800))
  }

  test("bloom-pruned equi-join is a result-identity and prunes map-side") {
    import graft.operators.Relational
    val big = spark.range(0, 20000)
      .select(col("id").as("k"), (col("id") % 97).as("payload"))
    val small = spark.range(0, 20000)
      .filter(col("id") % 50 === 0) // 2% selective
      .select(col("id").as("sk"))
    def agg(df: org.apache.spark.sql.DataFrame) =
      df.agg(count(lit(1)), sum("payload")).collect()(0)
    val pruned = Relational.bloomPrunedEquiJoin(big, small, "k", "sk")
    assert(agg(pruned) == agg(big.join(small, col("k") === col("sk"))))
    // the prune sits on the BIG side's scan stage, before any exchange
    val plan = pruned.queryExecution.executedPlan.toString
    assert(plan.contains("might_contain"), plan.take(800))
    // keyBloom never produces a false NEGATIVE: every true match survives
    val n = pruned.count()
    assert(n == 400L, s"expected all 400 true matches, got $n")
  }
}
