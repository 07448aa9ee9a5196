package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.{Window, WindowSpec}
import org.apache.spark.sql.functions._

import graft.engine.Shape
import graft.engine.Shape.MaterializeOps

/** Relational composites Spark has no single built-in operator for:
  * per-group top-k, as-of join, and batch sessionization. All are
  * window/equi-join compositions (SURVEY.md §4.2: compose built-ins
  * before reaching for a custom SparkStrategy).
  */
object Relational {

  /** Ceiling on the distinct values an unkeyed value-histogram window
    * (single-partition by construction: [[valueRanks]] with no keys,
    * [[ksTwoSample]]) accepts before it raises with its caller's
    * remedy. 4M histogram rows sort comfortably in one task; a metric
    * past it must be quantized (dollars, buckets) or banded (q271)
    * first.
    */
  val HistMaxDistinct: Long = 4000000L

  /** The caller an unkeyed value-histogram window raises for past
    * `maxDistinct` distinct values, and the remedy its message names.
    */
  final case class RankGuard(caller: String, remedy: String,
                             maxDistinct: Long = HistMaxDistinct)

  /** The NULL rule of every value rank: a row with a NULL in any of
    * `cs` (its value, its weight, the other value of a pair) carries no
    * rank and counts toward no total, as SQL aggregates ignore NULL —
    * the median of (NULL, NULL, 1, 2, 3) is 2, as `percentile_cont`
    * gives.
    */
  private[graft] def rankedRows(df: DataFrame, cs: Column*): DataFrame =
    df.filter(cs.map(_.isNotNull).reduce(_ && _))

  /** `c`, raising when the single partition of the unkeyed spec `byV`
    * holds more than `g.maxDistinct` rows. The count is a full frame of
    * the same spec, so it rides the window's one sort. WindowBoundsSpec
    * proves every unpartitioned window sits above a bounded frame, so
    * Spark's per-execution "No Partition Defined" WARN is benign and
    * is silenced here, once per JVM.
    */
  private[graft] def histGuard(c: Column, byV: WindowSpec, g: RankGuard): Column = {
    quietUnpartitionedWindowWarn
    val nv = count(lit(1)).over(
      byV.rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing))
    when(nv > g.maxDistinct, raise_error(concat(
      lit(s"${g.caller}: > ${g.maxDistinct} distinct values — ${g.remedy}, got "),
      nv.cast("string"))))
      .otherwise(c)
  }

  private lazy val quietUnpartitionedWindowWarn: Unit =
    org.apache.logging.log4j.core.config.Configurator.setLevel(
      "org.apache.spark.sql.execution.window.WindowExec",
      org.apache.logging.log4j.Level.ERROR)

  /** The value-rank kernel every histogram rank, percentile and
    * quantile operator reads. For each (keys…, v) it returns `cnt`
    * (the weight at v), `below` (the weight strictly ahead of v in the
    * order, within keys) and `n` (the weight in keys), so the rows of
    * value v hold ranks [below+1, below+cnt]. Rows with a NULL value or
    * weight carry no rank ([[rankedRows]]).
    *
    * Scale shape: one (keys, v) aggregate, so the window runs over the
    * value DOMAIN, never |rows|. `n` is a full frame of the same spec:
    * `WindowExec` buffers each partition whatever the frame, so the
    * total costs no pass, and no aggregate or join. With no keys the
    * window is single-partition; it then needs a [[RankGuard]] and
    * raises past its bound ([[histGuard]]).
    */
  def valueRanks(df: DataFrame, keys: Seq[String], v: String,
                 weight: Column = lit(1L), descending: Boolean = false,
                 guard: Option[RankGuard] = None): DataFrame = {
    require(keys.nonEmpty || guard.nonEmpty,
      "valueRanks: an unkeyed rank window is single-partition and needs a RankGuard")
    val byV = Window.partitionBy(keys.map(col): _*)
      .orderBy(if (descending) col(v).desc else col(v).asc)
    val below = sum("cnt").over(byV) - col("cnt")
    rankedRows(df, col(v), weight)
      .groupBy((keys :+ v).map(col): _*).agg(sum(weight).as("cnt"))
      .withColumn("below", guard.fold(below)(histGuard(below, byV, _)))
      .withColumn("n", sum("cnt").over(
        byV.rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)))
  }

  /** Selects the one [[valueRanks]] row per key whose rank interval
    * [below+1, below+cnt] holds `rank` (1 ≤ rank ≤ n): filter by it, or
    * aggregate `max(when(valueAtRank(r), v))`. The same rule serves
    * ascending and descending tables.
    */
  def valueAtRank(rank: Column): Column =
    col("below") < rank && rank <= col("below") + col("cnt")

  /** Theta-pair fan-out guard (the [[mcnemarPpm]] enforced-bound
    * contract applied to C(n,2) self-joins): returns
    * `df` with `guardCol` rewritten to RAISE when the frame holds more
    * than `bound` rows. The guard is woven INTO the kept column — a
    * dropped side column would be erased by column pruning — and the
    * 1-row count broadcast evaluates as the side is scanned, so an
    * over-bound domain fails fast with the remedy named instead of
    * silently costing C(n,2) pair evaluations downstream.
    *
    * Cost: the embedded count aggregate re-evaluates
    * for EVERY downstream reference of the guarded frame — a caller
    * that fans the result out k ways (mannKendall: a side, b side, and
    * its own n_pts agg — three) re-scans and re-counts the base up to
    * k extra times per call. Acceptable under the guard's own contract
    * (the side is day-/domain-bounded, thousands of rows, and the
    * re-scan is a bounded agg, not the C(n,2) join being guarded);
    * callers fanning out a frame whose SCAN is expensive should
    * `.materialized` the guarded result once first.
    */
  private[graft] def boundedSelfJoinSide(df: DataFrame, guardCol: String,
      bound: Long, what: String, remedy: String): DataFrame = {
    val n = df.agg(count(lit(1)).cast("long").as("__nguard"))
    val others = df.columns.filterNot(_ == guardCol).map(col)
    df.crossJoin(broadcast(n))
      .select(others :+
        when(col("__nguard") > bound, raise_error(concat(
          lit(s"$what: "), col("__nguard").cast("string"),
          lit(s" rows on one side of a C(n,2) self-join exceeds the " +
            s"enforced bound $bound — $remedy"))))
        .otherwise(col(guardCol)).as(guardCol): _*)
  }

  /** Per-group top-k via ranking window; ties broken by `tieBreak` so the
    * result is deterministic (oracle-comparable). At scale this is one
    * hash exchange on the group key and a partial top-k per partition
    * (Spark's WindowGroupLimit pushes `rank <= k` below the sort since
    * 3.5, so partitions pre-prune to k rows before the shuffle).
    */
  def topKPerGroup(df: DataFrame, groupCols: Seq[String],
                   orderCol: Column, tieBreak: Column, k: Int,
                   rankName: String = "rnk"): DataFrame = {
    val w = Window.partitionBy(groupCols.map(col): _*).orderBy(orderCol, tieBreak)
    df.withColumn(rankName, row_number().over(w)).filter(col(rankName) <= k)
  }

  /** As-of join: for each left row, the single latest right row with
    * rightTime <= leftTime, matched on an equi-key. Implemented as
    * equi-join on the key + range predicate + row_number dedup — the
    * equi-key keeps the join hash-partitioned (no range-only cross
    * product); the window dedups to the most recent right row.
    * Both inputs must carry distinct column names.
    */
  def asOfJoin(left: DataFrame, right: DataFrame,
               leftKey: String, rightKey: String,
               leftTime: String, rightTime: String,
               leftId: String, rightTieBreak: String): DataFrame = {
    val joined = left.join(right,
      col(leftKey) === col(rightKey) && col(rightTime) <= col(leftTime),
      "inner")
    val w = Window.partitionBy(col(leftId))
      .orderBy(col(rightTime).desc, col(rightTieBreak).desc)
    joined.withColumn("__rn", row_number().over(w))
      .filter(col("__rn") === 1)
      .drop("__rn")
  }

  /** As-of join, merge form — the 100 TB shape. [[asOfJoin]] fans out
    * EVERY right row with rightTime <= leftTime per left row before the
    * window dedups (a hot key with n lefts × m rights materializes n·m
    * join rows). This form never builds pairs: both sides are tagged and
    * unioned, one exchange on the key, one sort by (time, side,
    * tieBreak), and a cumulative last(right payload, ignoreNulls) hands
    * each left row its nearest right row.
    *
    * forward=false: the LATEST right at-or-before each left — rights
    * sort before lefts at equal time, so the match is inclusive
    * (rightTime <= leftTime), and the max tieBreak wins among equal
    * times: exactly [[asOfJoin]]'s pick. forward=true: the EARLIEST
    * right at-or-after each left (min tieBreak at equal times) — the
    * scan order is simply reversed. toleranceSeconds >= 0 additionally
    * requires |rightTime - leftTime| <= tolerance; the comparison is
    * exact integer MICROseconds (unix_micros), because epoch-seconds
    * doubles can round across the boundary differently per engine.
    * Inner semantics: lefts with no match (or none within tolerance)
    * are dropped. Output = left columns ++ right columns (both inputs
    * must carry distinct names).
    */
  def asOfJoinMergeDirected(left: DataFrame, right: DataFrame,
                            leftKey: String, rightKey: String,
                            leftTime: String, rightTime: String,
                            rightTieBreak: String,
                            forward: Boolean,
                            toleranceSeconds: Long = -1L): DataFrame = {
    import org.apache.spark.sql.types.StructType
    val lCols = left.columns.toSeq
    val rCols = right.columns.toSeq
    val lPart = left.select(col(leftKey).as("__k"), col(leftTime).as("__t"),
      lit(1).as("__side"),
      lit(null).cast(right.schema(rightTieBreak).dataType).as("__tb"),
      struct(lCols.map(col): _*).as("__l"),
      lit(null).cast(StructType(right.schema.fields)).as("__r"))
    val rPart = right.select(col(rightKey).as("__k"), col(rightTime).as("__t"),
      lit(0).as("__side"),
      col(rightTieBreak).as("__tb"),
      lit(null).cast(StructType(left.schema.fields)).as("__l"),
      struct(rCols.map(col): _*).as("__r"))
    val w = (if (forward)
      Window.partitionBy("__k")
        .orderBy(col("__t").desc, col("__side").asc, col("__tb").desc)
    else
      Window.partitionBy("__k")
        .orderBy(col("__t").asc, col("__side").asc, col("__tb").asc))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val matched = lPart.unionAll(rPart)
      .withColumn("__m", last(col("__r"), ignoreNulls = true).over(w))
      .filter(col("__side") === 1 && col("__m").isNotNull)
    val withinTol =
      if (toleranceSeconds < 0) matched
      else matched.filter(
        abs(unix_micros(col(s"__m.$rightTime")) - unix_micros(col("__t")))
          <= toleranceSeconds * 1000000L)
    withinTol
      .select(lCols.map(c => col(s"__l.$c")) ++ rCols.map(c => col(s"__m.$c")): _*)
  }

  /** Interval overlap join without a cross product: each interval is
    * replicated into the fixed-width time buckets it covers, the join is
    * an EQUI-join on the bucket, the exact overlap predicate filters
    * within buckets, and each qualifying pair is emitted EXACTLY ONCE —
    * by the bucket containing the later of the two starts — so no
    * distinct/dedup shuffle is needed. Shuffle volume = sum of
    * (interval length / bucketWidth + 1) over both inputs; bucketWidth
    * trades that replication against per-bucket pair fan-out (pick it
    * near the typical interval length). Times are integers (epoch
    * seconds, days, ...); inputs must carry distinct column names.
    */
  def intervalOverlapJoin(a: DataFrame, b: DataFrame,
                          aStart: String, aEnd: String,
                          bStart: String, bEnd: String,
                          bucketWidth: Long): DataFrame = {
    require(bucketWidth >= 1, s"bucketWidth must be >= 1, got $bucketWidth")
    def bucketize(df: DataFrame, s: String, e: String) =
      df.withColumn("__bucket", explode(sequence(
        floor(col(s) / bucketWidth).cast("long"),
        floor(col(e) / bucketWidth).cast("long"))))
    val ab = bucketize(a, aStart, aEnd)
    val bb = bucketize(b, bStart, bEnd)
    ab.join(bb,
        ab("__bucket") === bb("__bucket") &&
        col(aStart) <= col(bEnd) && col(bStart) <= col(aEnd) &&
        floor(greatest(col(aStart), col(bStart)) / bucketWidth).cast("long")
          === ab("__bucket"))
      .drop("__bucket")
  }

  /** Trailing value-RANGE window sum, scale-safe for low-cardinality
    * partition keys. A naive `sum(v).over(partitionBy(p).orderBy(k)
    * .rangeBetween(-n, 0))` puts the ENTIRE table into |p| window
    * partitions — 5 priorities means 5 tasks no matter how many
    * executors exist, and AQE cannot split a window partition. But a
    * trailing RANGE sum depends only on (p, k): every row with the same
    * partition key and order key sees the identical frame. So:
    * pre-aggregate to the bounded (p, k) series, run the frame over
    * that tiny series, and broadcast-join each row its trailing sum
    * back. The window input shrinks from |rows| to |p|x|k-domain|
    * (orders of magnitude at corpus scale) and the join is a broadcast
    * — no extra shuffle of the fact table. Requires the (p, k) domain
    * to be broadcastable (true for any date/bucket-keyed series).
    * Returns `df` plus `outName`.
    */
  def trailingRangeSum(df: DataFrame, partCol: String, orderCol: String,
                       valueCol: String, preceding: Long,
                       outName: String): DataFrame = {
    val series = df.groupBy(partCol, orderCol)
      .agg(sum(col(valueCol)).as("__series_v"))
    val w = Window.partitionBy(partCol).orderBy(col(orderCol))
      .rangeBetween(-preceding, Window.currentRow)
    val trail = series
      .withColumn(outName, sum(col("__series_v")).over(w))
      .drop("__series_v")
    df.join(broadcast(trail), Seq(partCol, orderCol))
  }

  /** The head of each partition by (valCol DESC, tieCol ASC) covering
    * at least the top `coverFrac` fraction of rows, with each row's
    * exact FULL-partition position (`__rn`) and partition size (`__n`)
    * attached. Positional window functions (percent_rank, cume_dist,
    * rank) partitioned by a low-cardinality key put the ENTIRE table
    * into |key| tasks; when only the top sliver of each partition is
    * kept, the positions of the survivors are still computable exactly:
    * a value histogram (bounded by the value domain, never |rows|)
    * yields the per-partition value threshold `v*` covering the needed
    * positions, the threshold broadcasts into a map-only filter, and
    * the positional window runs over the surviving sliver only. The
    * survivors are a PREFIX of the partition ordering, so positions
    * within them equal full-partition positions. (pos-1) <= coverFrac *
    * (n-1) rows are guaranteed covered — widen coverFrac if a
    * post-rounding filter needs boundary rows. (tieCol, valCol) must
    * order rows uniquely for `__rn` to be the exact position.
    */
  def topFractionByValue(df: DataFrame, partCol: String, valCol: String,
                         tieCol: String, coverFrac: Double): DataFrame = {
    require(coverFrac > 0 && coverFrac <= 1, s"coverFrac in (0,1], got $coverFrac")
    val thresholds = valueRanks(df, Seq(partCol), valCol, descending = true)
      .filter(valueAtRank(floor(lit(coverFrac) * (col("n") - 1)) + lit(1)))
      .select(col(partCol), col(valCol).as("__vstar"), col("n").as("__n"))
    val w = Window.partitionBy(partCol).orderBy(col(valCol).desc, col(tieCol).asc)
    df.join(broadcast(thresholds), Seq(partCol))
      .filter(col(valCol) >= col("__vstar"))
      .withColumn("__rn", row_number().over(w))
      .drop("__vstar")
  }

  /** ntile(k) as arithmetic on (1-based position, partition size) —
    * no window over the full partition needed when position and size
    * are already known (e.g. from [[topFractionByValue]]): with
    * b = floor(n/k) and r = n mod k, the first r buckets hold b+1 rows
    * (the SQL-standard distribution Spark and DuckDB both implement),
    * so bucket(p) = ceil(p/(b+1)) for p <= r*(b+1), else
    * r + ceil((p - r*(b+1))/b).
    */
  def ntileOf(pos: Column, n: Column, k: Int): Column = {
    val b = floor(n / k)
    val r = n - b * k
    val cut = r * (b + 1)
    when(pos <= cut, ceil(pos / (b + 1)))
      .otherwise(r + ceil((pos - cut) / b))
  }

  /** Exact interpolated percentiles (ANSI percentile_cont index rule:
    * h = (n-1)*p, linear interpolation between the values at floor(h)
    * and ceil(h)) over an INTEGER-valued column, computed from a value
    * histogram instead of a buffered multiset. Spark's built-in
    * `percentile` collects every group's values into one in-memory
    * map per group; for a billion-row group that buffer is the scale
    * bottleneck. Here the only per-group state is the DISTINCT-value
    * [[valueRanks]] table (bounded by the value domain — cents,
    * quantities — never by |rows|), then one aggregation picking the
    * values at ranks floor(h)+1 and ceil(h)+1 per percentile. NULL
    * values carry no rank. `ps` maps output column name -> fraction in
    * [0,1]; returns one row per group with a double column per
    * percentile.
    */
  def histogramPercentiles(df: DataFrame, grpCol: String, valCol: String,
                           ps: Seq[(String, Double)]): DataFrame = {
    require(ps.nonEmpty, "at least one percentile required")
    val aggCols = ps.flatMap { case (name, p) =>
      val h = (col("n") - lit(1)) * lit(p)
      Seq(
        max(when(valueAtRank(floor(h) + 1), col(valCol))).as(s"__lo_$name"),
        max(when(valueAtRank(ceil(h) + 1), col(valCol))).as(s"__hi_$name"),
        // h (hence its fractional part) is group-constant; max picks it
        max(h - floor(h)).as(s"__fr_$name"))
    }
    val agged = valueRanks(df, Seq(grpCol), valCol)
      .groupBy(grpCol).agg(aggCols.head, aggCols.tail: _*)
    ps.foldLeft(agged) { case (acc, (name, _)) =>
      acc.withColumn(name,
          col(s"__lo_$name").cast("double") +
            col(s"__fr_$name") * (col(s"__hi_$name") - col(s"__lo_$name")))
        .drop(s"__lo_$name", s"__hi_$name", s"__fr_$name")
    }
  }

  /** Exact per-group median absolute deviation (MAD) — the robust
    * spread statistic outlier-heavy quality metrics need (stddev is
    * dragged by the outliers MAD ignores) — composed from TWO
    * [[histogramPercentiles]] passes so per-group state stays bounded
    * by the value domain, never |rows|: (1) interpolated median per
    * group; (2) deviations |x - med| — kept INTEGRAL by doubling
    * (2·med is exactly integral: the interpolated median of integers
    * is a value or a midpoint, and its fraction is 0 or 0.5, exact in
    * binary) — then the deviation median, halved back. The per-group
    * median table is one row per group and broadcasts back over the
    * scan; no multiset is ever buffered. Returns (grp, med, mad) with
    * doubles un-rounded (callers round for oracle compare).
    */
  def madByGroup(df: DataFrame, grpCol: String, valCol: String): DataFrame = {
    // read by the deviation join AND the output join, both as a lazy
    // broadcast: building the plan runs no job
    val med = broadcast(histogramPercentiles(df, grpCol, valCol, Seq("med" -> 0.5)))
    val dev = df.join(med, Seq(grpCol))
      .select(col(grpCol),
        abs(lit(2L) * col(valCol).cast("long")
          - round(lit(2.0) * col("med")).cast("long")).as("__dev2"))
    med.join(
        histogramPercentiles(dev, grpCol, "__dev2", Seq("mad2" -> 0.5)),
        Seq(grpCol))
      .select(col(grpCol), col("med"), (col("mad2") / 2.0).as("mad"))
      // [[Shape.shield]]: callers sort this result (q124: two identical
      // 0.33 s med⋈mad join jobs without it)
      .transform(Shape.shield)
  }

  /** Exact per-group two-sided trimmed mean (robust location): drop the
    * lowest and highest floor(n·trimPpm/10⁶) values, average the rest —
    * all in exact integer arithmetic over a cents-valued column.
    *
    * Same scale shape as [[histogramPercentiles]]/[[madByGroup]]: the
    * corpus reduces to a (group, value) [[valueRanks]] table first, so
    * the ordered window runs over rows bounded by the value DOMAIN,
    * never |rows| — ties need no ordering decision because equal values
    * contribute interchangeably to the trimmed sum (the rows of value v
    * hold ranks [below+1, below+cnt], of which
    * max(0, min(below+cnt, hi) − max(below, lo)) are kept). Returns
    * (group, n_rows, n_kept, sum_c, mean_milli_c); groups too small to
    * keep anything after trimming (hi == lo) are dropped rather than
    * dividing by zero.
    */
  def trimmedMeanByGroup(df: DataFrame, grpCol: String, valCents: Column,
                         trimPpm: Long = 100000L): DataFrame = {
    require(trimPpm >= 0 && trimPpm < 500000L,
      s"trimPpm must be in [0, 500000), got $trimPpm")
    valueRanks(df.withColumn("__v", valCents), Seq(grpCol), "__v")
      .withColumn("__lo", expr(s"(n * $trimPpm) div 1000000"))
      .withColumn("__hi", col("n") - col("__lo"))
      .filter(col("__hi") > col("__lo"))
      .withColumn("__keep", greatest(lit(0L),
        least(col("below") + col("cnt"), col("__hi"))
          - greatest(col("below"), col("__lo"))))
      .groupBy(grpCol)
      .agg(max(col("n")).as("n_rows"),
        sum(col("__keep")).as("n_kept"),
        sum(col("__keep") * col("__v")).as("sum_c"))
      .withColumn("mean_milli_c", expr("(sum_c * 1000) div n_kept"))
  }

  /** Exact per-group WEIGHTED (lower) median: the smallest value v whose
    * cumulative weight reaches half the group's total — the
    * inventory-weighted price statistic. All integer (2·cumw >= W
    * avoids the half division), so it hash-compares across engines.
    *
    * BUCKET-PARTITIONED cum: a near-unique value column (prices in
    * cents) degenerates the naive histogram form — its per-GROUP
    * ordered window re-sorts ~|rows| on #groups tasks (measured 8.2 s
    * at sf10 on 60M lineitem rows, 3 tasks doing all the work). Here
    * the running weight is the classic two-level prefix sum: a window
    * partitioned by (group, value div bucketWidth) — sort parallelism
    * = #buckets, per-task state ≤ bucketWidth values — plus a bucket
    * PREFIX table (one row per bucket, broadcast back). One corpus
    * scan, one (group, value) shuffle; a re-scanning two-phase variant
    * measured slower locally (11.6 s — the second scan costs more than
    * it saves) and the bucket-window form is also the cluster-correct
    * shape: no stage's parallelism is bounded by #groups.
    * Returns (group, w_total, wmedian).
    */
  def weightedMedianByGroup(df: DataFrame, grpCol: String, valCol: Column,
                            weightCol: Column,
                            bucketWidth: Long = 65536L): DataFrame = {
    require(bucketWidth >= 1, s"bucketWidth must be >= 1, got $bucketWidth")
    // Not [[valueRanks]]: its per-group window sorts on #groups tasks,
    // and this two-level prefix's sort parallelism is #buckets.
    // Materialized because hist feeds both the bucket-prefix/total
    // aggregates and the window path, and column pruning specializes
    // each consumer's exchange (different projected columns, so no
    // ReuseExchange): unmaterialized, the q150 profile ran the corpus
    // scan + histogram agg twice (two identical 1.2 s 7 MB map jobs).
    // The histogram is value-domain-bounded, so the checkpoint is small.
    val hist = rankedRows(
        df.select(col(grpCol), valCol.as("__v"), weightCol.as("__w")),
        col("__v"), col("__w"))
      .groupBy(grpCol, "__v").agg(sum("__w").as("__wv"))
      .withColumn("__b", expr(s"__v div $bucketWidth"))
      .materialized
    // within-bucket running weight: partitioned by (group, BUCKET), so
    // sort parallelism is #buckets-wide and per-task state is bounded
    // by bucketWidth distinct values
    val inB = Window.partitionBy(col(grpCol), col("__b")).orderBy("__v")
    // bucket prefix: tiny (one row per bucket), its own ordered window
    val byB = Window.partitionBy(grpCol).orderBy("__b")
    val buckets = hist.groupBy(grpCol, "__b").agg(sum("__wv").as("__wb"))
      .withColumn("__before", sum("__wb").over(byB) - col("__wb"))
    val totals = buckets.groupBy(grpCol).agg(sum("__wb").as("__tot"))
    hist
      .withColumn("__cumin", sum("__wv").over(inB))
      .join(broadcast(buckets.select(col(grpCol), col("__b"), col("__before"))),
        Seq(grpCol, "__b"))
      .join(broadcast(totals), Seq(grpCol))
      .filter((col("__before") + col("__cumin")) * 2 >= col("__tot"))
      .groupBy(grpCol)
      .agg(max(col("__tot")).as("w_total"), min(col("__v")).as("wmedian"))
  }

  /** Batch sessionization: events per user are split into sessions
    * whenever the gap to the previous event exceeds `gapSeconds`; returns
    * one row per session with start/end/count. The lag + running-sum of
    * session-breaks is the classic two-window formulation — both windows
    * share the same (user) partitioning, so Spark plans ONE exchange and
    * two sorts over it.
    */
  def sessionize(events: DataFrame, userCol: String, tsCol: String,
                 gapSeconds: Long): DataFrame = {
    val byUser = Window.partitionBy(userCol).orderBy(col(tsCol))
    val withBreak = events
      .withColumn("__prev", lag(col(tsCol), 1).over(byUser))
      .withColumn("__new_session",
        when(col("__prev").isNull ||
          unix_timestamp(col(tsCol)) - unix_timestamp(col("__prev")) > gapSeconds, 1L)
          .otherwise(0L))
      .withColumn("session_seq",
        sum("__new_session").over(byUser.rowsBetween(Window.unboundedPreceding, 0)))
    withBreak
      .groupBy(col(userCol), col("session_seq"))
      .agg(
        min(col(tsCol)).as("session_start"),
        max(col(tsCol)).as("session_end"),
        count(lit(1)).as("n_events"))
  }

  /** Trailing exponentially-weighted moving average per series key,
    * FIXED-POINT: for each row, fold the last `span` observations (frame
    * order) with acc' = ((den-num)*acc + num*x) div den, seeded by the
    * frame's first value. `valCol` must be a pre-scaled integer (e.g.
    * milli-cents) — the caller's scale factor is the truncation-error
    * knob. Integer state is WHY this is oracle-exact: a double fold of
    * 2-decimal money with alpha = 1/4 lands on exact 4-decimal MIDPOINTS
    * (denominators 4^k divide 10^2k), where Spark's BigDecimal HALF_UP
    * and DuckDB's multiply-then-round diverge by 1 ulp — measured
    * 3/1981 rows before this formulation. Truncating div and floor `//`
    * agree for the nonnegative operands required here. The truncated
    * frame keeps the fold bounded (`span` longs per row, independent of
    * history length); one exchange on the key, one sort.
    */
  def ewmaTrailing(df: DataFrame, keyCol: String, orderCols: Seq[Column],
                   valCol: String, alphaNum: Long, alphaDen: Long, span: Int,
                   outName: String = "ewma"): DataFrame = {
    require(alphaNum > 0 && alphaNum < alphaDen,
      s"alpha must be in (0,1), got $alphaNum/$alphaDen")
    require(span >= 1, s"span must be >= 1, got $span")
    val w = Window.partitionBy(keyCol).orderBy(orderCols: _*)
      .rowsBetween(-(span - 1), Window.currentRow)
    df.withColumn("__vs", collect_list(col(valCol)).over(w))
      .withColumn(outName, expr(
        s"aggregate(__vs, CAST(NULL AS BIGINT), (acc, x) -> " +
        s"CASE WHEN acc IS NULL THEN x ELSE " +
        s"(${alphaDen - alphaNum}L * acc + ${alphaNum}L * x) div ${alphaDen}L END)"))
      .drop("__vs")
  }

  /** Batch sessionization via the built-in `session_window` — the same
    * API the streaming path (EventStreams.sessionCounts) uses, so the
    * batch/stream twins share semantics by construction. One hash
    * aggregation with session merging instead of [[sessionize]]'s
    * exchange + two window sorts. Per session_window semantics,
    * session_end is the LAST EVENT + gap (the eviction time), where
    * [[sessionize]] reports the last event itself; the two agree up to
    * that constant (asserted in tests).
    */
  def sessionizeSW(events: DataFrame, userCol: String, tsCol: String,
                   gapSeconds: Long): DataFrame =
    events
      .groupBy(col(userCol), session_window(col(tsCol), s"$gapSeconds seconds"))
      .agg(count(lit(1)).as("n_events"))
      .select(col(userCol),
        col("session_window.start").as("session_start"),
        col("session_window.end").as("session_end"),
        col("n_events"))

  /** Snapshot diff — derive a CDC changelog (insert/update/delete)
    * between two versions of a keyed table, the step every
    * incremental-ingest pipeline needs when the upstream only publishes
    * full snapshots. One full-outer equi-join on the key: a key only in
    * `newDf` is an insert, only in `oldDf` a delete, in both with any
    * non-key column differing an update (struct equality, null-safe via
    * `<=>`). Returns key columns + change_type + old/new payload
    * structs; callers project what they need.
    *
    * Scale: the join is one shuffle per side on the snapshot key —
    * AQE-splittable; with both snapshots bucket-written on the key
    * (`bucketBy`) it degrades to a zero-shuffle sort-merge.
    * Payloads ride as single structs so the exchange carries each row
    * once, not once per compared column.
    */
  /** Incremental sum/count maintenance: roll a [[snapshotDiff]]
    * changelog into a previously materialized per-group aggregate
    * WITHOUT recomputing from the new snapshot. Each changelog row
    * contributes (-old, -1) under its OLD group and (+new, +1) under
    * its NEW group — inserts/deletes contribute one side (presence of
    * the old_row/new_row STRUCT gates the contribution, so a genuinely
    * NULL group key still contributes to the NULL group like a full
    * recompute would), and an update that MOVES a row between groups is
    * automatically a delete+insert pair, so group-changing updates need
    * no special case. Groups whose count reaches zero disappear,
    * matching a full recompute exactly; the merge join is null-safe so
    * the NULL group in prevAgg and in the deltas land on one row.
    *
    * `prevAgg` must carry (gField, sum_v, n); `changelog` is
    * [[snapshotDiff]] output whose payload struct carries gField and
    * vField. Returns (gField, sum_v, n) for the NEW snapshot.
    *
    * Scale shape — the reason to maintain instead of recompute: the
    * delta aggregation shuffles only |changelog| rows and the merge
    * join only |changed groups ∪ prev groups|; a day's changelog
    * against a 100 TB fact table never re-reads the fact table. The
    * equality with full recompute is the oracle contract (q128's
    * oracle IS the full recompute on v2).
    */
  def incrementalSumCount(prevAgg: DataFrame, changelog: DataFrame,
                          gField: String, vField: String): DataFrame = {
    require(prevAgg.columns.toSeq == Seq(gField, "sum_v", "n"),
      s"prevAgg must be ($gField, sum_v, n); got ${prevAgg.columns.mkString(",")}")
    val contrib = changelog
      .filter(col("change_type") =!= "unchanged")
      .select(explode(array(
        struct(col("old_row").isNotNull.as("present"),
          col(s"old_row.$gField").as("g"),
          (-col(s"old_row.$vField")).as("dv"), lit(-1L).as("dn")),
        struct(col("new_row").isNotNull.as("present"),
          col(s"new_row.$gField").as("g"),
          col(s"new_row.$vField").as("dv"), lit(1L).as("dn")))).as("c"))
      // Struct-level presence, NOT group-key nullness: an insert's
      // missing old side drops here, but a real row whose group key is
      // NULL keeps its contribution (it belongs to the NULL group).
      .filter(col("c.present"))
      .select(col("c.g").as(gField), col("c.dv"), col("c.dn"))
    val deltas = contrib.groupBy(gField)
      .agg(sum("dv").as("__dsum"), sum("dn").as("__dn"))
      .withColumnRenamed(gField, "__dg")
    // Null-safe merge so the NULL group matches across the two sides.
    prevAgg.join(deltas, prevAgg(gField) <=> col("__dg"), "full_outer")
      .select(coalesce(prevAgg(gField), col("__dg")).as(gField),
        (coalesce(col("sum_v"), lit(0L)) + coalesce(col("__dsum"), lit(0L))).as("sum_v"),
        (coalesce(col("n"), lit(0L)) + coalesce(col("__dn"), lit(0L))).as("n"))
      .filter(col("n") > 0)
  }

  /** Apply a [[snapshotDiff]] changelog to the OLD snapshot — the
    * MERGE/upsert write path that completes the CDC round trip
    * (diff → [[incrementalSumCount]] for aggregates, diff → this for
    * the base table): deletes drop, updates/inserts take `new_row`,
    * untouched keys pass through. `applyChangelog(v1, snapshotDiff(v1,
    * v2)) == v2` is the operator's contract (asserted in EntrySpec and
    * by q159's oracle, which derives the new snapshot directly).
    *
    * Scale: one full-outer equi-join on the key — the changelog side is
    * a day's changes, not the table; with the snapshot bucket-written
    * on the key it degrades to zero-shuffle sort-merge, and the output
    * can be written straight back into the same bucketing. Payloads
    * ride as single structs (inherited from the diff), so the exchange
    * carries each row once.
    */
  def applyChangelog(snapshot: DataFrame, changelog: DataFrame,
                     keyCols: Seq[String]): DataFrame = {
    require(keyCols.nonEmpty, "applyChangelog needs at least one key column")
    val payload = snapshot.columns.filterNot(keyCols.contains)
    val s = snapshot.select(keyCols.map(col) :+
      struct(payload.map(col): _*).as("__cur"): _*)
    val c = changelog
      .filter(col("change_type") =!= "unchanged")
      .select(keyCols.map(col) :+ col("change_type") :+ col("new_row"): _*)
    s.join(c, keyCols, "full_outer")
      .filter(col("change_type").isNull || col("change_type") =!= "delete")
      .withColumn("__out",
        when(col("change_type").isNull, col("__cur")).otherwise(col("new_row")))
      .select(keyCols.map(col) ++
        payload.map(p => col(s"__out.$p").as(p)): _*)
  }

  /** SCD Type-2 dimension history from a raw event stream: per key,
    * collapse consecutive rows with the same tracked attribute and emit
    * one validity interval per CHANGE — (key, attr, valid_from,
    * valid_to, is_current), valid_to = next change's timestamp (null =
    * open/current). This is the point-in-time dimension table an as-of
    * join (q21) probes.
    *
    * Two windows, both partitioned by the key and ordered by
    * (ts, tieCol) — Spark plans ONE exchange and reuses the sort: a
    * lag() to find change points, then a lead() over the surviving
    * change rows for interval ends. State per key = its rows in one
    * partition; nothing is global. `tieCol` makes same-timestamp events
    * deterministic and must be NON-NULL (its lag doubles as the
    * first-row detector, so a null attribute never fakes a change
    * point); attribute comparison is null-safe.
    */
  def scd2History(events: DataFrame, keyCol: String, tsCol: String,
                  attrCol: String, tieCol: String): DataFrame = {
    val w = Window.partitionBy(keyCol).orderBy(col(tsCol), col(tieCol))
    events
      .select(col(keyCol), col(tsCol), col(attrCol), col(tieCol))
      .withColumn("__prev", lag(col(attrCol), 1).over(w))
      .withColumn("__first", lag(col(tieCol), 1).over(w).isNull)
      .filter(col("__first") || !(col("__prev") <=> col(attrCol)))
      .withColumn("valid_to", lead(col(tsCol), 1).over(w))
      .select(col(keyCol), col(attrCol),
        col(tsCol).as("valid_from"), col("valid_to"),
        col("valid_to").isNull.as("is_current"))
  }

  /** Kaplan-Meier survival estimator over per-subject durations:
    * `dur` carries one row per subject with `tCol` (integer duration,
    * e.g. days to event or to censoring) and `eventCol` (1 = the event
    * happened, 0 = right-censored at t). Returns one row per observed
    * t: (t_days, n_risk, n_events, n_censored, surv_ppm) where
    * surv_ppm is the running integer product S ← S·(n−d) div n in ppm
    * — one floor per step, exactly replayable by a recursive-CTE
    * oracle (q260) and by a driver-side model (the property spec).
    *
    * Scale contract: the per-t table is DURATION-DOMAIN bounded (≤ a
    * few thousand rows at any corpus size — the q101/q124 doctrine),
    * so the risk-set suffix sums and the product fold run on the
    * driver over that bounded table; the subject-level aggregation is
    * the only distributed pass.
    */
  def kaplanMeier(dur: DataFrame, tCol: String, eventCol: String): DataFrame = {
    val spark = dur.sparkSession
    import spark.implicits._
    val byDay = dur.select(col(tCol).cast("long").as("t"),
        col(eventCol).cast("long").as("is_event"))
      .groupBy("t")
      .agg(sum("is_event").as("d"), sum(lit(1L) - col("is_event")).as("c"))
      .orderBy("t")
      .collect() // duration-domain bounded
    val total = byDay.map(r => r.getLong(1) + r.getLong(2)).sum
    var atRisk = total
    var surv = 1000000L
    val rows = byDay.map { r =>
      val (t, dd, cc) = (r.getLong(0), r.getLong(1), r.getLong(2))
      val n = atRisk
      if (dd > 0 && n > 0) surv = surv * (n - dd) / n
      atRisk -= (dd + cc)
      (t, n, dd, cc, surv)
    }.toSeq
    rows.toDF("t_days", "n_risk", "n_events", "n_censored", "surv_ppm")
      .orderBy("t_days")
  }

  /** Robust outlier flags on a bounded series (the q247 monitoring
    * alarm): a row is anomalous when |v − median| > kTimes × MAD, with
    * LOWER medians (rank ⌈n/2⌉) so every quantity is an exact integer
    * and no interpolation crosses engines. Appends (med_c, dev_c,
    * mad_c, is_anomaly) to the input. Each median is a 1-row frame
    * from an unkeyed [[valueRanks]] window, broadcast back, so
    * building the plan runs no job; the series is expected date-domain
    * bounded (one row per day/key at any corpus size). NULL values
    * carry no rank and are never flagged.
    */
  def madOutlierFlags(df: DataFrame, vCol: String,
                      kTimes: Long = 3L): DataFrame = {
    require(kTimes >= 1, s"kTimes must be >= 1, got $kTimes")
    def lowerMedian(d: DataFrame, c: String, out: String): DataFrame =
      broadcast(valueRanks(d, Nil, c, guard = Some(RankGuard("madOutlierFlags",
          "aggregate the series to a bounded domain (one row per day) first")))
        .agg(max(when(valueAtRank(expr("(n + 1) div 2")), col(c))).as(out)))
    val withDev = df.crossJoin(lowerMedian(df, vCol, "med_c"))
      .withColumn("dev_c", abs(col(vCol) - col("med_c")))
    withDev.crossJoin(lowerMedian(withDev, "dev_c", "mad_c"))
      .withColumn("is_anomaly",
        when(col("dev_c") > lit(kTimes) * col("mad_c"), 1L).otherwise(0L))
  }

  /** Time-weighted state accounting over [[scd2History]] validity
    * intervals: microseconds each key spends in each state, open
    * intervals capped at the input's max timestamp (the corpus
    * horizon), with each state's share of total held time in ppm
    * (share = total_us div (grand div 1e6) — the division order that
    * cannot overflow a Long at any corpus size). Duration sums are
    * ADDITIVE over the SCD2 collapse — summing collapsed intervals
    * equals summing raw per-event intervals (the property the spec
    * brute-forces); n_intervals counts the COLLAPSED runs, checking
    * the collapse itself. Returns (state, n_intervals, total_us,
    * share_ppm), one row per state.
    */
  def timeInState(events: DataFrame, keyCol: String, tsCol: String,
                  stateCol: String, tieCol: String): DataFrame = {
    val hist = scd2History(events, keyCol, tsCol, stateCol, tieCol)
    val horizon = events.agg(max(col(tsCol))).head().getTimestamp(0)
    val agg = hist
      .withColumn("end_ts", coalesce(col("valid_to"), lit(horizon)))
      .select(col(stateCol).as("state"),
        (unix_micros(col("end_ts")) - unix_micros(col("valid_from")))
          .as("d_us"))
      .groupBy("state")
      .agg(count(lit(1)).as("n_intervals"), sum("d_us").as("total_us"))
    agg.crossJoin(broadcast(agg.select(sum("total_us").as("g"))))
      .select(col("state"), col("n_intervals"), col("total_us"),
        expr("total_us div (g div 1000000)").as("share_ppm"))
      .orderBy("state")
  }

  /** The rank-sum step of [[mannWhitney]] and [[wilcoxonSignedRank]]:
    * rank `v` across all rows by average (mid) rank, then sum per class.
    * The rows of value v hold ranks [below+1, below+cnt], so their
    * doubled average rank is the integer 2·below + cnt + 1. Returns
    * (class, n, rank2_sum), rank2_sum = 2·ΣR.
    */
  private def midRankSums(df: DataFrame, classCol: String, v: String,
                          guard: RankGuard): DataFrame = {
    val rank2 = valueRanks(df, Nil, v, guard = Some(guard))
      .select(col(v), (lit(2L) * col("below") + col("cnt") + 1L).as("__rank2"))
    df.groupBy(classCol, v).agg(count(lit(1)).as("__n"))
      .join(rank2, Seq(v))
      .groupBy(classCol)
      .agg(sum("__n").cast("long").as("n"),
        sum(col("__n") * col("__rank2")).cast("long").as("rank2_sum"))
  }

  /** Mann-Whitney U readout for a two-arm experiment — the
    * nonparametric effect test an A/B platform runs when the metric is
    * skewed (revenue, latency) and a means test misleads. Tie-corrected
    * with AVERAGE ranks, kept in exact integers by the 2× trick: for a
    * tie group occupying ranks [a, a+t−1], 2·avgrank = 2a + t − 1, so
    * every per-arm rank sum and U statistic is carried DOUBLED
    * (rank2_sum = 2·ΣR, u2 = 2·U) and stays a Long. Effect size is the
    * rank-biserial r = 2U/(n₁n₂) − 1 in ppm, with the overflow-safe
    * division order u2 div ((n₁·n₂) div 10⁶) that both engines replay.
    *
    * Scale shape (the q92/q101 value-domain doctrine): ranks come from
    * the VALUE HISTOGRAM ([[midRankSums]]), not a global row sort. The
    * unkeyed rank window is single-partition by construction, so the
    * contract is a BOUNDED value domain (cents-quantized metrics
    * cluster hard), enforced at [[HistMaxDistinct]]; for a metric whose
    * distinct-value count grows with the corpus, pre-bucket (the q92
    * discipline) before ranking — U on bucketed values is U with ties,
    * which the average-rank correction already handles. NULL values
    * carry no rank and count in no arm.
    * Returns one row per arm: (arm, n_users, rank2_sum, u2, rb_ppm).
    */
  def mannWhitney(df: DataFrame, armCol: String, vCol: String): DataFrame = {
    val arms = midRankSums(df, armCol, vCol, RankGuard("mannWhitney",
        "pre-bucket vCol to a bounded domain before ranking"))
      .withColumnRenamed("n", "n_users")
      .withColumn("u2",
        col("rank2_sum") - col("n_users") * (col("n_users") + 1L))
    val other = arms.select(col(armCol).as("__o_arm"),
      col("n_users").as("__o_n"))
    arms.join(other, col(armCol) =!= col("__o_arm"))
      // greatest(...,1): a degenerate arm product under 10⁶ (tiny test
      // fixtures) must floor the denominator, not divide by zero; the
      // oracle carries the same GREATEST
      .withColumn("rb_ppm",
        expr("u2 div greatest((n_users * __o_n) div 1000000, 1) - 1000000"))
      .select(col(armCol), col("n_users"), col("rank2_sum"), col("u2"),
        col("rb_ppm"))
      .orderBy(armCol)
  }

  /** Observed/expected independence lift for two categorical columns —
    * the contingency-table audit behind every "is the mix shifting"
    * question (device × event type, source × language): per cell the
    * observed count, the independence-expected count ⌊r·c∕n⌋, and the
    * observed/expected ratio in ppm with the overflow-safe order
    * (o·10⁶) div ((r·c) div n) — every quantity an exact integer at
    * any corpus size (r·c ≤ n², div n first keeps it ≤ n). Three hash
    * aggregations (cells, row totals, column totals — the margins
    * broadcast; they are category-domain bounded), one map-side join
    * back. Returns (rowVal, colVal, n_obs, n_exp, lift_ppm).
    */
  def independenceLift(df: DataFrame, rowCol: String, colCol: String): DataFrame = {
    val cells = df.groupBy(rowCol, colCol).agg(count(lit(1)).as("n_obs"))
    val rt = df.groupBy(rowCol).agg(count(lit(1)).as("__r"))
    val ct = df.groupBy(colCol).agg(count(lit(1)).as("__c"))
    val n = df.agg(count(lit(1)).as("__n"))
    cells
      .join(broadcast(rt), Seq(rowCol))
      .join(broadcast(ct), Seq(colCol))
      .crossJoin(broadcast(n))
      .withColumn("n_exp", expr("(__r * __c) div __n"))
      // a rare-margin cell can floor to 0 expected; greatest(...,1)
      // keeps the ratio defined (both engines carry it)
      .withColumn("lift_ppm",
        expr("(n_obs * 1000000) div greatest((__r * __c) div __n, 1)"))
      .select(col(rowCol), col(colCol), col("n_obs"), col("n_exp"),
        col("lift_ppm"))
      .orderBy(rowCol, colCol)
  }

  /** Kendall tau-b between two ALREADY-BANDED integer columns, computed
    * entirely from their bounded 2-D histogram — the rank-correlation
    * audit ([[mannWhitney]]'s companion for two ordinal signals) that
    * never sorts or pairs raw rows: concordant/discordant mass comes
    * from a broadcast self-join of the |xBands|·|yBands| cells (each
    * unordered cell pair counted once via xb1 < xb2), tie terms n1/n2
    * from the marginals, and the only float is the ONE final IEEE
    * double tau-b ratio with round(·, 6) (the [[autocorrLag1]]
    * discipline) — so a 100 TB input contributes |cells|² = O(1) pair
    * terms, never n² row pairs. Tau-b (not tau-a) because banding
    * guarantees heavy ties. C − D and each tie-corrected denominator
    * factor fit a signed 64-bit while n ≤ ~4.2e9 rows (n0 = n(n−1)/2
    * < 2⁶³); beyond that widen to decimal(38,0).
    *
    * Returns ONE row (n_docs, concordant, discordant, tau_b6);
    * zero-variance inputs (all mass in one band on either axis)
    * return tau_b6 = 0.0.
    */
  def kendallTauBands(banded: DataFrame, xCol: String,
                      yCol: String): DataFrame = {
    val cells = banded
      .select(col(xCol).cast("long").as("xb"), col(yCol).cast("long").as("yb"))
      .groupBy("xb", "yb").agg(count(lit(1)).as("c"))
    val cd = cells.select(col("xb").as("xb1"), col("yb").as("yb1"),
        col("c").as("c1"))
      .join(broadcast(cells.select(col("xb").as("xb2"),
        col("yb").as("yb2"), col("c").as("c2"))),
        col("xb1") < col("xb2"))
      .agg(
        coalesce(sum(when(col("yb1") < col("yb2"),
          col("c1") * col("c2")).otherwise(0L)), lit(0L)).as("conc"),
        coalesce(sum(when(col("yb1") > col("yb2"),
          col("c1") * col("c2")).otherwise(0L)), lit(0L)).as("disc"))
    val nTot = cells.agg(sum("c").as("n"))
    val tieX = cells.groupBy("xb").agg(sum("c").as("t"))
      .agg(sum(expr("t * (t - 1) div 2")).as("tie_x"))
    val tieY = cells.groupBy("yb").agg(sum("c").as("t"))
      .agg(sum(expr("t * (t - 1) div 2")).as("tie_y"))
    cd.crossJoin(broadcast(nTot)).crossJoin(broadcast(tieX))
      .crossJoin(broadcast(tieY))
      .withColumn("n0", expr("n * (n - 1) div 2"))
      .select(col("n").cast("long").as("n_docs"),
        col("conc").cast("long").as("concordant"),
        col("disc").cast("long").as("discordant"),
        round(when(col("n0") - col("tie_x") > 0 &&
             col("n0") - col("tie_y") > 0,
          (col("conc") - col("disc")).cast("double") /
            (sqrt((col("n0") - col("tie_x")).cast("double")) *
             sqrt((col("n0") - col("tie_y")).cast("double"))))
          .otherwise(lit(0.0)), 6).as("tau_b6"))
  }

  /** 2-D skyline (Pareto frontier): the rows no other row strictly
    * dominates, minimizing `minCol` and maximizing `maxCol` (b dominates
    * a iff b.min <= a.min, b.max >= a.max, and at least one is strict).
    * Duplicate (min, max) pairs do not dominate each other — all stay.
    *
    * Distributed shape, NOT the textbook O(n²) NOT-EXISTS: local
    * skyline per partition (sort by (min asc, max desc), one monotone
    * scan), then one final pass over the unioned survivors. Sound
    * because strict dominance is transitive: if b dominates a and b is
    * itself pruned locally, b's dominator also dominates a — so every
    * non-skyline row loses to SOME stage-1 survivor, and the final pass
    * removes it. Survivor volume is the per-partition skyline size —
    * O(log n) expected per partition for independent dims (O(√n) worst
    * realistic correlation), so the single final task sees
    * partitions × log n rows, the same "tiny final stage" contract as
    * TakeOrdered; the repartition(1) exchange carries only survivors.
    * All columns ride as longs so dominance compares are exact. Rows
    * with a NULL dimension are excluded up front — dominance against
    * an unknown coordinate is undefined (SQL's NOT EXISTS drops them
    * identically: a NULL comparison can never assert dominance, and
    * the null row itself would vacuously "survive" under one
    * formulation and not another; excluding is the unambiguous
    * contract).
    */
  def skylineMinMax(df: DataFrame, idCol: String, minCol: String,
                    maxCol: String): DataFrame = {
    val spark = df.sparkSession
    import spark.implicits._
    def localSkyline(it: Iterator[(Long, Long, Long)]): Iterator[(Long, Long, Long)] = {
      // (id, minv, maxv) sorted by (minv asc, maxv desc, id): a row
      // survives iff its maxv is the max of its minv-group AND beats
      // every strictly-smaller-minv row's maxv strictly
      val sorted = it.toArray.sortBy { case (id, p, s) => (p, -s, id) }
      val out = Array.newBuilder[(Long, Long, Long)]
      var i = 0
      var bestPrev = Long.MinValue
      while (i < sorted.length) {
        val p = sorted(i)._2
        val groupMax = sorted(i)._3
        var j = i
        while (j < sorted.length && sorted(j)._2 == p) {
          if (sorted(j)._3 == groupMax && groupMax > bestPrev) out += sorted(j)
          j += 1
        }
        if (groupMax > bestPrev) bestPrev = groupMax
        i = j
      }
      out.result().iterator
    }
    val rows = df.select(col(idCol).cast("long"), col(minCol).cast("long"),
      col(maxCol).cast("long"))
      .na.drop()
      .as[(Long, Long, Long)]
    rows.mapPartitions(localSkyline(_))
      .repartition(1)
      .mapPartitions(localSkyline(_))
      .toDF(idCol, minCol, maxCol)
  }

  /** Ordered funnel: for each user, the furthest prefix of `stages`
    * reachable as a strictly time-increasing event subsequence
    * (stage k's event must carry ts strictly after the ts CHOSEN for
    * stage k-1). Returns one row per stage with the users reaching at
    * least that stage and the conversion from the previous stage in
    * exact ppm (0 after a stage no user reached).
    *
    * Greedy-earliest is lossless: taking the MINIMUM qualifying ts at
    * every stage can only enlarge the set of qualifying events for
    * the next stage (any subsequence witness has a pointwise-earlier
    * greedy witness), so min-per-stage decides reachability exactly.
    *
    * One lazy plan, no job until the caller's action: c0 = min(ts) per
    * user over stage 0's events; stage k LEFT-joins that frame to stage
    * k's events on the user key with `ts > c(k-1)` and takes min(ts) per
    * user as c(k) (null once the user stops); one global agg counts
    * c0 … c(k-1), and the k rows are exploded from it. Every hash
    * exchange is on the user key: stage 0's agg, and each later stage's
    * events when its join is sort-merge (a broadcast join ships them
    * instead). The joins and aggs keep the frame's partitioning, so a
    * sort-merge plan has k hash exchanges; the global count adds one
    * single-partition exchange of per-task partial counts. No Window,
    * no nested-loop join, and no per-user event list is buffered (a
    * power user with 10⁹ events costs only its share of |stages|
    * filtered scans), unlike the collect_list/UDF funnel that dies on
    * skew.
    */
  def funnelStages(events: DataFrame, userCol: String, tsCol: String,
                   typeCol: String, stages: Seq[String]): DataFrame = {
    require(stages.nonEmpty, "funnelStages needs at least one stage")
    val c = stages.indices.map(i => s"c$i")
    def stageEvents(i: Int, u: String, t: String) =
      events.filter(col(typeCol) === stages(i)).select(col(userCol).as(u), col(tsCol).as(t))
    val first = stageEvents(0, "u", "t").groupBy("u").agg(min(col("t")).as(c(0)))
    val reached = stages.indices.tail.foldLeft(first) { (prev, k) =>
      val carried = c.take(k).map(ci => min(col(ci)).as(ci))
      prev.join(stageEvents(k, "u_k", "t_k"),
          col("u") === col("u_k") && col("t_k") > col(c(k - 1)), "left")
        .groupBy("u").agg(carried.head, carried.tail :+ min(col("t_k")).as(c(k)): _*)
    }
    // every row entered stage 0, even one whose stage-0 events carry no ts
    funnelRows(reached, stages, i => if (i == 0) count(lit(1)) else count(col(c(i))))
  }

  /** The funnels' result rows from one global agg over `reached`:
    * `(stage_idx, stage, n_users, conv_ppm)` per stage, with `users(i)`
    * the count of users reaching stage i and conv_ppm the exact integer
    * ratio to the previous stage (0 when that stage has no user).
    */
  private def funnelRows(reached: DataFrame, stages: Seq[String],
                         users: Int => Column): DataFrame = {
    val counts = stages.indices.map(i => users(i).as(s"n$i"))
    val rows = stages.indices.map { i =>
      val convPpm =
        if (i == 0) lit(1000000L)
        else expr(s"CASE WHEN n${i - 1} > 0 THEN n$i * 1000000 div n${i - 1} ELSE 0 END")
      struct(lit(i + 1).as("stage_idx"), lit(stages(i)).as("stage"),
        col(s"n$i").as("n_users"), convPpm.as("conv_ppm"))
    }
    reached.agg(counts.head, counts.tail: _*)
      .select(explode(array(rows: _*)).as("r")).select("r.*")
  }

  /** Windowed funnel: stage k must fall STRICTLY AFTER the stage-(k-1)
    * event it extends and WITHIN `windowUs` microseconds of it — the
    * conversion-deadline funnel product analytics ships ("purchase
    * within 7 days of the click"). Greedy-earliest is NOT sufficient
    * here, unlike [[funnelStages]]: taking the earliest stage-1 event
    * can strand a deadline a later stage-1 event would have met (the
    * spec carries the counterexample), so each stage keeps the FULL
    * set of reachable event timestamps — the exact forward closure.
    *
    * One lazy plan whose stages each run once: the frame holds rows
    * (user, t, depth) — t one reachable timestamp of the current stage,
    * or null on the one row of a user whose closure ended after `depth`
    * stages. Stage k LEFT-joins the frame to stage k's events on the
    * user key, with the (strictly-after, within-window) band predicate
    * inside the hash join, and groups by (user, matched t) keeping the
    * deepest depth. The frame is consumed only by the next stage, so no
    * subtree is evaluated twice; per user, the final depth is the
    * deepest stage reached, and one global agg counts users per depth.
    * Hash exchanges are keyed on the user or on (user, t): with
    * sort-merge joins, stage 0's distinct on (user, t), then the user
    * key for the frame once and for each stage's events, which the
    * groupings reuse; with a broadcast join each grouping exchanges on
    * (user, t) instead. One single-partition exchange carries the
    * partial counts. Per-user cost is |candidates| × |stage events|
    * pair checks before the grouping — bounded by per-(user, stage)
    * event volume, never the corpus; interval-merging the candidate set
    * (windows of overlapping candidates collapse) is the documented
    * refinement if per-user stage volumes ever explode.
    */
  def funnelStagesWindowed(events: DataFrame, userCol: String, tsCol: String,
                           typeCol: String, stages: Seq[String],
                           windowUs: Long): DataFrame = {
    require(stages.nonEmpty, "funnelStagesWindowed needs at least one stage")
    require(windowUs > 0, s"windowUs must be positive, got $windowUs")
    // users are counted by key, so a null user reaches no stage
    val ev = events.filter(col(userCol).isNotNull).select(col(userCol).as("u"),
      unix_micros(col(tsCol)).as("t"), col(typeCol).as("tp"))
    val first = ev.filter(col("tp") === stages.head)
      .select("u", "t").distinct().withColumn("depth", lit(1))
    val closure = stages.indices.tail.foldLeft(first) { (prev, k) =>
      val cur = ev.filter(col("tp") === stages(k))
        .select(col("u").as("u_k"), col("t").as("t_k"))
      prev.join(cur, col("u") === col("u_k") && col("t_k") > col("t") &&
          col("t_k") <= col("t") + windowUs, "left")
        .groupBy(col("u"), col("t_k").as("t"))
        .agg(max(when(col("t_k").isNotNull, lit(k + 1)).otherwise(col("depth")))
          .as("depth"))
    }
    val depth = closure.groupBy("u").agg(max(col("depth")).as("depth"))
    funnelRows(depth, stages, i => count(when(col("depth") > i, true)))
  }

  /** Daily gap-fill with last-observation-carried-forward (LOCF) — the
    * time-series regularization every "state as of day D" rollup needs:
    * `df` holds one row per (key, day) (the key's daily close); the
    * result has one row per (key, day) for EVERY day in the key's
    * [min_day, max_day] span, `filled` carrying the latest non-null
    * close at or before that day.
    *
    * Scale shape: the grid explode emits span-days rows per key —
    * bounded by the DATE domain (a few thousand), never by the key's
    * event count; the LOCF window partitions by key over that same
    * bounded span, so no per-key state exceeds the day domain (the
    * q101/q124 value-domain-bounded doctrine on the time axis). The
    * first grid day is the key's first close, so `filled` is never
    * null.
    */
  def gapFillLocf(df: DataFrame, keyCol: String, dayCol: String,
                  valCol: String): DataFrame = {
    val spans = df.groupBy(keyCol)
      .agg(min(dayCol).as("__d0"), max(dayCol).as("__d1"))
    val grid = spans.select(col(keyCol),
      explode(expr("sequence(__d0, __d1, interval 1 day)")).as(dayCol))
    val w = Window.partitionBy(keyCol).orderBy(dayCol)
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    grid.join(df, Seq(keyCol, dayCol), "left")
      .withColumn("filled", last(col(valCol), ignoreNulls = true).over(w))
      .drop(valCol)
  }

  /** q243/q244's modular-sum domain: small enough that 10¹² rows per
    * bucket cannot overflow a Long (10¹² · 10⁶ < 2⁶³), large enough
    * that sums rarely collide.
    */
  val FingerprintSumMod = 1000003L

  /** Order-invariant per-bucket content fingerprint — the Merkle-style
    * summary that lets two 100 TB replicas be compared by exchanging
    * `nBuckets` rows instead of the data: bucket = bucketHash mod
    * nBuckets, fingerprint = (row count, bit_xor of the 60-bit row
    * hash, Σ rowHash mod [[FingerprintSumMod]]). XOR and modular sum
    * are commutative/associative, so the fingerprint is a pure
    * function of the bucket's row MULTISET (xor alone would miss a
    * row added twice — count and sum see it; count alone would miss a
    * swap — xor and sum see it). One map-side-combined hash agg, state
    * = 3 longs per bucket regardless of data size; a mismatched
    * bucket localizes the diff to 1/nBuckets of the data (the
    * drill-down is q244).
    */
  def bucketFingerprints(df: DataFrame, bucketHash: Column, rowHash: Column,
                         nBuckets: Int): DataFrame = {
    require(nBuckets >= 1, s"nBuckets must be >= 1, got $nBuckets")
    df.select(pmod(bucketHash, lit(nBuckets.toLong)).as("bucket"),
        rowHash.as("__h"))
      .groupBy("bucket")
      .agg(count(lit(1)).as("n_rows"),
        expr("bit_xor(__h)").as("xor_h"),
        sum(pmod(col("__h"), lit(FingerprintSumMod))).as("sum_mod"))
  }

  def snapshotDiff(oldDf: DataFrame, newDf: DataFrame,
                   keyCols: Seq[String]): DataFrame = {
    require(keyCols.nonEmpty, "snapshotDiff needs at least one key column")
    val payload = oldDf.columns.filterNot(keyCols.contains)
    require(payload.sameElements(newDf.columns.filterNot(keyCols.contains)),
      s"snapshots must share a payload schema: ${payload.mkString(",")} vs " +
        newDf.columns.filterNot(keyCols.contains).mkString(","))
    val o = oldDf.select(keyCols.map(col) :+
      struct(payload.map(col): _*).as("old_row"): _*)
    val n = newDf.select(keyCols.map(col) :+
      struct(payload.map(col): _*).as("new_row"): _*)
    o.join(n, keyCols, "full_outer")
      .withColumn("change_type",
        when(col("old_row").isNull, lit("insert"))
          .when(col("new_row").isNull, lit("delete"))
          .when(!(col("old_row") <=> col("new_row")), lit("update"))
          .otherwise(lit("unchanged")))
  }

  /** Cohort retention matrix: users cohorted by their FIRST active week
    * (Monday-truncated), then for every (cohort, week offset) the count
    * of cohort members active that week and the retention ratio in
    * exact ppm — the standard product-analytics triangle, all-integer.
    *
    * Scale: one (user, week) distinct (the activity table), a per-user
    * min-agg for the cohort (both shuffle on the user key, so the join
    * back is co-partitioned and AQE elides the exchange), one
    * (cohort, offset) count agg. No window, no per-user state beyond
    * the agg buffers. Returns (cohort_week, offset_w, n_active,
    * n_cohort, retention_ppm).
    */
  def cohortRetention(ev: DataFrame, userCol: String, tsCol: String)
      : DataFrame = {
    val wk = ev.select(col(userCol).as("u"),
      date_trunc("week", col(tsCol)).as("w")).distinct()
    val cohort = wk.groupBy("u").agg(min("w").as("cw"))
    val sizes = cohort.groupBy("cw").agg(count(lit(1)).as("n_cohort"))
    wk.join(cohort, Seq("u"))
      .groupBy(col("cw"), expr("datediff(w, cw) div 7").as("offset_w"))
      .agg(count(lit(1)).as("n_active"))
      .join(sizes, Seq("cw"))
      .select(date_format(col("cw"), "yyyy-MM-dd").as("cohort_week"),
        col("offset_w").cast("long").as("offset_w"),
        col("n_active").cast("long").as("n_active"),
        col("n_cohort").cast("long").as("n_cohort"),
        expr("n_active * 1000000 div n_cohort").as("retention_ppm"))
  }

  /** Association rules over per-user event-type co-occurrence:
    * support / confidence / lift for every ordered (antecedent →
    * consequent) pair, in exact integer ppm/milli (lift_milli =
    * n_both·n_users·1000 div (n_ant·n_cons) — one fused integer ratio,
    * so no float probability product ever forms). "Occurs" =
    * the user emitted the type at least once; the basket is the user.
    *
    * Scale: the (user, type) distinct bounds everything — pairs come
    * from a self-join on the user key (co-partitioned, never all-pairs
    * across users) and the per-user pair fan-out is |types|², a domain
    * constant, not data-sized. Type marginals ride a broadcast.
    * Returns (antecedent, consequent, n_both, n_ant, n_cons,
    * support_ppm, confidence_ppm, lift_milli).
    */
  def assocRules(ev: DataFrame, userCol: String, typeCol: String)
      : DataFrame = {
    val ut = ev.select(col(userCol).as("u"), col(typeCol).as("t")).distinct()
    val marg = ut.groupBy("t").agg(count(lit(1)).as("n_t"))
    val nUsers = ut.select("u").distinct().agg(count(lit(1)).as("n_users"))
    val pairs = ut.join(ut.select(col("u"), col("t").as("t2")), Seq("u"))
      .filter(col("t") =!= col("t2"))
      .groupBy(col("t").as("antecedent"), col("t2").as("consequent"))
      .agg(count(lit(1)).as("n_both"))
    pairs
      .join(broadcast(marg.select(col("t").as("antecedent"), col("n_t").as("n_ant"))),
        Seq("antecedent"))
      .join(broadcast(marg.select(col("t").as("consequent"), col("n_t").as("n_cons"))),
        Seq("consequent"))
      .crossJoin(broadcast(nUsers))
      .select(col("antecedent"), col("consequent"),
        col("n_both").cast("long").as("n_both"),
        col("n_ant").cast("long").as("n_ant"),
        col("n_cons").cast("long").as("n_cons"),
        expr("n_both * 1000000 div n_users").as("support_ppm"),
        expr("n_both * 1000000 div n_ant").as("confidence_ppm"),
        expr("(n_both * n_users * 1000) div (n_ant * n_cons)").as("lift_milli"))
  }

  /** Union length of (possibly overlapping) intervals per key — the
    * sweep-line "total covered time" query (actual usage hours from
    * overlapping sessions, sensor uptime, ad exposure): merge
    * overlapping intervals into islands, sum island lengths. All in
    * exact integer microseconds. The island construction is the
    * classic two-window sweep: a row OPENS a new island iff its start
    * exceeds the running max end of every earlier row; the island id is
    * the running sum of those flags. Exact-duplicate rows are
    * order-symmetric under the (start, end) sort, so the result is
    * deterministic under any tie order.
    *
    * Scale: two windows over the same (key, start, end) sort — ONE
    * exchange, state = one running max + one running sum — then two
    * hash aggs. Returns (k, n_islands, covered_us).
    */
  def intervalUnionLength(df: DataFrame, keyCol: String,
                          startCol: String, endCol: String): DataFrame = {
    val base = df.select(col(keyCol).as("k"),
      col(startCol).cast("long").as("s"), col(endCol).cast("long").as("e"))
    val ord = Window.partitionBy("k").orderBy(col("s").asc, col("e").asc)
    val prevMax = max(col("e"))
      .over(ord.rowsBetween(Window.unboundedPreceding, -1))
    val flagged = base.withColumn("ni",
      when(prevMax.isNull || col("s") > prevMax, 1L).otherwise(0L))
    val islands = flagged.withColumn("island",
      sum("ni").over(ord.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
    islands.groupBy("k", "island")
      .agg(min("s").as("i_s"), max("e").as("i_e"))
      .groupBy("k")
      .agg(count(lit(1)).cast("long").as("n_islands"),
        sum(col("i_e") - col("i_s")).cast("long").as("covered_us"))
  }

  /** Maximum non-overlapping interval selection per key (activity
    * selection, the earliest-end-first greedy — provably optimal for
    * the unweighted problem): how many conflict-free sessions/bookings/
    * jobs fit. Intervals sort by (end, start) and the fold keeps one
    * running `cur` end: pick iff start ≥ cur (closed-open — touching
    * intervals both fit). The count is order-canonical: equal (end,
    * start) duplicates are interchangeable and the (end, start) sort
    * fixes every other tie, so the greedy count is engine-exact and
    * the oracle can replay the fold as a rank-indexed recursive CTE.
    *
    * Scale: the fold runs INSIDE one agg-buffer UDF over the collected
    * per-key interval list (the q190 doctrine) — state bounded by the
    * per-key interval count, the one exchange carries the intervals.
    * Returns (k, n_total, n_selected).
    */
  def activitySelect(iv: DataFrame, keyCol: String, startCol: String,
                     endCol: String): DataFrame = {
    val sel = udf { rows: Seq[org.apache.spark.sql.Row] =>
      val arr = rows.map(r => (r.getLong(0), r.getLong(1))).toArray
        .sortBy(t => (t._2, t._1))
      var cur = Long.MinValue
      var cnt = 0L
      arr.foreach { case (s, e) => if (s >= cur) { cnt += 1; cur = e } }
      cnt
    }
    iv.select(col(keyCol).as("k"), col(startCol).cast("long").as("s"),
        col(endCol).cast("long").as("e"))
      .groupBy("k")
      .agg(count(lit(1)).cast("long").as("n_total"),
        collect_list(struct(col("s"), col("e"))).as("ivs"))
      .select(col("k"), col("n_total"), sel(col("ivs")).as("n_selected"))
  }

  /** Linear-interpolation gap fill per key (the interpolating
    * complement of the q109 LOCF fill): for every missing step x
    * strictly between two OBSERVED neighbors (x1,v1) < (x2,v2), emit
    * v1 + (v2−v1)·(x−x1) div (x2−x1) — exact integer interpolation
    * with TRUNCATING division (Spark div == DuckDB //, the q190
    * verification). Leading/trailing gaps stay unfilled — there is no
    * second anchor to interpolate toward. Returns every step as
    * (k, x, v, kind) with kind ∈ {obs, interp}.
    *
    * Scale: one (key, x) window exchange finds each observation's
    * successor; gap rows explode MAP-SIDE from sequence(x+1, x2−1) —
    * the output is step-domain-bounded per key, and nothing shuffles
    * after the single window sort.
    */
  def gapFillInterpolate(series: DataFrame, keyCol: String, xCol: String,
                         vCol: String): DataFrame = {
    val base = series.select(col(keyCol).as("k"),
      col(xCol).cast("long").as("x"), col(vCol).cast("long").as("v"))
    val w = Window.partitionBy("k").orderBy("x")
    val withNext = base
      .withColumn("nx", lead("x", 1).over(w))
      .withColumn("nv", lead("v", 1).over(w))
    val interp = withNext
      .filter(col("nx").isNotNull && col("nx") > col("x") + 1)
      .select(col("k"), col("x"), col("v"), col("nx"), col("nv"),
        explode(sequence(col("x") + 1, col("nx") - 1)).as("xi"))
      .select(col("k"), col("xi").as("x"),
        expr("v + ((nv - v) * (xi - x)) div (nx - x)").as("v"),
        lit("interp").as("kind"))
    base.withColumn("kind", lit("obs")).unionByName(interp)
  }

  /** EXACT Theil-Sen robust trend per group (median-of-pairwise-slopes,
    * Sen 1968 — the outlier-immune complement of q155's least-squares
    * and q124's MAD): slope = LOWER MEDIAN over all x_i < x_j pairs of
    * (y_j − y_i)·1000 div (x_j − x_i) — TRUNCATING integer division,
    * which Spark's div and DuckDB's // both implement (verified:
    * −7//2 = −3 on both), so negative slopes quantize identically
    * with no floor shim. The lower median (first rank with 2·rank ≥
    * total) over the sorted slope array is tie-order-free.
    *
    * Scale: exactness is affordable because the pair count is the
    * SERIES domain squared, not the corpus — a daily series caps at
    * |days|² pairs per group regardless of row count (the q124/q145
    * bounded-state doctrine; for an unbounded-x series, pre-aggregate
    * or sample x first), and the pairs never leave the agg buffer:
    * the one exchange carries the series.
    * Returns (grp, n_pairs, slope_milli).
    */
  def theilSenSlope(series: DataFrame, groupCol: String, xCol: String,
                    yCol: String): DataFrame = {
    // the pair loop runs INSIDE one UDF over the collected per-group
    // series (day-domain-bounded, the q124 doctrine) — the self-join
    // form shuffled |days|² pair rows through a |groups|-key exchange
    // (3 hot keys for a flag column): measured 31-77 s vs ~1 s at
    // sf0.1-sf1 for identical results. Equal-x pairs are excluded
    // (dx = 0), matching the strict a.x < b.x join this replaced.
    val tsUdf = udf { pts: Seq[org.apache.spark.sql.Row] =>
      // primitive arrays throughout: a boxed ArrayBuffer[Long] of
      // slopes costs ~3M java.lang.Long allocations per group at
      // |days| ≈ 2500, and with only |groups| tasks the wall time IS
      // one group's loop (measured q190 2.9 → 1.2 s at sf0.1)
      val n = pts.length
      val xs = new Array[Long](n)
      val ys = new Array[Long](n)
      val order = pts.zipWithIndex.sortBy(_._1.getLong(0)).toArray
      var i = 0
      while (i < n) {
        xs(i) = order(i)._1.getLong(0); ys(i) = order(i)._1.getLong(1); i += 1
      }
      val slopes = new Array[Long](n * (n - 1) / 2)
      var cnt = 0
      i = 0
      while (i < n) {
        var j = i + 1
        while (j < n) {
          val dx = xs(j) - xs(i)
          if (dx != 0L) { slopes(cnt) = ((ys(j) - ys(i)) * 1000L) / dx; cnt += 1 }
          j += 1
        }
        i += 1
      }
      java.util.Arrays.sort(slopes, 0, cnt)
      if (cnt == 0) (0L, 0L)
      // lower median: first rank with 2·rank >= tot, i.e. idx ceil(t/2)-1
      else (cnt.toLong, slopes((cnt + 1) / 2 - 1))
      // asNondeterministic: the function IS deterministic, but the
      // marker stops Catalyst duplicating the O(|days|²) pair loop —
      // the n_pairs filter below otherwise becomes
      // Filter(UDF(pts)._1 > 0) UNDER Project(UDF(pts)), evaluating
      // the whole loop twice per group (measured in the q190 plan:
      // two identical 2.07 s jobs)
    }.asNondeterministic()
    series
      // user-origin group-keyed exchange that IS the agg's shuffle:
      // AQE's byte-based coalescing merges the (tiny-bytes, huge-CPU)
      // per-group rows into ONE task, serializing the O(|days|²)
      // loops — a user-specified width is never coalesced, so each
      // group's agg + pair loop gets its own core. (A repartition AFTER
      // the agg is elided by Catalyst as same-key-same-width, so it
      // must sit below the groupBy; the
      // partial-agg split this forfeits carried the same bytes —
      // collect_list concatenation has no map-side reduction.)
      .repartition(Shape.width(series.sparkSession), col(groupCol))
      .groupBy(col(groupCol).as("grp"))
      .agg(collect_list(struct(col(xCol).cast("long").as("x"),
        col(yCol).cast("long").as("y"))).as("pts"))
      .select(col("grp"), tsUdf(col("pts")).as("ts"))
      .select(col("grp"), col("ts._1").as("n_pairs"),
        col("ts._2").as("slope_milli"))
      // pairless groups (single point / all equal x) have no slope —
      // drop them like the pair join would have
      .filter(col("n_pairs") > 0)
      // [[Shape.shield]] AFTER the UDF: callers sort this result, and
      // without it every pair loop ran TWICE (two measured ~1.1 s
      // single-task jobs at sf0.1)
      .transform(Shape.shield)
  }

  /** Item-item co-occurrence recommendations ("customers who bought X
    * also bought Y") over (basket, item) rows: for every item, the
    * `topK` partners by exact integer cosine² of the co-occurrence
    * vectors — score_ppm = n_both²·10⁶ div (n_a·n_b), the fused
    * integer form of (n_ab/√(n_a·n_b))², so no float square root ever
    * forms and ranking is engine-exact. `minBoth` drops
    * noise pairs seen together fewer times.
    *
    * Scale: pair fan-out comes from a self-join on the BASKET key —
    * co-partitioned, |basket|²-bounded per basket (baskets are small by
    * nature: an order has a handful of lines) — never item×item across
    * the catalog. Marginals are one (item) agg the pair stream joins
    * back; the per-item top-k runs on the ≥minBoth survivors through
    * the rank-filter pattern Spark prunes per-partition before the
    * exchange (WindowGroupLimit). Long overflow bound: n_both²·10⁶
    * needs n_both < 3·10⁶ — co-occurrence counts that large mean the
    * pair IS the catalog; scale scores down first. Returns
    * (item, rec_item, n_both, n_item, n_rec, score_ppm, rn).
    */
  def cooccurRecsTopK(baskets: DataFrame, basketCol: String, itemCol: String,
                      minBoth: Long, topK: Int): DataFrame = {
    require(topK >= 1, s"topK must be >= 1, got $topK")
    // posting-list form, not a basket self-join: ONE basket-keyed
    // exchange (collect_set dedups in the agg buffer — no separate
    // distinct pass), then the |basket|²-bounded pair fan-out runs
    // map-side as two generators. The self-join form paid the
    // (b, i)-distinct exchange + two join-side sorts + the join
    // exchange on every run (12.7 s vs 4.9 s at sf1, 4 scans — the
    // q30-era posting lesson, which holds here because the basket agg
    // is the reused subtree, not a nondeterministic signature).
    val sets = baskets.select(col(basketCol).as("b"), col(itemCol).as("i"))
      .groupBy("b").agg(sort_array(collect_set(col("i"))).as("items"))
    val marg = sets.select(explode(col("items")).as("i"))
      .groupBy("i").agg(count(lit(1)).as("n_i"))
    // ordered pairs only (i < i2) through the shuffle — half the
    // generate + agg volume — mirrored AFTER the count agg and the
    // minBoth cut, where the stream is survivors-only (co-occurrence
    // is symmetric, so the mirror is exact)
    val half = sets
      // posexplode + tail-slice emits exactly the C(n,2) ordered pairs
      // (items is sort_array'd ascending, so the slice past i+1 IS
      // i < i2) instead of explode²'s n² rows halved by a filter —
      // half the generated rows, same pair multiset (the q282 shape)
      .select(posexplode(col("items")).as(Seq("pi", "i")), col("items"))
      .select(col("i"),
        explode(slice(col("items"), col("pi") + lit(2), size(col("items")))).as("i2"))
      .groupBy(col("i").as("item"), col("i2").as("rec_item"))
      .agg(count(lit(1)).as("n_both"))
      .filter(col("n_both") >= minBoth)
    val pairs = half.unionByName(half.select(col("rec_item").as("item"),
      col("item").as("rec_item"), col("n_both")))
    val w = Window.partitionBy("item")
      .orderBy(col("score_ppm").desc, col("n_both").desc, col("rec_item").asc)
    // no forced broadcast of the marginal table: it is one row per
    // catalog ITEM, which can exceed the broadcast threshold / driver
    // memory on a large catalog — the pair stream is already keyed on
    // item/rec_item, so AQE picks broadcast when the catalog is small
    // and a co-partitioned shuffle join when it is not (degrades, never
    // fails)
    pairs
      .join(marg.select(col("i").as("item"), col("n_i").as("n_item")),
        Seq("item"))
      .join(marg.select(col("i").as("rec_item"), col("n_i").as("n_rec")),
        Seq("rec_item"))
      .withColumn("score_ppm",
        expr("(n_both * n_both * 1000000) div (n_item * n_rec)"))
      .withColumn("rn", row_number().over(w))
      .filter(col("rn") <= topK)
      .select(col("item"), col("rec_item"),
        col("n_both").cast("long").as("n_both"),
        col("n_item").cast("long").as("n_item"),
        col("n_rec").cast("long").as("n_rec"),
        col("score_ppm"), col("rn").cast("long").as("rn"))
  }

  /** Single changepoint (at-most-one mean shift, the integer CUSUM
    * statistic) per group over an ordered integer series: the split
    * point t maximizing (n·S_t − t·S)² div (t·(n−t)) — the squared
    * between-segment mean gap, cross-multiplied into exact Longs so
    * the argmax is engine-exact (no float mean ever forms; ties break
    * to the EARLIEST split). Returns the last order key of the prefix
    * segment — the day the level shifted after.
    *
    * Scale: prefix sums and totals are two window passes over the SAME
    * (group, order) sort — one exchange — and the argmax is one
    * max(struct) agg, so state never exceeds the per-group series,
    * which is day-domain-bounded for daily inputs. Overflow: |n·S_t −
    * t·S| ≤ n·|S|, squared — safe while n·|S| < 3·10⁹ (a year of daily
    * cents sums up to ~10⁷/day); rescale the value column first beyond
    * that. Returns (group, n_days, cut_day, score).
    */
  def meanShiftCut(daily: DataFrame, groupCol: String, dayCol: String,
                   valCol: String, minDays: Int): DataFrame = {
    val ord = Window.partitionBy(groupCol).orderBy(col(dayCol).asc)
    val all = Window.partitionBy(groupCol)
      .rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
    val scored = daily
      .withColumn("x", col(valCol).cast("long"))
      .withColumn("t", row_number().over(ord).cast("long"))
      .withColumn("st", sum("x").over(
        ord.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
      .withColumn("n", count(lit(1)).over(all).cast("long"))
      .withColumn("s", sum("x").over(all))
      .filter(col("n") >= minDays && col("t") < col("n"))
      .withColumn("score", expr(
        "((n * st - t * s) * (n * st - t * s)) div (t * (n - t))"))
    scored.groupBy(col(groupCol).as("grp"))
      .agg(max(struct(col("score"), col("t").cast("long").*(lit(-1L)).as("negt"),
        col(dayCol).as("day"), col("n").as("n"))).as("best"))
      .select(col("grp"), col("best.n").as("n_days"),
        col("best.day").as("cut_day"), col("best.score").as("score"))
  }

  /** Lag-1 autocorrelation of a per-group daily series, from EXACT
    * integer sufficient statistics: the per-day sums are integer cents,
    * the (x_t, x_{t+1}) moment sums are Long, and the final Pearson
    * ratio is computed in doubles FROM those exact integers —
    * int→double conversion, sqrt, multiply and divide are all
    * IEEE-754-exactly-specified, so the rounded result is bit-identical
    * across engines (the reason no float accumulates over data order).
    * Lag pairs are over the OBSERVED day sequence (calendar gaps do not
    * inject zeros — compose with the q109 gap-fill first if they
    * should).
    *
    * Scale: one (group, day) agg bounds the series; the lag window
    * partitions by group over day-count-sized state; the moment agg
    * collapses to one row per group. Day sums fit Long up to ~10¹⁶
    * cents/day. Returns (group, n_pairs, corr6).
    */
  def autocorrLag1(daily: DataFrame, groupCol: String, dayCol: String,
                   valCol: String): DataFrame = {
    val w = Window.partitionBy(groupCol).orderBy(col(dayCol).asc)
    val pairs = daily
      .withColumn("x", col(valCol).cast("long"))
      .withColumn("y", lead(col("x"), 1).over(w))
      .filter(col("y").isNotNull)
    pairs.groupBy(col(groupCol).as("grp"))
      .agg(count(lit(1)).as("n"), sum("x").as("sx"), sum("y").as("sy"),
        sum(col("x") * col("y")).as("sxy"),
        sum(col("x") * col("x")).as("sxx"),
        sum(col("y") * col("y")).as("syy"))
      .select(col("grp"), col("n").cast("long").as("n_pairs"),
        round(
          when(col("n") * col("sxx") - col("sx") * col("sx") > 0 &&
               col("n") * col("syy") - col("sy") * col("sy") > 0,
            (col("n") * col("sxy") - col("sx") * col("sy")).cast("double") /
              (sqrt((col("n") * col("sxx") - col("sx") * col("sx")).cast("double")) *
               sqrt((col("n") * col("syy") - col("sy") * col("sy")).cast("double"))))
            .otherwise(lit(0.0)), 6).as("corr6"))
  }

  /** Small-file compaction planner — the OPTIMIZE/bin-packing pass every
    * lakehouse table needs at scale (a 100 TB table accumulating
    * thousands of sub-target files per partition turns every scan into
    * a task-scheduling storm; Delta/Iceberg both ship this as a
    * maintenance command). Given a file listing (table partition, file
    * id, file bytes), assign each file to an output bin of ~targetBytes
    * with the streaming variant of greedy bin-packing: files sorted by
    * size DESC (id ASC on ties, for determinism), bin = exclusive
    * running sum div targetBytes. Each bin's fill averages >= target
    * with at most one straddling file — the property the rewrite needs
    * (no pathological tiny outputs) without the sequential state of
    * first-fit. The PLAN is one window per table partition (files of
    * one partition co-locate in one exchange; partitions plan in
    * parallel), so planning cost is a shuffle of file METADATA only —
    * never data — and the rewrite itself is the engine's ordinary
    * partitioned write.
    *
    * Returns (tbl, file, bytes, bin) plus each bin's resulting
    * n_files/bin_bytes (a second window over the assigned bin, same
    * exchange — Catalyst reuses the partitioning).
    */
  def compactionPlan(files: DataFrame, tableCol: String, fileCol: String,
                     sizeCol: String, targetBytes: Long): DataFrame = {
    val w = Window.partitionBy("tbl")
      .orderBy(col("bytes").desc, col("file").asc)
    val assigned = files.select(
        col(tableCol).as("tbl"), col(fileCol).as("file"),
        col(sizeCol).cast("long").as("bytes"))
      .withColumn("__cum",
        coalesce(sum(col("bytes")).over(
          w.rowsBetween(Window.unboundedPreceding, -1)), lit(0L)))
      // integer div, not double /: exact at any cumulative magnitude.
      // Sizes are nonnegative by contract, so truncation == floor on
      // both engines.
      .withColumn("bin", expr(s"__cum div ${targetBytes}L").cast("long"))
      .drop("__cum")
    val wb = Window.partitionBy(col("tbl"), col("bin"))
    assigned
      .withColumn("bin_files", count(lit(1)).over(wb).cast("long"))
      .withColumn("bin_bytes", sum(col("bytes")).over(wb).cast("long"))
  }

  /** Skew-safe per-key aggregation — the hot-key rewrite for the
    * groupBy keys that concentrate at warehouse scale (an event-type
    * column with 5 values over 100 TB puts billions of rows behind one
    * key). Two distinct remedies, matched to what actually skews:
    *
    *  - ALGEBRAIC aggs (count/sum/min/max) go through an explicit
    *    salt phase: partial per (key, salt) — the salt an md5 hash of
    *    the row id, NO rand(), so the plan is deterministic and
    *    restartable — then final per key. Spark's own map-side partial
    *    aggregation performs the same trick per input partition; the
    *    explicit form is the library surface for engines/paths where
    *    partial agg is unavailable (collect_*-style holistic buffers)
    *    and bounds the final shuffle to `salts` rows per key.
    *  - EXACT count-distinct is where a hot key genuinely hurts
    *    (distinct values of one key otherwise converge on one
    *    reducer): rewrite as distinct over (key, value) — hashed by
    *    BOTH columns, a hot key spreads over every reducer — then a
    *    partial-combinable count per key.
    *
    * Both phases shuffle at most (keys × salts) + distinct-(key,value)
    * rows; no path funnels a key's full row volume to one task. The
    * final equi-join is keys-only (broadcast-size by construction).
    */
  def skewSafeAgg(df: DataFrame, keyCol: String, valCol: String,
                  idCol: String, salts: Int): DataFrame = {
    import graft.functions.TextFunctions.tokenHash64
    val salted = df.select(col(keyCol).as("k"),
      col(valCol).cast("long").as("v"),
      pmod(tokenHash64(concat(lit("skew_"), col(idCol).cast("string"))),
        lit(salts.toLong)).as("__salt"))
    val alg = salted.groupBy(col("k"), col("__salt"))
      .agg(count(lit(1)).as("pn"), sum("v").as("ps"),
        min("v").as("pmin"), max("v").as("pmax"))
      .groupBy("k")
      .agg(sum("pn").cast("long").as("n_rows"),
        sum("ps").cast("long").as("sum_v"),
        min("pmin").cast("long").as("min_v"),
        max("pmax").cast("long").as("max_v"))
    val dist = df.select(col(keyCol).as("k"),
        col(valCol).cast("long").as("v"))
      .distinct()
      .groupBy("k").agg(count(lit(1)).cast("long").as("n_distinct_v"))
    alg.join(dist, Seq("k"))
  }

  /** Skew-safe equi-join via deterministic salting — the hot-key
    * rewrite for a fact→dimension join whose fact-side key distribution
    * concentrates at warehouse scale (one viral item behind billions of
    * fact rows puts that key's whole volume on one reducer). Fact rows
    * get salt = md5(row id) mod `salts` — NO rand(), so the plan is
    * deterministic and restartable — and the dimension side replicates
    * each row `salts` times; the join runs on (key, salt), spreading a
    * hot key over `salts` reducers. Every fact row matches EXACTLY the
    * one replica carrying its salt, so the result is IDENTICAL to the
    * plain join — the q212 result-identity contract, applied to joins
    * (q225's oracle is the plain join). Cost ledger at 100 TB:
    * |dim|·salts replication (the dim is the small side by assumption)
    * buys the removal of the per-key reducer ceiling. AQE's skew-split
    * handles the sort-merge case adaptively at runtime; the explicit
    * salt is the library surface for what AQE cannot touch —
    * deterministic bucketed layouts, pre-partitioned standing tables,
    * and plans that must not depend on runtime statistics.
    */
  def skewSafeJoin(facts: DataFrame, dim: DataFrame, factKey: String,
                   dimKey: String, factIdCol: Column, salts: Int): DataFrame = {
    import graft.functions.TextFunctions.tokenHash64
    require(salts >= 1, s"salts must be >= 1, got $salts")
    val fs = facts.withColumn("__fsalt",
      pmod(tokenHash64(concat(lit("sj_"), factIdCol.cast("string"))),
        lit(salts.toLong)))
    val ds = dim.withColumn("__dsalt",
      explode(sequence(lit(0L), lit(salts.toLong - 1))))
    fs.join(ds, fs(factKey) === ds(dimKey) &&
        fs("__fsalt") === ds("__dsalt"))
      .drop("__fsalt", "__dsalt")
  }

  /** Bloom-pruned inner equi-join: build a bloom over the SELECTIVE
    * side's join keys with ZERO shuffle ([[Dedup.keyBloom]] — per-
    * partition blooms, driver bit-OR), then filter the big side
    * MAP-SIDE before its exchange. Bloom false positives pass extra
    * rows into the join, where the exact equi-condition drops them —
    * the result is IDENTICAL to the plain join (the oracle contract),
    * only the shuffle volume changes.
    *
    * This is the library form of what AQE's runtime bloom filter does
    * inside one query, for the cases AQE cannot see: a filter side
    * computed by another pipeline stage, or a PERSISTED key bloom
    * probed at ingest time (the q127 standing-bloom pattern applied to
    * joins). At 100 TB the ledger is: one `|big|` map-side probe + the
    * bloom broadcast (MBs) buys a shuffle write/read cut equal to the
    * join's selectivity — for a 1% selective join, 99% of the exchange.
    * Keys ride xxhash64 on BOTH sides, so the probe decision is a
    * deterministic function of the key value.
    */
  def bloomPrunedEquiJoin(big: DataFrame, small: DataFrame,
                          bigKey: String, smallKey: String,
                          expectedKeys: Long = 4L << 20,
                          fpp: Double = 0.03): DataFrame = {
    import org.apache.spark.sql.GraftSqlShim
    import org.apache.spark.sql.catalyst.expressions.{BloomFilterMightContain, Literal => CatLit}
    val bloom = Dedup.keyBloom(
      small.select(xxhash64(col(smallKey)).as("h")), expectedKeys, fpp)
    val pruned = big.filter(GraftSqlShim.column(BloomFilterMightContain(
      CatLit.create(bloom, org.apache.spark.sql.types.BinaryType),
      GraftSqlShim.expression(xxhash64(col(bigKey))))))
    pruned.join(small, pruned(bigKey) === small(smallKey))
  }

  /** Two-sample Kolmogorov-Smirnov distance between the `vCol`
    * distributions of two named arms — the drift test that catches a
    * SHAPE change ([[mannWhitney]] catches location; q273's TVD is
    * band-resolution-limited): D = max over the value domain of the
    * absolute ECDF gap, in ppm, with floor division replayed on both
    * engines. Ties inside an arm are no issue — the ECDF jump absorbs
    * them.
    *
    * Scale shape is the [[mannWhitney]] value-histogram doctrine: one
    * (arm, value) agg, one value-domain-bounded cumulative window, one
    * TakeOrdered(1) for the argmax — never a per-row sort. The window
    * is single-partition by construction, so the contract is a BOUNDED
    * value domain (quantize to domain-bounded units — dollars, buckets
    * — before calling, as q279 does), enforced past `maxDistinct`
    * distinct values. NULL values carry no rank ([[rankedRows]]). The
    * argmax tie breaks to the SMALLEST value attaining D, so the row
    * is unique.
    *
    * Returns one row: (n_a, n_b, ks_ppm, at_v).
    */
  def ksTwoSample(df: DataFrame, armCol: String, vCol: String,
                  armA: String, armB: String,
                  maxDistinct: Long = HistMaxDistinct): DataFrame = {
    val counts = rankedRows(df.filter(col(armCol).isin(armA, armB)), col(vCol))
      .groupBy(col(vCol).as("at_v"))
      .agg(sum(when(col(armCol) === armA, 1L).otherwise(0L)).as("__ca"),
        sum(when(col(armCol) === armB, 1L).otherwise(0L)).as("__cb"))
    // Not [[valueRanks]]: two cumulative arms share one sort; only its
    // guard, woven into a kept column, bounds the unkeyed window.
    val byV = Window.orderBy("at_v")
    val cum = counts
      .withColumn("__cuma", histGuard(sum("__ca").over(byV), byV,
        RankGuard("ksTwoSample",
          "quantize vCol to a bounded domain (dollars/buckets) first", maxDistinct)))
      .withColumn("__cumb", sum("__cb").over(byV))
    val totals = cum.agg(sum("__ca").as("n_a"), sum("__cb").as("n_b"))
    cum.crossJoin(broadcast(totals))
      // both cums and totals are nonnegative: floor div == trunc div,
      // identical on Spark (`div`) and DuckDB (`//`)
      .withColumn("__da", expr("(__cuma * 1000000) div greatest(n_a, 1)"))
      .withColumn("__db", expr("(__cumb * 1000000) div greatest(n_b, 1)"))
      .withColumn("ks_ppm", abs(col("__da") - col("__db")))
      .orderBy(col("ks_ppm").desc, col("at_v").asc)
      .limit(1)
      .select(col("n_a"), col("n_b"), col("ks_ppm"), col("at_v"))
  }

  /** Spearman rank correlation between two numeric columns of one
    * frame, with DETERMINISTIC dense row ranks: ties on a value break
    * by `idCol`, so both engines produce the identical permutation and
    * the classic no-tie identity ρ = 1 − 6·Σd²/(n(n²−1)) holds in
    * exact integers end-to-end. The ppm division picks its order by
    * size: n ≤ 16 000 scales the NUMERATOR (6Σd²·10⁶ div n(n²−1) —
    * exact, and 6·(n³/3)·10⁶ < 2⁶³ there), larger n scales the
    * DENOMINATOR (6Σd² div (n(n²−1) div 10⁶) — the overflow-safe
    * order, whose floor-to-zero failure mode only exists under
    * n ≈ 100 and so never reaches this branch). This is
    * the tie-broken exact companion to [[kendallTauBands]] — reach for
    * the banded tau when ties should AVERAGE rather than split by id,
    * or when n exceeds the long bound below, which is now ENFORCED:
    * n > 1.6·10⁶ raises rather than silently overflowing 6Σd².
    *
    * Scale shape: ranks are built in two stages so no global
    * single-partition row window ever forms — the [[valueRanks]] table
    * gives each value its rank BASE (`below`; value-domain-bounded
    * window, guarded past `maxDistinct`), and a row_number partitioned
    * BY VALUE (bounded by the largest tie group) splits ties by id.
    * base + within == row_number over (value, id) exactly. Only
    * complete cases are ranked: a row with a NULL x or y is dropped.
    * Long bound: 6·Σd² < 2n³ needs n ≤ ~1.6·10⁶ rows; band first
    * (q271) beyond that.
    *
    * Returns one row: (n, sum_d2, rho_ppm).
    */
  def spearmanRho(df: DataFrame, idCol: String, xCol: String,
                  yCol: String,
                  maxDistinct: Long = HistMaxDistinct): DataFrame = {
    def rankBy(vCol: String, out: String)(in: DataFrame): DataFrame = {
      val base = valueRanks(in, Nil, vCol, guard = Some(RankGuard(
          s"spearmanRho($vCol)",
          "bucket the metric or band first (kendallTauBands)", maxDistinct)))
        .select(col(vCol), col("below").as("__base"))
      in.join(base, Seq(vCol))
        .withColumn(out, col("__base") + row_number().over(
          Window.partitionBy(vCol).orderBy(idCol)))
        .drop("__base")
    }
    // complete cases: a row with either value NULL has no rank difference
    val ranked = rankBy(yCol, "__ry")(rankBy(xCol, "__rx")(rankedRows(
      df.select(col(idCol), col(xCol), col(yCol)), col(xCol), col(yCol))))
    ranked
      .select((col("__rx") - col("__ry")).as("__d"))
      .agg(count(lit(1)).as("n"),
        sum(col("__d") * col("__d")).cast("long").as("sum_d2"))
      .withColumn("rho_ppm",
        when(col("n") > 1600000L, raise_error(concat(
          lit("spearmanRho: n > 1.6e6 overflows 6*sum_d2 in Long " +
            "(documented bound) — band first (kendallTauBands), got n = "),
          col("n").cast("string"))))
        .otherwise(lit(1000000L) - expr(
          "CASE WHEN n <= 16000 THEN" +
            " (6 * sum_d2 * 1000000) div greatest(n * (n * n - 1), 1)" +
          " ELSE (6 * sum_d2) div greatest((n * (n * n - 1)) div 1000000, 1)" +
          " END")))
      .select(col("n"), col("sum_d2"), col("rho_ppm"))
  }

  /** CUSUM change alarms over an ordered series — the one-sided page
    * test a pipeline hangs on its daily volume/revenue tables to catch
    * a sustained upward drift that per-day thresholds (q247's MAD
    * flags) miss. The textbook recursion s_i = max(0, s_{i−1} + x_i −
    * target − slack) is NOT a window function; it is computed through
    * the exact prefix identity s_i = p_i − min(0, min_{j≤i} p_j) where
    * p is the plain prefix sum of the slack-adjusted deviations — two
    * ordinary cumulative windows, no recursion, proven equal to the
    * fold in StatsFoldPropertySpec. target = ⌊Σx/n⌋ (self-calibrated),
    * slack = target div slackDen, alarm when s_i > target·threshNum.
    * All integers; subtraction is exact so negative p needs no
    * engine-specific division.
    *
    * Scale: the input is one row per series point (day-domain
    * bounded — the q124/q247 doctrine), so the ordered windows run
    * over ≤ a few thousand rows at any corpus size; the corpus-sized
    * work is whatever aggregation BUILT the series.
    *
    * Returns one row per point: (ord, x, cusum, alarm).
    */
  def cusumAlerts(series: DataFrame, ordCol: String, vCol: String,
                  slackDen: Long = 20L, threshNum: Long = 4L): DataFrame = {
    require(slackDen >= 1 && threshNum >= 1,
      s"slackDen/threshNum must be >= 1, got $slackDen/$threshNum")
    val base = series.select(col(ordCol).as("ord"),
      col(vCol).cast("long").as("x"))
    // series values are totals (nonnegative by contract), so the
    // truncating div that both engines share IS the floor
    val cal = base.agg(sum("x").cast("long").as("__sum"),
        count(lit(1)).as("__n"))
      .select(expr("__sum div __n").as("__target"))
      .withColumn("__slack", expr(s"__target div $slackDen"))
    val byOrd = Window.orderBy("ord") // series-domain-bounded window
    base.crossJoin(broadcast(cal))
      .withColumn("__p",
        sum(col("x") - col("__target") - col("__slack")).over(byOrd))
      .withColumn("__pmin", min("__p").over(byOrd))
      .withColumn("cusum", col("__p") - least(lit(0L), col("__pmin")))
      .withColumn("alarm", col("cusum") > col("__target") * threshNum)
      .select(col("ord"), col("x"), col("cusum"), col("alarm"))
  }

  /** Fano factor (index of dispersion, var/mean) per group over a
    * pre-aggregated count series — 10⁶ ppm for a Poisson-flat stream,
    * far above for bursty groups. Exact integers end-to-end: variance
    * numerator n·Σx²−(Σx)² over mean denominator n·Σx, fused as
    * (num·10⁶) div (n·Σx). The ×10⁶ fits a signed 64-bit only while
    * n·Σx² ≤ 9·10¹², and that moment bound is ENFORCED: a group past
    * it raises with the remedy named (coarsen the series — e.g. daily
    * → weekly — so per-point counts shrink) rather than silently
    * wrapping (the [[graft.operators.Sketches]] requirePositive
    * contract).
    *
    * Input: one row per (group, series point) with xCol = the point's
    * count. Returns one row per group: (grp, n_pts, sum_x, fano_ppm).
    */
  def fanoPpm(series: DataFrame, grpCol: String, xCol: String,
              maxMoment: Long = 9000000000000L): DataFrame = {
    require(maxMoment >= 1, s"maxMoment must be >= 1, got $maxMoment")
    series
      .select(col(grpCol).as("grp"), col(xCol).cast("long").as("__x"))
      .groupBy("grp")
      .agg(count(lit(1)).as("n_pts"),
        sum("__x").cast("long").as("sum_x"),
        // try_* forms: overflow of x*x or of the moment sum yields
        // NULL — identically under ANSI (where the plain ops would
        // throw without the remedy) and legacy mode (where they would
        // WRAP and silently bypass a product-form guard);
        // the guard below turns that NULL into the remedy-bearing
        // raise. try_sum SKIPS per-row nulls (it only nulls on
        // sum-overflow), so per-row x*x overflow is detected by the
        // count delta between x and try_multiply(x,x)
        count(col("__x")).as("__nx"),
        count(expr("try_multiply(__x, __x)")).as("__nxx"),
        expr("try_sum(try_multiply(__x, __x))").cast("long").as("__sxx"))
      .withColumn("fano_ppm",
        // compare WITHOUT multiplying (n * __sxx could itself wrap):
        // for integer sxx, n*sxx > M  <=>  sxx > M div n exactly
        // (sxx <= M/n  <=>  sxx <= floor(M/n))
        // NULL __sxx means overflow only when non-null rows EXIST — a
        // group whose x values are all NULL has __nx = 0 and a
        // vacuously-NULL sum, and keeps the product-form guard's old
        // contract (NULL fano_ppm, no raise)
        when(col("__nx") =!= col("__nxx") ||
            (col("__sxx").isNull && col("__nx") > 0L) || col("__sxx") < 0L ||
            col("__sxx") > expr(s"$maxMoment div greatest(n_pts, 1)"),
          raise_error(concat(lit(s"fanoPpm: n*sum(x^2) > $maxMoment " +
            "overflows the x1e6 ppm scale in Long — coarsen the series " +
            "(e.g. daily -> weekly) for group "), col("grp").cast("string"))))
        .otherwise(expr(
          "((n_pts * __sxx - sum_x * sum_x) * 1000000) div greatest(n_pts * sum_x, 1)")))
      .select(col("grp"), col("n_pts"), col("sum_x"), col("fano_ppm"))
  }

  /** Deterministic sign-flip PERMUTATION test per group over PAIRED
    * differences — the exact-p companion to [[wilcoxonSignedRank]]
    * (same input shape) when the readout must be a REAL p-value a
    * multiple-testing step ([[bhStepUp]]) can consume: under H₀ the
    * pair differences are sign-symmetric, so the null distribution of
    * S = Σd is replayed by R md5-derived ±1 reassignments
    * ([[graft.functions.TextFunctions.signFlips]]; both engines draw
    * identical resamples, so p hash-compares exactly), and
    * p = (1 + #{r : |S_r| ≥ |S_obs|}) / (R+1) — the standard
    * add-one permutation p, in ppm by integer division.
    *
    * Scale shape is q295's bootstrap ledger verbatim: the R× fan-out
    * is MAP-ONLY (all R signs in one tight JVM pass per row, one
    * posexplode), collapsed to |groups|·R rows by the partial agg
    * before the only exchange; the comparison windows run over R rows
    * per group. `diffs` must carry one row per pair: (grpCol, idCol
    * — the resample key, dCol — the paired difference, cents-scaled).
    *
    * Returns one row per group: (grp, n_pairs, sum_obs, p_ppm).
    */
  def permutationTestPpm(diffs: DataFrame, grpCol: String, idCol: String,
                         dCol: String, r: Int = 199,
                         prefix: String = "pt_"): DataFrame = {
    require(r >= 1, s"r must be >= 1, got $r")
    val base = diffs.select(col(grpCol).as("grp"),
      col(idCol).cast("long").as("__id"), col(dCol).cast("long").as("__d"))
    val obs = base.groupBy("grp")
      .agg(count(lit(1)).as("n_pairs"), sum("__d").cast("long").as("sum_obs"))
    val resamples = base
      // pin a by-num exchange BEFORE the R× generate: the pre-explode
      // frame looks tiny to AQE (it would coalesce to one partition)
      // but the post-explode stage is the expensive one — the q295
      // bootstrap / q282 fan-out lesson
      .repartition(Shape.width(base.sparkSession), col("__id"))
      .select(col("grp"), col("__d"),
        posexplode(graft.functions.TextFunctions.signFlips(
          col("__id"), r, prefix)))
      .withColumnRenamed("pos", "__r").withColumnRenamed("col", "__s")
      .groupBy("grp", "__r")
      .agg(sum(col("__s") * col("__d")).cast("long").as("__sr"))
    resamples.join(obs, Seq("grp"))
      .groupBy(col("grp"), col("n_pairs"), col("sum_obs"))
      .agg(sum(when(abs(col("__sr")) >= abs(col("sum_obs")), 1L)
        .otherwise(0L)).as("__ge"))
      .withColumn("p_ppm",
        expr(s"((1 + __ge) * 1000000) div ${r + 1}"))
      .select(col("grp"), col("n_pairs"), col("sum_obs"), col("p_ppm"))
  }

  /** Benjamini-Hochberg STEP-UP selection over per-hypothesis p-values
    * (ppm) at each requested FDR level α — the multiple-testing
    * control a metrics platform applies before announcing "these m
    * segments moved": rank p ascending (key tie-break), select every
    * hypothesis ranked ≤ k* where k* = max{k : p_(k)·m ≤ k·α}. All
    * comparisons in exact integer ppm (p·m ≤ 10⁶·m and k·α ≤ m·10⁶
    * both sit far inside Long).
    *
    * Scale: the input IS the hypothesis table (m rows — domain-
    * bounded by construction; the corpus-sized work happened in
    * whatever computed the p-values), so the rank window and the
    * k* max run over m rows per α.
    *
    * Returns one row per (alpha_ppm, key): (alpha_ppm, key, p_ppm,
    * rnk, selected).
    */
  def bhStepUp(pvals: DataFrame, keyCol: String, pCol: String,
               alphasPpm: Seq[Long]): DataFrame = {
    require(alphasPpm.nonEmpty && alphasPpm.forall(a => a >= 1 && a <= 1000000L),
      s"alphas must be ppm in [1, 1e6], got $alphasPpm")
    val spark = pvals.sparkSession
    import spark.implicits._
    val m = Window.partitionBy("alpha_ppm")
    val byP = m.orderBy(col("p_ppm").asc, col("key").asc)
    pvals.select(col(keyCol).cast("string").as("key"),
        col(pCol).cast("long").as("p_ppm"))
      .crossJoin(broadcast(alphasPpm.toDF("alpha_ppm")))
      .withColumn("rnk", row_number().over(byP))
      .withColumn("__m", count(lit(1)).over(m))
      .withColumn("__kstar", max(when(
          col("p_ppm") * col("__m") <= col("rnk") * col("alpha_ppm"),
          col("rnk"))).over(m))
      .withColumn("selected",
        col("__kstar").isNotNull && col("rnk") <= col("__kstar"))
      .select(col("alpha_ppm"), col("key"), col("p_ppm"),
        col("rnk").cast("long").as("rnk"), col("selected"))
  }

  /** First-digit BENFORD deviation per group — the data-forensics
    * screen (fabricated or unit-mangled numbers rarely follow the
    * log-uniform first-digit law): per group, the total-variation
    * distance in ppm between the observed first-significant-digit
    * distribution of a positive integer metric and Benford's
    * log₁₀(1+1/d), whose ppm weights are EXACT CONSTANTS summing to
    * 10⁶ (301030..45757) — no runtime logarithms anywhere. Shares
    * floor per digit; missing digits count their full Benford mass
    * (the broadcast digit spine guarantees 9 rows per group).
    *
    * One (grp, digit) hash agg over the corpus — ≤ 9 cells per group
    * forever — then digit-domain-bounded arithmetic. Returns one row
    * per group: (grp, n, tvd_ppm, worst_digit, worst_dev_ppm), worst
    * = the digit with the largest |deviation| (smallest digit wins
    * ties).
    */
  def benfordDeviation(df: DataFrame, grpCol: String, v: Column): DataFrame = {
    val spark = df.sparkSession
    import spark.implicits._
    val benford = Seq(1L -> 301030L, 2L -> 176091L, 3L -> 124939L,
      4L -> 96910L, 5L -> 79181L, 6L -> 66947L, 7L -> 57992L,
      8L -> 51153L, 9L -> 45757L)
    val spine = benford.toDF("digit", "benford_ppm")
    val counts = df
      .select(col(grpCol).as("grp"),
        Sketches.requirePositive(v.cast("long"), "benfordDeviation").as("__v"))
      .withColumn("digit", substring(col("__v").cast("string"), 1, 1)
        .cast("long"))
      .groupBy("grp", "digit").agg(count(lit(1)).as("cnt"))
    val grps = counts.groupBy("grp").agg(sum("cnt").as("n"))
    val cells = grps.crossJoin(broadcast(spine))
      .join(counts, Seq("grp", "digit"), "left")
      .withColumn("cnt", coalesce(col("cnt"), lit(0L)))
      .withColumn("share_ppm", expr("(cnt * 1000000) div n"))
      .withColumn("dev_ppm", abs(col("share_ppm") - col("benford_ppm")))
    cells
      .withColumn("__w", row_number().over(Window.partitionBy("grp")
        .orderBy(col("dev_ppm").desc, col("digit").asc)))
      .groupBy("grp")
      .agg(first(col("n")).as("n"),
        sum("dev_ppm").cast("long").as("__sumdev"),
        max(when(col("__w") === 1, col("digit"))).as("worst_digit"),
        max(when(col("__w") === 1, col("dev_ppm"))).as("worst_dev_ppm"))
      // integer halving (both engines floor nonnegative div identically)
      .withColumn("tvd_ppm", expr("__sumdev div 2"))
      .select(col("grp"), col("n"), col("tvd_ppm"), col("worst_digit"),
        col("worst_dev_ppm"))
  }

  /** Mann-Kendall trend test over an ordered series — the
    * distribution-free "is this drifting monotonically" companion to
    * [[cusumAlerts]] (CUSUM catches a level SHIFT; this scores a
    * sustained TREND): S = Σ_{i<j} sgn(x_j − x_i) over all ordered
    * point pairs, reported with the tau-a normalization
    * τ = S·10⁶ div C(n,2) — exact integers end-to-end (sgn and the
    * pair join are integral; the division is the only floor, and S
    * may be negative so both engines must truncate toward zero,
    * which Spark `div` and DuckDB `//` share).
    *
    * Scale: the input is one row per series point (day-domain
    * bounded, the [[cusumAlerts]] contract), so the C(n,2) pair join
    * is a broadcast self-join over ≤ a few thousand rows at any
    * corpus size — the corpus-sized work built the series. That
    * contract is ENFORCED: past `maxPts` points the
    * query raises with the remedy named instead of silently costing
    * C(n,2) — 10⁵ un-coarsened days would be 10¹⁰ pairs.
    *
    * Returns one row: (n_pts, s_stat, tau_ppm).
    */
  def mannKendall(series: DataFrame, ordCol: String, vCol: String,
                  maxPts: Long = 20000L): DataFrame = {
    val base = boundedSelfJoinSide(
      series.select(col(ordCol).as("__o"), col(vCol).cast("long").as("__x")),
      "__x", maxPts, "mannKendall",
      "coarsen the series (e.g. daily -> weekly) before the trend test")
    val a = base.select(col("__o").as("oa"), col("__x").as("xa"))
    val b = base.select(col("__o").as("ob"), col("__x").as("xb"))
    a.join(broadcast(b), col("oa") < col("ob"))
      // integer sgn (signum() is a DOUBLE function — floats never
      // enter the statistic)
      .agg(count(lit(1)).as("__npairs"),
        sum(when(col("xb") > col("xa"), 1L)
          .when(col("xb") < col("xa"), -1L).otherwise(0L))
          .cast("long").as("s_stat"))
      .crossJoin(broadcast(base.agg(count(lit(1)).as("n_pts"))))
      .withColumn("tau_ppm",
        expr("(s_stat * 1000000) div greatest(__npairs, 1)"))
      .select(col("n_pts"), col("s_stat"), col("tau_ppm"))
  }

  /** McNemar's test readout over PAIRED binary outcomes — the paired
    * companion for CONVERSION-style metrics (did the same customer
    * convert in each period) where [[wilcoxonSignedRank]] needs
    * magnitudes: only the discordant pairs carry signal, and the
    * statistic is χ² = (b−c)²/(b+c) over b = yes→no and c = no→yes
    * counts, in exact integer ppm. One map-side-combinable agg over
    * the pair frame; the ×10⁶ bound (b+c ≤ 3·10⁶ discordant pairs)
    * is ENFORCED with the remedy named.
    *
    * Returns one row: (n_pairs, n_b, n_c, chi2_ppm).
    */
  def mcnemarPpm(pairs: DataFrame, aCol: String, bCol: String): DataFrame =
    pairs.agg(count(lit(1)).as("n_pairs"),
        sum(when(col(aCol) && !col(bCol), 1L).otherwise(0L))
          .cast("long").as("n_b"),
        sum(when(!col(aCol) && col(bCol), 1L).otherwise(0L))
          .cast("long").as("n_c"))
      .withColumn("chi2_ppm",
        when(col("n_b") + col("n_c") > 3000000L, raise_error(concat(
          lit("mcnemarPpm: > 3e6 discordant pairs overflows the x1e6 " +
            "ppm scale in Long — pre-aggregate (e.g. weekly cohorts), got "),
          (col("n_b") + col("n_c")).cast("string"))))
        .otherwise(expr(
          "((n_b - n_c) * (n_b - n_c) * 1000000) div greatest(n_b + n_c, 1)")))
      .select(col("n_pairs"), col("n_b"), col("n_c"), col("chi2_ppm"))

  /** Cohen's kappa between two categorical label columns — the
    * chance-corrected agreement a classifier eval reports beside the
    * q292-style confusion matrix (raw agreement flatters a skewed
    * label prior): κ = (N·Σdiag − Σₖ rowₖ·colₖ) / (N² − Σₖ rowₖ·colₖ),
    * in exact integer ppm — the numerator may be negative
    * (worse-than-chance), and both engines truncate that division
    * toward zero identically. Degenerate N² = Σrow·col (a single
    * label on both sides) is defined as κ = 0.
    *
    * Scale: ONE |labels|²-bounded cell agg over the corpus; every
    * derived frame (row/col margins, pe) is label-domain-bounded.
    * The ×10⁶ Long bound (N ≤ 3·10⁶ rows) is ENFORCED with the
    * remedy named.
    *
    * Returns one row: (n, n_agree, kappa_ppm).
    */
  def cohensKappaPpm(df: DataFrame, aCol: String, bCol: String): DataFrame = {
    val cells = df.select(col(aCol).cast("string").as("__a"),
        col(bCol).cast("string").as("__b"))
      .groupBy("__a", "__b").agg(count(lit(1)).as("cnt"))
    val rows = cells.groupBy("__a").agg(sum("cnt").as("ra"))
    val colsums = cells.groupBy("__b").agg(sum("cnt").as("cb"))
    val pe = rows.join(colsums, col("__a") === col("__b"))
      .agg(coalesce(sum(col("ra") * col("cb")), lit(0L))
        .cast("long").as("pe_num"))
    cells.agg(sum("cnt").cast("long").as("n"),
        sum(when(col("__a") === col("__b"), col("cnt")).otherwise(0L))
          .cast("long").as("n_agree"))
      .crossJoin(broadcast(pe))
      .withColumn("kappa_ppm",
        when(col("n") > 3000000L, raise_error(concat(
          lit("cohensKappaPpm: n > 3e6 overflows the x1e6 ppm scale in " +
            "Long — compute kappa per shard and pool the cell tables, got "),
          col("n").cast("string"))))
        .otherwise(expr("CASE WHEN n * n = pe_num THEN 0 ELSE " +
          "((n * n_agree - pe_num) * 1000000) div (n * n - pe_num) END")))
      .select(col("n"), col("n_agree"), col("kappa_ppm"))
  }

  /** Wilcoxon signed-rank readout over a column of PAIRED differences
    * — the matched-pairs companion to [[mannWhitney]] (same metric,
    * same population, two moments in time): zero differences drop (the
    * standard Pratt-free treatment), magnitudes rank with tie-AVERAGED
    * ranks via the exact 2× integer trick, and W⁺/W⁻ are the doubled
    * rank sums of the positive/negative sides. The effect readout is
    * W⁺'s share of the total rank mass in ppm — kept nonnegative so no
    * signed floor/trunc division ever crosses engines. The division
    * picks its order by size (the small-input convention of
    * [[spearmanRho]]): total mass ≤ 9·10¹² scales the NUMERATOR (w2_plus·10⁶ div mass —
    * exact, no Long overflow since w2_plus ≤ mass), larger masses use
    * the overflow-safe w2_plus div (mass div 10⁶) order, where the
    * floor-to-zero failure mode (mass < 10⁶, i.e. n < 1000) cannot
    * occur.
    *
    * Scale shape: the |d| ranks and per-sign sums are [[mannWhitney]]'s
    * rank-sum step ([[midRankSums]], the sign as the class) — same
    * bounded-value-domain contract, same pre-bucket discipline for
    * metrics whose distinct-value count grows with the corpus (q283
    * buckets cents to whole dollars).
    *
    * Returns one row: (n_pairs, w2_plus, w2_minus, wplus_share_ppm).
    */
  def wilcoxonSignedRank(diffs: DataFrame, dCol: String): DataFrame = {
    val nz = diffs.filter(col(dCol) =!= 0L)
      .select(abs(col(dCol)).cast("long").as("__a"),
        (col(dCol) > 0L).as("__pos"))
    midRankSums(nz, "__pos", "__a", RankGuard("wilcoxonSignedRank",
        "pre-bucket dCol to a bounded domain (whole dollars) before ranking"))
      .agg(sum("n").as("n_pairs"),
        sum(when(col("__pos"), col("rank2_sum")).otherwise(0L)).as("w2_plus"),
        sum(when(!col("__pos"), col("rank2_sum")).otherwise(0L)).as("w2_minus"))
      // degenerate inputs (all zeros dropped): total rank mass 0 →
      // greatest(…,1) keeps the division defined; both engines carry it
      .withColumn("wplus_share_ppm",
        expr("CASE WHEN w2_plus + w2_minus <= 9000000000000 THEN" +
          " (w2_plus * 1000000) div greatest(w2_plus + w2_minus, 1)" +
          " ELSE w2_plus div ((w2_plus + w2_minus) div 1000000) END"))
      .select(col("n_pairs"), col("w2_plus"), col("w2_minus"),
        col("wplus_share_ppm"))
  }

  /** Weighted isotonic (non-decreasing) calibration fit over a BANDED
    * rate table — the monotone regression a pipeline runs to turn a
    * raw score into a calibrated probability (Zadrozny & Elkan 2002):
    * given per-band success/total counts, the least-squares monotone
    * fit. Computed NOT by the sequential pool-adjacent-violators fold
    * but by the closed-form minimax identity fit_b = max_{i≤b}
    * min_{j≥b} avg(i..j) (Robertson, Wright & Dykstra 1988) — every
    * pooled average is a prefix-sum difference in exact integers
    * (ppm via floor division on nonnegative sums), so the fit is
    * engine-exact and the whole computation is three tiny broadcast
    * joins over the |bands|² ≤ 64² pair frame, never a sequential
    * driver loop. Equality to the literal weighted-PAV fold proven in
    * StatsFoldPropertySpec.
    *
    * Input: one row per band (bandCol ascending defines the order)
    * with sumCol = successes, cntCol = trials (cnt ≥ 1). Returns one
    * row per band: (band, n, s, rate_ppm, iso_fit_ppm), iso_fit_ppm
    * non-decreasing in band by construction.
    */
  def isotonicFitPpm(bands: DataFrame, bandCol: String, sumCol: String,
                     cntCol: String): DataFrame = {
    val byB = Window.orderBy("b") // band-domain-bounded window
    val base = bands.select(col(bandCol).cast("long").as("b"),
        col(sumCol).cast("long").as("s"), col(cntCol).cast("long").as("n"))
      .withColumn("cs", sum("s").over(byB))
      .withColumn("cn", sum("n").over(byB))
    val lo = base.select(col("b").as("i"),
      (col("cs") - col("s")).as("cs_lo"), (col("cn") - col("n")).as("cn_lo"))
    val hi = base.select(col("b").as("j"), col("cs").as("cs_hi"),
      col("cn").as("cn_hi"))
    val pairs = lo.join(broadcast(hi), col("i") <= col("j"))
      .withColumn("avg_ppm",
        expr("((cs_hi - cs_lo) * 1000000) div (cn_hi - cn_lo)"))
      .select(col("i"), col("j"), col("avg_ppm"))
    val inner = pairs
      .join(broadcast(base.select(col("b"))),
        col("i") <= col("b") && col("b") <= col("j"))
      .groupBy("i", "b").agg(min("avg_ppm").as("m"))
    val fit = inner.groupBy("b").agg(max("m").as("iso_fit_ppm"))
    base.join(fit, Seq("b"))
      .select(col("b").as(bandCol), col("n"), col("s"),
        expr("(s * 1000000) div n").as("rate_ppm"),
        col("iso_fit_ppm"))
      .orderBy(bandCol)
  }

  /** Per-group ordinary-least-squares trend over a (group, x, y)
    * series — the parametric companion to [[theilSenSlope]] (exact
    * moments, one agg, no pair loop): slope = (nΣxy − ΣxΣy) div (nΣx²
    * − (Σx)²) with TRUNCATING division — Spark's `div` and DuckDB's
    * integer `//` both round toward zero (measured: −7//2 = −3 on
    * both), so a negative slope divides identically with no floor
    * shim. The intercept is re-derived under the truncated slope:
    * (Σy − slope·Σx) div n — deterministic by construction,
    * documented as such.
    *
    * Scale: ONE map-side-combinable aggregation over the series — the
    * five sufficient statistics are the entire shuffle (5 longs per
    * group). Long bound: n·Σxy must fit a signed 64-bit — with x as a
    * small ordinal (month index) and y in cents this holds to ~10³×
    * the sf0.1 fixture; scale y to coarser units first beyond that.
    * Zero-variance groups (one distinct x) drop — slope undefined.
    *
    * Returns one row per group: (grp, n, slope_num, slope_den, slope,
    * intercept).
    */
  def groupOlsTrend(series: DataFrame, groupCol: String, xCol: String,
                    yCol: String): DataFrame = {
    series
      .select(col(groupCol).as("grp"), col(xCol).cast("long").as("__x"),
        col(yCol).cast("long").as("__y"))
      .groupBy("grp")
      .agg(count(lit(1)).as("n"),
        sum("__x").cast("long").as("__sx"),
        sum("__y").cast("long").as("__sy"),
        sum(col("__x") * col("__y")).cast("long").as("__sxy"),
        sum(col("__x") * col("__x")).cast("long").as("__sxx"))
      .withColumn("slope_num", expr("n * __sxy - __sx * __sy"))
      .withColumn("slope_den", expr("n * __sxx - __sx * __sx"))
      .filter(col("slope_den") > 0L)
      .withColumn("slope", expr("slope_num div slope_den"))
      .withColumn("intercept",
        expr("(__sy - slope * __sx) div n"))
      .select(col("grp"), col("n"), col("slope_num"), col("slope_den"),
        col("slope"), col("intercept"))
  }
}
