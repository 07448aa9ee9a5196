package graft.operators

import org.apache.spark.sql.{Column, DataFrame, Encoders}
import org.apache.spark.sql.expressions.Aggregator
import org.apache.spark.sql.functions._

import graft.functions.TextFunctions._

/** Bounded-state sketches for cardinality and frequency at corpus scale.
  *
  * Both sketches here are DETERMINISTIC — every hash is md5-derived
  * ([[graft.functions.TextFunctions.tokenHash64]]), so the same corpus
  * yields bit-identical sketch contents in any engine. That is the
  * design departure from q39/q70 (Spark's native HLL / KLL sketches,
  * whose binary state is engine-private and therefore `no_oracle`):
  * a KMV or count-min cell is a pure function of the data, which lets
  * the DuckDB oracle recompute the sketch itself and hash-compare the
  * estimates, not just bound their error.
  *
  * Scale shapes:
  *  - KMV: per-group state is k longs, merged associatively — a classic
  *    map-side-combine aggregate; shuffle volume is |groups| × k longs
  *    no matter how many rows feed it.
  *  - Count-min: the whole sketch is d×w cells built by ONE hash
  *    aggregation (map-side partials over a bounded key domain);
  *    probing joins a broadcast probe list against the broadcast cell
  *    table — no shuffle at all after the build agg.
  *
  * The reference has no sketches (SURVEY.md §2a); these extend its
  * scan→agg shape (usr_functions.c:19-109) to sublinear summaries.
  */
object Sketches {

  /** 60-bit hash domain of tokenHash64: [0, 2^60). */
  val HashDomain: Long = 1L << 60

  /** KMV (k-minimum-values) distinct-count sketch — Bar-Yossef et al.
    * 2002. Buffer = the k smallest DISTINCT 60-bit hashes seen, kept
    * sorted ascending; insertion and merge preserve sortedness, so the
    * final buffer is a pure function of the input SET (order- and
    * partitioning-independent — what makes the estimate oracle-
    * comparable). Estimator: with h_k the k-th smallest hash,
    * E[distinct] = (k-1) · 2^60 / h_k; when fewer than k distinct
    * hashes exist the buffer IS the exact distinct set.
    */
  class KmvAgg(k: Int) extends Aggregator[Long, Array[Long], Array[Long]] {
    require(k >= 2, s"k must be >= 2, got $k")
    def zero: Array[Long] = Array.empty[Long]

    def reduce(b: Array[Long], h: Long): Array[Long] = {
      if (h < 0) return b // null sentinel: hash domain is [0, 2^60)
      val pos = java.util.Arrays.binarySearch(b, h)
      if (pos >= 0) b                       // already present
      else {
        val ins = -pos - 1
        if (b.length < k) {
          val out = new Array[Long](b.length + 1)
          System.arraycopy(b, 0, out, 0, ins)
          out(ins) = h
          System.arraycopy(b, ins, out, ins + 1, b.length - ins)
          out
        } else if (ins < k) {               // displaces the current max
          val out = new Array[Long](k)
          System.arraycopy(b, 0, out, 0, ins)
          out(ins) = h
          System.arraycopy(b, ins, out, ins + 1, k - ins - 1)
          out
        } else b
      }
    }

    def merge(a: Array[Long], b: Array[Long]): Array[Long] = {
      // merge two sorted distinct arrays, keep the k smallest distinct
      val out = new Array[Long](math.min(a.length + b.length, k))
      var i = 0; var j = 0; var n = 0
      while (n < out.length && (i < a.length || j < b.length)) {
        val v =
          if (j >= b.length || (i < a.length && a(i) <= b(j))) { val x = a(i); i += 1; x }
          else { val x = b(j); j += 1; x }
        if (n == 0 || out(n - 1) != v) { out(n) = v; n += 1 }
      }
      if (n == out.length) out else java.util.Arrays.copyOf(out, n)
    }

    def finish(b: Array[Long]): Array[Long] = b
    def bufferEncoder = Encoders.kryo[Array[Long]]
    def outputEncoder =
      org.apache.spark.sql.catalyst.encoders.ExpressionEncoder[Array[Long]]()
  }

  /** Per-group approximate distinct count via KMV. `keyCol` is hashed
    * with a salted tokenHash64 (`saltPrefix` keeps sketches of different
    * operators independent). Returns
    * (group, n_kept, kth_min, est_distinct):
    *  - n_kept < k  => the hash set was exhaustive, est = n_kept exact;
    *  - n_kept == k => est = (k-1)·2^60 / kth_min (floor), computed in
    *    BigInt because (k-1)·2^60 overflows a Long for k > 8 — DuckDB
    *    mirrors it in HUGEINT.
    * Relative sketch error is ~1/sqrt(k-2) (≈12.7% at k=64).
    */
  def kmvDistinct(df: DataFrame, groupCol: String, keyCol: Column,
                  k: Int, saltPrefix: String): DataFrame = {
    val kmv = udaf(new KmvAgg(k), Encoders.scalaLong)
    val est = udf { (buf: Seq[Long]) =>
      if (buf.size < k) buf.size.toLong
      // `max 1` guards the 2^-60 chance of a literal zero hash (the
      // oracle applies GREATEST(kth_min, 1) identically)
      else ((BigInt(k - 1) * BigInt(HashDomain)) / BigInt(buf.last max 1L)).toLong
    }
    // null keys hash to the negative sentinel the buffer ignores —
    // a NULL contributes to no distinct count (SQL COUNT(DISTINCT)
    // semantics), and the udaf never sees a null Long
    val h = coalesce(
      tokenHash64(concat(lit(saltPrefix), keyCol.cast("string"))), lit(-1L))
    df.select(col(groupCol), h.as("__h"))
      .groupBy(groupCol)
      .agg(kmv(col("__h")).as("__buf"))
      .select(col(groupCol),
        size(col("__buf")).cast("long").as("n_kept"),
        element_at(col("__buf"), -1).as("kth_min"),
        est(col("__buf")).as("est_distinct"))
  }

  /** Per-group KMV sketches as raw k-min buffers — the mergeable form
    * [[kmvMergeEstimate]] consumes. Same hashing/null contract as
    * [[kmvDistinct]].
    */
  def kmvSketches(df: DataFrame, groupCol: String, keyCol: Column,
                  k: Int, saltPrefix: String): DataFrame = {
    val kmv = udaf(new KmvAgg(k), Encoders.scalaLong)
    val h = coalesce(
      tokenHash64(concat(lit(saltPrefix), keyCol.cast("string"))), lit(-1L))
    df.select(col(groupCol), h.as("__h"))
      .groupBy(groupCol)
      .agg(kmv(col("__h")).as("sketch"))
  }

  /** Merge two per-group KMV sketch tables and estimate — the property
    * that makes KMV a DISTRIBUTED sketch: merge(sketch(A), sketch(B))
    * is bit-identical to sketch(A ∪ B), so partitioned/incremental
    * ingest never needs the raw rows again (q168 proves it against the
    * whole-corpus oracle). One full-outer equi-join on the group key
    * over |groups|-sized tables; the merge itself is the Aggregator's
    * own sorted k-min merge, order-free and idempotent.
    */
  def kmvMergeEstimate(a: DataFrame, b: DataFrame, groupCol: String,
                       k: Int): DataFrame = {
    val agg = new KmvAgg(k)
    val mergeUdf = udf { (x: Seq[Long], y: Seq[Long]) =>
      agg.merge(Option(x).map(_.toArray).getOrElse(Array.empty),
        Option(y).map(_.toArray).getOrElse(Array.empty))
    }
    val est = udf { (buf: Seq[Long]) =>
      if (buf.size < k) buf.size.toLong
      else ((BigInt(k - 1) * BigInt(HashDomain)) / BigInt(buf.last max 1L)).toLong
    }
    val bb = b.withColumnRenamed("sketch", "__sb")
    a.join(bb, Seq(groupCol), "full_outer")
      .withColumn("__m", mergeUdf(col("sketch"), col("__sb")))
      .select(col(groupCol),
        size(col("__m")).cast("long").as("n_kept"),
        element_at(col("__m"), -1).as("kth_min"),
        est(col("__m")).as("est_distinct"))
  }

  /** Trailing-window distinct rollup from MERGED per-day KMV sketches —
    * the sketch-OLAP pattern that justifies keeping sketch columns in a
    * warehouse: each day is sketched ONCE (one agg over the raw rows),
    * then every trailing `windowDays` window merges its days' k-min
    * buffers — raw rows are never re-read per window, and a new day
    * extends every rollup by one sketch merge. Correct because KMV
    * merge is exact ([[kmvMergeEstimate]]'s q168-proven property): the
    * union's k smallest hashes each lie in their own day's k smallest,
    * and the sorted merge dedups cross-day repeats. Windows anchor at
    * each OBSERVED day (end-inclusive, days wday−w+1..wday). The merge
    * fold is order-free, so collect_list's arbitrary order cannot move
    * the estimate. Returns (wday, n_kept, kth_min, est_distinct);
    * `dayCol` must be an integer day number.
    *
    * Scale: day-sketch table = \|days\| rows × k longs; window fan-out
    * replicates each w times; per-window state ≤ w·k longs.
    */
  def kmvWindowRollup(df: DataFrame, dayCol: String, keyCol: Column, k: Int,
                      windowDays: Int, saltPrefix: String): DataFrame = {
    require(windowDays >= 1, s"windowDays must be >= 1, got $windowDays")
    val agg = new KmvAgg(k)
    val daySk = kmvSketches(
      df.select(col(dayCol).cast("long").as("__day"), keyCol.as("__key")),
      "__day", col("__key"), k, saltPrefix)
    val spine = daySk.select(col("__day").as("wday"))
    val contrib = daySk.select(col("sketch"),
        explode(sequence(col("__day"), col("__day") + (windowDays - 1)))
          .as("wday"))
      .join(spine, Seq("wday"), "left_semi")
    val mergeAll = udf { bufs: Seq[Seq[Long]] =>
      bufs.foldLeft(Array.empty[Long])((a, b) => agg.merge(a, b.toArray))
    }
    val est = udf { (buf: Seq[Long]) =>
      if (buf.size < k) buf.size.toLong
      else ((BigInt(k - 1) * BigInt(HashDomain)) / BigInt(buf.last max 1L)).toLong
    }
    contrib.groupBy("wday")
      .agg(collect_list("sketch").as("bs"))
      .withColumn("__m", mergeAll(col("bs")))
      .select(col("wday"),
        size(col("__m")).cast("long").as("n_kept"),
        element_at(col("__m"), -1).as("kth_min"),
        est(col("__m")).as("est_distinct"))
  }

  /** One-pass table profiler — the Deequ-class ingest audit every
    * pipeline runs before trusting a delivery: per column, row count,
    * null count and KMV-estimated distinct count, ALL from a single
    * aggregation over one scan (2 aggregates per column share the
    * pass; nulls ride as a negative sentinel the KMV buffer ignores,
    * since real hashes live in [0, 2^60)). Columns are given as
    * (name, expression) so type-sensitive columns can be canonicalized
    * first (money → cents, timestamps → formatted strings) — which is
    * also what keeps the DuckDB oracle's string casts bit-identical.
    * Returns (column, n_rows, n_null, est_distinct) ordered by column.
    */
  def profileTable(df: DataFrame, cols: Seq[(String, Column)],
                   k: Int, saltPrefix: String): DataFrame = {
    require(cols.nonEmpty, "at least one column required")
    val kmv = udaf(new KmvAgg(k), Encoders.scalaLong)
    val est = udf { (buf: Seq[Long]) =>
      if (buf.size < k) buf.size.toLong
      else ((BigInt(k - 1) * BigInt(HashDomain)) / BigInt(buf.last max 1L)).toLong
    }
    val aggs = cols.flatMap { case (name, c) =>
      val h = when(c.isNotNull,
        tokenHash64(concat(lit(saltPrefix), c.cast("string")))).otherwise(lit(-1L))
      Seq(sum(when(c.isNull, 1L).otherwise(0L)).as(s"__null_$name"),
        est(kmv(h)).as(s"__dist_$name"))
    } :+ count(lit(1)).as("__n")
    val one = df.agg(aggs.head, aggs.tail: _*)
    val stacked = cols.map { case (name, _) =>
      struct(lit(name).as("column"), col("__n").as("n_rows"),
        col(s"__null_$name").as("n_null"),
        col(s"__dist_$name").as("est_distinct"))
    }
    one.select(explode(array(stacked: _*)).as("p"))
      .select("p.column", "p.n_rows", "p.n_null", "p.est_distinct")
  }

  /** Pairwise set-overlap estimate between groups from their KMV
    * sketches (the theta-sketch trick, Dasgupta et al. 2016): for each
    * group pair, M = the k smallest distinct hashes of S_a ∪ S_b (a
    * uniform sample of the union) and J ≈ |{x ∈ M : x ∈ S_a ∧ x ∈ S_b}|
    * / |M|. Everything derives from the per-group sketches — the raw
    * sets are never compared, so the pair stage costs |G|²·k no matter
    * how many rows fed the sketches. Intended for BOUNDED group domains
    * (statuses, languages, sources); the sketch table is broadcast-
    * sized by construction. Jaccard is reported in exact ppm (integer
    * div) for cross-engine hash stability. Returns
    * (g_a, g_b, n_common, m_size, jaccard_ppm) for g_a < g_b.
    */
  def kmvJaccard(df: DataFrame, groupCol: String, keyCol: Column,
                 k: Int, saltPrefix: String): DataFrame = {
    val agg = new KmvAgg(k)
    val kmv = udaf(agg, Encoders.scalaLong)
    val h = coalesce(
      tokenHash64(concat(lit(saltPrefix), keyCol.cast("string"))), lit(-1L))
    val sk = df.select(col(groupCol).as("g"), h.as("__h"))
      .groupBy("g").agg(kmv(col("__h")).as("buf"))
    val overlap = udf { (a: Seq[Long], b: Seq[Long]) =>
      val m = agg.merge(a.toArray, b.toArray) // sorted k-min of the union
      val sa = a.toSet; val sb = b.toSet
      Array(m.count(x => sa(x) && sb(x)).toLong, m.length.toLong)
    }
    sk.as("a").join(sk.as("b"), col("a.g") < col("b.g"))
      .select(col("a.g").as("g_a"), col("b.g").as("g_b"),
        overlap(col("a.buf"), col("b.buf")).as("cm"))
      .select(col("g_a"), col("g_b"),
        col("cm").getItem(0).as("n_common"),
        col("cm").getItem(1).as("m_size"),
        expr("(cm[0] * 1000000) div cm[1]").as("jaccard_ppm"))
  }

  /** Count-min sketch build over whitespace tokens — Cormode &
    * Muthukrishnan 2005. d hash rows × w columns; cell (r, c) sums the
    * counts of every token with hash_r(token) = c. ONE hash aggregation
    * over a ≤ d·w key domain: partial aggregation bounds the shuffle at
    * d·w cells per map task regardless of corpus size.
    *
    * The d row hashes are DISJOINT 15-BIT SLICES of one 60-bit md5
    * hash — pairwise-independent enough for the CM guarantee — and the
    * hashing runs over the DISTINCT-TOKEN frequency table, not the
    * occurrence stream: the corpus pass is a plain string hash agg (no
    * digest, no generator), and the md5 + d-way expansion touch only
    * |vocab| rows (cell cnt = sum of token counts, value-identical to
    * counting occurrences — the first cut digested every occurrence d
    * times and measured 8.4 s at sf1 where the frequency-first shape
    * does the same corpus work as any wordcount). Requires d ≤ 4
    * (60/15) and w ≤ 2^15.
    * Returns (r, c, cnt) — only non-zero cells; probes treat a missing
    * cell as 0 (never happens for a probe token that occurs, since its
    * own occurrences populate its cells).
    */
  def cmsBuild(docs: DataFrame, textCol: String, d: Int, w: Int,
               saltPrefix: String): DataFrame = {
    require(d >= 1 && d <= 4 && w >= 2 && w <= 32768,
      s"need 1 <= d <= 4, 2 <= w <= 32768; got d=$d w=$w")
    val tf = docs.select(explode(tokens(col(textCol))).as("w"))
      .groupBy("w").agg(count(lit(1)).as("cnt"))
    val h = tokenHash64(concat(lit(saltPrefix), col("w")))
    val rows = (0 until d).map(r => pmod(shiftright(h, 15 * r), lit(w.toLong)))
    tf.select(col("cnt"), posexplode(array(rows: _*)).as(Seq("r", "c")))
      .groupBy(col("r").cast("long").as("r"), col("c"))
      .agg(sum("cnt").as("cnt"))
  }

  /** Probe a count-min sketch for a fixed token list: estimate =
    * min over rows r of cell(r, hash_r(token)). The sketch cells and
    * the probe list are both bounded, so the probe plan is two
    * broadcasts and a map — nothing shuffles. Count-min guarantees
    * est >= true count (tested), with overestimate ≤ e·N/w w.h.p.
    * Returns (word, est_count).
    */
  def cmsProbe(spark: org.apache.spark.sql.SparkSession, cells: DataFrame,
               probes: Seq[String], d: Int, w: Int,
               saltPrefix: String): DataFrame = {
    import spark.implicits._
    val h = tokenHash64(concat(lit(saltPrefix), col("word")))
    val probeCells = probes.toDF("word")
      .select(col("word"), posexplode(array((0 until d).map(r =>
        pmod(shiftright(h, 15 * r), lit(w.toLong))): _*)).as(Seq("r", "c")))
      .select(col("word"), col("r").cast("long").as("r"), col("c"))
    probeCells.join(broadcast(cells), Seq("r", "c"), "left")
      .na.fill(0L, Seq("cnt"))
      .groupBy("word")
      .agg(min(col("cnt")).as("est_count"))
  }

  /** Merge count-min sketches by cellwise addition. CMS is a LINEAR
    * sketch — every cell is a sum of per-occurrence contributions — so
    * the merged table is EXACTLY the sketch of the concatenated corpus,
    * bit-for-bit (q178 proves it against the whole-corpus oracle; the
    * KMV twin is q168). This is what lets partitioned/incremental
    * ingest maintain frequency sketches without rescanning history.
    * Each input is a bounded d·w cell table, so the merge shuffles
    * only sketch cells, never data.
    */
  def cmsMerge(cells: Seq[DataFrame]): DataFrame = {
    require(cells.nonEmpty, "need at least one sketch to merge")
    cells.reduce(_.unionByName(_))
      .groupBy("r", "c").agg(sum("cnt").as("cnt"))
  }

  /** [[cmsBuild]] over a KEY column (no tokenization) — the sketch a
    * join-size estimator wants: cells count key occurrences, the key
    * rendered as its canonical string so the md5 row hashes are
    * engine-neutral.
    */
  def cmsBuildKeys(df: DataFrame, keyCol: String, d: Int, w: Int,
                   saltPrefix: String): DataFrame = {
    require(d >= 1 && d <= 4 && w >= 2 && w <= 32768,
      s"need 1 <= d <= 4, 2 <= w <= 32768; got d=$d w=$w")
    val tf = df.select(col(keyCol).cast("string").as("w"))
      .groupBy("w").agg(count(lit(1)).as("cnt"))
    val h = tokenHash64(concat(lit(saltPrefix), col("w")))
    val rows = (0 until d).map(r => pmod(shiftright(h, 15 * r), lit(w.toLong)))
    tf.select(col("cnt"), posexplode(array(rows: _*)).as(Seq("r", "c")))
      .groupBy(col("r").cast("long").as("r"), col("c"))
      .agg(sum("cnt").as("cnt"))
  }

  /** Join-size estimation from two count-min sketches (the
    * AMS/count-min inner-product estimator, Cormode & Muthukrishnan
    * 2005 §4.2): |A ⋈_k B| = Σ_k cntA(k)·cntB(k), estimated as
    * min over rows r of Σ_c cellsA[r,c]·cellsB[r,c]. Hash collisions
    * only ADD positive cross terms, so the estimate is
    * overestimate-only — exactly the one-sided guarantee a join
    * planner wants for sizing the build side. Both sketches must share
    * (d, w, saltPrefix).
    *
    * Scale: the whole computation touches d·w cells per side — the
    * corpus-size-independent sketch algebra of [[cmsMerge]], but as an
    * inner product instead of a cellwise sum; the estimator never
    * re-reads either input. Returns one row (est_join_size).
    */
  def cmsJoinSizeEstimate(cellsA: DataFrame, cellsB: DataFrame): DataFrame =
    cellsA.select(col("r"), col("c"), col("cnt").as("ca"))
      // FULL outer, missing cells as 0: an inner join would drop a hash
      // row with no overlapping non-zero cells, skipping its (tightest,
      // zero) inner product before the min — disjoint key sets must
      // estimate 0, not min over the surviving rows
      .join(cellsB.select(col("r"), col("c"), col("cnt").as("cb")),
        Seq("r", "c"), "full_outer")
      .groupBy("r")
      .agg(sum(coalesce(col("ca"), lit(0L)) *
        coalesce(col("cb"), lit(0L))).as("ip"))
      .agg(min("ip").cast("long").as("est_join_size"))

  // ------------------------------------------------------------------ //
  // Log-bucket quantile sketch (HdrHistogram bucketing / DDSketch with //
  // a power-of-two gamma — Tene, HdrHistogram; Masson et al. VLDB'19). //
  // ------------------------------------------------------------------ //

  /** Log-bucket index of a positive integer value, `subBits` sub-bucket
    * bits per power of two. With e = floor(log2(v)):
    *
    *   shift = max(e - subBits, 0)
    *   idx   = e·2^subBits + (v >> shift) − 2^(e − shift)
    *
    * i.e. the exponent plus the top `subBits` mantissa bits. The map is
    * monotone in v (so bucket order IS value order), buckets are
    * singletons below 2^subBits (small values exact), and above that a
    * bucket spans 2^(e−subBits) consecutive values starting at its
    * [[logBucketLowerSql]] — a guaranteed RELATIVE error < 2^-subBits.
    * Everything is integer bit arithmetic (`length(bin(v))−1` is the
    * exact floor-log2 both engines share — no float log), so the sketch
    * is a pure function of the data: DETERMINISTIC, order-free, and
    * oracle-recomputable like KMV/CMS, unlike q70's engine-private KLL.
    *
    * State bound: e ≤ 63 ⇒ at most 64·2^subBits buckets per group EVER
    * (2048 at subBits=5) — bounded forever, mergeable by cellwise
    * addition ([[logBucketMerge]]; the sketch is linear like CMS).
    */
  def logBucketIdxSql(v: String, subBits: Int): String = {
    val w = 1L << subBits
    val e = s"(length(bin($v)) - 1)"
    val sh = s"greatest($e - $subBits, 0)"
    s"(cast($e as bigint) * ${w}L + ($v >> $sh) - shiftleft(1L, $e - $sh))"
  }

  /** Inclusive lower bound of log bucket `k` (smallest v mapping to it):
    * with e = k div 2^subBits, m = k mod 2^subBits, shift = max(e −
    * subBits, 0): lb = (m + 2^(e−shift)) << shift.
    */
  def logBucketLowerSql(k: String, subBits: Int): String = {
    val w = 1L << subBits
    val e = s"cast($k div ${w}L as int)"
    val sh = s"greatest($e - $subBits, 0)"
    s"shiftleft(($k % ${w}L) + shiftleft(1L, $e - $sh), $sh)"
  }

  /** Exclusive-width of log bucket `k`: 2^shift (1 below 2^subBits). */
  def logBucketWidthSql(k: String, subBits: Int): String = {
    val w = 1L << subBits
    s"shiftleft(1L, greatest(cast($k div ${w}L as int) - $subBits, 0))"
  }

  /** Runtime guard enforcing the sketch's v >= 1 contract: a
    * non-positive value would map to bucket -1 (length(bin(0))-1 = 0)
    * whose decode DIVERGES between Spark (`div` truncates toward zero)
    * and a floor-division oracle — silently wrong quantiles. Fail fast
    * with the offending value instead.
    */
  private[graft] def requirePositive(v: Column, site: String): Column =
    when(v >= 1L, v).otherwise(raise_error(concat(
      lit(s"$site: v must be a positive integer (>= 1), got "),
      coalesce(v.cast("string"), lit("NULL")))))

  /** Build the per-group log-bucket sketch: (grp, bucket, cnt). ONE hash
    * aggregation over a ≤ 64·2^subBits key domain per group — map-side
    * partials bound the shuffle at |groups|·|buckets| cells regardless
    * of corpus size (the cmsBuild shape for quantiles). `v` must be a
    * positive integer column (money in cents, latencies in µs, token
    * counts — the quantile targets of a pipeline dashboard); the
    * contract is ENFORCED at runtime — a v < 1 row raises rather than
    * silently corrupting the sketch (see [[requirePositive]]).
    */
  def logBucketCells(df: DataFrame, grpCol: String, v: Column,
                     subBits: Int): DataFrame = {
    require(subBits >= 1 && subBits <= 16,
      s"need 1 <= subBits <= 16, got $subBits")
    df.select(col(grpCol).as("grp"),
        requirePositive(v.cast("long"), "logBucketCells").as("__v"))
      .withColumn("bucket", expr(logBucketIdxSql("__v", subBits)))
      .groupBy("grp", "bucket").agg(count(lit(1)).as("cnt"))
  }

  /** Merge log-bucket sketches by cellwise addition — the sketch is
    * LINEAR (every cell is a sum of per-row contributions), so the
    * merged table is EXACTLY the sketch of the concatenated input,
    * bit-for-bit (q224 proves it against the whole-corpus oracle; the
    * CMS twin is q178, the KMV twin q168). Merging shuffles only
    * bounded cell tables, never data.
    */
  def logBucketMerge(cells: Seq[DataFrame]): DataFrame = {
    require(cells.nonEmpty, "need at least one sketch to merge")
    cells.reduce(_.unionByName(_))
      .groupBy("grp", "bucket").agg(sum("cnt").as("cnt"))
  }

  /** Quantile selection over a `grp`-keyed frame with the shared
    * integer rank rule rank = max(ceil(n·q_ppm/10^6), 1): per
    * (grp, q_ppm), the key whose [[Relational.valueRanks]] interval
    * holds the rank. The rank window runs over the BOUNDED histogram
    * (sketch cells weighted by `cnt`, or a value-domain histogram for
    * the exact twin — the q92 doctrine), never the raw rows. Returns
    * (grp, q_ppm, n_total, <kOut>).
    */
  private def rankSelect(df: DataFrame, keyCol: String, kOut: String,
                         qPpms: Seq[Long], weight: Column): DataFrame = {
    require(qPpms.nonEmpty, "at least one quantile required")
    Relational.valueRanks(df, Seq("grp"), keyCol, weight)
      .withColumn("q_ppm", explode(array(qPpms.map(lit(_)): _*)))
      .filter(Relational.valueAtRank(
        expr("greatest((n * q_ppm + 999999L) div 1000000L, 1L)")))
      .select(col("grp"), col("q_ppm"), col("n").as("n_total"),
        col(keyCol).as(kOut))
  }

  /** Per-group quantile estimates from a log-bucket sketch: the
    * selected bucket's LOWER BOUND, which is ≤ the exact discrete
    * quantile and within relative error 2^-subBits of it (q223 asserts
    * both on real data; the guarantee is structural — the exact
    * quantile lies inside the selected bucket). Returns
    * (grp, q_ppm, n_total, est, width).
    */
  def logBucketQuantiles(cells: DataFrame, qPpms: Seq[Long],
                         subBits: Int): DataFrame =
    rankSelect(cells, "bucket", "__kb", qPpms, col("cnt"))
      .withColumn("est", expr(logBucketLowerSql("__kb", subBits)))
      .withColumn("width", expr(logBucketWidthSql("__kb", subBits)))
      .drop("__kb")

  /** Trailing-window quantile rollup from MERGED per-day log-bucket
    * sketches — the q198 sketch-OLAP pattern for QUANTILES: each day
    * is sketched ONCE (one agg over its raw rows), then every trailing
    * `windowDays` window (anchored at each OBSERVED day, end-inclusive)
    * merges its days' cell tables — raw rows are never re-read per
    * window, and a new day extends every rollup by one cellwise sum.
    * Exact by linearity (q224's proven property: merged cells == the
    * window's direct sketch), so the oracle recomputes each window
    * FROM SCRATCH and the hash match proves merge == direct at every
    * SF. Returns (wday, q_ppm, n_total, est).
    *
    * Scale: day-cell table = |days| × ≤ 64·2^subBits rows; window
    * fan-out replicates each cell `windowDays` times; per-window state
    * is the bounded cell table, never the rows.
    */
  def logBucketWindowRollup(df: DataFrame, dayCol: String, v: Column,
                            subBits: Int, windowDays: Int,
                            qPpms: Seq[Long]): DataFrame = {
    require(windowDays >= 1, s"windowDays must be >= 1, got $windowDays")
    val dayCells = logBucketCells(
      df.select(col(dayCol).cast("long").as("__day"), v.as("__v")),
      "__day", col("__v"), subBits)
    val spine = dayCells.select(col("grp").as("wday")).distinct()
    val merged = dayCells
      .select(col("bucket"), col("cnt"),
        explode(sequence(col("grp"), col("grp") + (windowDays - 1)))
          .as("wday"))
      .join(spine, Seq("wday"), "left_semi")
      .groupBy(col("wday").as("grp"), col("bucket"))
      .agg(sum("cnt").as("cnt"))
    logBucketQuantiles(merged, qPpms, subBits)
      .withColumnRenamed("grp", "wday")
      .drop("width")
  }

  /** EXACT discrete per-group quantiles under the SAME rank rule, via
    * the (grp, value) histogram — state bounded by the value domain
    * (q92/q124 doctrine), the contract twin the sketch is judged
    * against. NULL values carry no rank. Returns
    * (grp, q_ppm, n_total, exact).
    */
  def exactDiscQuantiles(df: DataFrame, grpCol: String, v: Column,
                         qPpms: Seq[Long]): DataFrame =
    rankSelect(df.select(col(grpCol).as("grp"), v.cast("long").as("__v")),
      "__v", "exact", qPpms, lit(1L))

  // ------------------------------------------------------------------ //
  // Deterministic HyperLogLog (Flajolet et al. 2007) — md5-register    //
  // form, so the oracle recomputes the sketch itself (unlike q39's     //
  // engine-private native HLL, which can only be error-bounded).       //
  // ------------------------------------------------------------------ //

  /** Register width: 2^HllBBits buckets; rho lives in [1, HllRhoMax]. */
  val HllBBits = 6
  val HllBuckets: Long = 1L << HllBBits // 64
  val HllRhoMax: Int = 60 - HllBBits + 1 // 55

  /** alpha_64 = 0.7213/(1 + 1.079/64) in exact ppm — the published
    * bias constant, fixed as an integer literal both engines share.
    */
  val HllAlphaPpm = 709341L

  /** Per-group HLL registers from the 60-bit md5 hash: bucket = low 6
    * bits, rho = leading-zero count of the remaining 54 bits + 1
    * (= 55 − floor(log2(w)) for w ≥ 1, 55 for w = 0 — pure
    * `length(bin(w))` bit arithmetic, no float log), register =
    * MAX(rho). MAX is idempotent, commutative and associative, so the
    * register table is a pure function of the key SET — deterministic,
    * order-free, and mergeable by groupwise MAX ([[hllMerge]]; q233
    * proves merged halves == whole corpus bit-for-bit). State: ≤ 64
    * registers per group FOREVER; the build is ONE hash aggregation
    * with map-side combine. Returns (grp, bucket, reg).
    */
  def hllRegisters(df: DataFrame, grpCol: String, keyCol: Column,
                   saltPrefix: String): DataFrame = {
    val h = tokenHash64(concat(lit(saltPrefix), keyCol.cast("string")))
    df.select(col(grpCol).as("grp"), h.as("__h"))
      .filter(col("__h").isNotNull)
      .withColumn("bucket", expr(s"__h % $HllBuckets"))
      .withColumn("__w", expr(s"__h div $HllBuckets"))
      // rho = 54-bit leading zeros + 1 = 55 − bit_length(w); w = 0 (all
      // zeros) saturates at 55
      .withColumn("rho", when(col("__w") === 0L, lit(HllRhoMax.toLong))
        .otherwise(lit(HllRhoMax.toLong) - length(bin(col("__w")))))
      .groupBy("grp", "bucket")
      .agg(max("rho").as("reg"))
  }

  /** Merge HLL register tables by groupwise MAX — exact by the max
    * semilattice (register(x) is a max over per-key contributions, and
    * max distributes over union), so merged == whole-corpus registers
    * bit-for-bit. Idempotent: re-merging a sketch is a no-op.
    */
  def hllMerge(regs: Seq[DataFrame]): DataFrame = {
    require(regs.nonEmpty, "need at least one sketch to merge")
    regs.reduce(_.unionByName(_))
      .groupBy("grp", "bucket").agg(max("reg").as("reg"))
  }

  /** The raw HLL estimate from a register table: with S = Σ_j 2^-reg_j
    * over all m registers (absent buckets contribute reg = 0, i.e. 1),
    * est = alpha_m · m² / S — computed entirely in integers:
    * S·2^55 = (m − n_present)·2^55 + Σ 2^(55−reg) fits a Long, and the
    * final ratio runs in BigInt with the ppm alpha. This is the RAW
    * estimator (no small-range linear counting — that correction needs
    * a float ln; the exhaustive-small-set regime is KMV's job, q137).
    * rsd ≈ 1.04/√64 = 13%. Returns (grp, n_present, s_scaled, est_hll).
    */
  def hllEstimate(regs: DataFrame): DataFrame = {
    val m = HllBuckets
    val est = udf { (nPresent: Long, sScaled: Long) =>
      ((BigInt(HllAlphaPpm) * m * m * (BigInt(1) << HllRhoMax)) /
        (BigInt(sScaled) * 1000000L)).toLong
    }
    regs.groupBy("grp")
      .agg(count(lit(1)).as("n_present"),
        sum(expr(s"shiftleft(1L, $HllRhoMax - cast(reg as int))")).as("__sp"))
      .withColumn("s_scaled",
        expr(s"__sp + ($m - n_present) * shiftleft(1L, $HllRhoMax)"))
      .select(col("grp"), col("n_present"),
        col("s_scaled"), est(col("n_present"), col("s_scaled")).as("est_hll"))
  }

  /** Misra-Gries heavy-hitters summary (Misra & Gries 1982), mergeable
    * per Agarwal et al. 2012 ("Mergeable Summaries", PODS): at most
    * `capacity` (item, count) counters. reduce: increment a resident
    * item, insert if there is room, else decrement EVERY counter by one
    * and drop zeros (amortized O(1)/item — each decrement pass retires
    * capacity+1 units of total count, so passes number ≤ n/(capacity+1)).
    * merge: sum counters, and if over capacity subtract the
    * (capacity+1)-th largest count from all and keep the positive —
    * the PODS merge rule that keeps the TOTAL undercount ≤ n/(capacity+1)
    * across any merge tree.
    *
    * Guarantees (with k = capacity+1, n = total items):
    *  - estimates only UNDERCOUNT: est(x) ≤ true(x);
    *  - undercount is bounded: true(x) − est(x) ≤ n/k;
    *  - hence every item with true(x) > n/k is RETAINED.
    * The summary's exact contents depend on encounter order (unlike KMV),
    * but the guarantee does not — so the oracle-checkable output is the
    * q39-style accuracy contract over the deterministic exact-heavy-hitter
    * set, not the raw counters.
    */
  class MgAgg(capacity: Int)
      extends Aggregator[String, scala.collection.mutable.HashMap[String, Long],
                         Map[String, Long]] {
    require(capacity >= 1, s"capacity must be >= 1, got $capacity")
    type Buf = scala.collection.mutable.HashMap[String, Long]
    def zero: Buf = scala.collection.mutable.HashMap.empty

    def reduce(b: Buf, x: String): Buf = {
      if (x == null) return b
      b.get(x) match {
        case Some(c) => b(x) = c + 1
        case None if b.size < capacity => b(x) = 1L
        case None => // decrement-all: the incoming item cancels too
          val dead = List.newBuilder[String]
          b.foreachEntry { (k, c) => if (c == 1L) dead += k else b(k) = c - 1 }
          dead.result().foreach(b.remove)
      }
      b
    }

    def merge(a: Buf, b: Buf): Buf = {
      val (into, from) = if (a.size >= b.size) (a, b) else (b, a)
      from.foreachEntry { (k, c) => into(k) = into.getOrElse(k, 0L) + c }
      if (into.size > capacity) {
        // subtract the (capacity+1)-th largest count from every counter
        val counts = into.values.toArray
        java.util.Arrays.sort(counts)
        val cut = counts(counts.length - capacity - 1)
        val dead = List.newBuilder[String]
        into.foreachEntry { (k, c) =>
          if (c <= cut) dead += k else into(k) = c - cut }
        dead.result().foreach(into.remove)
      }
      into
    }

    def finish(b: Buf): Map[String, Long] = b.toMap
    def bufferEncoder =
      Encoders.kryo[scala.collection.mutable.HashMap[String, Long]]
    def outputEncoder =
      org.apache.spark.sql.catalyst.encoders.ExpressionEncoder[Map[String, Long]]()
  }

  /** The Misra-Gries accuracy contract over a token column: ONE corpus
    * pass builds the bounded summary (≤ k−1 counters per task, merged
    * map-side — shuffle volume is |partitions|·(k−1) counters no matter
    * the corpus), a second exact pass computes the DETERMINISTIC set of
    * true heavy hitters (count·k > n), and the output asserts, per true
    * heavy hitter: it is retained in the summary (`found`), its estimate
    * never overcounts (`no_over`), and the undercount is within n/k
    * (`within_bound`) — all guaranteed by the sketch theory, so the
    * oracle (which computes only the exact side and claims the three
    * booleans true) hash-matches iff the guarantees held on real data.
    * The exact pass exists for the CONTRACT; a production pipeline ships
    * the summary alone (the first pass) — that is the part with
    * bounded state.
    */
  def mgHeavyHitters(df: DataFrame, keyCol: Column, k: Int): DataFrame = {
    require(k >= 2, s"k must be >= 2, got $k")
    val mg = udaf(new MgAgg(k - 1), Encoders.STRING)
    val keyed = df.select(keyCol.cast("string").as("w"))
    val summary = keyed.agg(mg(col("w")).as("mg")) // one row: the sketch
    val exact = keyed.filter(col("w").isNotNull)
      .groupBy("w").agg(count(lit(1)).as("exact_cnt"))
    val n = keyed.filter(col("w").isNotNull)
      .agg(count(lit(1)).as("n_total"))
    exact
      .join(broadcast(n))
      .filter(col("exact_cnt") * k > col("n_total"))
      .join(broadcast(summary))
      // try_element_at: a missing key must report found=false, not the
      // ANSI MAP_KEY_DOES_NOT_EXIST error
      .withColumn("est", try_element_at(col("mg"), col("w")))
      .select(col("w"), col("exact_cnt"),
        col("est").isNotNull.as("found"),
        (coalesce(col("est"), lit(0L)) <= col("exact_cnt")).as("no_over"),
        ((col("exact_cnt") - coalesce(col("est"), lit(0L))) * k
          <= col("n_total")).as("within_bound"))
      .orderBy("w")
  }
}
