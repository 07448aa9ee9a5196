package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.{UserDefinedFunction, Window}
import org.apache.spark.sql.functions._

import graft.engine.Shape.MaterializeOps

import graft.functions.VectorFunctions._

/** Approximate-nearest-neighbor search over an `array<float>` embedding
  * column (SURVEY.md §2b similarity-search surface; the reference has no
  * vector operators).
  *
  * Two paths, same output contract (query_id, neighbor_id, cos, rank):
  *  - [[bruteForceTopK]]: exact baseline. The query set is broadcast (it
  *    is small by construction — a user's probe batch), so the "cross"
  *    join is a broadcast nested loop over a FEW query rows: each
  *    executor scans its corpus partition once, no corpus shuffle at all;
  *    the per-query top-k is a window over (query, cos) with only
  *    |queries|*k rows surviving to the final exchange.
  *  - [[lshTopK]]: the 100 TB path. Corpus and queries are bucketed by
  *    random-hyperplane signature; candidate generation becomes a
  *    hash-partitioned equi-join on the bucket id, so the scan cost per
  *    query drops from |corpus| to the bucket's posting list. Recall is
  *    tuned via nBits (fewer bits = bigger buckets = higher recall) and
  *    multi-probe (probe XOR-1 neighbor buckets).
  */
object Ann {

  /** Exact cosine top-k of each query vector against the corpus. Norms
    * are computed once per vector on each side, never per pair (the norm
    * product is bit-identical either way).
    */
  def bruteForceTopK(corpus: DataFrame, queries: DataFrame,
                     idCol: String, vecCol: String, k: Int): DataFrame = {
    val c = corpus.select(col(idCol).as("neighbor_id"), col(vecCol).as("cv"),
      norm(col(vecCol)).as("cnrm"))
    val q = queries.select(col(idCol).as("query_id"), col(vecCol).as("qv"),
      norm(col(vecCol)).as("qnrm"))
    val nprod = col("qnrm") * col("cnrm")
    val scored = c.join(broadcast(q), col("query_id") =!= col("neighbor_id"))
      .select(col("query_id"), col("neighbor_id"),
        round(when(nprod > 0, dot(col("qv"), col("cv")) / nprod).otherwise(lit(0.0)), 4).as("cos"))
    val w = Window.partitionBy("query_id")
      .orderBy(col("cos").desc, col("neighbor_id").asc)
    scored.withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
  }

  /** LSH-bucketed top-k: only candidates sharing the query's hyperplane
    * bucket are scored. Returns (query_id, neighbor_id, cos, rank) like
    * the exact variant; recall < 1 by design.
    *
    * `multiProbe` = number of XOR-1 neighbor buckets to probe in
    * addition to the query's own: probing bucket^(1<<i) for the first
    * `multiProbe` hyperplanes reaches vectors that fell on the other
    * side of ONE hyperplane — the dominant near-miss mode, since a true
    * neighbor's probability of disagreeing on exactly one bit is the
    * largest failure term. The explode happens on the QUERY side (small,
    * broadcast), so the corpus is still scanned once with one bucket per
    * vector and candidate volume grows only (1+multiProbe)×, not by
    * re-hashing the corpus. Probed keys are distinct, so no candidate
    * dedup is needed.
    */
  def lshTopK(corpus: DataFrame, queries: DataFrame,
              idCol: String, vecCol: String, k: Int, nBits: Int,
              dim: Int = 64, multiProbe: Int = 0): DataFrame =
    lshTopKProbe(queries,
      lshBucketAssignments(corpus, idCol, vecCol, nBits, dim),
      idCol, vecCol, k, nBits, dim, multiProbe)

  /** The standing half of [[lshTopK]] as a buildable frame — every
    * corpus vector filed on its hyperplane bucket: (bucket,
    * neighbor_id, cv, cnrm). In a vector-store ingest pipeline this IS
    * the persisted LSH index (write it once PARTITIONED BY bucket and
    * each query batch's equi-join reads only its (multi-)probed
    * buckets' files via dynamic partition pruning — q209); the inline
    * form rebuilds it per call. One map-only corpus scan.
    */
  def lshBucketAssignments(corpus: DataFrame, idCol: String, vecCol: String,
                           nBits: Int, dim: Int = 64): DataFrame =
    corpus.select(lshBucket(col(vecCol), nBits, dim).as("bucket"),
      col(idCol).as("neighbor_id"), col(vecCol).as("cv"),
      norm(col(vecCol)).as("cnrm"))

  /** [[lshTopK]] against a prebuilt (possibly parquet-persisted)
    * [[lshBucketAssignments]] frame. The nBits/dim parameters MUST
    * match the ones the assignments were built with (buckets are a
    * pure per-vector function of the seeded hyperplanes).
    */
  def lshTopKProbe(queries: DataFrame, assigned: DataFrame,
                   idCol: String, vecCol: String, k: Int, nBits: Int,
                   dim: Int = 64, multiProbe: Int = 0): DataFrame = {
    require(multiProbe >= 0 && multiProbe <= nBits,
      s"multiProbe must be in [0, nBits=$nBits]")
    val c = assigned
    val q0 = queries.select(col(idCol).as("query_id"), col(vecCol).as("qv"),
      lshBucket(col(vecCol), nBits, dim).as("bucket"), norm(col(vecCol)).as("qnrm"))
    val q = if (multiProbe == 0) q0 else {
      val probeKeys = lit(0L) +: (0 until multiProbe).map(i => lit(1L << i))
      q0.select(col("query_id"), col("qv"), col("qnrm"),
        explode(array(probeKeys.map(m => col("bucket").bitwiseXOR(m)): _*)).as("bucket"))
    }
    val nprod = col("qnrm") * col("cnrm")
    val scored = c.join(broadcast(q), Seq("bucket"))
      .filter(col("query_id") =!= col("neighbor_id"))
      .select(col("query_id"), col("neighbor_id"),
        round(when(nprod > 0, dot(col("qv"), col("cv")) / nprod).otherwise(lit(0.0)), 4).as("cos"))
    val w = Window.partitionBy("query_id")
      .orderBy(col("cos").desc, col("neighbor_id").asc)
    scored.withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
  }

  /** Attribute-constrained exact top-k: like [[bruteForceTopK]] but a
    * neighbor must also share `attrCol` with the query (the "filtered
    * vector search" every retrieval stack needs — same-language / same-
    * shard / same-tenant neighbors). The attribute equality is part of
    * the broadcast-join CONDITION, so non-matching corpus rows are
    * discarded before any dot product is computed; the corpus still
    * never shuffles and the scan reads only (id, vec, attr) columns.
    */
  def bruteForceTopKFiltered(corpus: DataFrame, queries: DataFrame,
                             idCol: String, vecCol: String, attrCol: String,
                             k: Int): DataFrame = {
    val c = corpus.select(col(idCol).as("neighbor_id"), col(vecCol).as("cv"),
      col(attrCol).as("__ca"), norm(col(vecCol)).as("cnrm"))
    val q = queries.select(col(idCol).as("query_id"), col(vecCol).as("qv"),
      col(attrCol).as("__qa"), norm(col(vecCol)).as("qnrm"))
    val nprod = col("qnrm") * col("cnrm")
    val scored = c.join(broadcast(q),
        col("query_id") =!= col("neighbor_id") && col("__ca") === col("__qa"))
      .select(col("query_id"), col("neighbor_id"),
        round(when(nprod > 0, dot(col("qv"), col("cv")) / nprod).otherwise(lit(0.0)), 4).as("cos"))
    val w = Window.partitionBy("query_id")
      .orderBy(col("cos").desc, col("neighbor_id").asc)
    scored.withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
  }

  /** Deterministic k-means centroid build for IVF. Seeds are the
    * `nLists` vectors with the smallest md5-derived key (an order-free
    * deterministic "shuffle"; no RNG, so the DuckDB oracle rebuilds the
    * identical centroids), then `iters` Lloyd iterations: assign every
    * vector to its nearest centroid (map-side argmin UDF over the
    * driver-held centroids) and recompute per-dimension means. Means
    * are rounded to 6 decimals so cross-engine summation-order ulp
    * drift cannot flip a later argmin; distances are rounded before the
    * argmin for the same reason. Empty clusters drop out (identically
    * on both engines).
    *
    * `sampleOneIn` keeps only ids whose md5-key ≡ 0 (mod sampleOneIn)
    * for the BUILD — at 100 TB the centroid estimate needs only a
    * sample, not the corpus; the final assignment in [[ivfTopKWith]]
    * still covers every vector.
    *
    * This is the one-book case of [[kmeansBooksLocal]]: the same Lloyd
    * pass trains every codebook a caller needs (IVF-PQ's coarse book
    * and its m subspace books) over one corpus scan per round.
    */
  def kmeansCentroids(corpus: DataFrame, idCol: String, vecCol: String,
                      nLists: Int, iters: Int = 2,
                      sampleOneIn: Int = 1): DataFrame = {
    val spark = corpus.sparkSession
    import spark.implicits._
    kmeansCentroidsLocal(corpus, idCol, vecCol, nLists, iters, sampleOneIn)
      .toSeq.toDF("cid", "cv")
  }

  /** [[kmeansCentroids]] returning the centroid table as driver data —
    * it is bounded (nLists × dim doubles) and every consumer
    * (assignment UDF, oracle-parity literal rebuild) wants it local
    * anyway. The DataFrame variant is `toDF` of this.
    */
  private[graft] def kmeansCentroidsLocal(
      corpus: DataFrame, idCol: String, vecCol: String,
      nLists: Int, iters: Int = 2,
      sampleOneIn: Int = 1): Array[(Long, Array[Double])] =
    kmeansBooksLocal(corpus, idCol, vecCol, Seq((1, nLists)), iters,
      sampleOneIn).head

  /** One codebook: (cid, centroid) pairs in cid order. */
  private[graft] type Book = Array[(Long, Array[Double])]

  /** Several k-means codebooks over slices of one vector column,
    * trained together. Each `(parts, k)` in `splits` cuts the vector
    * into `parts` equal subspaces and trains a `k`-centroid book on
    * each; the books come back in split order, subspaces in vector
    * order — `(1, nLists)` is [[kmeansCentroids]], `(m, codes)` the PQ
    * codebooks, and IVF-PQ asks for both at once.
    *
    * Every book gets exactly the computation a separate
    * [[kmeansCentroidsLocal]] over its `slice`d column would run, so
    * the results are bit-identical to that, but the corpus is read
    * once per round for all of them:
    *  - the keyed `(sid, v, h)` frame is materialized once (the seed
    *    scan and every round read it;
    *    [[graft.engine.Shape.materialize]], reliable when
    *    `spark.graft.checkpointDir` is set);
    *  - the seeds are collected once: every book's seeds are a prefix
    *    of the same `ivf_` md5 `(h, sid)` order, sliced on the driver
    *    (the float→double widening commutes with the slice), and the
    *    dimension is the first seed vector's length;
    *  - each round is one map-only pass assigning every book on its
    *    slice ([[assignCidUdf]]) feeding one `(book, cid, pos)` mean
    *    aggregation, whose per-key rows arrive in the same partition
    *    order as a one-book build's; the centroids are collected to the
    *    driver between rounds (MLlib-style Lloyd — without it every
    *    round's lineage re-scans the corpus once per prior round).
    *
    * An empty (or fully sampled-out) corpus yields empty books.
    */
  private[graft] def kmeansBooksLocal(
      corpus: DataFrame, idCol: String, vecCol: String,
      splits: Seq[(Int, Int)], iters: Int = 2,
      sampleOneIn: Int = 1): Array[Book] = {
    require(splits.nonEmpty && splits.forall { case (p, k) => p >= 1 && k >= 1 } &&
      iters >= 0 && sampleOneIn >= 1,
      s"need parts, k >= 1 per split, iters >= 0, sampleOneIn >= 1; " +
        s"got ${splits.mkString(",")}/$iters/$sampleOneIn")
    import graft.functions.TextFunctions.tokenHash64
    val keyed = corpus.select(col(idCol).cast("long").as("sid"), col(vecCol).as("v"))
      .withColumn("h", tokenHash64(concat(lit("ivf_"), col("sid").cast("string"))))
    val build = (if (sampleOneIn <= 1) keyed
      else keyed.filter(pmod(col("h"), lit(sampleOneIn.toLong)) === 0))
      .materialized
    val spark = corpus.sparkSession
    import spark.implicits._
    val seeds: Array[Array[Double]] = build.orderBy("h", "sid")
      .limit(splits.map(_._2).max)
      .select(col("h"), col("sid"),
        transform(col("v"), x => x.cast("double")).as("cv"))
      .as[(Long, Long, Array[Double])].collect()
      .sortBy(t => (t._1, t._2)).map(_._3)
    if (seeds.isEmpty)
      return Array.fill(splits.map(_._1).sum)(Array.empty[(Long, Array[Double])])
    val dim = seeds.head.length
    // (from, len, k) per book, in output order
    val books = splits.flatMap { case (parts, k) =>
      require(dim % parts == 0, s"dim $dim must split into $parts subspaces")
      val len = dim / parts
      (0 until parts).map(j => (j * len, len, k))
    }.toArray
    val cents: Array[Book] = books.map { case (from, len, k) =>
      seeds.take(k).zipWithIndex.map { case (cv, i) =>
        ((i + 1).toLong, cv.slice(from, from + len))
      }
    }
    val vecType = build.schema("v").dataType
    for (_ <- 1 to iters) {
      // a book whose vectors all lack its slice has no means left and
      // stops training, as its own build would
      val live = books.indices.filter(b => cents(b).nonEmpty)
      if (live.nonEmpty) {
        val assigned = live.map { b =>
          val (from, len, _) = books(b)
          val sv = slice(col("v"), from + 1, len)
          struct(lit(b).as("b"), assignCidUdf(vecType, cents(b))(sv).as("cid"),
            sv.as("sv"))
        }
        val byBook = build.select(explode(array(assigned: _*)).as("e"))
          .select(col("e.b"), col("e.cid"),
            posexplode(col("e.sv")).as(Seq("pos", "x")))
          .groupBy("b", "cid", "pos")
          .agg(round(avg(col("x").cast("double")), 6).as("m"))
          .as[(Int, Long, Int, Double)].collect()
          .groupBy(_._1)
        live.foreach { b =>
          cents(b) = byBook.getOrElse(b, Array.empty[(Int, Long, Int, Double)])
            .groupBy(_._2).toArray.sortBy(_._1)
            .map { case (cid, rs) => (cid, rs.sortBy(_._3).map(_._4)) }
        }
      }
    }
    cents
  }

  /** Nearest-centroid assignment as a single-pass UDF over a
    * driver-side centroid array — replaces the
    * `crossJoin(broadcast(centroids)) + groupBy(min(struct(d, cid)))`
    * argmin everywhere the CORPUS is the probe side. Value-identical
    * to the expression form by construction:
    *
    *  - dot products accumulate left-to-right with float operands
    *    widened to double per element ([[graft.functions.DotProduct]]
    *    semantics; the input column's element type selects the
    *    widening, never a lossy double→float cast);
    *  - the candidate distance is `vv - 2.0*<v,c> + cc` in that exact
    *    IEEE evaluation order, with cc precomputed unrounded;
    *  - the argmin compares HALF_UP-6-rounded distances with ties to
    *    the smallest cid — `min(struct(round(d, 6), cid))` exactly.
    *    Rounding (Spark's Round on double = BigDecimal.valueOf +
    *    setScale(6, HALF_UP), an allocation per call — the measured
    *    q44 cost) only runs inside the near-min band
    *    `d <= dmin + 1e-6`: any candidate outside it has
    *    round(d) >= d - 5e-7 > dmin + 5e-7 >= round(dmin), so it can
    *    never tie the rounded minimum — typically ONE BigDecimal per
    *    row instead of nLists;
    *  - a null vector, null element, or centroid-length mismatch gets
    *    the SMALLEST cid, mirroring the expression path (every
    *    distance is null there, and struct ordering puts a null field
    *    first, so `min(struct(d, cid))` degenerates to min(cid)).
    */
  private[graft] def assignCidUdf(
      vecType: org.apache.spark.sql.types.DataType,
      centroids: Array[(Long, Array[Double])])
      : org.apache.spark.sql.expressions.UserDefinedFunction = {
    import org.apache.spark.sql.types.{ArrayType, FloatType, DoubleType}
    require(centroids.nonEmpty, "assignCidUdf needs at least one centroid")
    val cs = centroids.sortBy(_._1)
    val cids = cs.map(_._1)
    val cvs = cs.map(_._2)
    val dim = cvs(0).length
    require(cvs.forall(_.length == dim), "centroids must share one dimension")
    val ccs = cvs.map { cv =>
      var s = 0.0; var i = 0
      while (i < dim) { s += cv(i) * cv(i); i += 1 }; s
    }
    def run(dv: Array[Double]): Long = {
      var vv = 0.0; var i = 0
      while (i < dim) { vv += dv(i) * dv(i); i += 1 }
      val k = cids.length
      val ds = new Array[Double](k)
      var dmin = Double.PositiveInfinity
      var c = 0
      while (c < k) {
        val cv = cvs(c); var s = 0.0; i = 0
        while (i < dim) { s += dv(i) * cv(i); i += 1 }
        val d = vv - 2.0 * s + ccs(c)
        ds(c) = d
        if (d < dmin) dmin = d
        c += 1
      }
      var best = -1; var bestD = 0.0
      c = 0
      while (c < k) {
        if (ds(c) <= dmin + 1e-6) {
          val rd = java.math.BigDecimal.valueOf(ds(c))
            .setScale(6, java.math.RoundingMode.HALF_UP).doubleValue()
          if (best < 0 || rd < bestD) { best = c; bestD = rd }
        }
        c += 1
      }
      cids(best)
    }
    def widen(v: Seq[Number]): Long =
      if (v == null || v.length != dim || v.contains(null)) cids(0)
      else {
        val dv = new Array[Double](dim)
        var i = 0
        while (i < dim) { dv(i) = v(i).doubleValue(); i += 1 }
        run(dv)
      }
    vecType match {
      case ArrayType(FloatType, _) =>
        udf { v: Seq[java.lang.Float] => widen(v) }
      case ArrayType(DoubleType, _) =>
        udf { v: Seq[java.lang.Double] => widen(v) }
      case other => throw new IllegalArgumentException(
        s"assignCidUdf expects array<float|double>, got ${other.catalogString}")
    }
  }

  /** Per-key mean pooling of vectors — grouped embedding centroids (the
    * k-means mean step, exposed as its own operator: per-dimension
    * partial avg over a posexplode, reassembled in position order).
    * Means are rounded to 6 decimals for cross-engine reproducibility.
    * Scale: one shuffle on (key, pos) with map-side partial sums — never
    * collects a group's vectors anywhere.
    */
  def meanPool(df: DataFrame, keyCol: String, vecCol: String): DataFrame =
    df.select(col(keyCol), posexplode(col(vecCol)).as(Seq("pos", "x")))
      .groupBy(keyCol, "pos")
      .agg(round(avg(col("x").cast("double")), 6).as("m"))
      .groupBy(keyCol)
      .agg(array_sort(collect_list(struct(col("pos"), col("m")))).as("pm"))
      .select(col(keyCol), transform(col("pm"), e => e.getField("m")).as("centroid"))

  /** IVF-flat ANN: the corpus is split into `nLists` inverted lists by
    * nearest centroid; a query probes its `nProbe` nearest lists and is
    * scored exactly within them. Centroids are the embeddings of the
    * first `nLists` ids (deterministic trivial build — [[ivfTopKKmeans]]
    * is the real build; the probe path is identical). Scale shape:
    * assignment is a broadcast cross-join + map-side
    * min(struct(dist, cid)) partial aggregation (no window sort over the
    * corpus), and candidate generation is an equi-join on the list id,
    * so probing scans ~|corpus| * nProbe / nLists rows per query instead
    * of the whole corpus.
    */
  def ivfTopK(corpus: DataFrame, queries: DataFrame,
              idCol: String, vecCol: String, k: Int,
              nLists: Int, nProbe: Int): DataFrame =
    ivfTopKWith(corpus, queries, idCol, vecCol, k, nProbe,
      corpus.orderBy(col(idCol)).limit(nLists)
        .select(col(idCol).cast("long").as("cid"), col(vecCol).as("cv")))

  /** IVF-flat ANN over [[kmeansCentroids]] — the production build. */
  def ivfTopKKmeans(corpus: DataFrame, queries: DataFrame,
                    idCol: String, vecCol: String, k: Int,
                    nLists: Int, nProbe: Int, iters: Int = 2,
                    sampleOneIn: Int = 1): DataFrame =
    ivfTopKWith(corpus, queries, idCol, vecCol, k, nProbe,
      kmeansCentroids(corpus, idCol, vecCol, nLists, iters, sampleOneIn))

  /** Semantic deduplication (SemDeDup, Abbas et al. arXiv:2303.09540):
    * cluster the embedding space with [[kmeansCentroids]], then within
    * each cluster drop every vector that has a LOWER-id cluster-mate
    * with cosine >= `eps` — one deterministic representative per
    * semantic-duplicate set survives. Returns every input id with its
    * cluster and keep verdict: (vec_id, cid, keep).
    *
    * Scale shape: centroid assignment is the IVF broadcast-argmin (the
    * corpus never shuffles for it); pair generation is ONE shuffle — a
    * self-equi-join on the cluster id, which AQE's skew-join can split —
    * and the per-cluster O(m²) candidate cost is the algorithm's
    * explicit knob: nLists grows with the corpus so |cluster| stays
    * roughly constant (the paper runs 50k clusters at web scale). The
    * assigned frame is checkpointed once because three plan legs (both
    * join sides + the verdict join) read it; cosine is rounded to 4
    * decimals BEFORE the threshold so an engine's ulp drift cannot flip
    * a verdict.
    */
  def semDedup(corpus: DataFrame, idCol: String, vecCol: String,
               nLists: Int, eps: Double, iters: Int = 2,
               sampleOneIn: Int = 1): DataFrame = {
    val cents = kmeansCentroidsLocal(corpus, idCol, vecCol, nLists, iters,
      sampleOneIn)
    val src = corpus
      .select(col(idCol).cast("long").as("vid"), col(vecCol).as("v"),
        norm(col(vecCol)).as("nrm"))
    // assignment is one map-only corpus scan ([[assignCidUdf]] — the
    // crossJoin+groupBy argmin's n × nLists rows grew quadratically
    // once nLists scales with the corpus). cents is empty only for an
    // empty corpus, where src is already empty.
    val assigned = (if (cents.isEmpty) src.withColumn("cid", lit(0L))
      else src.withColumn("cid",
        assignCidUdf(src.schema("v").dataType, cents)(col("v"))))
      .materialized
    val a = assigned.select(col("cid"), col("vid").as("ia"),
      col("v").as("va"), col("nrm").as("na"))
    val b = assigned.select(col("cid"), col("vid").as("ib"),
      col("v").as("vb"), col("nrm").as("nb"))
    val nprod = col("na") * col("nb")
    // `round(cos, 4) >= eps` is evaluated as `cos >= t` where t is the
    // exact boundary double ([[round4Boundary]]) — value-identical for
    // every double, but the per-pair BigDecimal allocation inside
    // Spark's Round-on-double (the measured q44 cost) disappears from
    // the O(sum m_c²) hot path: at the sf1 fixture the pair join spent
    // 19.9 s of q119's 19.1 s, ~800 ns/pair across the 8 active
    // reducers, dominated by exactly this rounding.
    val dropped = a.join(b, Seq("cid"))
      .filter(col("ia") > col("ib") &&
        when(nprod > 0, dot(col("va"), col("vb")) / nprod)
          .otherwise(lit(0.0)) >= lit(round4Boundary(eps)))
      .select(col("ia").as("vid")).distinct()
      .withColumn("dropped", lit(true))
    assigned.join(dropped, Seq("vid"), "left")
      .select(col("vid").as("vec_id"), col("cid"),
        coalesce(!col("dropped"), lit(true)).as("keep"))
  }

  /** The smallest double x with `round(x, 4) >= eps` (HALF_UP — the
    * semantics of Spark's Round on double AND DuckDB's round, so the
    * oracle's `round(cos, 4) >= eps` filter is mirrored exactly by
    * `cos >= round4Boundary(eps)` with no per-row rounding). Found by
    * ulp-walking from eps - 5e-5: a handful of BigDecimal calls once
    * on the driver instead of one per candidate pair.
    */
  private[graft] def round4Boundary(eps: Double): Double = {
    def r4(x: Double) = java.math.BigDecimal.valueOf(x)
      .setScale(4, java.math.RoundingMode.HALF_UP).doubleValue()
    var t = eps - 5e-5
    if (r4(t) >= eps) {
      while (r4(t) >= eps) t = Math.nextDown(t)
      Math.nextUp(t)
    } else {
      while (r4(t) < eps) t = Math.nextUp(t)
      t
    }
  }

  /** IVF probe/score path over an explicit centroid table (cid, cv). */
  def ivfTopKWith(corpus: DataFrame, queries: DataFrame,
                  idCol: String, vecCol: String, k: Int,
                  nProbe: Int, centroids: DataFrame): DataFrame =
    ivfTopKProbe(queries, centroids,
      ivfListAssignments(corpus, idCol, vecCol, centroids),
      idCol, vecCol, k, nProbe)

  /** The bounded (nLists × dim) centroid table, collected once; the
    * float→double cast is exact widening, so the rebuilt probe-side
    * literal and the assignment UDF see identical values.
    */
  private def collectCentroids(centroids: DataFrame): Array[(Long, Array[Double])] = {
    val spark = centroids.sparkSession
    import spark.implicits._
    centroids.select(col("cid").cast("long"),
        transform(col("cv"), x => x.cast("double")).as("cv"))
      .as[(Long, Array[Double])].collect().sortBy(_._1)
  }

  /** The standing half of [[ivfTopKWith]] as a buildable frame — every
    * corpus vector filed on its nearest centroid's inverted list:
    * (cid, neighbor_id, cv, cnrm). In a vector-store ingest pipeline
    * this IS the persisted IVF index (write it once PARTITIONED BY cid
    * next to its centroid table, and each query batch pays only its own
    * probe argmins plus the probed lists' scan — q207); the inline form
    * rebuilds it per call. Assignment is one map-only corpus scan
    * ([[assignCidUdf]]); an empty centroid table assigns nothing.
    */
  def ivfListAssignments(corpus: DataFrame, idCol: String, vecCol: String,
                         centroids: DataFrame): DataFrame = {
    val local = collectCentroids(centroids)
    val src = corpus
      .select(col(idCol).as("neighbor_id"), col(vecCol).as("v"),
        norm(col(vecCol)).as("cnrm"))
    (if (local.isEmpty) src.filter(lit(false)).withColumn("cid", lit(0L))
     else src.withColumn("cid",
       assignCidUdf(src.schema("v").dataType, local)(col("v"))))
      .select(col("cid"), col("neighbor_id"), col("v").as("cv"), col("cnrm"))
  }

  /** [[ivfTopKWith]] against a prebuilt (possibly parquet-persisted)
    * [[ivfListAssignments]] frame plus the centroid table the
    * assignments were built with (they MUST match — the probe argmin
    * and the list filing share the rounded-distance formula).
    */
  def ivfTopKProbe(queries: DataFrame, centroids: DataFrame,
                   assigned: DataFrame, idCol: String, vecCol: String,
                   k: Int, nProbe: Int): DataFrame = {
    val spark = queries.sparkSession
    import spark.implicits._
    val local = collectCentroids(centroids)
    val cents = local.toSeq.toDF("cid", "cv")
      .withColumn("cc", dot(col("cv"), col("cv")))
    // ||v - c||^2 = vv - 2<v,c> + cc: vv is per-row, cc per-centroid, so
    // only the cross term is evaluated per (row, centroid) pair. Rounded
    // to 6 decimals BEFORE the argmin so list assignment is identical in
    // the oracle even if its dot-product fold differs by an ulp.
    def dist = round(col("vv") - lit(2.0) * dot(col("v"), col("cv")) + col("cc"), 6)

    val w0 = Window.partitionBy("query_id").orderBy(col("d"), col("cid"))
    val probes = queries
      .select(col(idCol).as("query_id"), col(vecCol).as("v"),
        norm(col(vecCol)).as("qnrm"))
      .withColumn("vv", dot(col("v"), col("v")))
      .crossJoin(broadcast(cents))
      .withColumn("d", dist)
      .withColumn("rn", row_number().over(w0))
      .filter(col("rn") <= nProbe)
      .select(col("query_id"), col("v").as("qv"), col("qnrm"), col("cid"))

    val nprod = col("qnrm") * col("cnrm")
    val scored = assigned.join(broadcast(probes), Seq("cid"))
      .filter(col("query_id") =!= col("neighbor_id"))
      .select(col("query_id"), col("neighbor_id"),
        round(when(nprod > 0, dot(col("qv"), col("cv")) / nprod).otherwise(lit(0.0)), 4).as("cos"))
    val w = Window.partitionBy("query_id")
      .orderBy(col("cos").desc, col("neighbor_id").asc)
    scored.withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
  }

  /** Recall@k evaluation — the harness every approximate index needs
    * before it replaces brute force in production: per query, the
    * fraction of GROUND-TRUTH neighbors (any (query_id, neighbor_id)
    * frame, typically [[bruteForceTopK]]) that the CANDIDATE result
    * (e.g. [[lshTopK]], [[ivfTopK]]) recovered. Returns
    * (query_id, n_truth, n_hit, recall) with recall rounded to 4
    * decimals for cross-engine hash stability.
    *
    * Scale shape: one semi-join on (query_id, neighbor_id) + two
    * per-query counts — all keyed by query id, AQE-splittable; result
    * cardinality = |queries|, independent of corpus size.
    */
  def recallAtK(truth: DataFrame, candidate: DataFrame): DataFrame = {
    val t = truth.select("query_id", "neighbor_id")
    val c = candidate.select("query_id", "neighbor_id")
    val nTruth = t.groupBy("query_id").agg(count(lit(1)).as("n_truth"))
    val nHit = t.join(c, Seq("query_id", "neighbor_id"), "left_semi")
      .groupBy("query_id").agg(count(lit(1)).as("n_hit"))
    nTruth.join(nHit, Seq("query_id"), "left")
      .select(col("query_id"), col("n_truth"),
        coalesce(col("n_hit"), lit(0L)).as("n_hit"),
        round(coalesce(col("n_hit"), lit(0L)).cast("double") /
          col("n_truth").cast("double"), 4).as("recall"))
  }

  /** Two-stage prefix-rerank top-k (the Matryoshka-retrieval pattern,
    * Kusupati et al. 2022): stage 1 ranks candidates by the dot product
    * of the first `prefixDim` dimensions ONLY (1/4 of the flops and
    * memory traffic per pair), stage 2 reranks the surviving
    * `candidateK` with the exact full-width cosine. Recall < 1 by
    * design — the candidate cut is the knob, evaluated with
    * [[recallAtK]] like every other approximate index here.
    *
    * Scale shape identical to [[bruteForceTopK]] (queries broadcast,
    * corpus scanned once, window prune), but the full-width vector only
    * touches |queries|·candidateK pairs instead of |queries|·|corpus| —
    * at production dims (1024+) stage 1 is the whole cost and runs 4×+
    * lighter. Returns (query_id, neighbor_id, cos, rank).
    */
  def prefixRerankTopK(corpus0: DataFrame, queries0: DataFrame,
                       idCol: String, vecCol: String, k: Int,
                       prefixDim: Int, candidateK: Int): DataFrame = {
    require(candidateK >= k, s"candidateK=$candidateK must be >= k=$k")
    // null vectors produce null prefix dots that would top the rank
    val corpus = corpus0.filter(col(vecCol).isNotNull)
    val queries = queries0.filter(col(vecCol).isNotNull)
    val c = corpus.select(col(idCol).as("neighbor_id"), col(vecCol).as("cv"),
      slice(col(vecCol), 1, prefixDim).as("cp"), norm(col(vecCol)).as("cnrm"))
    val q = queries.select(col(idCol).as("query_id"), col(vecCol).as("qv"),
      slice(col(vecCol), 1, prefixDim).as("qp"), norm(col(vecCol)).as("qnrm"))
    val wCand = Window.partitionBy("query_id")
      .orderBy(col("pdot").desc, col("neighbor_id").asc)
    // pdot rounds to 4 decimals BEFORE ranking (the q35 convention):
    // the candidate CUT is then a function of (rounded dot, id) — no
    // raw-double near-tie can flip the surviving set across engines
    val cands = c.join(broadcast(q), col("query_id") =!= col("neighbor_id"))
      .withColumn("pdot", round(dot(col("qp"), col("cp")), 4))
      .withColumn("__crank", row_number().over(wCand))
      .filter(col("__crank") <= candidateK)
    val nprod = col("qnrm") * col("cnrm")
    val wFinal = Window.partitionBy("query_id")
      .orderBy(col("cos").desc, col("neighbor_id").asc)
    cands
      .withColumn("cos", round(when(nprod > 0,
        dot(col("qv"), col("cv")) / nprod).otherwise(lit(0.0)), 4))
      .withColumn("rank", row_number().over(wFinal))
      .filter(col("rank") <= k)
      .select("query_id", "neighbor_id", "cos", "rank")
  }

  /** Embedding-space outlier scan: cosine of every vector to the corpus
    * CENTROID, lowest-k reported — the cheap "is this embedding even in
    * the right space" screen (mis-encoded rows, corrupt inputs, wrong
    * model) a pipeline runs before spending on clustering. Centroid =
    * [[meanPool]] over one group (per-dim round(avg, 6), the q74
    * convention), collected once (dim doubles) and shipped as a
    * literal — scoring is a map-only pass, the cut a TakeOrdered.
    * Returns (vec_id, cos_centroid) for the k lowest, (cos, id)-ordered.
    */
  def centroidFarthest(corpus0: DataFrame, idCol: String, vecCol: String,
                       k: Int): DataFrame = {
    // a null vector's null cosine would SORT FIRST in the ascending
    // outlier cut — drop rather than report phantom outliers
    val corpus = corpus0.filter(col(vecCol).isNotNull)
    val cents = meanPool(corpus.select(lit(1L).as("g"), col(vecCol).as("v")),
        "g", "v")
      .select("centroid").head().getSeq[Double](0).toArray
    val cvec = array(cents.map(lit(_)): _*)
    val vd = transform(col(vecCol), x => x.cast("double"))
    corpus.select(col(idCol).as("vec_id"),
        round(graft.functions.VectorFunctions.cosine(vd, cvec), 4)
          .as("cos_centroid"))
      .orderBy(col("cos_centroid").asc, col("vec_id"))
      .limit(k)
  }

  /** Scalar int8 quantization + integer-dot-product top-k — the memory
    * side of the ANN trade: a 64-dim float32 vector becomes 64 bytes
    * (4× smaller, and integer dot products at probe time). SYMMETRIC
    * quantization with one GLOBAL scale — q_i = floor(v_i · 127 / m),
    * m = max |v| over the corpus (one bounded agg, a single double
    * collected to the driver) — so the integer dot is (127/m)² times
    * the float dot up to quantization error: rankings track float-dot
    * rankings faithfully (recall asserted in SelectionLmSpec). An
    * affine per-dim min/max quantizer would NOT have this property:
    * the offset terms (a·v₁+b)(a·v₂+b) corrupt the dot — measured
    * recall@10 collapsing below 0.5 on gaussian vectors.
    *
    * Everything after the stats agg is EXACT integer arithmetic: the
    * quantized dot product is a Long, so scores (and the top-k cut)
    * hash-compare across engines with no rounding epsilon at all —
    * float cosine (q35) needs round(·,4); this needs nothing. The
    * floor(v·127/m) expression is evaluated in the same IEEE order by
    * the oracle, so codes are bit-identical too.
    *
    * Scale: stats agg is one pass (single-double state); quantized
    * corpus is map-only; queries broadcast; per-query top-k via the
    * same window-prune as [[bruteForceTopK]]. Returns
    * (query_id, neighbor_id, qdot, rank).
    */
  def int8QuantTopK(corpus0: DataFrame, queries0: DataFrame,
                    idCol: String, vecCol: String, k: Int): DataFrame = {
    // null vectors carry no codes and would NPE the quantize UDF
    val corpus = corpus0.filter(col(vecCol).isNotNull)
    val queries = queries0.filter(col(vecCol).isNotNull)
    // empty corpus → max(abs) aggregates to NULL; m=0 keeps the quant
    // UDF total and the (empty) join preserves the output schema
    val mRow = corpus
      .select(explode(col(vecCol)).as("v"))
      .agg(max(abs(col("v").cast("double")))).head()
    val m = if (mRow.isNullAt(0)) 0.0 else mRow.getDouble(0)
    val quant = udf { (v: Seq[Float]) =>
      Array.tabulate(v.size) { i =>
        if (m <= 0) 0L
        else math.floor(v(i).toDouble * 127.0 / m).toLong
      }
    }
    val idot = udf { (a: Seq[Long], b: Seq[Long]) =>
      var s = 0L; var i = 0
      while (i < a.size) { s += a(i) * b(i); i += 1 }
      s
    }
    val c = corpus.select(col(idCol).as("neighbor_id"), quant(col(vecCol)).as("cq"))
    val q = queries.select(col(idCol).as("query_id"), quant(col(vecCol)).as("qq"))
    val w = Window.partitionBy("query_id")
      .orderBy(col("qdot").desc, col("neighbor_id").asc)
    c.join(broadcast(q), col("query_id") =!= col("neighbor_id"))
      .select(col("query_id"), col("neighbor_id"),
        idot(col("qq"), col("cq")).as("qdot"))
      .withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
  }

  /** EXACT int8 Gram matrix X'X over an embedding column — the
    * covariance/PCA sufficient statistic at corpus scale (q155's 4×4
    * X'X generalized to the full dim×dim): vectors quantize with
    * [[int8QuantTopK]]'s symmetric global max-abs scale (floor(v·127/m),
    * the measured-correct trade there), then every partition folds its
    * rows into ONE dim×dim Long accumulator inside mapPartitions — the
    * letter-counter doctrine: per-partition state is dim² Longs, the
    * shuffle carries |partitions|·dim² cells, never a per-row outer
    * product. All-integer, so the matrix is engine-exact. Returns the
    * upper triangle (i, j, s) with i ≤ j, 0-based dims.
    *
    * Overflow bound: |q| ≤ 127 ⇒ each cell gains ≤ 16129 per row —
    * safe to ~5·10¹⁴ rows.
    */
  def int8GramMatrix(corpus0: DataFrame, vecCol: String): DataFrame = {
    val spark = corpus0.sparkSession
    import spark.implicits._
    val corpus = corpus0.filter(col(vecCol).isNotNull)
    // empty corpus → NULL max; m=0 is safe (no rows reach the fold)
    val mRow = corpus
      .select(explode(col(vecCol)).as("v"))
      .agg(max(abs(col("v").cast("double")))).head()
    val m = if (mRow.isNullAt(0)) 0.0 else mRow.getDouble(0)
    val quantized = corpus.select(col(vecCol)).as[Seq[Float]]
    val cells = quantized.mapPartitions { it =>
      var acc: Array[Long] = null
      var dim = 0
      it.foreach { v =>
        if (acc == null) { dim = v.size; acc = new Array[Long](dim * dim) }
        val q = new Array[Long](dim)
        var i = 0
        while (i < dim) {
          q(i) = if (m <= 0) 0L
                 else math.floor(v(i).toDouble * 127.0 / m).toLong
          i += 1
        }
        i = 0
        while (i < dim) {
          var j = i
          while (j < dim) { acc(i * dim + j) += q(i) * q(j); j += 1 }
          i += 1
        }
      }
      if (acc == null) Iterator.empty
      else {
        val d = dim
        Iterator.range(0, d).flatMap(i =>
          Iterator.range(i, d).map(j => (i.toLong, j.toLong, acc(i * d + j))))
      }
    }
    cells.toDF("i", "j", "s")
      .groupBy("i", "j").agg(sum("s").as("s"))
  }

  /** Batch perceptron training over an embedding column — the second
    * in-engine trainer (q155's linear regression is least-squares; this
    * is the classification twin). EXACT integer arithmetic end to end,
    * so the learned trajectory is a pure function of the corpus and the
    * DuckDB oracle replays it bit-for-bit:
    *
    *  - features: [[int8QuantTopK]]'s scalar quantization
    *    floor(x·127/maxAbs) per dimension, plus a constant bias 127;
    *  - label: y = +1 if labelCol <= posMax else -1 (a NULL label
    *    falls to the -1 class on both engines — Spark's otherwise()
    *    and SQL's CASE ELSE agree);
    *  - epoch t: score every row with the CURRENT weights (margin
    *    y·⟨w,x⟩, misclassified iff <= 0), then one batch update
    *    w += Σ_misclassified y·x — the parallel ("batch") variant: the
    *    update folds ALL misclassified rows at once, so an epoch is ONE
    *    aggregation, not a sequential pass (the online perceptron's
    *    row-at-a-time update cannot be data-parallel).
    *
    * Output: one row per epoch — (epoch, n_wrong, w_l1) where n_wrong
    * counts misclassifications under the pre-update weights and w_l1 is
    * the post-update L1 norm, so the whole trajectory hash-checks.
    *
    * Scale shape: per epoch, one map-only scoring pass (weights are a
    * driver array inside the UDF, dim+1 longs — the q155/k-means
    * bounded-driver-state class) and one posexplode + groupBy(pos)
    * aggregation whose map-side combine reduces every partition to
    * dim+1 rows before the exchange; the quantized corpus is
    * localCheckpointed once so `epochs` passes never replan the scan.
    * No row ever carries more than its own vector; nothing scales with
    * |corpus| except the embarrassingly-parallel scans.
    */
  def perceptronTrain(emb: DataFrame, idCol: String, vecCol: String,
                      labelCol: String, posMax: Int, epochs: Int): DataFrame = {
    require(epochs >= 1, s"epochs must be >= 1, got $epochs")
    val spark = emb.sparkSession
    import spark.implicits._
    val base = emb.filter(col(vecCol).isNotNull)
    // empty corpus → NULL max and no dim row below: short-circuit to an
    // empty trajectory (the kmeansCentroidsLocal/semDedup convention)
    val mRow = base.select(explode(col(vecCol)).as("v"))
      .agg(max(abs(col("v").cast("double")))).head()
    if (mRow.isNullAt(0))
      return Seq.empty[(Long, Long, Long)].toDF("epoch", "n_wrong", "w_l1")
    val m = mRow.getDouble(0)
    val quant = udf { (v: Seq[Float]) =>
      val out = new Array[Long](v.size + 1)
      var i = 0
      while (i < v.size) {
        out(i) = if (m <= 0) 0L else math.floor(v(i).toDouble * 127.0 / m).toLong
        i += 1
      }
      out(v.size) = 127L // bias
      out
    }
    val q = base.select(
        quant(col(vecCol)).as("xq"),
        when(col(labelCol) <= posMax, 1L).otherwise(-1L).as("y"))
      .materialized
    val dim = q.select(size(col("xq"))).head().getInt(0)
    var w = new Array[Long](dim)
    val trajectory = (1 to epochs).map { epoch =>
      val wSnap = w.clone()
      val wrongUdf = udf { (xq: Seq[Long], y: Long) =>
        var s = 0L; var i = 0
        while (i < wSnap.length) { s += wSnap(i) * xq(i); i += 1 }
        y * s <= 0L
      }
      // one pass: per-dim misclassified contribution + the (constant
      // per pos) wrong count riding the same 65-row aggregate
      val stats = q.withColumn("wrong", wrongUdf(col("xq"), col("y")))
        .select(posexplode(col("xq")).as(Seq("pos", "x")), col("y"), col("wrong"))
        .groupBy("pos")
        .agg(sum(when(col("wrong"), col("y") * col("x")).otherwise(0L)).as("dv"),
          sum(when(col("wrong"), 1L).otherwise(0L)).as("nw"))
        .collect()
      val nWrong = if (stats.isEmpty) 0L else stats.head.getLong(2)
      stats.foreach(r => w(r.getInt(0)) += r.getLong(1))
      (epoch.toLong, nWrong, w.map(math.abs).sum)
    }
    trajectory.toDF("epoch", "n_wrong", "w_l1")
  }

  /** MMR (maximal marginal relevance, Carbonell & Goldstein 1998)
    * diverse re-ranking: from the top-`candC` most query-relevant
    * vectors, greedily pick k that trade relevance against redundancy —
    * pick 1 = argmax relevance; pick i = argmax
    * λ·rel − (1−λ)·max_{s∈selected} sim(c, s). The standard RAG-grade
    * retrieval step after q35/q153's pure-relevance top-k: without it,
    * k near-duplicates of the best hit fill the context window.
    *
    * Exact integer arithmetic end to end so the greedy trajectory is
    * oracle-replayable: cosines round to 4 decimals then scale to
    * integer 1e-4 units (rel_m4/sim_m4), λ = 7/10 becomes
    * score_m4 = 7·rel_m4 − 3·maxsim_m4, ties to the smallest id.
    *
    * Scale shape: relevance is one map-only scan (query vector is a
    * literal) + TakeOrdered(candC); everything after runs on the
    * driver over candC×dim doubles and a candC² rounded-sim matrix —
    * the bounded-driver-state class (candC is a context-window-scale
    * constant, not data-scale). The corpus is never pairwise-joined.
    */
  def mmrRerank(emb: DataFrame, idCol: String, vecCol: String,
                queryId: Long, candC: Int, k: Int): DataFrame = {
    require(candC >= k && k >= 1, s"need candC >= k >= 1, got $candC/$k")
    val spark = emb.sparkSession
    import spark.implicits._
    val base = emb.filter(col(vecCol).isNotNull)
    val qv = base.filter(col(idCol) === queryId)
      .select(transform(col(vecCol), x => x.cast("double")))
      .as[Array[Double]].head()
    def cosJvm(a: Array[Double], b: Array[Double]): Double = {
      var dot = 0.0; var na = 0.0; var nb = 0.0
      var i = 0
      while (i < a.length && i < b.length) {
        dot += a(i) * b(i); na += a(i) * a(i); nb += b(i) * b(i); i += 1
      }
      val np = math.sqrt(na) * math.sqrt(nb)
      if (np > 0) dot / np else 0.0
    }
    def m4(x: Double): Long =
      java.math.BigDecimal.valueOf(x).setScale(4, java.math.RoundingMode.HALF_UP)
        .movePointRight(4).longValueExact()
    val qlit = qv
    val relUdf = udf { (v: Seq[Float]) =>
      m4(cosJvm(v.map(_.toDouble).toArray, qlit))
    }
    val cands = base.filter(col(idCol) =!= queryId)
      .select(col(idCol).cast("long").as("id"),
        transform(col(vecCol), x => x.cast("double")).as("cv"),
        relUdf(col(vecCol)).as("rel_m4"))
      .orderBy(col("rel_m4").desc, col("id"))
      .limit(candC)
      .as[(Long, Array[Double], Long)].collect()
    val selected = scala.collection.mutable.ArrayBuffer.empty[(Long, Long, Long, Long)]
    val chosen = scala.collection.mutable.ArrayBuffer.empty[(Long, Array[Double])]
    val remaining = scala.collection.mutable.LinkedHashMap(
      cands.map(c => c._1 -> c): _*)
    for (r <- 1 to math.min(k, cands.length)) {
      val best = remaining.values.map { case (id, cv, rel) =>
        val maxSim = if (chosen.isEmpty) 0L
          else chosen.map(s => m4(cosJvm(cv, s._2))).max
        val score = 7L * rel - 3L * maxSim
        (score, -id, id, cv, rel)
      }.maxBy(t => (t._1, t._2))
      selected += ((r.toLong, best._3, best._5, best._1))
      chosen += ((best._3, best._4))
      remaining.remove(best._3)
    }
    selected.toSeq.toDF("rank", "vec_id", "rel_m4", "score_m4")
  }

  /** Greedy k-center coreset (Gonzalez 1985, the farthest-first
    * traversal): pick the md5-smallest vector as the seed, then k-1
    * times the vector FARTHEST from its nearest chosen center — a
    * 2-approximation to the k-center cover, and the standard
    * diversity-maximizing subset selector for curation (cover the
    * embedding space with k exemplars; the complement of dedup's
    * "collapse the near", this keeps the far).
    *
    * Deterministic end to end: distances are the k-means path's
    * round(‖v‖² − 2⟨v,c⟩ + ‖c‖², 6) with the same element-wise
    * float→double widening as [[assignCidUdf]], argmax ties go to the
    * smallest id, and the seed is an md5 order statistic — so the
    * DuckDB oracle replays every round (q163).
    *
    * Scale shape: one corpus scan per round — a map-only min-distance
    * UDF over the driver-held center list (≤ k×dim doubles, the
    * bounded-driver-state class) and ONE max(struct) aggregation; no
    * shuffle wider than the agg's single row, no pairwise anything.
    * k rounds = k scans; at 100 TB run the selection on a hash sample
    * (the [[kmeansCentroidsLocal]] sampleOneIn trick) — the guarantee
    * degrades gracefully with sample rate.
    *
    * Returns (rank 1..k, id, d2_sel) where d2_sel is the selected
    * point's distance-to-cover at selection time (0.0 for the seed).
    */
  def kCenterGreedy(emb: DataFrame, idCol: String, vecCol: String,
                    k: Int): DataFrame = {
    require(k >= 1, s"k must be >= 1, got $k")
    val spark = emb.sparkSession
    import spark.implicits._
    import graft.functions.TextFunctions.tokenHash64
    val keyed = emb.filter(col(vecCol).isNotNull)
      .select(col(idCol).cast("long").as("id"), col(vecCol).as("v"),
        tokenHash64(concat(lit("kc_"), col(idCol).cast("string"))).as("h"))
      .materialized
    val seed = keyed.orderBy("h", "id").limit(1)
      .select(col("id"), transform(col("v"), x => x.cast("double")).as("cv"))
      .as[(Long, Array[Double])].head()
    val centers = scala.collection.mutable.ArrayBuffer((1L, seed._1, 0.0))
    val centerVecs = scala.collection.mutable.ArrayBuffer(seed._2)
    for (r <- 2 to k) {
      val cvs = centerVecs.toArray
      val ccs = cvs.map(c => c.map(x => x * x).sum)
      val dminUdf = udf { (v: Seq[Float]) =>
        var vv = 0.0
        var i = 0
        while (i < v.size) { val x = v(i).toDouble; vv += x * x; i += 1 }
        var best = Double.MaxValue
        var c = 0
        while (c < cvs.length) {
          var dot = 0.0
          var j = 0
          val cv = cvs(c)
          while (j < v.size && j < cv.length) { dot += v(j).toDouble * cv(j); j += 1 }
          val d = java.math.BigDecimal.valueOf(vv - 2.0 * dot + ccs(c))
            .setScale(6, java.math.RoundingMode.HALF_UP).doubleValue()
          if (d < best) best = d
          c += 1
        }
        best
      }
      val best = keyed
        .select(col("id"), col("v"), dminUdf(col("v")).as("d"))
        .agg(max(struct(col("d"), (-col("id")).as("nid"),
          transform(col("v"), x => x.cast("double")).as("cv"))).as("m"))
        .select(col("m.d"), (-col("m.nid")).as("id"), col("m.cv"))
        .as[(Double, Long, Array[Double])].head()
      centers += ((r.toLong, best._2, best._1))
      centerVecs += best._3
    }
    centers.toSeq.toDF("rank", "id", "d2_sel")
  }

  /** Product-quantization ANN (Jégou et al. TPAMI 2011) — the
    * compressed-corpus scale path: vectors split into `m` subvectors,
    * each subspace k-means-coded (the m books trained together by
    * [[kmeansBooksLocal]], q54's audited Lloyd semantics per subspace,
    * one corpus pass per round for all of them), the corpus stored as
    * m SMALL CODES per vector (m bytes at 256 codes — a 256×
    * compression of a float[64]; [[pqEncodeWith]]'s argmin pass), and
    * queries scored by Asymmetric Distance Computation ([[adcScorer]]):
    * per query one m × codes lookup table of exact subspace distances,
    * approx distance = the FIXED-ORDER sum of table entries —
    * left-to-right over subspaces, each entry HALF_UP-6-rounded, so the
    * ranking is engine-exact and the oracle can replay it as a
    * generated expression chain (never an order-free SUM aggregate).
    *
    * Scale: the codebooks are driver-bounded (m × codes × dim/m
    * doubles); encoding is ONE map-only corpus pass (m argmin UDFs
    * over sliced columns); scoring touches only the (query × corpus)
    * code table — the float corpus is read exactly once at encode
    * time, which is the published point of PQ. Returns
    * (query_id, neighbor_id, adist, rank).
    */
  def pqTopK(corpus: DataFrame, queries: DataFrame, idCol: String,
             vecCol: String, k: Int, m: Int, codesPerSub: Int,
             iters: Int = 2): DataFrame = {
    val spark = corpus.sparkSession
    import spark.implicits._
    require(m >= 1 && codesPerSub >= 1 && k >= 1,
      s"need m, codesPerSub, k >= 1; got $m/$codesPerSub/$k")
    val books = kmeansBooksLocal(corpus, idCol, vecCol, Seq((m, codesPerSub)), iters)
    val (qids, adist) = adcScorer(queries, idCol, vecCol, books)
    val w = Window.partitionBy("query_id")
      .orderBy(col("adist").asc, col("neighbor_id").asc)
    corpus.select(col(idCol).cast("long").as("neighbor_id"),
        pqCodes(corpus.schema(vecCol).dataType, books, col(vecCol)).as("codes"))
      .crossJoin(broadcast(qids.toSeq.toDF("query_id")))
      .filter(col("query_id") =!= col("neighbor_id"))
      .withColumn("adist", round(adist(col("query_id"), col("codes")), 6))
      .withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
      .select(col("query_id"), col("neighbor_id"), col("adist"),
        col("rank").cast("long").as("rank"))
  }

  /** The PQ codebooks as a persistable frame (j, cid, cv): the m
    * subspace books of [[pqTopK]], trained together by
    * [[kmeansBooksLocal]] (shared 'ivf_' seed ordering, one Lloyd pass
    * per round for every book). The centroid values are round-6dp
    * Lloyd means (exact doubles), so a parquet round-trip is LOSSLESS
    * and a probe-side LUT rebuilt from the persisted table is
    * value-identical to the build-time one — the property that makes
    * the codebook a standing index component rather than a per-query
    * recomputation.
    */
  def pqCodebooks(corpus: DataFrame, idCol: String, vecCol: String,
                  m: Int, codesPerSub: Int, iters: Int = 2): DataFrame = {
    require(m >= 1 && codesPerSub >= 1, s"need m, codes >= 1; got $m/$codesPerSub")
    codebooksFrame(corpus.sparkSession,
      kmeansBooksLocal(corpus, idCol, vecCol, Seq((m, codesPerSub)), iters))
  }

  /** Driver-held subspace books as a [[pqCodebooks]] frame. */
  private[graft] def codebooksFrame(spark: org.apache.spark.sql.SparkSession,
                                    books: Seq[Book]): DataFrame = {
    import spark.implicits._
    books.zipWithIndex.flatMap { case (book, j) =>
      book.map { case (cid, cv) => (j.toLong, cid, cv) }
    }.toDF("j", "cid", "cv")
  }

  /** Collect a [[pqCodebooks]] frame to the driver, indexed by
    * subspace: bounded at m × codes × (dim/m) doubles by construction.
    */
  private def collectBooks(codebooks: DataFrame, m: Int): Array[Book] = {
    val spark = codebooks.sparkSession
    import spark.implicits._
    val rows = codebooks.select(col("j").cast("long"), col("cid").cast("long"),
        transform(col("cv"), x => x.cast("double")).as("cv"))
      .as[(Long, Long, Array[Double])].collect()
    (0 until m).map(j =>
      rows.filter(_._1 == j).map(t => (t._2, t._3)).sortBy(_._1)).toArray
  }

  /** The PQ code array of `v`: code j is the [[assignCidUdf]] argmin of
    * the j-th `dim/m` slice against book j (q192's exact HALF_UP-6 tie
    * semantics) — m map-side UDF calls, no shuffle.
    */
  private def pqCodes(vecType: org.apache.spark.sql.types.DataType,
                      books: Array[Book], v: Column): Column = {
    require(books.nonEmpty && books.forall(_.nonEmpty),
      "every subspace needs a codebook")
    val sub = books(0)(0)._2.length
    array(books.indices.map(j =>
      assignCidUdf(vecType, books(j))(slice(v, j * sub + 1, sub))): _*)
  }

  /** Encode a corpus to PQ codes against PERSISTED codebooks: ONE
    * map-only pass ([[pqCodes]]). Returns (neighbor_id, codes
    * array&lt;long&gt;) — m small codes per vector, the compressed
    * representation the float corpus collapses to.
    */
  def pqEncodeWith(corpus: DataFrame, idCol: String, vecCol: String,
                   codebooks: DataFrame, m: Int): DataFrame =
    corpus.select(col(idCol).cast("long").as("neighbor_id"),
      pqCodes(corpus.schema(vecCol).dataType, collectBooks(codebooks, m),
        col(vecCol)).as("codes"))

  /** The standing half of [[ivfPqTopKProbe]] as a buildable frame: every
    * corpus vector filed on its nearest coarse centroid's list WITH its
    * m PQ codes — (cid, neighbor_id, codes). One map-only corpus pass:
    * the [[ivfListAssignments]] argmin and the [[pqEncodeWith]] codes
    * are columns of the same projection, so the coded lists equal
    * `ivfListAssignments ⋈ pqEncodeWith` on neighbor_id without
    * building either. Persist it PARTITIONED BY cid (q230).
    */
  def ivfPqListAssignments(corpus: DataFrame, idCol: String, vecCol: String,
                           centroids: DataFrame, codebooks: DataFrame,
                           m: Int): DataFrame = {
    val vecType = corpus.schema(vecCol).dataType
    corpus.select(
      assignCidUdf(vecType, collectCentroids(centroids))(col(vecCol)).as("cid"),
      col(idCol).cast("long").as("neighbor_id"),
      pqCodes(vecType, collectBooks(codebooks, m), col(vecCol)).as("codes"))
  }

  /** Asymmetric Distance Computation against driver-held PQ `books`:
    * collects the QUERIES (a bounded probe batch), builds each query's
    * m × codes table of HALF_UP-6-rounded exact subspace distances, and
    * returns the query ids with a (query_id, codes) → distance UDF that
    * sums the table entries left to right over subspaces — the fixed
    * order the oracle replays as an addition chain. A code row whose
    * arity or code ids do not match the books fails with an explicit
    * message rather than an opaque lookup error.
    */
  private def adcScorer(queries: DataFrame, idCol: String, vecCol: String,
                        books: Array[Book]): (Array[Long], UserDefinedFunction) = {
    require(books.nonEmpty && books.forall(_.nonEmpty),
      "every subspace needs a codebook")
    val m = books.length
    val sub = books(0)(0)._2.length
    val qRows = queries.select(col(idCol).cast("long").as("qid"), col(vecCol))
      .collect()
    val lut: Map[(Long, Int, Long), Double] = qRows.flatMap { r =>
      val qid = r.getLong(0)
      val qv = r.getSeq[Number](1).map(_.doubleValue()).toArray
      (0 until m).flatMap { j =>
        val q = qv.slice(j * sub, (j + 1) * sub)
        var qq = 0.0
        var i = 0
        while (i < sub) { qq += q(i) * q(i); i += 1 }
        books(j).map { case (cid, cv) =>
          var dt = 0.0; var cc = 0.0
          i = 0
          while (i < sub) { dt += q(i) * cv(i); cc += cv(i) * cv(i); i += 1 }
          val dd = java.math.BigDecimal.valueOf(qq - 2.0 * dt + cc)
            .setScale(6, java.math.RoundingMode.HALF_UP).doubleValue()
          ((qid, j, cid), dd)
        }
      }
    }.toMap
    val score = udf { (qid: Long, codes: Seq[Long]) =>
      if (codes.length != m)
        throw new IllegalArgumentException(
          s"PQ scoring: code row has ${codes.length} codes but " +
            s"m=$m — codes do not match the supplied codebooks")
      var sacc = 0.0
      var j = 0
      while (j < codes.length) {
        sacc += lut.getOrElse((qid, j, codes(j)),
          throw new IllegalArgumentException(
            s"PQ scoring: code ${codes(j)} in subspace $j is absent " +
              "from the supplied codebooks — codes do not match the " +
              "codebooks they were encoded with"))
        j += 1
      }
      sacc
    }
    (qRows.map(_.getLong(0)), score)
  }

  /** IVF-PQ probe — the IVFADC system of Jégou et al. TPAMI 2011 §IV
    * (without residual encoding): the coarse quantizer selects nProbe
    * inverted lists per query (q207's probe argmin over the persisted
    * centroid table), candidates come back as PQ CODES from the
    * cid-partitioned coded lists (so a probe reads only its lists'
    * files — dynamic partition pruning, and the lists hold m codes per
    * vector, not floats), and scoring is q192's Asymmetric Distance
    * Computation ([[adcScorer]]): per-query LUTs from the PERSISTED
    * codebooks, approx distance = the FIXED-ORDER subspace sum, each
    * entry HALF_UP-6 — engine-exact, oracle-replayable. The float
    * corpus is touched by NO part of the probe: this is the
    * compressed-corpus + pruned-scan composition production vector
    * stores ship as their default (FAISS IVFPQ). Returns
    * (query_id, neighbor_id, adist, rank).
    *
    * CONTRACT — bounded query set: the QUERIES frame is collected to
    * the driver and its per-query LUTs (|queries| × m × codes doubles)
    * ship inside the scoring UDF closure — the standard ADC shape; at
    * any scale the query batch stays small (a probe batch, not a
    * corpus). The coded lists MUST have been encoded with these same
    * codebooks and m ([[ivfPqListAssignments]], [[pqEncodeWith]]); a
    * mismatched code fails fast with an explicit message rather than
    * an opaque lookup error.
    */
  def ivfPqTopKProbe(queries: DataFrame, centroids: DataFrame,
                     codedLists: DataFrame, codebooks: DataFrame,
                     idCol: String, vecCol: String, k: Int, nProbe: Int,
                     m: Int): DataFrame = {
    val spark = queries.sparkSession
    import spark.implicits._
    val local = collectCentroids(centroids)
    val cents = local.toSeq.toDF("cid", "cv")
      .withColumn("cc", dot(col("cv"), col("cv")))
    def cdist = round(col("vv") - lit(2.0) * dot(col("v"), col("cv")) + col("cc"), 6)
    val w0 = Window.partitionBy("query_id").orderBy(col("d"), col("cid"))
    val probes = queries
      .select(col(idCol).cast("long").as("query_id"), col(vecCol).as("v"))
      .withColumn("vv", dot(col("v"), col("v")))
      .crossJoin(broadcast(cents))
      .withColumn("d", cdist)
      .withColumn("rn", row_number().over(w0))
      .filter(col("rn") <= nProbe)
      .select(col("query_id"), col("cid"))
    val (_, adist) = adcScorer(queries, idCol, vecCol, collectBooks(codebooks, m))
    val w = Window.partitionBy("query_id")
      .orderBy(col("adist").asc, col("neighbor_id").asc)
    codedLists
      .select(col("cid").cast("long").as("cid"),
        col("neighbor_id").cast("long").as("neighbor_id"), col("codes"))
      .join(broadcast(probes), Seq("cid"))
      .filter(col("query_id") =!= col("neighbor_id"))
      .withColumn("adist", round(adist(col("query_id"), col("codes")), 6))
      .withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
      .select(col("query_id"), col("neighbor_id"), col("adist"),
        col("rank").cast("long").as("rank"))
  }

  /** Grid-partitioned DBSCAN over 2-D integer points (the MR-DBSCAN
    * shape, He et al. 2011): density clustering without any all-pairs
    * join. Candidate neighbor pairs come from an eps-sized GRID — each
    * point joins only points in its own or the 8 adjacent cells (one
    * side replicated 9×, exactly one replica lands in the probe's
    * cell, so no pair deduplication is needed) — then the exact
    * squared-L2 cut keeps true eps-neighbors. A point is `core` when
    * its eps-neighborhood (self included, the textbook count) has ≥
    * minPts points; clusters are connected components of the
    * core–core adjacency (large/small-star to the proven fixpoint —
    * [[graft.operators.Dedup.dupClustersStar]]), `border` points take
    * the MINIMUM adjacent core label (the deterministic resolution of
    * DBSCAN's order-dependent border tie), everything else is `noise`
    * with label −1. All-integer coordinates make every verdict
    * engine-exact.
    *
    * Scale: the corpus collapses FIRST to distinct (x, y) POSITIONS
    * with multiplicity and a min point id — identically-placed points
    * have identical neighborhoods, so this is semantics-preserving
    * (neighbor counts sum multiplicities) and it bounds every later
    * stage by the VALUE DOMAIN, not the row count — the
    * histogram-percentile doctrine applied to clustering (a 100 TB
    * input has no more positions than the coordinate grid has cells).
    * The cell join fans positions out 9×, per-cell pair work is
    * |cell positions|², CC rounds are O(log² n) checkpointed, and one
    * final (x, y) join maps labels back to points. Coordinates must be
    * non-negative (integer `div` grid would mis-bucket negatives;
    * shift first). Returns (id, role, label) — label is the minimum
    * core point id of the cluster, −1 for noise.
    */
  def dbscanGrid(points: DataFrame, idCol: String, xCol: String,
                 yCol: String, eps: Long, minPts: Int): DataFrame = {
    require(eps >= 1, s"eps must be >= 1, got $eps")
    require(minPts >= 1, s"minPts must be >= 1, got $minPts")
    val p = points.select(col(idCol).cast("long").as("id"),
      col(xCol).cast("long").as("x"), col(yCol).cast("long").as("y"))
    val pos = p.groupBy("x", "y")
      .agg(count(lit(1)).as("m"), min("id").as("pid"))
      .materialized
    val left = pos.select(col("pid").as("pa"), col("x").as("xa"),
      col("y").as("ya"),
      expr(s"x div $eps").as("cx"), expr(s"y div $eps").as("cy"))
    val right = pos
      .select(col("pid").as("pb"), col("m").as("mb"), col("x").as("xb"),
        col("y").as("yb"), explode(sequence(lit(-1), lit(1))).as("dx"))
      .select(col("pb"), col("mb"), col("xb"), col("yb"), col("dx"),
        explode(sequence(lit(-1), lit(1))).as("dy"))
      .select(col("pb"), col("mb"), col("xb"), col("yb"),
        (expr(s"xb div $eps") + col("dx")).as("cx"),
        (expr(s"yb div $eps") + col("dy")).as("cy"))
    // exactly one replica of pb lands in pa's cell, so no pair dedup
    val nb = left.join(right, Seq("cx", "cy"))
      .filter((col("xa") - col("xb")) * (col("xa") - col("xb")) +
        (col("ya") - col("yb")) * (col("ya") - col("yb")) <= lit(eps * eps))
      .select(col("pa"), col("pb"), col("mb"))
    val cores = nb.groupBy("pa").agg(sum("mb").as("c"))
      .filter(col("c") >= minPts).select(col("pa").as("cid"))
    val coreEdges = nb.select(col("pa"), col("pb"))
      .join(cores.select(col("cid").as("pa")), Seq("pa"), "left_semi")
      .join(cores.select(col("cid").as("pb")), Seq("pb"), "left_semi")
      .filter(col("pa") < col("pb"))
    val labels = Dedup.dupClustersStar(coreEdges, "pa", "pb")
    // isolated core positions (no core neighbor position) self-label
    val coreLab = cores
      .join(labels.withColumnRenamed("node", "cid"), Seq("cid"), "left")
      .select(col("cid"), coalesce(col("label"), col("cid")).as("label"))
    val borderLab = nb
      .join(coreLab.select(col("cid").as("pb"), col("label")), Seq("pb"))
      .join(cores.select(col("cid").as("pa")), Seq("pa"), "left_anti")
      .groupBy(col("pa")).agg(min("label").as("label"))
      .withColumn("role", lit("border"))
    val posVerdict = coreLab.select(col("cid").as("pa"), col("label"))
      .withColumn("role", lit("core"))
      .unionByName(borderLab)
    val posOut = pos
      .join(posVerdict.withColumnRenamed("pa", "pid"), Seq("pid"), "left")
      .select(col("x"), col("y"),
        coalesce(col("role"), lit("noise")).as("role"),
        coalesce(col("label"), lit(-1L)).as("label"))
    p.join(posOut, Seq("x", "y"))
      .select(col("id"), col("role"), col("label"))
  }

  /** Mutual nearest-neighbor alignment (the bitext-mining primitive of
    * Artetxe & Schwenk 2019): forward = each batch vector's exact
    * cosine top-1 over the corpus; reverse = each hit's top-1 BACK
    * against the same batch; only pairs that pick each other survive —
    * the asymmetric-hub filter raw top-1 lacks. Ties break cos DESC
    * then id ASC on both directions via the struct-max idiom, and the
    * scored cosine is round(·, 4) (the [[bruteForceTopK]] contract) so
    * the pair set is engine-exact.
    *
    * The batch MUST be bounded (an alignment batch, not a corpus
    * half): it is broadcast twice, so forward is ONE corpus scan with
    * no corpus shuffle and reverse touches ≤ |batch| corpus rows via a
    * broadcast semi filter — corpus-size-independent state end to end.
    * Inputs are (idCol, vecCol) on both sides; returns
    * (a_id, b_id, cos) for the mutual pairs.
    */
  def mutualTop1(batch: DataFrame, corpus: DataFrame, idCol: String,
                 vecCol: String): DataFrame = {
    val a = batch.select(col(idCol).as("a_id"), col(vecCol).as("av"))
    val b = corpus.select(col(idCol).as("b_id"), col(vecCol).as("bv"))
    val fwd = b.crossJoin(broadcast(a))
      .select(col("a_id"), col("b_id"),
        round(cosine(col("av"), col("bv")), 4).as("cos4"))
      .groupBy("a_id")
      .agg(max(struct(col("cos4"), (-col("b_id")).as("nb"))).as("m"))
      .select(col("a_id"), (-col("m.nb")).as("b_id"), col("m.cos4").as("cos"))
    val rev = b
      .join(broadcast(fwd.select("b_id")), Seq("b_id"), "left_semi")
      .crossJoin(broadcast(a))
      .select(col("b_id"), col("a_id"),
        round(cosine(col("bv"), col("av")), 4).as("cos4"))
      .groupBy("b_id")
      .agg(max(struct(col("cos4"), (-col("a_id")).as("na"))).as("m"))
      .select(col("b_id"), (-col("m.na")).as("best_a"))
    fwd.join(rev, Seq("b_id"))
      .filter(col("a_id") === col("best_a"))
      .select(col("a_id"), col("b_id"), col("cos"))
  }

  /** Contrastive-margin audit of an embedding space: the histogram of
    * EXACT int8 dot products over a fixed-size sampled pair set, split
    * same-label vs cross-label — the one-glance answer to "do my
    * labels separate in this space" (a collapsed or shuffled embedding
    * shows the two histograms on top of each other). Sampling is the
    * q240 md5-bottom-N doctrine: the `sampleN` vectors with the
    * smallest md5(id) form the panel, so the audit's cost is
    * sampleN²/2 pairs FOREVER — corpus growth changes which vectors
    * land in the panel, never the work. Quantization is the sample's
    * own symmetric max-abs scale (floor(v·127/m), [[int8QuantTopK]]'s
    * trade), dots are exact Longs, and buckets are (qdot + shift) div
    * width with `shift` sized so the numerator is nonnegative — floor
    * and trunc division agree, so DuckDB replays bit-for-bit.
    *
    * Returns one row per (same_label, bucket): (same_label, bucket,
    * n_pairs, sum_qdot) — sum_qdot gives exact per-side means
    * downstream without a float.
    */
  def int8PairMarginHist(df: DataFrame, idCol: String, vecCol: String,
                         labelCol: String, sampleN: Int,
                         bucketWidth: Long, shift: Long): DataFrame = {
    require(sampleN >= 2, s"sampleN must be >= 2, got $sampleN")
    require(bucketWidth >= 1, s"bucketWidth must be >= 1, got $bucketWidth")
    val samp = df.filter(col(vecCol).isNotNull)
      .select(col(idCol).cast("long").as("id"), col(vecCol).as("v"),
        col(labelCol).cast("long").as("lab"),
        md5(col(idCol).cast("string")).as("__m"))
      .orderBy(col("__m"), col("id")) // TakeOrdered — never a full sort
      .limit(sampleN)
      .materialized
    val mRow = samp.select(explode(col("v")).as("x"))
      .agg(max(abs(col("x").cast("double")))).head()
    val m = if (mRow.isNullAt(0)) 0.0 else mRow.getDouble(0)
    val quant = udf { (v: Seq[Float]) =>
      Array.tabulate(v.size) { i =>
        if (m <= 0) 0L else math.floor(v(i).toDouble * 127.0 / m).toLong
      }
    }
    val idot = udf { (a: Seq[Long], b: Seq[Long]) =>
      var s = 0L; var i = 0
      while (i < a.size) { s += a(i) * b(i); i += 1 }
      s
    }
    val q = samp.select(col("id"), quant(col("v")).as("qv"), col("lab"))
    val pairs = q.select(col("id").as("a_id"), col("qv").as("aq"),
        col("lab").as("a_lab"))
      .join(broadcast(q.select(col("id").as("b_id"), col("qv").as("bq"),
        col("lab").as("b_lab"))), col("a_id") < col("b_id"))
      .select((col("a_lab") === col("b_lab")).as("same_label"),
        idot(col("aq"), col("bq")).as("qdot"))
    pairs
      .withColumn("bucket", expr(s"(qdot + $shift) div $bucketWidth"))
      .groupBy("same_label", "bucket")
      .agg(count(lit(1)).cast("long").as("n_pairs"),
        sum("qdot").cast("long").as("sum_qdot"))
      .orderBy("same_label", "bucket")
  }
}
