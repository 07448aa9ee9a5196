package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.engine.Tables._
import graft.functions.TextFunctions._
import graft.functions.VectorFunctions
import graft.operators.{Ann, Indexing}

import graft.QueryShared._

/** AnnVec query registry — embedding similarity: brute/LSH/IVF/PQ ANN, clustering, reranking, drift.
  * Split verbatim from SparkEntry (round 12): every entry is the
  * original closure/SQL, unchanged; SparkEntry concatenates the
  * family maps back into the driver contract.
  */
private[graft] object QueriesAnnVec {

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(

    // --- similarity search ---

    "q35_ann_bruteforce" -> ((s, d) => {
      val e = embeddings(s, d)
      Ann.bruteForceTopK(e, e.filter(col("vec_id") < 5), "vec_id", "embedding", k = 5)
        .select(col("query_id"), col("neighbor_id"), col("cos"),
          col("rank").cast("long").as("rnk"))
        .orderBy("query_id", "rnk")
    }),

    "q36_ann_lsh" -> ((s, d) => {
      val e = embeddings(s, d)
      Ann.lshTopK(e, e.filter(col("vec_id") < 5), "vec_id", "embedding", k = 5, nBits = 4)
        .select(col("query_id"), col("neighbor_id"), col("cos"),
          col("rank").cast("long").as("rnk"))
        .orderBy("query_id", "rnk")
    }),

    "q46_ann_ivf" -> ((s, d) => {
      val e = embeddings(s, d)
      Ann.ivfTopK(e, e.filter(col("vec_id") < 5), "vec_id", "embedding",
          k = 5, nLists = 8, nProbe = 2)
        .select(col("query_id"), col("neighbor_id"), col("cos"),
          col("rank").cast("long").as("rnk"))
        .orderBy("query_id", "rnk")
    }),

    "q53_ann_lsh_multiprobe" -> ((s, d) => {
      val e = embeddings(s, d)
      Ann.lshTopK(e, e.filter(col("vec_id") < 5), "vec_id", "embedding",
          k = 5, nBits = 4, multiProbe = 2)
        .select(col("query_id"), col("neighbor_id"), col("cos"),
          col("rank").cast("long").as("rnk"))
        .orderBy("query_id", "rnk")
    }),

    "q54_ann_ivf_kmeans" -> ((s, d) => {
      val e = embeddings(s, d)
      Ann.ivfTopKKmeans(e, e.filter(col("vec_id") < 5), "vec_id", "embedding",
          k = 5, nLists = 8, nProbe = 2, iters = 2)
        .select(col("query_id"), col("neighbor_id"), col("cos"),
          col("rank").cast("long").as("rnk"))
        .orderBy("query_id", "rnk")
    }),

    "q74_embedding_centroids" -> ((s, d) => {
      // grouped mean pooling: per-bucket embedding centroid + its norm.
      // The centroid is exploded to (pos, m) rows — the driver's
      // comparator can't hash raw array cells, and exploded doubles
      // compare exactly (no float-to-string formatting dependence).
      val e = embeddings(s, d)
        .withColumn("bucket", pmod(col("vec_id"), lit(8L)))
      Ann.meanPool(e, "bucket", "embedding")
        .select(col("bucket"),
          round(VectorFunctions.norm(col("centroid")), 4).as("c_norm"),
          posexplode(col("centroid")).as(Seq("pos0", "m")))
        .select(col("bucket"), col("c_norm"),
          (col("pos0") + 1).cast("long").as("pos"), col("m"))
        .orderBy("bucket", "pos")
    }),

    "q113_ann_filtered" -> ((s, d) => {
      // Filtered vector search: top-5 cosine neighbors RESTRICTED to the
      // query's own label (same-tenant/same-language retrieval). The
      // label equality lives in the broadcast-join condition, so
      // mismatched corpus rows drop before any dot product
      // (Ann.bruteForceTopKFiltered).
      val e = embeddings(s, d)
      Ann.bruteForceTopKFiltered(e, e.filter(col("vec_id") < 5),
          "vec_id", "embedding", "label", k = 5)
        .select(col("query_id"), col("neighbor_id"), col("cos"),
          col("rank").cast("long").as("rnk"))
        .orderBy("query_id", "rnk")
    }),
    "q119_semdedup" -> ((s, d) =>
      // SemDeDup (Abbas et al. arXiv:2303.09540): k-means-cluster the
      // embedding space, then keep one representative per within-cluster
      // cosine-duplicate set (lowest id). Reuses the q54 deterministic
      // k-means build; the pair join is one cid-keyed shuffle
      // (Ann.semDedup scaladoc for the 100 TB shape). nLists scales
      // with the corpus (semDedupNLists: one count job) so the
      // within-cluster O(m²) pair join stays linear in n — the oracle's
      // LIMIT computes the identical formula.
      Ann.semDedup(embeddings(s, d), "vec_id", "embedding",
          nLists = semDedupNLists(embeddings(s, d).count()), eps = 0.35)
        .orderBy("vec_id")),

    "q129_ann_recall" -> ((s, d) => {
      // index-quality eval: recall@5 of the q36 LSH index against the
      // q35 brute-force ground truth, per query — the measurement that
      // decides whether an approximate index may replace exact search
      // (Ann.recallAtK scaladoc).
      val e = embeddings(s, d)
      val q = e.filter(col("vec_id") < 5)
      Ann.recallAtK(
          Ann.bruteForceTopK(e, q, "vec_id", "embedding", k = 5),
          Ann.lshTopK(e, q, "vec_id", "embedding", k = 5, nBits = 4))
        .orderBy("query_id")
    }),

    "q140_int8_ann" -> ((s, d) => {
      // Scalar int8 quantization + integer dot-product top-k: exact
      // Long scores, so the ranking needs NO rounding epsilon — and the
      // quantized corpus is 4x smaller in memory (Ann.int8QuantTopK
      // scaladoc). Recall vs float brute force asserted in DedupAnnSpec.
      val e = embeddings(s, d)
      Ann.int8QuantTopK(e, e.filter(col("vec_id") < 5), "vec_id", "embedding", k = 5)
        .select(col("query_id"), col("neighbor_id"), col("qdot"),
          col("rank").cast("long").as("rnk"))
        .orderBy("query_id", "rnk")
    }),

    "q147_centroid_outliers" -> ((s, d) =>
      // Embedding-space outlier screen: lowest-50 cosine-to-centroid;
      // centroid = one bounded agg shipped as a literal, scoring
      // map-only (Ann.centroidFarthest scaladoc).
      Ann.centroidFarthest(embeddings(s, d), "vec_id", "embedding", k = 50)),

    "q153_prefix_rerank_ann" -> ((s, d) => {
      // Matryoshka-style two-stage retrieval: 16-dim prefix dot for
      // candidates, full 64-dim cosine rerank — the full vector only
      // touches |queries|*candidateK pairs (Ann.prefixRerankTopK
      // scaladoc; recall vs brute force asserted in SelectionLmSpec).
      val e = embeddings(s, d)
      Ann.prefixRerankTopK(e, e.filter(col("vec_id") < 5), "vec_id",
          "embedding", k = 5, prefixDim = 16, candidateK = 50)
        .select(col("query_id"), col("neighbor_id"), col("cos"),
          col("rank").cast("long").as("rnk"))
        .orderBy("query_id", "rnk")
    }),

    "q163_kcenter_coreset" -> ((s, d) =>
      // Diversity-maximizing coreset: greedy k-center (farthest-first)
      // over the embeddings — k exemplars covering the space, one
      // bounded-agg corpus scan per round (Ann.kCenterGreedy scaladoc);
      // the oracle replays all rounds in unrolled CTEs.
      Ann.kCenterGreedy(embeddings(s, d), "vec_id", "embedding",
          k = KCenterK)
        .orderBy("rank")),

    "q167_mmr_rerank" -> ((s, d) =>
      // MMR diverse re-ranking of the query-0 top-24 candidates
      // (k = 8, λ = 0.7): the post-retrieval step that stops k
      // near-duplicates of the best hit from filling a RAG context
      // window — exact integer trajectory, candidates bounded at
      // candC×dim driver doubles (Ann.mmrRerank scaladoc).
      Ann.mmrRerank(embeddings(s, d), "vec_id", "embedding",
          queryId = 0L, candC = MmrCandC, k = MmrK)
        .orderBy("rank")),

    "q171_rrf_fusion" -> ((s, d) =>
      // Hybrid retrieval: exact-cosine semantic list + distinct-token
      // Jaccard lexical list over the SAME id domain (doc_id == vec_id),
      // fused by reciprocal rank in integer ppm. Both candidate
      // generators broadcast the query side; fusion touches only
      // |Q|*2*listK rank rows (Indexing.rrfHybridTopK scaladoc).
      Indexing.rrfHybridTopK(
          documents(s, d),
          embeddings(s, d).withColumnRenamed("vec_id", "doc_id"),
          "doc_id", "text", "embedding",
          queryMax = RrfQueryMax, listK = RrfListK, rrfK = RrfDamp,
          k = RrfTopK)
        .orderBy("query_id", "rnk")),

    "q187_dbscan_rfm" -> ((s, d) => {
      // Density clustering (grid-partitioned DBSCAN) over the customer
      // RFM plane: eps-grid candidate join, exact integer L2 cut,
      // core/border/noise with deterministic min-label borders
      // (Ann.dbscanGrid scaladoc). Oracle is the brute-force eps-join
      // + recursive-closure labeling.
      val rfm = orders(s, d).groupBy(col("o_custkey"))
        .agg(count(lit(1)).as("n_ord"),
          sum(cents(col("o_totalprice"))).as("spend_c"))
        .select(col("o_custkey").as("id"),
          (col("n_ord") * 25).cast("long").as("x"),
          expr("spend_c div 1000000").as("y"))
      Ann.dbscanGrid(rfm, "id", "x", "y",
          eps = DbscanEps, minPts = DbscanMinPts)
        .select(col("id").as("cust_id"), col("role"), col("label"))
        .orderBy("cust_id")
    }),

    "q192_pq_ann" -> ((s, d) => {
      // Product-quantization ANN: 8 subspace codebooks (q54's Lloyd
      // semantics per subspace), corpus stored as 8 codes/vector,
      // queries scored by asymmetric-distance lookup-table sums in
      // fixed subspace order (Ann.pqTopK scaladoc). The oracle replays
      // all 8 k-means builds + the LUT chain in generated SQL.
      val e = embeddings(s, d)
      Ann.pqTopK(e, e.filter(col("vec_id") < PqQueryMax), "vec_id",
          "embedding", k = PqK, m = PqM, codesPerSub = PqCodes, iters = 2)
        .select(col("query_id"), col("neighbor_id"), col("adist"),
          col("rank").as("rnk"))
        .orderBy("query_id", "rnk")
    }),

    "q196_gram_matrix" -> ((s, d) =>
      // Exact int8 Gram matrix X'X over the embedding corpus — the
      // covariance/PCA sufficient statistic: one quantized corpus
      // pass, dim² Long state per partition, |partitions|·dim² cells
      // shuffled (Ann.int8GramMatrix scaladoc).
      Ann.int8GramMatrix(embeddings(s, d), "embedding")
        .select(col("i"), col("j"), col("s").cast("long").as("s"))
        .orderBy("i", "j")),

    "q207_ann_ivf_ingest" -> ((s, d) => {
      // q54's IVF-kmeans ANN with the standing index PERSISTED (the
      // q203/q206 fixture pattern applied to the ANN family): the
      // centroid table plus the cid-PARTITIONED inverted lists are the
      // index a vector store maintains across ingests, so the measured
      // time is the batch's own probe argmins + the probed lists' scan
      // — the k-means build and the corpus-wide list filing happen
      // once, at index build. Same result as q54 (ivfTopKWith IS
      // ivfTopKProbe ∘ ivfListAssignments), same oracle.
      val e = embeddings(s, d)
      val (cents, lists) = ivfIndexFixture(s, d, e)
      Ann.ivfTopKProbe(e.filter(col("vec_id") < 5), cents, lists,
          "vec_id", "embedding", k = 5, nProbe = 2)
        .select(col("query_id"), col("neighbor_id"), col("cos"),
          col("rank").cast("long").as("rnk"))
        .orderBy("query_id", "rnk")
    }),

    "q209_ann_lsh_ingest" -> ((s, d) => {
      // q53's multi-probe LSH ANN with the standing index PERSISTED
      // (the q207 pattern applied to the hyperplane-LSH path): the
      // corpus's bucket assignments are written once per SF PARTITIONED
      // BY bucket, so a query batch's equi-join reads only its probed
      // buckets' files via dynamic partition pruning. Same result as
      // q53 (lshTopK IS lshTopKProbe ∘ lshBucketAssignments), same
      // oracle.
      val e = embeddings(s, d)
      Ann.lshTopKProbe(e.filter(col("vec_id") < 5),
          lshIndexFixture(s, d, e), "vec_id", "embedding",
          k = 5, nBits = 4, multiProbe = 2)
        .select(col("query_id"), col("neighbor_id"), col("cos"),
          col("rank").cast("long").as("rnk"))
        .orderBy("query_id", "rnk")
    }),

    "q222_ann_ivf_upsert" -> ((s, d) => {
      // IVF list UPSERT against FROZEN corpus-trained centroids (the
      // ANN-side q219: real IVF systems freeze the codebook between
      // retrains and fold new vectors into their argmin lists):
      // assignment is a pure per-vector function of the centroids, so
      // merged-touched-lists == recompute-over-union is definitional —
      // the oracle proves the ENGINE's assignments (round-6dp argmin,
      // q54 semantics) agree on every touched list. Only batch vectors
      // are assigned here; corpus lists come from the persisted
      // cid-partitioned fixture.
      val e = embeddings(s, d)
      val (cents, lists) =
        ivfIndexFixture(s, d, e.filter(isCorpus("vec_id")), "ivfc")
      val batch = e.filter(isBatch("vec_id"))
      val bAssign = Ann.ivfListAssignments(batch, "vec_id", "embedding", cents)
        .select(col("cid").cast("long").as("cid"),
          col("neighbor_id").cast("long").as("vec_id"))
      val touched = bAssign.select("cid").distinct()
      lists.select(col("cid"), col("neighbor_id").cast("long").as("vec_id"))
        .join(broadcast(touched), Seq("cid"), "left_semi")
        .unionByName(bAssign)
        .groupBy("cid")
        .agg(count(lit(1)).as("n"),
          array_join(transform(sort_array(collect_list(col("vec_id"))),
            v => v.cast("string")), ",").as("ids"))
        .orderBy("cid")
    }),

    "q229_embedding_drift" -> ((s, d) => {
      // Per-label embedding drift vs the global centroid — the
      // mixture-health monitor for vector corpora (a label whose
      // centroid swings away from global signals a bad encoder batch
      // or distribution shift; the q143 idea in embedding space).
      // Components quantize to integer milli-units (floor(x*1000) on
      // the exact double — q140's canonicalization), so per-(label,
      // pos) sums are EXACT Longs from one map-side-combined agg over
      // ONE corpus scan; centroids are truncating-div integer means,
      // global derives from the label sums (no second scan), and the
      // final cosine^2 ppm is computed driver-side in BigInt over the
      // <= |labels|*dim collected cells (the q141 bounded-collect
      // class). Sign rides the dot: cos2_ppm = sign(dot)*dot^2*1e6
      // div (|c_l|^2*|c_g|^2) — exact integers, no sqrt.
      val sums = embeddings(s, d)
        .select(col("label").cast("long").as("label"),
          posexplode(col("embedding")).as(Seq("pos", "x")))
        .withColumn("m", floor(col("x").cast("double") * 1000).cast("long"))
        .groupBy("label", "pos")
        .agg(sum("m").as("s"), count(lit(1)).as("n"))
        .collect()
      val labels = sums.map(_.getAs[Long]("label")).distinct.sorted
      val dim = sums.map(_.getAs[Int]("pos")).max + 1
      val sByL = labels.map { l =>
        val rs = sums.filter(_.getAs[Long]("label") == l)
        val arr = new Array[Long](dim)
        rs.foreach(r => arr(r.getAs[Int]("pos")) = r.getAs[Long]("s"))
        l -> (arr, rs.head.getAs[Long]("n"))
      }.toMap
      val gSum = new Array[Long](dim)
      var gN = 0L
      sByL.values.foreach { case (arr, n) =>
        (0 until dim).foreach(i => gSum(i) += arr(i)); gN += n }
      val cg = gSum.map(_ / gN)
      val gg = cg.map(c => BigInt(c) * c).sum
      val out = labels.map { l =>
        val (arr, n) = sByL(l)
        val cl = arr.map(_ / n)
        val dot = (0 until dim).map(i => BigInt(cl(i)) * cg(i)).sum
        val ss = cl.map(c => BigInt(c) * c).sum
        val cos2 = if (ss == 0 || gg == 0) BigInt(0)
          else (dot * dot * 1000000) / (ss * gg)
        (l, n, dot.toLong, (if (dot < 0) -cos2 else cos2).toLong)
      }
      import s.implicits._
      out.toSeq.toDF("label", "n_vecs", "dot", "cos2_ppm")
        .orderBy("label")
    }),

    "q230_ann_ivfpq" -> ((s, d) => {
      // IVF-PQ probe against the PERSISTED compressed index (FAISS
      // IVFPQ / Jégou IVFADC, no residual encoding): coarse probe
      // selects 2 of 8 inverted lists per query, the cid-partitioned
      // coded lists are read ONLY for those lists (dynamic partition
      // pruning) and hold 8 codes per vector instead of 64 floats —
      // the q207 pruned-scan and q192 compressed-scoring stories
      // COMPOSED, which is the default production ANN shape at 100 TB
      // (Ann.ivfPqTopKProbe scaladoc). Oracle replays the coarse
      // k-means chain, the 8 subspace k-means chains, and the
      // fixed-order ADC sum.
      val e = embeddings(s, d)
      val (cents, books, codedLists) = ivfPqIndexFixture(s, d, e)
      Ann.ivfPqTopKProbe(e.filter(col("vec_id") < PqQueryMax), cents,
          codedLists, books, "vec_id", "embedding",
          k = PqK, nProbe = 2, m = PqM)
        .withColumnRenamed("rank", "rnk")
        .orderBy("query_id", "rnk")
    }),

    "q277_quantization_recall" -> ((s, d) => {
      // Quantization-quality audit: does int8 scalar quantization
      // (q140) preserve the float-cosine neighbor ranking (q35)?
      // Per query, |float top-10 ∩ int8 top-10| and overlap in exact
      // ppm — the recall@k acceptance test a team runs before shipping
      // the 4× smaller quantized index. Both rankings are the already
      // oracle-validated operators; the audit adds one left-semi join
      // on (query, neighbor) and a |queries|-row agg.
      val e = embeddings(s, d)
      val qs = e.filter(col("vec_id") < 5)
      val f = Ann.bruteForceTopK(e, qs, "vec_id", "embedding", k = 10)
        .select(col("query_id"), col("neighbor_id"))
      val z = Ann.int8QuantTopK(e, qs, "vec_id", "embedding", k = 10)
        .select(col("query_id"), col("neighbor_id"))
      val hit = f.join(z, Seq("query_id", "neighbor_id"), "left_semi")
        .groupBy("query_id").agg(count(lit(1)).as("n_overlap"))
      f.groupBy("query_id").agg(count(lit(1)).as("k_eff"))
        .join(hit, Seq("query_id"), "left")
        .select(col("query_id"), col("k_eff").cast("long").as("k_eff"),
          coalesce(col("n_overlap"), lit(0L)).cast("long").as("n_overlap"),
          expr("coalesce(n_overlap, 0) * 1000000 div k_eff")
            .as("overlap_ppm"))
        .orderBy("query_id")
    }),

    "q272_mutual_nn_align" -> ((s, d) => {
      // Bitext-mining shape (Artetxe & Schwenk 2019, mutual nearest
      // neighbors): align a FIXED md5-bottom-N batch of the even-label
      // side against the odd-label corpus — forward top-1 over the
      // corpus, then the reverse check of each hit against the same
      // bounded batch; only pairs that pick each other survive (the
      // asymmetric-hub filter that raw top-1 lacks). Scale: batch is
      // bounded by construction (q240's sampling doctrine), so forward
      // = ONE broadcast-batch corpus scan with no corpus shuffle, and
      // reverse touches ≤ |batch| corpus rows via a broadcast semi
      // filter — corpus-size-independent state end to end; ties break
      // cos DESC then id ASC via the struct-max idiom.
      val e = embeddings(s, d)
      val batch = e.filter(pmod(col("label").cast("long"), lit(2L)) === 0L)
        .withColumn("__k", tokenHash64(concat(lit("mnn_"),
          col("vec_id").cast("string"))))
        .orderBy(col("__k"), col("vec_id")).limit(MutualNnBatchN)
      val corpus = e.filter(pmod(col("label").cast("long"), lit(2L)) === 1L)
      Ann.mutualTop1(batch, corpus, "vec_id", "embedding")
        .orderBy("a_id")
    }),

    "q284_embedding_margin" -> ((s, d) =>
      // Contrastive-margin audit: same-label vs cross-label histogram
      // of EXACT int8 dot products over the md5-bottom-256 panel — the
      // one-glance "do my labels separate in this space" check (a
      // collapsed embedding shows both histograms on top of each
      // other). Panel cost is 256²/2 pairs FOREVER — corpus growth
      // changes which vectors land in the panel, never the work; dots
      // are exact Longs and buckets are shifted-nonnegative so floor
      // and trunc division agree (Ann.int8PairMarginHist scaladoc).
      // dim=64, |q|≤127 ⇒ |qdot| ≤ 64·127² ≈ 1.03e6: shift 2²¹ covers,
      // width 2¹⁶ gives ~32 live buckets.
      Ann.int8PairMarginHist(embeddings(s, d), "vec_id", "embedding",
        "label", sampleN = 256, bucketWidth = 65536L, shift = 2097152L)),
  )

  val oracleSql: Map[String, String] = Map(

    "q35_ann_bruteforce" ->
      s"""WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
         |q AS (SELECT vec_id AS query_id, v AS qv FROM e WHERE vec_id < 5),
         |s AS (SELECT query_id, e.vec_id AS neighbor_id,
         |  round(${duckCos("qv", "e.v")}, 4) AS cos
         | FROM e CROSS JOIN q WHERE e.vec_id <> query_id),
         |r AS (SELECT query_id, neighbor_id, cos,
         |  CAST(row_number() OVER (PARTITION BY query_id ORDER BY cos DESC, neighbor_id) AS BIGINT) AS rnk
         | FROM s)
         |SELECT query_id, neighbor_id, cos, rnk FROM r WHERE rnk <= 5
         |ORDER BY query_id, rnk""".stripMargin,

    "q36_ann_lsh" -> {
      val planes =
        s"""SELECT p, list_transform(generate_series(0,63), j -> ${duckPlane("p", "j")}) AS c
           |FROM (SELECT unnest(generate_series(0,3)) AS p)""".stripMargin
      s"""WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
         |pl AS ($planes),
         |proj AS (SELECT vec_id, p, list_dot_product(v, c) AS proj FROM e CROSS JOIN pl),
         |bkt AS (SELECT vec_id,
         |  CAST(SUM(CASE WHEN proj >= 0 THEN (CAST(1 AS BIGINT) << p) ELSE 0 END) AS BIGINT) AS bucket
         | FROM proj GROUP BY 1),
         |ev AS (SELECT e.vec_id, e.v, bkt.bucket FROM e JOIN bkt ON e.vec_id = bkt.vec_id),
         |s AS (SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
         |  round(${duckCos("q.v", "c.v")}, 4) AS cos
         | FROM ev c JOIN ev q ON c.bucket = q.bucket
         | WHERE q.vec_id < 5 AND c.vec_id <> q.vec_id),
         |r AS (SELECT query_id, neighbor_id, cos,
         |  CAST(row_number() OVER (PARTITION BY query_id ORDER BY cos DESC, neighbor_id) AS BIGINT) AS rnk
         | FROM s)
         |SELECT query_id, neighbor_id, cos, rnk FROM r WHERE rnk <= 5
         |ORDER BY query_id, rnk""".stripMargin
    },

    "q74_embedding_centroids" ->
      """WITH e AS (SELECT vec_id % 8 AS bucket, embedding::DOUBLE[] AS v FROM embeddings),
        |p AS (SELECT bucket, pos, round(avg(x), 6) AS m FROM (
        |  SELECT bucket, unnest(v) AS x, generate_subscripts(v, 1) AS pos FROM e) u
        | GROUP BY 1, 2),
        |c AS (SELECT bucket, round(sqrt(sum(m*m)), 4) AS c_norm FROM p GROUP BY 1)
        |SELECT p.bucket, c.c_norm, CAST(p.pos AS BIGINT) AS pos, p.m
        |FROM p JOIN c ON p.bucket = c.bucket ORDER BY 1, 3""".stripMargin,

    "q46_ann_ivf" -> {
      val dist = "round(vv - 2.0*list_dot_product(v, cv) + cc, 6)"
      s"""WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v,
         |  list_dot_product(embedding::DOUBLE[], embedding::DOUBLE[]) AS vv FROM embeddings),
         |c AS (SELECT vec_id AS cid, v AS cv, vv AS cc FROM e ORDER BY vec_id LIMIT 8),
         |ad AS (SELECT e.vec_id AS neighbor_id, e.v, c.cid, $dist AS d
         | FROM e CROSS JOIN c),
         |asgn AS (SELECT neighbor_id, v, cid FROM (
         |  SELECT *, row_number() OVER (PARTITION BY neighbor_id ORDER BY d, cid) AS rn FROM ad)
         | WHERE rn = 1),
         |pd AS (SELECT e.vec_id AS query_id, e.v AS qv, c.cid, $dist AS d
         | FROM e CROSS JOIN c WHERE e.vec_id < 5),
         |probes AS (SELECT query_id, qv, cid FROM (
         |  SELECT *, row_number() OVER (PARTITION BY query_id ORDER BY d, cid) AS rn FROM pd)
         | WHERE rn <= 2),
         |s AS (SELECT query_id, neighbor_id, round(${duckCos("qv", "asgn.v")}, 4) AS cos
         | FROM probes JOIN asgn USING (cid) WHERE query_id <> neighbor_id),
         |r AS (SELECT query_id, neighbor_id, cos,
         |  CAST(row_number() OVER (PARTITION BY query_id ORDER BY cos DESC, neighbor_id) AS BIGINT) AS rnk
         | FROM s)
         |SELECT query_id, neighbor_id, cos, rnk FROM r WHERE rnk <= 5
         |ORDER BY query_id, rnk""".stripMargin
    },

    // q36's plan plus query-side probe explode: each query also probes
    // its bucket with hyperplane bits 0 and 1 flipped (multiProbe=2).
    "q53_ann_lsh_multiprobe" -> lshMultiprobeOracle,

    // persisted-bucket-index probe finds the SAME neighbors (the split
    // is exact: lshTopK == lshTopKProbe over lshBucketAssignments, and
    // the parquet round-trip of float vectors is lossless) — same
    // oracle
    "q209_ann_lsh_ingest" -> lshMultiprobeOracle,

    // q46's probe path over Ann.kmeansCentroids(nLists=8, iters=2):
    // md5-keyed seeds, two Lloyd iterations with round(·,6) means and
    // round(·,6) distances before every argmin — bit-reproducible.
    "q54_ann_ivf_kmeans" -> ivfKmeansOracle,

    // persisted-IVF-index probe finds the SAME neighbors (the split is
    // exact: ivfTopKWith == ivfTopKProbe over ivfListAssignments, and
    // the parquet round-trip of rounded-6dp centroid doubles / float
    // vectors is lossless) — same oracle
    "q207_ann_ivf_ingest" -> ivfKmeansOracle,

    // corpus-trained k-means + union assignment restricted to the
    // batch's lists: upsert == recompute on every touched list
    "q222_ann_ivf_upsert" -> ivfUpsertOracle,

    // q54's k-means CTEs (seed + 2 Lloyd rounds + full assignment),
    // then SemDeDup's verdict: drop any vector with a lower-id
    // cluster-mate at cosine >= 0.35 (rounded to 4 decimals before the
    // threshold, exactly like the Spark side).
    "q119_semdedup" -> {
      val dist = "round(vv - 2.0*list_dot_product(v, cv) + list_dot_product(cv, cv), 6)"
      def iter(prev: String, a: String, c: String) =
        s"""$a AS (SELECT sid, v, cid FROM (
           |  SELECT e.vec_id AS sid, e.v, $prev.cid,
           |   row_number() OVER (PARTITION BY e.vec_id
           |     ORDER BY round(e.vv - 2.0*list_dot_product(e.v, $prev.cv)
           |       + list_dot_product($prev.cv, $prev.cv), 6), $prev.cid) AS rn
           |  FROM e CROSS JOIN $prev) t WHERE rn = 1),
           |$c AS (SELECT cid, list(m ORDER BY pos) AS cv FROM (
           |  SELECT cid, pos, round(avg(x), 6) AS m FROM (
           |   SELECT cid, unnest(v) AS x, generate_subscripts(v, 1) AS pos FROM $a) u
           |  GROUP BY 1, 2) g GROUP BY 1)""".stripMargin
      s"""WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v,
         |  list_dot_product(embedding::DOUBLE[], embedding::DOUBLE[]) AS vv FROM embeddings),
         |seed AS (SELECT CAST(row_number() OVER (ORDER BY h, sid) AS BIGINT) AS cid, v AS cv
         | FROM (SELECT vec_id AS sid, v,
         |   ${duckHash("concat('ivf_', CAST(vec_id AS VARCHAR))", 15)} AS h
         |  FROM e ORDER BY h, sid
         |  LIMIT greatest($SemDedupMinLists,
         |    (SELECT count(*)//$SemDedupClusterSize FROM e))) t),
         |${iter("seed", "a1", "c1")},
         |${iter("c1", "a2", "c2")},
         |ad AS (SELECT e.vec_id AS vid, e.v, c2.cid, $dist AS d
         | FROM e CROSS JOIN c2),
         |asgn AS (SELECT vid, v, cid FROM (
         |  SELECT *, row_number() OVER (PARTITION BY vid ORDER BY d, cid) AS rn FROM ad)
         | WHERE rn = 1),
         |dropped AS (SELECT DISTINCT a.vid FROM asgn a JOIN asgn b
         |  ON a.cid = b.cid AND a.vid > b.vid
         | WHERE round(${duckCos("a.v", "b.v")}, 4) >= 0.35)
         |SELECT asgn.vid AS vec_id, asgn.cid,
         | dropped.vid IS NULL AS keep
         |FROM asgn LEFT JOIN dropped ON asgn.vid = dropped.vid
         |ORDER BY vec_id""".stripMargin
    },

    // q35's brute-force CTEs and q36's LSH CTEs, composed: recall@5 =
    // |lsh top-5 ∩ brute top-5| / 5 per query
    "q129_ann_recall" -> {
      val planes =
        s"""SELECT p, list_transform(generate_series(0,63), j -> ${duckPlane("p", "j")}) AS c
           |FROM (SELECT unnest(generate_series(0,3)) AS p)""".stripMargin
      s"""WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
         |bq AS (SELECT vec_id AS query_id, v AS qv FROM e WHERE vec_id < 5),
         |bs AS (SELECT query_id, e.vec_id AS neighbor_id,
         |  round(${duckCos("qv", "e.v")}, 4) AS cos
         | FROM e CROSS JOIN bq WHERE e.vec_id <> query_id),
         |br AS (SELECT query_id, neighbor_id,
         |  row_number() OVER (PARTITION BY query_id ORDER BY cos DESC, neighbor_id) AS rnk
         | FROM bs),
         |btop AS (SELECT query_id, neighbor_id FROM br WHERE rnk <= 5),
         |pl AS ($planes),
         |proj AS (SELECT vec_id, p, list_dot_product(v, c) AS proj FROM e CROSS JOIN pl),
         |bkt AS (SELECT vec_id,
         |  CAST(SUM(CASE WHEN proj >= 0 THEN (CAST(1 AS BIGINT) << p) ELSE 0 END) AS BIGINT) AS bucket
         | FROM proj GROUP BY 1),
         |ev AS (SELECT e.vec_id, e.v, bkt.bucket FROM e JOIN bkt ON e.vec_id = bkt.vec_id),
         |ls AS (SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
         |  round(${duckCos("q.v", "c.v")}, 4) AS cos
         | FROM ev c JOIN ev q ON c.bucket = q.bucket
         | WHERE q.vec_id < 5 AND c.vec_id <> q.vec_id),
         |lr AS (SELECT query_id, neighbor_id,
         |  row_number() OVER (PARTITION BY query_id ORDER BY cos DESC, neighbor_id) AS rnk
         | FROM ls),
         |ltop AS (SELECT query_id, neighbor_id FROM lr WHERE rnk <= 5),
         |tot AS (SELECT query_id, CAST(count(*) AS BIGINT) AS n_truth FROM btop GROUP BY 1),
         |hits AS (SELECT b.query_id, CAST(count(*) AS BIGINT) AS n_hit
         | FROM btop b JOIN ltop l
         |   ON b.query_id = l.query_id AND b.neighbor_id = l.neighbor_id
         | GROUP BY 1)
         |SELECT tot.query_id AS query_id, tot.n_truth,
         |  CAST(coalesce(hits.n_hit, 0) AS BIGINT) AS n_hit,
         |  round(coalesce(hits.n_hit, 0) * 1.0 / tot.n_truth, 4) AS recall
         |FROM tot LEFT JOIN hits ON tot.query_id = hits.query_id
         |ORDER BY tot.query_id""".stripMargin
    },

    // q35 with the label-equality constraint in the join predicate.
    "q113_ann_filtered" ->
      s"""WITH e AS (SELECT vec_id, label, embedding::DOUBLE[] AS v FROM embeddings),
         |q AS (SELECT vec_id AS query_id, label AS ql, v AS qv FROM e WHERE vec_id < 5),
         |s AS (SELECT query_id, e.vec_id AS neighbor_id,
         |  round(${duckCos("qv", "e.v")}, 4) AS cos
         | FROM e JOIN q ON e.label = q.ql AND e.vec_id <> q.query_id),
         |r AS (SELECT query_id, neighbor_id, cos,
         |  CAST(row_number() OVER (PARTITION BY query_id ORDER BY cos DESC, neighbor_id) AS BIGINT) AS rnk
         | FROM s)
         |SELECT query_id, neighbor_id, cos, rnk FROM r WHERE rnk <= 5
         |ORDER BY query_id, rnk""".stripMargin,

    // the same global max-abs scale and floor(v*127/m) IEEE expression,
    // and an exact integer dot product — no rounding epsilon anywhere
    "q140_int8_ann" ->
      """WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
        |st AS (SELECT MAX(abs(x)) AS m FROM (SELECT unnest(v) AS x FROM e)),
        |qe AS (SELECT vec_id, list_transform(v, x ->
        |  CASE WHEN st.m <= 0 THEN 0
        |    ELSE CAST(floor(x * 127.0 / st.m) AS BIGINT) END) AS qv
        | FROM e, st),
        |q AS (SELECT vec_id AS query_id, qv AS qq FROM qe WHERE vec_id < 5),
        |s AS (SELECT query_id, c.vec_id AS neighbor_id,
        |  CAST(list_dot_product(qq::DOUBLE[], c.qv::DOUBLE[]) AS BIGINT) AS qdot
        | FROM qe c CROSS JOIN q WHERE c.vec_id <> query_id),
        |r AS (SELECT query_id, neighbor_id, qdot,
        |  CAST(row_number() OVER (PARTITION BY query_id
        |    ORDER BY qdot DESC, neighbor_id) AS BIGINT) AS rnk FROM s)
        |SELECT query_id, neighbor_id, qdot, rnk FROM r WHERE rnk <= 5
        |ORDER BY query_id, rnk""".stripMargin,

    // round(avg, 6) centroid (the q74 meanPool convention) + the q35
    // cosine form; the lowest-50 cut is (cos, id)-total-ordered
    "q147_centroid_outliers" ->
      s"""WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
         |st AS (SELECT i, round(avg(x), 6) AS m FROM
         |  (SELECT unnest(v) AS x, generate_subscripts(v, 1) AS i FROM e) GROUP BY i),
         |c AS (SELECT list(m ORDER BY i) AS cv FROM st),
         |s AS (SELECT vec_id, round(${duckCos("v", "cv")}, 4) AS cos_centroid
         | FROM e, c)
         |SELECT vec_id, cos_centroid FROM s
         |ORDER BY cos_centroid, vec_id LIMIT 50""".stripMargin,

    // the same two stages: rounded prefix-dot candidate cut, exact
    // full-width cosine rerank
    "q153_prefix_rerank_ann" ->
      s"""WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v,
         |  (embedding::DOUBLE[])[1:16] AS p FROM embeddings),
         |q AS (SELECT vec_id AS query_id, v AS qv, p AS qp FROM e WHERE vec_id < 5),
         |s1 AS (SELECT query_id, e.vec_id AS neighbor_id, qv, e.v AS cv,
         |  round(list_dot_product(qp, e.p), 4) AS pdot
         | FROM e CROSS JOIN q WHERE e.vec_id <> query_id),
         |cand AS (SELECT * FROM (SELECT s1.*,
         |  row_number() OVER (PARTITION BY query_id
         |    ORDER BY pdot DESC, neighbor_id) AS crank FROM s1)
         | WHERE crank <= 50),
         |s2 AS (SELECT query_id, neighbor_id,
         |  round(${duckCos("qv", "cv")}, 4) AS cos FROM cand),
         |r AS (SELECT query_id, neighbor_id, cos,
         |  CAST(row_number() OVER (PARTITION BY query_id
         |    ORDER BY cos DESC, neighbor_id) AS BIGINT) AS rnk FROM s2)
         |SELECT query_id, neighbor_id, cos, rnk FROM r WHERE rnk <= 5
         |ORDER BY query_id, rnk""".stripMargin,

    // farthest-first replay: round i carries dmin forward as
    // least(prev, dist-to-new-center) — min is associative, so it
    // equals the engine UDF's fresh min over all chosen centers
    "q163_kcenter_coreset" -> {
      def dist(src: String, ctr: String) =
        s"round($src.vv - 2.0*list_dot_product($src.v, $ctr.v) + $ctr.vv, 6)"
      val rounds = (2 to KCenterK).map { i =>
        val (prevD, prevK) = (s"d${i - 1}", s"k$i")
        val prevCol = if (i == 2) "dmin" else "dmin_c"
        val carry = s"least(d${i - 1}.$prevCol, ${dist(s"d${i - 1}", s"k$i")})"
        s"""k$i AS (SELECT vec_id, v, vv, dmin${if (i == 2) "" else "_c"} AS dsel
           | FROM d${i - 1} ORDER BY dmin${if (i == 2) "" else "_c"} DESC, vec_id LIMIT 1),
           |d$i AS (SELECT ${prevD}.vec_id, ${prevD}.v, ${prevD}.vv,
           |  $carry AS dmin_c FROM $prevD, $prevK)""".stripMargin
      }
      val sel = Seq("SELECT CAST(1 AS BIGINT) AS rank, vec_id AS id, 0.0 AS d2_sel FROM k1") ++
        (2 to KCenterK).map(i =>
          s"SELECT CAST($i AS BIGINT), vec_id, dsel FROM k$i")
      s"""WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v,
         |  list_dot_product(embedding::DOUBLE[], embedding::DOUBLE[]) AS vv
         | FROM embeddings WHERE embedding IS NOT NULL),
         |k1 AS (SELECT vec_id, v, vv FROM e
         | ORDER BY ${duckHash("concat('kc_', CAST(vec_id AS VARCHAR))", 15)}, vec_id LIMIT 1),
         |d1 AS (SELECT e.vec_id, e.v, e.vv, ${dist("e", "k1")} AS dmin FROM e, k1),
         |${rounds.mkString(",\n")}
         |${sel.mkString("\nUNION ALL\n")}
         |ORDER BY rank""".stripMargin
    },

    // unrolled greedy MMR: pick i's score subtracts the max rounded
    // sim against the accumulated sel_{i-1} set; integer 1e-4 units
    // end to end (CAST of the scaled double rounds to nearest, which
    // recovers the exact integer the engine's BigDecimal path yields)
    "q167_mmr_rerank" -> {
      def simM4(a: String, b: String) =
        s"CAST(round(${duckCos(a, b)}, 4) * 10000 AS BIGINT)"
      // every sel_i is referenced twice by round i+1 (max-sim subquery
      // + NOT IN); MATERIALIZED stops DuckDB's default CTE inlining
      // from exponentially re-expanding the chain across rounds
      val rounds = (2 to MmrK).map { i =>
        s"""r$i AS MATERIALIZED (SELECT c.id, c.v, c.rel_m4,
           |  7*c.rel_m4 - 3*(SELECT MAX(${simM4("c.v", "s.v")})
           |    FROM sel${i - 1} s) AS score_m4
           | FROM cand c WHERE c.id NOT IN (SELECT id FROM sel${i - 1})),
           |p$i AS MATERIALIZED (SELECT * FROM r$i ORDER BY score_m4 DESC, id LIMIT 1),
           |sel$i AS MATERIALIZED (SELECT id, v FROM sel${i - 1} UNION ALL SELECT id, v FROM p$i)"""
          .stripMargin
      }
      val sel = Seq(s"SELECT CAST(1 AS BIGINT) AS rank, id AS vec_id, rel_m4, score_m4 FROM p1") ++
        (2 to MmrK).map(i => s"SELECT CAST($i AS BIGINT), id, rel_m4, score_m4 FROM p$i")
      s"""WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings
         | WHERE embedding IS NOT NULL),
         |q AS (SELECT v FROM e WHERE vec_id = 0),
         |rel AS (SELECT e.vec_id AS id, e.v, ${simM4("e.v", "q.v")} AS rel_m4
         | FROM e, q WHERE e.vec_id <> 0),
         |cand AS MATERIALIZED (SELECT id, v, rel_m4 FROM rel ORDER BY rel_m4 DESC, id LIMIT $MmrCandC),
         |p1 AS MATERIALIZED (SELECT id, v, rel_m4, CAST(7*rel_m4 AS BIGINT) AS score_m4
         | FROM cand ORDER BY rel_m4 DESC, id LIMIT 1),
         |sel1 AS MATERIALIZED (SELECT id, v FROM p1),
         |${rounds.mkString(",\n")}
         |${sel.mkString("\nUNION ALL\n")}
         |ORDER BY rank""".stripMargin
    },

    // the same two ranked lists (cosine / distinct-token Jaccard) and
    // the same integer 1e6//(60+rank) fusion
    "q171_rrf_fusion" ->
      s"""WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
         |q AS (SELECT vec_id AS query_id, v AS qv FROM e WHERE vec_id < $RrfQueryMax),
         |sc AS (SELECT query_id, e.vec_id AS neighbor_id,
         |  round(${duckCos("qv", "e.v")}, 4) AS cos
         | FROM e CROSS JOIN q WHERE e.vec_id <> query_id),
         |sem AS (SELECT query_id, neighbor_id,
         |  row_number() OVER (PARTITION BY query_id ORDER BY cos DESC, neighbor_id) AS rank
         | FROM sc),
         |tok AS (SELECT DISTINCT doc_id AS id, unnest(t) AS w
         | FROM (SELECT doc_id, $TOKS AS t FROM documents)),
         |sz AS (SELECT id, CAST(COUNT(*) AS BIGINT) AS nt FROM tok GROUP BY 1),
         |qt AS (SELECT id AS query_id, w FROM tok WHERE id < $RrfQueryMax),
         |itr AS (SELECT qt.query_id, tok.id, CAST(COUNT(*) AS BIGINT) AS inter
         | FROM tok JOIN qt USING (w) WHERE tok.id <> qt.query_id GROUP BY 1, 2),
         |jac AS (SELECT itr.query_id, itr.id AS neighbor_id,
         |  (inter * 1000000) // (sz.nt + qs.nt - inter) AS jac_ppm
         | FROM itr JOIN sz ON itr.id = sz.id
         | JOIN sz qs ON itr.query_id = qs.id),
         |lex AS (SELECT query_id, neighbor_id,
         |  row_number() OVER (PARTITION BY query_id ORDER BY jac_ppm DESC, neighbor_id) AS rank
         | FROM jac),
         |u AS (SELECT query_id, neighbor_id, rank FROM sem WHERE rank <= $RrfListK
         | UNION ALL
         | SELECT query_id, neighbor_id, rank FROM lex WHERE rank <= $RrfListK),
         |f AS (SELECT query_id, neighbor_id, CAST(COUNT(*) AS BIGINT) AS n_lists,
         |  CAST(SUM(1000000 // ($RrfDamp + rank)) AS BIGINT) AS rrf_ppm
         | FROM u GROUP BY 1, 2),
         |r AS (SELECT query_id, neighbor_id, n_lists, rrf_ppm,
         |  CAST(row_number() OVER (PARTITION BY query_id
         |    ORDER BY rrf_ppm DESC, neighbor_id) AS BIGINT) AS rnk FROM f)
         |SELECT query_id, neighbor_id, n_lists, rrf_ppm, rnk FROM r
         |WHERE rnk <= $RrfTopK ORDER BY query_id, rnk""".stripMargin,

    // brute-force eps-join over the POSITION histogram (identically
    // placed points share a neighborhood, so multiplicity sums are the
    // exact DBSCAN counts — and the closure runs over positions, which
    // the value domain bounds) + exact recursive transitive closure
    // over core-core position edges (q84 pattern); border label = MIN
    // adjacent core label, same as the engine
    "q187_dbscan_rfm" ->
      s"""WITH RECURSIVE p AS (SELECT o_custkey AS id,
         |  CAST(count(*) * 25 AS BIGINT) AS x,
         |  CAST(SUM(CAST(round(o_totalprice*100,0) AS BIGINT)) // 1000000 AS BIGINT) AS y
         | FROM orders GROUP BY 1),
         |pos AS (SELECT x, y, COUNT(*) AS m, MIN(id) AS pid FROM p GROUP BY 1, 2),
         |nb AS (SELECT a.pid pa, b.pid pb, b.m mb FROM pos a JOIN pos b
         | ON (a.x-b.x)*(a.x-b.x)+(a.y-b.y)*(a.y-b.y) <= ${DbscanEps * DbscanEps}),
         |cnt AS (SELECT pa, SUM(mb) c FROM nb GROUP BY 1),
         |core AS (SELECT pa AS cid FROM cnt WHERE c >= $DbscanMinPts),
         |ce AS (SELECT nb.pa u, nb.pb v FROM nb
         |  JOIN core ca ON nb.pa = ca.cid JOIN core cb ON nb.pb = cb.cid
         |  WHERE nb.pa <> nb.pb),
         |reach AS (SELECT u AS node, u AS label FROM ce
         | UNION SELECT ce.u, r.label FROM ce JOIN reach r ON ce.v = r.node),
         |lab AS (SELECT node, MIN(label) AS lbl FROM reach GROUP BY 1),
         |corelab AS (SELECT core.cid, COALESCE(lab.lbl, core.cid) AS lbl
         | FROM core LEFT JOIN lab ON core.cid = lab.node),
         |borderlab AS (SELECT nb.pa AS pid, MIN(cl.lbl) AS lbl FROM nb
         |  JOIN corelab cl ON nb.pb = cl.cid
         |  WHERE nb.pa NOT IN (SELECT cid FROM core) GROUP BY 1),
         |verdict AS (SELECT cid AS pid, 'core' AS role, lbl FROM corelab
         | UNION ALL SELECT pid, 'border', lbl FROM borderlab)
         |SELECT p.id AS cust_id, COALESCE(v.role, 'noise') AS role,
         | CAST(COALESCE(v.lbl, -1) AS BIGINT) AS label
         |FROM p JOIN pos ON p.x = pos.x AND p.y = pos.y
         | LEFT JOIN verdict v ON pos.pid = v.pid
         |ORDER BY cust_id""".stripMargin,

    // the full PQ replay: one shared seed-id list (q54's md5 seeding),
    // per subspace 2 Lloyd rounds + encode + query LUT, then the
    // asymmetric distance as an EXPLICIT left-to-right addition chain
    // (a SUM aggregate would be order-free and could differ in the
    // last bit). MATERIALIZED: every subspace chain re-references its
    // predecessors through the joins.
    "q192_pq_ann" -> {
      val sub = 64 / PqM
      def dist(x: String, p: String) =
        s"""round(list_dot_product($x.v, $x.v) - 2.0*list_dot_product($x.v, $p.cv)
           | + list_dot_product($p.cv, $p.cv), 6)""".stripMargin
      def iter(ej: String, prev: String, a: String, c: String) =
        s"""$a AS MATERIALIZED (SELECT sid, v, cid FROM (
           |  SELECT x.vec_id AS sid, x.v, $prev.cid,
           |   row_number() OVER (PARTITION BY x.vec_id
           |     ORDER BY ${dist("x", prev)}, $prev.cid) AS rn
           |  FROM $ej x CROSS JOIN $prev) t WHERE rn = 1),
           |$c AS MATERIALIZED (SELECT cid, list(m ORDER BY pos) AS cv FROM (
           |  SELECT cid, pos, round(avg(xx), 6) AS m FROM (
           |   SELECT cid, unnest(v) AS xx, generate_subscripts(v, 1) AS pos FROM $a) u
           |  GROUP BY 1, 2) g GROUP BY 1)""".stripMargin
      val chains = (0 until PqM).map { j =>
        val (a, b) = (j * sub + 1, j * sub + sub)
        s"""e$j AS MATERIALIZED (SELECT vec_id, v[$a:$b] AS v FROM e),
           |seed$j AS MATERIALIZED (SELECT s.cid, x.v AS cv
           | FROM seedids s JOIN e$j x ON x.vec_id = s.sid),
           |${iter(s"e$j", s"seed$j", s"a1_$j", s"c1_$j")},
           |${iter(s"e$j", s"c1_$j", s"a2_$j", s"c2_$j")},
           |enc$j AS MATERIALIZED (SELECT sid AS vec_id, cid AS c FROM (
           |  SELECT x.vec_id AS sid, c2_$j.cid,
           |   row_number() OVER (PARTITION BY x.vec_id
           |     ORDER BY ${dist("x", s"c2_$j")}, c2_$j.cid) AS rn
           |  FROM e$j x CROSS JOIN c2_$j) t WHERE rn = 1),
           |lut$j AS MATERIALIZED (SELECT q.vec_id AS qid, c.cid, ${dist("q", "c")} AS d
           | FROM (SELECT vec_id, v FROM e$j WHERE vec_id < $PqQueryMax) q
           | CROSS JOIN c2_$j c)""".stripMargin
      }.mkString(",\n")
      val encJoins = (0 until PqM)
        .map(j => s"JOIN enc$j ON enc$j.vec_id = x.vec_id").mkString(" ")
      val lutJoins = (0 until PqM).map { j =>
        if (j == 0) s"JOIN lut0 l0 ON l0.cid = enc0.c"
        else s"JOIN lut$j l$j ON l$j.qid = l0.qid AND l$j.cid = enc$j.c"
      }.mkString(" ")
      val addChain = (0 until PqM).map(j => s"l$j.d").mkString(" + ")
      s"""WITH e AS MATERIALIZED (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
         |seedids AS MATERIALIZED (SELECT CAST(row_number() OVER (ORDER BY h, sid) AS BIGINT) AS cid, sid
         | FROM (SELECT vec_id AS sid,
         |   ${duckHash("concat('ivf_', CAST(vec_id AS VARCHAR))", 15)} AS h
         |  FROM e ORDER BY h, sid LIMIT $PqCodes) t),
         |$chains,
         |ad AS (SELECT l0.qid AS query_id, x.vec_id AS neighbor_id,
         |  round($addChain, 6) AS adist
         | FROM e x $encJoins $lutJoins
         | WHERE l0.qid <> x.vec_id),
         |r AS (SELECT query_id, neighbor_id, adist,
         |  CAST(row_number() OVER (PARTITION BY query_id
         |    ORDER BY adist, neighbor_id) AS BIGINT) AS rnk FROM ad)
         |SELECT query_id, neighbor_id, adist, rnk FROM r WHERE rnk <= $PqK
         |ORDER BY query_id, rnk""".stripMargin
    },

    // q140's symmetric quantization, then the per-vector position
    // self-join brute force (the engine never builds per-row outer
    // products — its plan folds into partition-local accumulators)
    "q196_gram_matrix" ->
      """WITH st AS (SELECT MAX(abs(x)) AS m FROM
        |  (SELECT unnest(embedding::DOUBLE[]) AS x FROM embeddings)),
        |q AS (SELECT vec_id, CAST(pos - 1 AS BIGINT) AS i,
        |  CASE WHEN st.m <= 0 THEN 0
        |       ELSE CAST(floor(x * 127.0 / st.m) AS BIGINT) END AS qv
        | FROM (SELECT vec_id, unnest(embedding::DOUBLE[]) AS x,
        |    generate_subscripts(embedding::DOUBLE[], 1) AS pos
        |   FROM embeddings), st)
        |SELECT a.i, b.i AS j, CAST(SUM(a.qv * b.qv) AS BIGINT) AS s
        |FROM q a JOIN q b ON a.vec_id = b.vec_id AND b.i >= a.i
        |GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin,

    // exact integer milli-quantized centroids (floor on the double —
    // q140's canonicalization); truncating // matches engine div
    "q229_embedding_drift" ->
      """WITH m AS (SELECT CAST(label AS BIGINT) AS label, pos,
        |  CAST(floor(x * 1000) AS BIGINT) AS m FROM (
        |   SELECT label, unnest(embedding::DOUBLE[]) AS x,
        |     generate_subscripts(embedding, 1) AS pos FROM embeddings) u),
        |ls AS (SELECT label, pos, SUM(m) AS s,
        |  CAST(COUNT(*) AS BIGINT) AS n FROM m GROUP BY 1, 2),
        |nl AS (SELECT label, MAX(n) AS n_vecs FROM ls GROUP BY 1),
        |gs AS (SELECT pos, SUM(s) AS gsum, SUM(n) AS gn FROM ls GROUP BY 1),
        |cl AS (SELECT label, pos, s // n AS c FROM ls),
        |cg AS (SELECT pos, gsum // gn AS c FROM gs),
        |dt AS (SELECT label, CAST(SUM(cl.c * cg.c) AS BIGINT) AS dot,
        |  CAST(SUM(cl.c * cl.c) AS HUGEINT) AS ss
        | FROM cl JOIN cg USING (pos) GROUP BY 1),
        |gg AS (SELECT CAST(SUM(c * c) AS HUGEINT) AS gg FROM cg)
        |SELECT label, n_vecs, dot,
        | CAST(CASE WHEN ss = 0 OR gg = 0 THEN 0
        |   WHEN dot >= 0
        |     THEN (CAST(dot AS HUGEINT) * dot * 1000000) // (ss * gg)
        |   ELSE -((CAST(dot AS HUGEINT) * dot * 1000000) // (ss * gg))
        |  END AS BIGINT) AS cos2_ppm
        |FROM dt CROSS JOIN gg JOIN nl USING (label)
        |ORDER BY label""".stripMargin,

    // q192's 8 subspace k-means chains + the q54/q207 coarse chain,
    // composed: candidates restricted to the probed lists, ADC as the
    // fixed-order addition chain
    "q230_ann_ivfpq" -> {
      val sub = 64 / PqM
      def dist(x: String, p: String) =
        s"""round(list_dot_product($x.v, $x.v) - 2.0*list_dot_product($x.v, $p.cv)
           | + list_dot_product($p.cv, $p.cv), 6)""".stripMargin
      def iter(ej: String, prev: String, a: String, c: String) =
        s"""$a AS MATERIALIZED (SELECT sid, v, cid FROM (
           |  SELECT x.vec_id AS sid, x.v, $prev.cid,
           |   row_number() OVER (PARTITION BY x.vec_id
           |     ORDER BY ${dist("x", prev)}, $prev.cid) AS rn
           |  FROM $ej x CROSS JOIN $prev) t WHERE rn = 1),
           |$c AS MATERIALIZED (SELECT cid, list(m ORDER BY pos) AS cv FROM (
           |  SELECT cid, pos, round(avg(xx), 6) AS m FROM (
           |   SELECT cid, unnest(v) AS xx, generate_subscripts(v, 1) AS pos FROM $a) u
           |  GROUP BY 1, 2) g GROUP BY 1)""".stripMargin
      val chains = (0 until PqM).map { j =>
        val (a, b) = (j * sub + 1, j * sub + sub)
        s"""e$j AS MATERIALIZED (SELECT vec_id, v[$a:$b] AS v FROM e),
           |seed$j AS MATERIALIZED (SELECT s.cid, x.v AS cv
           | FROM seedids s JOIN e$j x ON x.vec_id = s.sid),
           |${iter(s"e$j", s"seed$j", s"a1_$j", s"c1_$j")},
           |${iter(s"e$j", s"c1_$j", s"a2_$j", s"c2_$j")},
           |enc$j AS MATERIALIZED (SELECT sid AS vec_id, cid AS c FROM (
           |  SELECT x.vec_id AS sid, c2_$j.cid,
           |   row_number() OVER (PARTITION BY x.vec_id
           |     ORDER BY ${dist("x", s"c2_$j")}, c2_$j.cid) AS rn
           |  FROM e$j x CROSS JOIN c2_$j) t WHERE rn = 1),
           |lut$j AS MATERIALIZED (SELECT q.vec_id AS qid, c.cid, ${dist("q", "c")} AS d
           | FROM (SELECT vec_id, v FROM e$j WHERE vec_id < $PqQueryMax) q
           | CROSS JOIN c2_$j c)""".stripMargin
      }.mkString(",\n")
      val encJoins = (0 until PqM)
        .map(j => s"JOIN enc$j ON enc$j.vec_id = cand.neighbor_id").mkString(" ")
      val lutJoins = (0 until PqM)
        .map(j => s"JOIN lut$j l$j ON l$j.qid = cand.query_id AND l$j.cid = enc$j.c")
        .mkString(" ")
      val addChain = (0 until PqM).map(j => s"l$j.d").mkString(" + ")
      s"""WITH e AS MATERIALIZED (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
         |seedids AS MATERIALIZED (SELECT CAST(row_number() OVER (ORDER BY h, sid) AS BIGINT) AS cid, sid
         | FROM (SELECT vec_id AS sid,
         |   ${duckHash("concat('ivf_', CAST(vec_id AS VARCHAR))", 15)} AS h
         |  FROM e ORDER BY h, sid LIMIT $PqCodes) t),
         |$chains,
         |cseed AS MATERIALIZED (SELECT CAST(row_number() OVER (ORDER BY h, sid) AS BIGINT) AS cid, v AS cv
         | FROM (SELECT vec_id AS sid, v,
         |   ${duckHash("concat('ivf_', CAST(vec_id AS VARCHAR))", 15)} AS h
         |  FROM e ORDER BY h, sid LIMIT 8) t),
         |${iter("e", "cseed", "ca1", "cc1")},
         |${iter("e", "cc1", "ca2", "cc2")},
         |casgn AS MATERIALIZED (SELECT sid AS neighbor_id, cid FROM (
         |  SELECT x.vec_id AS sid, cc2.cid,
         |   row_number() OVER (PARTITION BY x.vec_id
         |     ORDER BY ${dist("x", "cc2")}, cc2.cid) AS rn
         |  FROM e x CROSS JOIN cc2) t WHERE rn = 1),
         |probes AS (SELECT query_id, cid FROM (
         |  SELECT x.vec_id AS query_id, cc2.cid,
         |   row_number() OVER (PARTITION BY x.vec_id
         |     ORDER BY ${dist("x", "cc2")}, cc2.cid) AS rn
         |  FROM e x CROSS JOIN cc2 WHERE x.vec_id < $PqQueryMax) t WHERE rn <= 2),
         |cand AS (SELECT probes.query_id, casgn.neighbor_id
         | FROM probes JOIN casgn USING (cid)
         | WHERE probes.query_id <> casgn.neighbor_id),
         |ad AS (SELECT cand.query_id, cand.neighbor_id,
         |  round($addChain, 6) AS adist
         | FROM cand $encJoins $lutJoins),
         |r AS (SELECT query_id, neighbor_id, adist,
         |  CAST(row_number() OVER (PARTITION BY query_id
         |    ORDER BY adist, neighbor_id) AS BIGINT) AS rnk FROM ad)
         |SELECT query_id, neighbor_id, adist, rnk FROM r WHERE rnk <= $PqK
         |ORDER BY query_id, rnk""".stripMargin
    },

    // q35's float top-10 ∩ q140's int8 top-10 per query, overlap ppm
    "q277_quantization_recall" ->
      s"""WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
         |q AS (SELECT vec_id AS query_id, v AS qv FROM e WHERE vec_id < 5),
         |fs AS (SELECT query_id, e.vec_id AS neighbor_id,
         |  round(${duckCos("qv", "e.v")}, 4) AS cos
         | FROM e CROSS JOIN q WHERE e.vec_id <> query_id),
         |fr AS (SELECT query_id, neighbor_id FROM (
         |  SELECT query_id, neighbor_id,
         |   row_number() OVER (PARTITION BY query_id
         |     ORDER BY cos DESC, neighbor_id) AS rnk FROM fs) WHERE rnk <= 10),
         |st AS (SELECT MAX(abs(x)) AS m FROM (SELECT unnest(v) AS x FROM e)),
         |qe AS (SELECT vec_id, list_transform(v, x ->
         |  CASE WHEN st.m <= 0 THEN 0
         |    ELSE CAST(floor(x * 127.0 / st.m) AS BIGINT) END) AS qv
         | FROM e, st),
         |qq AS (SELECT vec_id AS query_id, qv AS qvec FROM qe WHERE vec_id < 5),
         |zs AS (SELECT query_id, c.vec_id AS neighbor_id,
         |  CAST(list_dot_product(qvec::DOUBLE[], c.qv::DOUBLE[]) AS BIGINT) AS qdot
         | FROM qe c CROSS JOIN qq WHERE c.vec_id <> query_id),
         |zr AS (SELECT query_id, neighbor_id FROM (
         |  SELECT query_id, neighbor_id,
         |   row_number() OVER (PARTITION BY query_id
         |     ORDER BY qdot DESC, neighbor_id) AS rnk FROM zs) WHERE rnk <= 10),
         |hit AS (SELECT fr.query_id, CAST(COUNT(*) AS BIGINT) AS n_overlap
         | FROM fr JOIN zr USING (query_id, neighbor_id) GROUP BY 1),
         |base AS (SELECT query_id, CAST(COUNT(*) AS BIGINT) AS k_eff
         | FROM fr GROUP BY 1)
         |SELECT base.query_id, base.k_eff,
         | CAST(COALESCE(hit.n_overlap, 0) AS BIGINT) AS n_overlap,
         | CAST(COALESCE(hit.n_overlap, 0) * 1000000 // base.k_eff AS BIGINT) AS overlap_ppm
         |FROM base LEFT JOIN hit USING (query_id)
         |ORDER BY query_id""".stripMargin,

    // same md5-bottom-N batch, forward top-1 over the odd-label
    // corpus, reverse top-1 of each hit against the batch; mutual
    // pairs only (ties cos DESC then id ASC on both directions)
    "q272_mutual_nn_align" ->
      s"""WITH e AS (SELECT vec_id, label, embedding::DOUBLE[] AS v FROM embeddings),
         |batch AS (SELECT a_id, av FROM (
         |  SELECT vec_id AS a_id, v AS av, row_number() OVER (ORDER BY
         |   ${duckHash("concat('mnn_', CAST(vec_id AS VARCHAR))", 15)}, vec_id) AS rn
         |  FROM e WHERE label % 2 = 0) WHERE rn <= $MutualNnBatchN),
         |corpus AS (SELECT vec_id AS b_id, v AS bv FROM e WHERE label % 2 = 1),
         |sc AS (SELECT a_id, b_id, round(${duckCos("av", "bv")}, 4) AS cos4
         | FROM corpus CROSS JOIN batch),
         |fwd AS (SELECT a_id, b_id, cos4 AS cos FROM (
         |  SELECT a_id, b_id, cos4, row_number() OVER (PARTITION BY a_id
         |    ORDER BY cos4 DESC, b_id) AS rn FROM sc) WHERE rn = 1),
         |rs AS (SELECT c.b_id, b.a_id, round(${duckCos("c.bv", "b.av")}, 4) AS cos4
         | FROM corpus c JOIN (SELECT DISTINCT b_id FROM fwd) fb USING (b_id)
         | CROSS JOIN batch b),
         |rev AS (SELECT b_id, a_id AS best_a FROM (
         |  SELECT b_id, a_id, row_number() OVER (PARTITION BY b_id
         |    ORDER BY cos4 DESC, a_id) AS rn FROM rs) WHERE rn = 1)
         |SELECT fwd.a_id, fwd.b_id, fwd.cos
         |FROM fwd JOIN rev USING (b_id) WHERE fwd.a_id = rev.best_a
         |ORDER BY fwd.a_id""".stripMargin,

    // same md5-bottom-256 panel, panel-scoped max-abs int8 quantize
    // (the q140 floor(v·127/m) expression), exact integer dots and
    // shifted-nonnegative bucket division
    "q284_embedding_margin" ->
      """WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v,
        |  CAST(label AS BIGINT) AS lab FROM embeddings
        | WHERE embedding IS NOT NULL),
        |samp AS (SELECT vec_id, v, lab FROM e
        | ORDER BY md5(CAST(vec_id AS VARCHAR)), vec_id LIMIT 256),
        |st AS (SELECT MAX(abs(x)) AS m
        | FROM (SELECT unnest(v) AS x FROM samp)),
        |q AS (SELECT vec_id, lab, list_transform(v, x ->
        |  CASE WHEN st.m <= 0 THEN 0
        |    ELSE CAST(floor(x * 127.0 / st.m) AS BIGINT) END) AS qv
        | FROM samp, st),
        |p AS (SELECT (a.lab = b.lab) AS same_label,
        |  CAST(list_dot_product(a.qv::DOUBLE[], b.qv::DOUBLE[]) AS BIGINT) AS qdot
        | FROM q a JOIN q b ON a.vec_id < b.vec_id)
        |SELECT same_label,
        | CAST((qdot + 2097152) // 65536 AS BIGINT) AS bucket,
        | CAST(COUNT(*) AS BIGINT) AS n_pairs,
        | CAST(SUM(qdot) AS BIGINT) AS sum_qdot
        |FROM p GROUP BY 1, 2 ORDER BY same_label, bucket""".stripMargin,
  )
}
