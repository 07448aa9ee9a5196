package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.engine.Shape.MaterializeOps
import graft.operators.{Ann, Curation, Indexing}

/** Round-7 data-selection + LM-scoring operators: DSIR importance
  * selection, temperature mixing, bigram stupid-backoff surprisal,
  * per-source drift, int8-quantized ANN.
  */
class SelectionLmSpec extends AnyFunSuite {
  lazy val spark = SparkTestSession.spark
  import spark.implicits._

  // two clearly separated "domains": target docs speak about cats,
  // raw-only docs about numbers
  val mixedDocs = (
    (1L to 20L).map(i => (i, "the cat sat on the mat with the cat again", "en")) ++
    (21L to 40L).map(i => (i, "seven eight nine ten eleven twelve numbers here", "de")) ++
    (41L to 45L).map(i => (i, "the cat sat near numbers here", "de"))
  ).toDF("doc_id", "text", "lang")

  test("DSIR: target-like documents outrank off-domain ones") {
    val got = Curation.dsirSelect(mixedDocs, "doc_id", "text",
      isTarget = col("lang") === "en", nBuckets = 1024, topM = 45).collect()
    val rankOf = got.zipWithIndex.map { case (r, i) => r.getAs[Long]("id") -> i }.toMap
    // every pure-target doc scores above every pure-off-domain doc
    val worstTarget = (1L to 20L).map(rankOf).max
    val bestOffDomain = (21L to 40L).map(rankOf).min
    assert(worstTarget < bestOffDomain,
      s"target rank $worstTarget !< off-domain rank $bestOffDomain")
    // the mixed docs (41-45) land strictly between the two blocks
    (41L to 45L).foreach { id =>
      assert(rankOf(id) > worstTarget && rankOf(id) < bestOffDomain)
    }
  }

  test("DSIR: topM cuts by (score desc, id) deterministically") {
    val all = Curation.dsirSelect(mixedDocs, "doc_id", "text",
      isTarget = col("lang") === "en", nBuckets = 1024, topM = 45).collect()
    val top10 = Curation.dsirSelect(mixedDocs, "doc_id", "text",
      isTarget = col("lang") === "en", nBuckets = 1024, topM = 10).collect()
    assert(top10.map(_.getAs[Long]("id")).toSeq ==
      all.take(10).map(_.getAs[Long]("id")).toSeq)
  }

  test("temperature mix: sqrt flattening keeps minority rate above its share") {
    // 900 docs of lang A, 100 of lang B: proportional sampling at /2
    // keeps B at 50; sqrt-temperature boosts B's rate above A's
    val docs = ((1L to 900L).map(i => (i, "a")) ++ (901L to 1000L).map(i => (i, "b")))
      .toDF("doc_id", "lang")
    val got = Curation.temperatureSample(docs, "doc_id", "lang", budgetDivisor = 2L)
    val rates = got.select("lang", "rate_ppm").distinct().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(rates("b") > rates("a"),
      s"minority rate ${rates("b")} should exceed majority ${rates("a")}")
    // overall kept volume tracks the /2 budget (coin noise allowed)
    val kept = got.count()
    assert(kept > 350 && kept < 650, s"kept $kept of 1000 at budget 500")
  }

  test("temperature mix: rates are deterministic across partitionings") {
    val docs = (1L to 500L).map(i => (i, if (i % 5 == 0) "x" else "y"))
      .toDF("doc_id", "lang")
    val a = Curation.temperatureSample(docs.repartition(13), "doc_id", "lang")
      .collect().map(_.getAs[Long]("id")).sorted.toSeq
    val b = Curation.temperatureSample(docs.coalesce(1), "doc_id", "lang")
      .collect().map(_.getAs[Long]("id")).sorted.toSeq
    assert(a == b)
  }

  test("bigram surprisal: repetitive eval text scores below novel text") {
    // train half establishes "the cat sat" as the dominant pattern;
    // eval docs: one in-distribution, one out-of-distribution. Doc ids
    // chosen so the md5 split puts them where the test needs them.
    val base = (1L to 400L).map(i => (i, "the cat sat on the mat then the cat sat again"))
    val df = base.toDF("doc_id", "text")
    val split = df.select(col("doc_id"),
      (pmod(graft.functions.TextFunctions.tokenHash64(
        concat(lit("bglm_"), col("doc_id").cast("string"))), lit(1000000L)) < 800000L)
        .as("is_train")).collect()
    val evalIds = split.filter(!_.getAs[Boolean]("is_train")).map(_.getAs[Long]("doc_id"))
    assert(evalIds.nonEmpty, "need at least one eval doc")
    // rewrite ONE eval doc to novel text the train half never saw
    val novelId = evalIds.head
    val docs2 = base.map { case (i, t) =>
      if (i == novelId) (i, "zeta quux blorp wibble frobnicate zeta quux blorp")
      else (i, t)
    }.toDF("doc_id", "text")
    val got = Curation.bigramSurprisal(docs2, "doc_id", "text").collect()
      .map(r => r.getAs[Long]("id") -> r.getAs[Long]("bits_per_1k")).toMap
    val inDist = evalIds.filter(_ != novelId)
    assert(inDist.nonEmpty)
    assert(got(novelId) > got(inDist.head) * 2,
      s"novel ${got(novelId)} should dwarf in-dist ${got(inDist.head)}")
  }

  test("source drift: a divergent source shows the largest drift") {
    val docs = (
      (1L to 30L).map(i => (i, "alpha beta gamma delta alpha beta", "same1")) ++
      (31L to 60L).map(i => (i, "alpha beta gamma delta alpha gamma", "same2")) ++
      (61L to 90L).map(i => (i, "omega psi chi phi omega psi chi", "weird"))
    ).toDF("doc_id", "text", "source")
    val got = Curation.sourceDrift(docs, "doc_id", "text", "source").collect()
      .map(r => r.getAs[String]("src") -> r.getAs[Long]("drift_per_1k")).toMap
    assert(got("weird") > got("same1") && got("weird") > got("same2"),
      s"drift: $got")
  }

  test("int8 ANN: quantized top-k recalls the float-dot neighbors") {
    val rnd = new scala.util.Random(7)
    val raw = Seq.tabulate(300)(i =>
      (i.toLong, Array.fill(16)(rnd.nextGaussian().toFloat)))
    val vecs = raw.toDF("vec_id", "embedding")
    val queries = vecs.filter(col("vec_id") < 10)
    // float-dot ground truth (symmetric quantization preserves DOT
    // ranking, not cosine ranking) — small enough to fold in the driver
    val truth = (0 until 10).flatMap { q =>
      val qv = raw(q)._2
      raw.filter(_._1 != q)
        .map { case (id, v) =>
          (q.toLong, id, v.zip(qv).map { case (a, b) => a.toDouble * b }.sum)
        }
        .sortBy { case (_, id, d) => (-d, id) }
        .take(10).map { case (qid, id, _) => (qid, id) }
    }.toDF("query_id", "neighbor_id")
    val quant = Ann.int8QuantTopK(vecs, queries, "vec_id", "embedding", k = 10)
    val rec = Ann.recallAtK(truth, quant).agg(avg("recall")).head().getDouble(0)
    assert(rec > 0.8, s"mean recall@10 = $rec")
  }

  test("perplexity buckets: terciles partition the corpus, head scores lowest") {
    val docs = (
      (1L to 60L).map(i => (i, "the the the the the the the the", "a")) ++  // low surprisal
      (61L to 120L).map(i => (i, "alpha beta gamma delta epsilon zeta", "b")) ++
      (121L to 180L).map(i => (i, s"unique${i}a unique${i}b unique${i}c unique${i}d", "c"))
    ).toDF("doc_id", "text", "source")
    // the terciles are a broadcast 1-row frame: building the plan runs
    // only the jobs of the `scored` checkpoint its two consumers share
    val (_, checkpointJobs) = SparkTestSession.jobsDuring(
      Curation.unigramSurprisal(docs, "doc_id", "text")
        .select("id", "bits_per_1k").materialized)
    val (buckets, jobs) = SparkTestSession.jobsDuring(
      Curation.perplexityBuckets(docs, "doc_id", "text", "source"))
    assert(jobs == checkpointJobs, s"$jobs construction jobs, checkpoint $checkpointJobs")
    val got = buckets.collect()
    assert(got.map(_.getAs[Long]("n_docs")).sum == 180L)
    val byBucket = got.groupBy(_.getAs[String]("bucket")).view
      .mapValues(rs => rs.map(r => r.getAs[Long]("mean_bits_milli") * r.getAs[Long]("n_docs")).sum.toDouble /
        rs.map(_.getAs[Long]("n_docs")).sum).toMap
    assert(byBucket("head") < byBucket("middle") && byBucket("middle") < byBucket("tail"),
      s"bucket means not ordered: $byBucket")
    // the repetitive source dominates head, the unique-vocab source tail
    val headA = got.filter(r => r.getAs[String]("bucket") == "head" && r.getAs[String]("src") == "a")
      .map(_.getAs[Long]("n_docs")).sum
    val tailC = got.filter(r => r.getAs[String]("bucket") == "tail" && r.getAs[String]("src") == "c")
      .map(_.getAs[Long]("n_docs")).sum
    assert(headA == 60L && tailC == 60L, s"headA=$headA tailC=$tailC")
  }

  test("centroid outliers: a planted inverted vector surfaces first") {
    val rnd = new scala.util.Random(3)
    val base = Array.fill(8)(rnd.nextGaussian().toFloat * 0.1f + 1.0f)
    val vecs = (Seq.tabulate(99)(i =>
      (i.toLong, base.map(v => v + rnd.nextGaussian().toFloat * 0.05f))) :+
      (99L, base.map(v => -v))) // anti-aligned outlier
      .toDF("vec_id", "embedding")
    val got = Ann.centroidFarthest(vecs, "vec_id", "embedding", k = 5).collect()
    assert(got.head.getAs[Long]("vec_id") == 99L,
      s"outlier not first: ${got.map(_.getAs[Long]("vec_id")).toSeq}")
    assert(got.head.getAs[Double]("cos_centroid") < -0.9)
  }

  test("inverted index: exact df, capped postings are the lowest ids") {
    val docs = ((1L to 25L).map(i => (i, "common")) ++
      Seq((26L, "common rare"))).toDF("doc_id", "text")
    val got = Indexing.invertedIndex(docs, "doc_id", "text", cap = 10)
      .collect().map(r => r.getAs[String]("w") ->
        (r.getAs[Long]("df"),
          r.getAs[scala.collection.Seq[Long]]("doc_ids").toSeq)).toMap
    assert(got("common")._1 == 26L) // df exact beyond the cap
    assert(got("common")._2 == (1L to 10L)) // the 10 lowest, sorted
    assert(got("rare") == ((1L, Seq(26L))))
  }

  test("ngram novelty: copied eval text scores 0, gibberish scores 1e6") {
    // find ids the md5 split sends to eval
    val ids = (1L to 200L)
    val split = ids.map(i => i ->
      (graft.functions.TextFunctions.tokenHash64Jvm(s"novel_$i") % 1000000L < 800000L))
    val evalIds = split.filter(!_._2).map(_._1)
    assert(evalIds.size >= 2, s"need 2+ eval docs, got ${evalIds.size}")
    val (copyId, gibberishId) = (evalIds(0), evalIds(1))
    val trainText = "one two three four five six seven eight nine ten eleven twelve"
    val docs = ids.map { i =>
      if (i == copyId) (i, trainText)
      else if (i == gibberishId) (i, "zz1 zz2 zz3 zz4 zz5 zz6 zz7 zz8 zz9 zz10")
      else (i, trainText)
    }.toDF("doc_id", "text")
    val got = Indexing.ngramNovelty(docs, "doc_id", "text", n = 8)
      .collect().map(r => r.getAs[Long]("id") -> r.getAs[Long]("novelty_ppm")).toMap
    assert(got(copyId) == 0L, s"copy: ${got(copyId)}")
    assert(got(gibberishId) == 1000000L, s"gibberish: ${got(gibberishId)}")
  }

  test("BM25: rare-term docs outrank common-term docs; tf saturates") {
    val docs = (
      Seq((1L, "needle filler filler filler filler filler"),
          (2L, "needle needle needle needle filler filler"),
          (3L, "common filler filler filler filler filler")) ++
      (10L to 59L).map(i => (i, "common filler filler filler filler filler"))
    ).toDF("doc_id", "text")
    val got = Indexing.bm25LiteTopK(docs, "doc_id", "text",
      Seq("needle", "common"), k = 60).collect()
      .map(r => r.getAs[Long]("id") -> r.getAs[Long]("score_milli")).toMap
    // needle appears in 2/53 docs (high idf), common in 51/53 (idf 0 bits)
    assert(got(1L) > got(3L), s"rare ${got(1L)} !> common ${got(3L)}")
    // tf saturation: 4x the tf must score < 4x the single-occurrence doc
    assert(got(2L) > got(1L) && got(2L) < 4L * got(1L),
      s"tf=4 ${got(2L)} vs tf=1 ${got(1L)}")
  }

  test("BM25 against a parquet-persisted inverted index equals the inline form") {
    // q213's contract: bm25Index written to parquet (postings
    // partitioned by the wb term shard) and read back must drive
    // bm25ProbeTopK to the exact rows bm25LiteTopK computes — the
    // split is definitional, and Long tfs/dls round-trip losslessly.
    // Probed on real corpus text so the shard pruning path (plan-time
    // literal buckets) is exercised against genuine vocabulary.
    val docs = engine.Tables.documents(spark, SparkTestSession.sfDir)
    val terms = Seq("hash", "window", "spark")
    def rows(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSeq
    val inline = rows(Indexing.bm25LiteTopK(docs, "doc_id", "text", terms, k = 20))
    val dir = java.nio.file.Files.createTempDirectory("bm25-index").toString
    val (postings, doclen, stats) =
      Indexing.bm25Index(docs, "doc_id", "text", buckets = 64)
    postings.write.mode("overwrite").partitionBy("wb").parquet(s"$dir/p")
    doclen.write.mode("overwrite").parquet(s"$dir/d")
    stats.write.mode("overwrite").parquet(s"$dir/s")
    val persisted = rows(Indexing.bm25ProbeTopK(
      spark.read.parquet(s"$dir/p").withColumn("wb", col("wb").cast("long")),
      spark.read.parquet(s"$dir/d"), spark.read.parquet(s"$dir/s"),
      terms, buckets = 64, k = 20))
    assert(inline.nonEmpty)
    assert(persisted == inline, s"persisted=$persisted inline=$inline")
  }

  test("prefix rerank: full-width candidates reproduce brute force exactly") {
    val rnd = new scala.util.Random(5)
    val vecs = Seq.tabulate(120)(i =>
      (i.toLong, Array.fill(32)(rnd.nextGaussian().toFloat)))
      .toDF("vec_id", "embedding")
    val queries = vecs.filter(col("vec_id") < 5)
    // candidateK = corpus size -> stage 1 cannot drop a true neighbor
    val full = Ann.prefixRerankTopK(vecs, queries, "vec_id", "embedding",
      k = 5, prefixDim = 32, candidateK = 119)
      .select("query_id", "neighbor_id", "cos", "rank")
      .collect().map(_.toSeq).toSet
    val brute = Ann.bruteForceTopK(vecs, queries, "vec_id", "embedding", k = 5)
      .select("query_id", "neighbor_id", "cos", "rank")
      .collect().map(_.toSeq).toSet
    assert(full == brute)
    // and the REAL config (8-dim prefix, 30 candidates) recalls most
    val two = Ann.prefixRerankTopK(vecs, queries, "vec_id", "embedding",
      k = 5, prefixDim = 8, candidateK = 30)
    val rec = Ann.recallAtK(brute.toSeq.map(s =>
        (s(0).asInstanceOf[Long], s(1).asInstanceOf[Long]))
        .toDF("query_id", "neighbor_id"), two)
      .agg(avg("recall")).head().getDouble(0)
    assert(rec > 0.5, s"recall $rec")
  }

  test("linear fit: exactly-linear corpus recovers its generating weights") {
    // solve on a varied corpus (mixedDocs has 3 distinct texts — rank
    // deficient), then check the solution IS the least-squares optimum
    // by perturbation: nudging any weight must not lower SSE
    val rnd13 = new scala.util.Random(13)
    val vocab = Seq("the", "cat", "a", "dog", "runs", "fast", "to", "it",
      "banana", "x1")
    val docs = (1 to 60).map { i =>
      val n = 5 + rnd13.nextInt(20)
      (i.toLong, Seq.fill(n)(vocab(rnd13.nextInt(vocab.size))).mkString(" "))
    }.toDF("doc_id", "text")
    val stats = Curation.linearFitStats(docs, "text").head()
    val w = Curation.linearFitSolve(stats).toMap
    // residual check on the raw rows
    val rows = docs.select(col("text")).collect().map(_.getString(0))
    def feats(t: String) = {
      val toks = t.trim.split("\\s+").filter(_.nonEmpty)
      val stop = Set("the", "a", "an", "and", "or", "of", "to", "in", "is",
        "it", "that", "for", "on", "with", "as")
      (1.0, toks.length.toDouble, toks.count(stop).toDouble,
        t.count(_.isLetter).toDouble, t.length.toDouble)
    }
    def sse(wi: Double, wn: Double, ws: Double, wa: Double): Double =
      rows.map { t =>
        val (f0, f1, f2, f3, y) = feats(t)
        val p = wi * f0 + wn * f1 + ws * f2 + wa * f3
        (y - p) * (y - p)
      }.sum
    val (wi, wn, ws, wa) = (w("intercept") / 1e6, w("w_ntok") / 1e6,
      w("w_nstop") / 1e6, w("w_nalpha") / 1e6)
    val base = sse(wi, wn, ws, wa)
    val eps = 0.01
    assert(sse(wi + eps, wn, ws, wa) >= base && sse(wi - eps, wn, ws, wa) >= base)
    assert(sse(wi, wn + eps, ws, wa) >= base && sse(wi, wn - eps, ws, wa) >= base)
    assert(sse(wi, wn, ws + eps, wa) >= base && sse(wi, wn, ws - eps, wa) >= base)
    assert(sse(wi, wn, ws, wa + eps) >= base && sse(wi, wn, ws, wa - eps) >= base)
  }

  test("linear fit: collinear features are rejected, not silently solved") {
    // one doc repeated -> rank-deficient X'X
    val docs = Seq.fill(10)((1L, "same text here")).zipWithIndex
      .map { case ((_, t), i) => (i.toLong, t) }.toDF("doc_id", "text")
    val stats = Curation.linearFitStats(docs, "text").head()
    intercept[IllegalArgumentException] {
      Curation.linearFitSolve(stats)
    }
  }

  test("plan shapes: bounded build sides broadcast, no sort-merge joins") {
    val d = SparkTestSession.sfDir
    // DSIR: the 1024-row weight table must reach the feature stream as
    // a broadcast — a shuffled join on the bucket key would re-exchange
    // the whole corpus
    val dsir = SparkEntry.queries("q139_dsir_select")(spark, d)
      .queryExecution.executedPlan.toString
    assert(dsir.contains("BroadcastHashJoin"), dsir.take(1500))
    assert(!dsir.contains("SortMergeJoin"), dsir.take(1500))
    // CMS probe: cells and probes are both bounded — the probe must be
    // a broadcast join, never an exchange on the cell key
    val cms = SparkEntry.queries("q138_cms_heavy")(spark, d)
      .queryExecution.executedPlan.toString
    assert(cms.contains("BroadcastHashJoin"), cms.take(1500))
    assert(!cms.contains("SortMergeJoin"), cms.take(1500))
    // weighted median: the running-weight window must partition by the
    // BUCKET too (two-level prefix sum), and the bucket/total tables
    // join back broadcast
    val wm = SparkEntry.queries("q150_weighted_median")(spark, d)
      .queryExecution.executedPlan.toString
    assert(wm.contains("__b"), wm.take(1500))
    assert(!wm.contains("SortMergeJoin"), wm.take(1500))
  }

  test("int8 ANN: codes bound the integer dot by d*127^2") {
    val vecs = Seq.tabulate(50)(i =>
      (i.toLong, Array.tabulate(4)(j => if (j == 0) 1.0f else i.toFloat)))
      .toDF("vec_id", "embedding")
    val got = Ann.int8QuantTopK(vecs, vecs.filter(col("vec_id") < 2),
      "vec_id", "embedding", k = 3).collect()
    got.foreach { r =>
      val dotv = r.getAs[Long]("qdot")
      assert(math.abs(dotv) <= 4L * 127L * 127L, s"qdot $dotv out of range")
    }
  }

  test("phraseMatch: 3-word phrase, overlapping matches, repeated word, positions") {
    val docs = Seq(
      (1L, "a b c a b c"),      // "a b c" at pos 1 and 4
      (2L, "a a a a"),          // "a a a" overlapping at pos 1 and 2
      (3L, "a b"),              // too short for "a b c"
      (4L, "x y z"),            // no phrase words at all
      (5L, "c b a")             // words present, wrong order
    ).toDF("doc_id", "text")
    def run(p: Seq[String]) =
      Indexing.phraseMatch(docs, "doc_id", "text", p)
        .collect().map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2)))).toMap
    assert(run(Seq("a", "b", "c")) == Map(1L -> ((2L, 1L))))
    assert(run(Seq("a", "a", "a")) == Map(2L -> ((2L, 1L))))
    assert(run(Seq("b", "c")) == Map(1L -> ((2L, 2L))))
    // single-word phrase degenerates to a posting count
    assert(run(Seq("a")) == Map(1L -> ((2L, 1L)), 2L -> ((4L, 1L)),
      3L -> ((1L, 1L)), 5L -> ((1L, 3L))))
    // partition-invariance
    val rep = Indexing.phraseMatch(docs.repartition(4), "doc_id", "text",
        Seq("a", "b", "c"))
      .collect().map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2)))).toMap
    assert(rep == Map(1L -> ((2L, 1L))))
  }

  test("mmrRerank diversifies: redundant near-copies of the best hit are demoted") {
    // query q; c1 best hit; c2 = near-clone of c1 (sim ~1, so its MMR
    // score loses ~3*10000); c3 equally relevant but ORTHOGONAL to c1
    // (sim ~0, no penalty). Pure relevance ranks c1, c2, c3; MMR must
    // pick c1 then c3.
    val rows = Seq(
      (0L, Array(1.0f, 0.0f, 0.0f)),        // query
      (1L, Array(0.71f, 0.7f, 0.0f)),       // best hit
      (2L, Array(0.7099f, 0.7f, 0.0f)),     // near-clone of 1
      (3L, Array(0.7f, -0.7f, 0.0f))        // diverse, same relevance class
    ).toDF("vec_id", "embedding")
    val got = Ann.mmrRerank(rows, "vec_id", "embedding", queryId = 0L,
        candC = 3, k = 3)
      .orderBy("rank").collect().map(_.getLong(1)).toSeq
    assert(got == Seq(1L, 3L, 2L), s"got $got")
    // rank-1 score is 7x its relevance (no redundancy penalty yet)
    val r1 = Ann.mmrRerank(rows, "vec_id", "embedding", 0L, 3, 1).head()
    assert(r1.getLong(3) == 7L * r1.getLong(2))
  }

  test("rrfHybridTopK: doc on BOTH lists beats the single-list winners") {
    // doc 1 wins the lexical list only (token overlap, orthogonal
    // embedding), doc 2 wins the semantic list only (near-identical
    // embedding, disjoint tokens), doc 3 is rank-2 on BOTH — RRF must
    // fuse 3 to the top with n_lists=2, then break the 1-vs-2 tie
    // (identical single-list rrf contribution) by neighbor id.
    val docs = Seq(
      (0L, "alpha beta gamma"),
      (1L, "alpha beta gamma delta"),
      (2L, "zeta eta theta"),
      (3L, "alpha beta other")
    ).toDF("doc_id", "text")
    val emb = Seq(
      (0L, Array(1.0f, 0.0f, 0.0f)),
      (1L, Array(0.0f, 1.0f, 0.0f)),
      (2L, Array(0.99f, 0.1f, 0.0f)),
      (3L, Array(0.7f, 0.7f, 0.0f))
    ).toDF("doc_id", "embedding")
    val got = Indexing.rrfHybridTopK(docs, emb, "doc_id", "text",
        "embedding", queryMax = 1L, listK = 2, rrfK = 60, k = 2)
      .orderBy("rnk").collect()
    assert(got.map(_.getAs[Long]("neighbor_id")).toSeq == Seq(3L, 1L),
      got.mkString(";"))
    assert(got.head.getAs[Long]("n_lists") == 2L)
    // rank-2 on both lists: 2 * (1e6 div 62)
    assert(got.head.getAs[Long]("rrf_ppm") == 2L * (1000000L / 62L))
  }

  test("gopherRules: each rule fires on its planted violator, zero-token doc kept") {
    val w4 = (0 until 15).map(i => s"w${('a' + i).toChar}aa")
    val w5 = (0 until 15).map(i => s"v${('a' + i).toChar}aaa")
    val docs = Seq(
      // pass: n=30, sum len=130 -> mwl 4333, all-distinct, 2 stops
      (0L, ("the a " + (w4.take(14) ++ w5.take(14)).mkString(" ")), "s"),
      // short: n=8 (also trips mwl: 31*1000/8 = 3875)
      (1L, ("the a " + (w4.take(3) ++ w5.take(3)).mkString(" ")), "s"),
      // long word: one 12-char token, everything else like the pass doc
      (2L, ("the a twelvecharss " + (w4.take(14) ++ w5.take(13)).mkString(" ")), "s"),
      // repetitive: 28 copies of one 5-char word -> unique ratio 100
      (3L, ("the a " + Seq.fill(28)("ccccc").mkString(" ")), "s"),
      // no stop words: 30 distinct, mwl 4500
      (4L, (w4 ++ w5).mkString(" "), "s"),
      // zero tokens: must stay a row and fail words/mwl/unique
      (5L, "   ", "s")
    ).toDF("doc_id", "text", "source")
    val row = Curation.gopherRules(docs, "doc_id", "text", "source").head()
    assert(row.getAs[Long]("n_docs") == 6L)
    assert(row.getAs[Long]("f_words") == 2L, "short + empty")
    assert(row.getAs[Long]("f_mwl") == 2L, "short + empty")
    assert(row.getAs[Long]("f_longword") == 1L)
    assert(row.getAs[Long]("f_unique") == 2L, "repetitive + empty")
    assert(row.getAs[Long]("f_stop") == 2L, "stopless + empty")
    assert(row.getAs[Long]("n_pass") == 1L)
    assert(row.getAs[Long]("pass_ppm") == 1000000L / 6L)
  }
}
