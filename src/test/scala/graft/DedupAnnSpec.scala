package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.operators.{Ann, Curation, Dedup, GraphOps}

class DedupAnnSpec extends AnyFunSuite {
  lazy val spark = SparkTestSession.spark
  import spark.implicits._

  val docs = Seq(
    (1L, "the quick brown fox jumps over the lazy dog near the river bank"),
    (2L, "the quick brown fox jumps over the lazy dog near the river bend"), // near-dup of 1
    (3L, "THE  quick   brown fox jumps over the lazy dog near the river bank"), // exact dup of 1 after normalize
    (4L, "completely different words about spark catalyst optimizer plans here"),
    (5L, "another unrelated document mentioning large scale data processing")
  ).toDF("doc_id", "text")

  test("exact dedup: normalized duplicates collapse to min id") {
    val got = Dedup.exact(docs, "doc_id", "text")
      .filter(col("n_copies") > 1).collect()
    assert(got.length == 1)
    assert(got(0).getAs[Long]("keep_id") == 1L)
    assert(got(0).getAs[Long]("n_copies") == 2L)
  }

  test("exact dedup keeper policy: highest score wins, ties to min id") {
    import graft.functions.TextFunctions.qualityScore
    val d2 = Seq(
      (1L, "Hello   world"),   // dup cluster (normalizes with 2)
      (2L, "hello world"),
      (3L, "unique text here"),
      (10L, "same score a"), (11L, "same score a") // exact dup, equal score
    ).toDF("doc_id", "text")
    val got = Dedup.exactKeeperBy(d2, "doc_id", "text", qualityScore(col("text")))
      .collect().map(r => r.getAs[Long]("keep_id") ->
        (r.getAs[Long]("n_copies"), r.getAs[Double]("best_score"))).toMap
    assert(got.size == 3)
    assert(got.contains(3L))
    assert(got(10L)._1 == 2L)  // equal scores: min id 10 kept
    // the 1-vs-2 cluster: both normalize identically so quality ties on
    // tokens but differs on alpha ratio (extra spaces in doc 1) — doc 2
    // has the higher alpha ratio and must win despite the larger id
    val hw = got.collect { case (k, (n, _)) if n == 2L && k != 10L => k }
    assert(hw == Iterable(2L), s"keeper: $got")
  }

  test("ngram jaccard: near-dups rank far above unrelated pairs") {
    val pairs = Dedup.ngramJaccard(docs, "doc_id", "text", k = 3, minJaccard = 0.5)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(pairs.contains((1L, 2L)))
    assert(pairs.contains((1L, 3L))) // normalization-insensitive via tokens
    assert(!pairs.exists { case (a, b) => a == 4L || b == 4L })
  }

  test("minhash LSH surfaces the true near-dup pair") {
    val got = Dedup.minHashLsh(docs, "doc_id", "text",
        k = 3, bands = 4, rowsPerBand = 4, minEstJaccard = 0.5)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(got.contains((1L, 2L)) || got.contains((1L, 3L)))
    assert(!got.exists { case (a, b) => a == 4L || b == 4L })
  }

  test("simhash: identical token streams get identical hashes; est distance sane") {
    // whitespace-only variation leaves the token stream (and simhash)
    // unchanged; simhash IS case-sensitive (md5 of raw tokens)
    val d = Seq(
      (1L, "alpha beta gamma delta"),
      (2L, "alpha   beta\tgamma  delta"),
      (3L, "ALPHA beta gamma delta")).toDF("doc_id", "text")
    val sh = Dedup.simHash(d, "doc_id", "text").collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(sh(1L) == sh(2L))
    assert(sh(1L) != sh(3L))
    assert(sh.values.forall(v => v >= 0 && v < (1L << 16)))
  }

  test("embedding near-dup finds an exact-duplicate vector pair") {
    val v = Array.tabulate(64)(i => (math.sin(i) / 2).toFloat)
    val u = Array.tabulate(64)(i => (math.cos(i * 2) / 3).toFloat)
    val emb = Seq((1L, v), (2L, v), (3L, u)).toDF("vec_id", "embedding")
    val got = Dedup.embeddingNearDup(emb, "vec_id", "embedding", nBits = 4, minCosine = 0.99)
      .collect().map(r => (r.getLong(0), r.getLong(1)))
    assert(got.toSeq == Seq((1L, 2L)))
  }

  test("brute-force ANN: duplicate vector is its own nearest neighbor with cos 1") {
    val v = Array.tabulate(64)(i => (math.sin(i) / 2).toFloat)
    val u = Array.tabulate(64)(i => (math.cos(i * 2) / 3).toFloat)
    val w = Array.tabulate(64)(i => (math.sin(i * 3) / 4).toFloat)
    val emb = Seq((1L, v), (2L, v), (3L, u), (4L, w)).toDF("vec_id", "embedding")
    val top = Ann.bruteForceTopK(emb, emb.filter(col("vec_id") === 1), "vec_id", "embedding", 2)
      .collect()
    assert(top.head.getAs[Long]("neighbor_id") == 2L)
    assert(top.head.getAs[Double]("cos") == 1.0)
  }

  test("containment flags a fully-quoted doc that Jaccard misses") {
    import spark.implicits._
    val inner = "alpha beta gamma delta epsilon zeta"
    val outer = ("preamble words here and elsewhere totally unrelated body " * 4) +
      inner + (" trailing filler content of considerable additional length " * 4)
    val docs = Seq((1L, inner), (2L, outer), (3L, "nothing shared at all whatsoever"))
      .toDF("doc_id", "text")
    val got = Dedup.ngramContainment(docs, "doc_id", "text",
        k = 3, minContainment = 0.9)
      .collect().map(r => (r.getLong(0), r.getLong(1),
        r.getDouble(3), r.getDouble(4)))
    // every 3-shingle of doc 1 appears in doc 2 -> c_ab = 1.0
    assert(got.length == 1 && got.head._1 == 1L && got.head._2 == 2L)
    assert(got.head._3 == 1.0, s"c_ab = ${got.head._3}")
    assert(got.head._4 < 0.5, s"c_ba should be small, got ${got.head._4}")
    // the same pair is BELOW a 0.25 Jaccard bar — the gap containment closes
    val jac = Dedup.ngramJaccard(docs, "doc_id", "text", k = 3, minJaccard = 0.25)
      .collect()
    assert(jac.isEmpty, jac.mkString(","))
  }

  test("incremental LSH equals the cross-side subset of the full self-join") {
    val docs = engine.Tables.documents(spark, SparkTestSession.sfDir)
    def isNew(id: Long) = id % 10 == 0
    // full self-join pairs, reoriented to (new, corpus); both-new and
    // both-corpus pairs are out of the incremental operator's contract
    val expected = Dedup.minHashLsh(docs, "doc_id", "text",
        k = 3, bands = 4, rowsPerBand = 4, minEstJaccard = 0.25)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
      .flatMap { case (a, b, j) =>
        if (isNew(a) && !isNew(b)) Some((a, b, j))
        else if (isNew(b) && !isNew(a)) Some((b, a, j))
        else None
      }.toSet
    val got = Dedup.minHashLshAgainst(
        docs.filter(pmod(col("doc_id"), lit(10L)) === 0L),
        docs.filter(pmod(col("doc_id"), lit(10L)) =!= 0L),
        "doc_id", "text", k = 3, bands = 4, rowsPerBand = 4,
        minEstJaccard = 0.25)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    assert(got.nonEmpty, "fixture should contain cross-side near-dups")
    assert(got == expected, s"incremental=${got.size} self-join-cross=${expected.size}")
  }

  test("LSH against a parquet-persisted band index equals the inline form") {
    // q206's contract: minHashBandPostings written to parquet and read
    // back must drive minHashLshJoinPostings to the exact pairs the
    // inline minHashLshAgainst finds (signatures are a pure per-doc
    // function of k/bands/rowsPerBand, and the postings frame is the
    // only shared state)
    val docs = engine.Tables.documents(spark, SparkTestSession.sfDir)
    val batch = docs.filter(pmod(col("doc_id"), lit(10L)) === 0L)
    val corpus = docs.filter(pmod(col("doc_id"), lit(10L)) =!= 0L)
    def rows(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    val inline = rows(Dedup.minHashLshAgainst(batch, corpus,
      "doc_id", "text", k = 3, bands = 4, rowsPerBand = 4, minEstJaccard = 0.25))
    val dir = java.nio.file.Files.createTempDirectory("lsh-postings").toString
    Dedup.minHashBandPostings(corpus, "doc_id", "text",
        k = 3, bands = 4, rowsPerBand = 4)
      .write.mode("overwrite").parquet(dir)
    val persisted = rows(Dedup.minHashLshJoinPostings(batch,
      spark.read.parquet(dir), "doc_id", "text",
      k = 3, bands = 4, rowsPerBand = 4, minEstJaccard = 0.25))
    assert(inline.nonEmpty)
    assert(persisted == inline, s"persisted=${persisted.size} inline=${inline.size}")
  }

  test("substring ingest: against-form equals the cross-restricted span model, persisted equals inline") {
    // q220's contract: (1) the batch-vs-corpus probe finds exactly the
    // maximal spans a direct model computes — batch grams paired with
    // corpus occurrences (corpus df <= cap), diagonal islands merged;
    // (2) the parquet-persisted index drives the probe to the same rows
    val docs = engine.Tables.documents(spark, SparkTestSession.sfDir)
    val batch = docs.filter(pmod(col("doc_id"), lit(10L)) === 0L)
    val corpus = docs.filter(pmod(col("doc_id"), lit(10L)) =!= 0L)
    val L = 20 // shorter grams than q220: more spans at unit scale
    def rows(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
        r.getLong(3), r.getLong(4))).toSet
    val (postings, gramdf) = Dedup.substringGramIndex(corpus, "doc_id", "text", L)
    val inline = rows(Dedup.exactSubstringSpansAgainstPostings(
      batch, postings, gramdf, "doc_id", "text", L, maxGramFreq = 1000))
    // model: exactSubstringSpans over ALL docs (includeSelf=false,
    // within-pair cross plane) restricted to (batch, corpus) pairs in
    // EITHER orientation, remapped to (new, corpus) coordinates. The
    // global [2, cap] frequency filter equals the ingest's corpus-df
    // cap on these pairs as long as no gram is corpus-absent-but-
    // batch-repeated with freq > cap — with cap=1000 at unit scale
    // that cannot trigger, and corpus-df <= global-freq keeps every
    // ingest-eligible gram model-eligible.
    val spans = Dedup.exactSubstringSpans(docs, "doc_id", "text", L,
      maxGramFreq = 1000)
    val isBatch = (id: Long) => id % 10 == 0
    val model = spans.collect().flatMap { r =>
      val (a, b) = (r.getLong(0), r.getLong(1))
      val (sa, sb, len) = (r.getLong(2), r.getLong(3), r.getLong(4))
      if (isBatch(a) && !isBatch(b)) Some((a, b, sa, sb, len))
      else if (isBatch(b) && !isBatch(a)) Some((b, a, sb, sa, len))
      else None
    }.toSet
    assert(inline.nonEmpty, "no cross spans at unit scale — data too thin")
    assert(inline == model, s"inline=${inline.size} model=${model.size}")
    val dir = java.nio.file.Files.createTempDirectory("substring-index").toString
    postings.write.mode("overwrite").parquet(s"$dir/p")
    gramdf.write.mode("overwrite").parquet(s"$dir/f")
    val persisted = rows(Dedup.exactSubstringSpansAgainstPostings(batch,
      spark.read.parquet(s"$dir/p"), spark.read.parquet(s"$dir/f"),
      "doc_id", "text", L, maxGramFreq = 1000))
    assert(persisted == inline)
  }

  test("substring gram-index upsert: folded frames bit-equal the rebuild; probe agrees") {
    // q306's contract: (1) standing postings ∪ batch postings ==
    // rebuild postings over corpus ∪ batch, bit-exact (per-doc purity);
    // (2) untouched gramdf rows ∪ the upsert's touched rows == rebuild
    // gramdf, bit-exact (df is a sum); (3) probing the folded index
    // equals probing the rebuilt one
    val docs = engine.Tables.documents(spark, SparkTestSession.sfDir)
    val batch = docs.filter(pmod(col("doc_id"), lit(10L)) === 0L)
    val corpus = docs.filter(pmod(col("doc_id"), lit(10L)) =!= 0L)
    val L = 20
    val (postings, gramdf) = Dedup.substringGramIndex(corpus, "doc_id", "text", L)
    val (np, touched) = Dedup.substringGramIndexUpsert(gramdf, batch,
      "doc_id", "text", L)
    val foldedPostings = postings.unionByName(np)
    val foldedDf = gramdf.join(touched.select("g"), Seq("g"), "left_anti")
      .unionByName(touched)
    val (rp, rdf) = Dedup.substringGramIndex(docs, "doc_id", "text", L)
    def rs(df: org.apache.spark.sql.DataFrame) = df.collect().map(_.toSeq).toSet
    assert(rs(foldedPostings) == rs(rp), "postings fold != rebuild")
    assert(rs(foldedDf) == rs(rdf), "gramdf fold != rebuild")
    def spans(p: org.apache.spark.sql.DataFrame, f: org.apache.spark.sql.DataFrame) =
      rs(Dedup.exactSubstringSpansAgainstPostings(batch, p, f,
          "doc_id", "text", L, maxGramFreq = 1000)
        .filter(col("id_a") =!= col("id_b")))
    val got = spans(foldedPostings, foldedDf)
    assert(got.nonEmpty)
    assert(got == spans(rp, rdf), "probe-over-fold != probe-over-rebuild")
  }

  test("LSH index upsert: merged touched buckets bit-equal the recompute over the union") {
    // q219's contract: on UNCAPPED postings, merging the batch's band
    // lists into the standing index reproduces, for every touched
    // bucket, EXACTLY the (id, sig) list a full recompute over
    // corpus UNION batch builds — including batch-only buckets (no
    // standing list) and the signatures, not just membership
    val docs = engine.Tables.documents(spark, SparkTestSession.sfDir)
    val batch = docs.filter(pmod(col("doc_id"), lit(10L)) === 0L)
    val corpus = docs.filter(pmod(col("doc_id"), lit(10L)) =!= 0L)
    val standing = Dedup.minHashBandPostings(corpus, "doc_id", "text",
      k = 3, bands = 4, rowsPerBand = 4, maxBucketSize = Int.MaxValue)
    val merged = Dedup.minHashBandPostingsUpsert(standing, batch,
        "doc_id", "text", k = 3, bands = 4, rowsPerBand = 4)
      .collect().map(r => (r.get(0), r.getString(1)) ->
        r.getSeq[org.apache.spark.sql.Row](2).map(x =>
          (x.getLong(0), x.getSeq[Long](1)))).toMap
    val full = Dedup.minHashBandPostings(docs, "doc_id", "text",
        k = 3, bands = 4, rowsPerBand = 4, maxBucketSize = Int.MaxValue)
      .collect().map(r => (r.get(0), r.getString(1)) ->
        r.getSeq[org.apache.spark.sql.Row](2).map(x =>
          (x.getLong(0), x.getSeq[Long](1)))).toMap
    val batchBuckets = Dedup.minHashBandPostings(batch, "doc_id", "text",
        k = 3, bands = 4, rowsPerBand = 4, maxBucketSize = Int.MaxValue)
      .collect().map(r => (r.get(0), r.getString(1))).toSet
    val expected = full.view.filterKeys(batchBuckets).toMap
    assert(merged.nonEmpty && merged.keySet == batchBuckets)
    assert(merged == expected,
      s"merged=${merged.size} buckets, recompute-touched=${expected.size}")
  }

  test("LSH index delete: touched buckets bit-equal the recompute minus tombstones") {
    // q221's contract: deleting ids from the uncapped standing index
    // reproduces, for every bucket that contained a deleted member,
    // EXACTLY the recompute over corpus-minus-deleted — including
    // signatures; fully-emptied buckets vanish; untouched buckets are
    // not in the output
    val docs = engine.Tables.documents(spark, SparkTestSession.sfDir)
    val corpus = docs.filter(pmod(col("doc_id"), lit(10L)) =!= 0L)
    val standing = Dedup.minHashBandPostings(corpus, "doc_id", "text",
      k = 3, bands = 4, rowsPerBand = 4, maxBucketSize = Int.MaxValue)
    val deleted = corpus.filter(pmod(col("doc_id"), lit(7L)) === 0L)
      .select(col("doc_id"))
    def buckets(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(r => (r.get(0), r.getString(1)) ->
        r.getSeq[org.apache.spark.sql.Row](2).map(x =>
          (x.getLong(0), x.getSeq[Long](1)))).toMap
    val got = buckets(Dedup.minHashBandPostingsDelete(standing, deleted))
    val remaining = buckets(Dedup.minHashBandPostings(
      corpus.filter(pmod(col("doc_id"), lit(7L)) =!= 0L), "doc_id", "text",
      k = 3, bands = 4, rowsPerBand = 4, maxBucketSize = Int.MaxValue))
    val delIds = deleted.collect().map(_.getLong(0)).toSet
    // NOT Map.collect: a partial function yielding the (band, band_key)
    // TUPLE makes collect rebuild a Map keyed by band alone (4 keys)
    val touchedKeys = buckets(standing)
      .filter { case (_, lst) => lst.exists(m => delIds(m._1)) }.keySet
    val expected = remaining.view.filterKeys(touchedKeys).toMap
    assert(got.nonEmpty && got == expected,
      s"got=${got.size} expected=${expected.size}")
    // a fully-emptied bucket must NOT appear
    assert(got.keySet.subsetOf(touchedKeys))
    assert((touchedKeys -- remaining.keySet).forall(k => !got.contains(k)))
  }

  test("PPJoin ingest: prefix-posting probe matches brute force, persisted equals inline") {
    // q218's contract, both halves: (1) NO recall loss — the batch-vs-
    // corpus prefix-posting probe finds EXACTLY the pairs a brute-force
    // cross join verifies at Jaccard >= t (the prefix theorem under the
    // index's shared (df, sh) order, incl. batch shingles the corpus
    // never saw); (2) the parquet-persisted index drives the probe to
    // the same rows as the in-memory one (strings/longs/arrays
    // round-trip losslessly)
    val docs = engine.Tables.documents(spark, SparkTestSession.sfDir)
    val batch = docs.filter(pmod(col("doc_id"), lit(10L)) === 0L)
    val corpus = docs.filter(pmod(col("doc_id"), lit(10L)) =!= 0L)
    val t = 300000L // lower threshold than q218's 0.5: more pairs to check
    def rows(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3))).toSet
    val (dfreq, postings, sets) = Dedup.ppJoinIndex(corpus, "doc_id", "text", t)
    val inline = rows(Dedup.ppJoinAgainstPostings(batch, dfreq, postings, sets,
      "doc_id", "text", t))
    // brute force: all batch x corpus pairs at Jaccard >= t
    val shA = batch.select(col("doc_id").as("new_id"),
      Dedup.shingles(col("text"), 3).as("sa"))
    val shB = corpus.select(col("doc_id").as("corpus_id"),
      Dedup.shingles(col("text"), 3).as("sb"))
    val brute = rows(shA.crossJoin(shB)
      .withColumn("inter", size(array_intersect(col("sa"), col("sb"))).cast("long"))
      .withColumn("jac_ppm",
        expr("inter * 1000000 div (size(sa) + size(sb) - inter)"))
      .filter(col("jac_ppm") >= t)
      .select("new_id", "corpus_id", "inter", "jac_ppm"))
    assert(inline.nonEmpty, "threshold found no pairs — test data too thin")
    assert(inline == brute, s"inline=${inline.size} brute=${brute.size}")
    val dir = java.nio.file.Files.createTempDirectory("ppjoin-index").toString
    dfreq.write.mode("overwrite").parquet(s"$dir/f")
    postings.write.mode("overwrite").parquet(s"$dir/p")
    sets.write.mode("overwrite").parquet(s"$dir/s")
    val persisted = rows(Dedup.ppJoinAgainstPostings(batch,
      spark.read.parquet(s"$dir/f"), spark.read.parquet(s"$dir/p"),
      spark.read.parquet(s"$dir/s"), "doc_id", "text", t))
    assert(persisted == inline, s"persisted=${persisted.size} inline=${inline.size}")
  }

  test("SimHash ingest: multi-index against-form matches brute force, persisted equals inline") {
    // q208's contract, both halves: (1) exact recall — the batch-vs-
    // corpus multi-index join (cap disabled) finds EXACTLY the pairs a
    // brute-force cross join verifies at Hamming<=3 (block pigeonhole:
    // <=3 differing bits hit <=3 of 6 blocks, so some 3-block table
    // keys both docs identically); (2) the parquet-persisted postings
    // drive simHashJoinPostings to the inline-postings rows (table keys
    // are a pure per-doc function of the parameters)
    val docs = engine.Tables.documents(spark, SparkTestSession.sfDir)
    val batch = docs.filter(pmod(col("doc_id"), lit(10L)) === 0L)
    val corpus = docs.filter(pmod(col("doc_id"), lit(10L)) =!= 0L)
    def rows(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    val inline = rows(Dedup.simHashJoinPostings(batch,
      Dedup.simHashMultiIndexPostings(corpus, "doc_id", "text",
        nBits = 32, maxHamming = 3, nBlocks = 6, maxBucketSize = Int.MaxValue),
      "doc_id", "text", nBits = 32, maxHamming = 3, nBlocks = 6))
    val brute = rows(
      Dedup.simHash(batch, "doc_id", "text", 32)
        .select(col("id").as("new_id"), col("simhash").as("hn"))
        .crossJoin(Dedup.simHash(corpus, "doc_id", "text", 32)
          .select(col("id").as("corpus_id"), col("simhash").as("hc")))
        .select(col("new_id"), col("corpus_id"),
          bit_count(col("hn").bitwiseXOR(col("hc"))).cast("long").as("hamming"))
        .filter(col("hamming") <= 3))
    assert(inline == brute, s"inline=${inline.size} brute=${brute.size}")
    val dir = java.nio.file.Files.createTempDirectory("simhash-postings").toString
    Dedup.simHashMultiIndexPostings(corpus, "doc_id", "text",
        nBits = 32, maxHamming = 3, nBlocks = 6, maxBucketSize = Int.MaxValue)
      .write.mode("overwrite").parquet(dir)
    val persisted = rows(Dedup.simHashJoinPostings(batch,
      spark.read.parquet(dir), "doc_id", "text",
      nBits = 32, maxHamming = 3, nBlocks = 6))
    assert(persisted == inline, s"persisted=${persisted.size} inline=${inline.size}")
  }

  test("filtered ANN: neighbors share the query's label and match post-filtered exact") {
    val e = engine.Tables.embeddings(spark, SparkTestSession.sfDir)
    val q = e.filter(col("vec_id") < 3)
    val got = Ann.bruteForceTopKFiltered(e, q, "vec_id", "embedding", "label", 5)
    // every (query, neighbor) pair shares the label
    val lbl = e.select(col("vec_id"), col("label")).collect()
      .map(r => r.getLong(0) -> r.getInt(1)).toMap
    val pairs = got.select("query_id", "neighbor_id").collect()
      .map(r => (r.getLong(0), r.getLong(1)))
    assert(pairs.nonEmpty)
    pairs.foreach { case (qid, nid) =>
      assert(lbl(qid) == lbl(nid), s"pair ($qid,$nid) crosses labels") }
    // equals brute force over the label-restricted corpus, per query
    q.select("vec_id", "label").collect().foreach { r =>
      val (qid, ql) = (r.getLong(0), r.getInt(1))
      val expect = Ann.bruteForceTopK(e.filter(col("label") === ql),
          e.filter(col("vec_id") === qid), "vec_id", "embedding", 5)
        .select("neighbor_id", "rank").collect()
        .map(x => (x.getLong(0), x.getInt(1))).toSet
      val have = got.filter(col("query_id") === qid)
        .select("neighbor_id", "rank").collect()
        .map(x => (x.getLong(0), x.getInt(1))).toSet
      assert(have == expect, s"query $qid: $have != $expect")
    }
  }

  test("LSH ANN achieves nonzero recall vs brute force on real embeddings") {
    val e = engine.Tables.embeddings(spark, SparkTestSession.sfDir)
    val q = e.filter(col("vec_id") < 3)
    val exact = Ann.bruteForceTopK(e, q, "vec_id", "embedding", 5)
      .select("query_id", "neighbor_id").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    val approx = Ann.lshTopK(e, q, "vec_id", "embedding", 5, nBits = 2)
      .select("query_id", "neighbor_id").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    // 2 bits -> 4 buckets -> ~1/4 of corpus scanned; expect some overlap
    assert(approx.nonEmpty)
    assert((exact intersect approx).nonEmpty)
  }

  test("simHash emits no row for token-less docs (oracle unnest semantics)") {
    val docs = Seq((1L, "real words here"), (2L, "   "), (3L, ""))
      .toDF("doc_id", "text")
    val got = Dedup.simHash(docs, "doc_id", "text").collect().map(_.getLong(0)).toSet
    assert(got == Set(1L))
  }

  test("dedup results are partition-count invariant (SURVEY §2a invariant 1 generalized)") {
    val docs = engine.Tables.documents(spark, SparkTestSession.sfDir)
    def run(df: org.apache.spark.sql.DataFrame) = (
      Dedup.ngramJaccard(df, "doc_id", "text", 3, 0.05)
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet,
      Dedup.minHashLsh(df, "doc_id", "text", 3, 4, 4, 0.25)
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet)
    val (j1, m1) = run(docs.repartition(1))
    val (j7, m7) = run(docs.repartition(7))
    assert(j1 == j7 && m1 == m7)
  }

  test("skew fixture: doc-frequency cap prunes the hot shingle's quadratic pairs") {
    // 30 docs share exactly ONE "stop shingle" ("hot alpha beta") and are
    // otherwise disjoint: uncapped, the hot shingle alone fans out to
    // C(30,2)=435 pairs (each with jaccard 1/7 >= 0.05). A cap below its
    // doc frequency removes every pair — the cap visibly changes the
    // candidate count, which is the 100 TB failure mode in miniature.
    val skewed = (1 to 30).map(i => (i.toLong, s"hot alpha beta u$i v$i w$i"))
      .toDF("doc_id", "text")
    val uncapped = Dedup.ngramJaccard(skewed, "doc_id", "text", 3, 0.05,
      maxDocFreq = Int.MaxValue).count()
    val capped = Dedup.ngramJaccard(skewed, "doc_id", "text", 3, 0.05,
      maxDocFreq = 10).count()
    assert(uncapped == 435L)
    assert(capped == 0L)
  }

  test("skew fixture: LSH bucket-size cap skips the viral duplicate cluster") {
    // 30 identical docs -> identical signatures -> every band bucket holds
    // all 30 docs. Uncapped: C(30,2)=435 est_jaccard-1.0 pairs; a bucket
    // cap below 30 skips them all (recall traded for bounded fan-out).
    val viral = (1 to 30).map(i => (i.toLong, "the same viral text repeated verbatim"))
      .toDF("doc_id", "text")
    val uncapped = Dedup.minHashLsh(viral, "doc_id", "text", 3, 4, 4, 0.25,
      maxBucketSize = Int.MaxValue).count()
    val capped = Dedup.minHashLsh(viral, "doc_id", "text", 3, 4, 4, 0.25,
      maxBucketSize = 10).count()
    assert(uncapped == 435L)
    assert(capped == 0L)
  }

  test("simhash Hamming<=2 banding is EXACT: equals the brute-force <=2 pair set") {
    val docs = engine.Tables.documents(spark, SparkTestSession.sfDir)
    // pigeonhole completeness + verify-step soundness: the banded join
    // must find exactly the pairs a full O(n^2) popcount scan finds
    val hashes = Dedup.simHash(docs, "doc_id", "text", 16).collect()
      .map(r => (r.getLong(0), r.getLong(1)))
    val expected = (for {
      (a, ha) <- hashes; (b, hb) <- hashes
      if a < b && java.lang.Long.bitCount(ha ^ hb) <= 2
    } yield (a, b)).toSet
    val got = Dedup.simHashNearDup(docs, "doc_id", "text", 16, 2).collect()
    assert(got.map(r => (r.getLong(0), r.getLong(1))).toSet == expected)
    assert(got.forall(_.getLong(2) <= 2))
    // Hamming-0 pairs are a subset by construction
    val h0 = Dedup.simHashDup(docs, "doc_id", "text", 16)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(h0.subsetOf(expected))
  }

  test("simHashBands covers every bit exactly once for all (nBits, d)") {
    for (nBits <- Seq(8, 16, 20, 32, 48, 63); d <- 0 to 4 if nBits >= d + 1) {
      val bands = Dedup.simHashBands(nBits, d)
      assert(bands.size == d + 1)
      assert(bands.map(_._3).sum == nBits)
      assert(bands.map(_._3).max - bands.map(_._3).min <= 1) // widths within 1
      // contiguous, in order, starting at bit 0
      bands.sliding(2).foreach {
        case Seq((_, s1, l1), (_, s2, _)) => assert(s2 == s1 + l1)
        case _ =>
      }
      assert(bands.head._2 == 0)
    }
  }

  test("simhash Hamming<=d banding stays exact at other (nBits, d) shapes") {
    // remainder chunks (nBits not divisible by d+1) and wider hashes
    val docs = engine.Tables.documents(spark, SparkTestSession.sfDir).limit(150)
    for ((nBits, d) <- Seq((20, 3), (63, 1))) {
      val hashes = Dedup.simHash(docs, "doc_id", "text", nBits).collect()
        .map(r => (r.getLong(0), r.getLong(1)))
      val expected = (for {
        (a, ha) <- hashes; (b, hb) <- hashes
        if a < b && java.lang.Long.bitCount(ha ^ hb) <= d
      } yield (a, b)).toSet
      val got = Dedup.simHashNearDup(docs, "doc_id", "text", nBits, d)
        .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
      assert(got == expected, s"mismatch at nBits=$nBits d=$d")
    }
  }

  test("multi-index simhash is EXACT at d=3/4: equals the brute-force pair set") {
    val docs = engine.Tables.documents(spark, SparkTestSession.sfDir).limit(200)
    for ((nBits, d, m) <- Seq((32, 3, 6), (63, 4, 6))) {
      val hashes = Dedup.simHash(docs, "doc_id", "text", nBits).collect()
        .map(r => (r.getLong(0), r.getLong(1)))
      val expected = (for {
        (a, ha) <- hashes; (b, hb) <- hashes
        if a < b && java.lang.Long.bitCount(ha ^ hb) <= d
      } yield (a, b)).toSet
      val got = Dedup.simHashNearDupMulti(docs, "doc_id", "text", nBits, d, m)
        .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
      assert(got == expected, s"mismatch at nBits=$nBits d=$d m=$m")
    }
  }

  test("multi-index d=3 results contain the pigeonhole d<=2 results") {
    val docs = engine.Tables.documents(spark, SparkTestSession.sfDir).limit(300)
    val d2 = Dedup.simHashNearDup(docs, "doc_id", "text", 32, 2)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val d3 = Dedup.simHashNearDupMulti(docs, "doc_id", "text", 32, 3, 6)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(d2.subsetOf(d3))
  }

  test("simHashMultiTables: every d-error pattern leaves >=1 table intact") {
    for ((nBits, m, d) <- Seq((32, 6, 3), (63, 6, 4), (24, 5, 3))) {
      val tables = Dedup.simHashMultiTables(nBits, m, d)
      assert(tables.size ==
        (0 until m).combinations(m - d).size)
      // block layout: each table's blocks are disjoint, within range
      tables.foreach { case (_, blocks) =>
        assert(blocks.map(_._2).sum <= nBits)
        blocks.foreach { case (s, l) => assert(s >= 0 && s + l <= nBits) }
      }
      // exact-recall argument, verified exhaustively: for every way to
      // place d errors into the m blocks, some table avoids all of them
      val w = nBits / m; val r = nBits % m
      val blockOf = (0 until nBits).map { bit =>
        // which block does this bit fall in (mirror of the layout)
        val wideEnd = r * (w + 1)
        if (bit < wideEnd) bit / (w + 1) else r + (bit - wideEnd) / w
      }
      val blockSets = tables.map { case (_, blocks) =>
        blocks.map { case (s, _) => blockOf(s) }.toSet
      }
      (0 until nBits).combinations(d).take(500).foreach { errBits =>
        val dirty = errBits.map(blockOf).toSet
        assert(blockSets.exists(bs => bs.intersect(dirty).isEmpty),
          s"no clean table for errors at $errBits (nBits=$nBits m=$m d=$d)")
      }
    }
  }

  test("multi-probe LSH recall >= single-bucket recall, strictly better here") {
    val e = engine.Tables.embeddings(spark, SparkTestSession.sfDir)
    val q = e.filter(col("vec_id") < 8)
    def pairs(df: org.apache.spark.sql.DataFrame) =
      df.select("query_id", "neighbor_id").collect()
        .map(r => (r.getLong(0), r.getLong(1))).toSet
    val exact = pairs(Ann.bruteForceTopK(e, q, "vec_id", "embedding", 5))
    val plain = pairs(Ann.lshTopK(e, q, "vec_id", "embedding", 5, nBits = 4))
    val probed = pairs(Ann.lshTopK(e, q, "vec_id", "embedding", 5, nBits = 4,
      multiProbe = 4))
    val rPlain = (exact intersect plain).size.toDouble / exact.size
    val rProbed = (exact intersect probed).size.toDouble / exact.size
    assert(rProbed >= rPlain)
    assert(rProbed > rPlain, s"expected strict recall gain, got $rPlain -> $rProbed")
  }

  test("IVF k-means: all-list probe is exact; build is deterministic; sampling works") {
    val e = engine.Tables.embeddings(spark, SparkTestSession.sfDir)
    val q = e.filter(col("vec_id") < 3)
    val exact = Ann.bruteForceTopK(e, q, "vec_id", "embedding", 5)
      .select("query_id", "neighbor_id").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    // probing every list scans the whole corpus -> centroid quality is
    // irrelevant to the result; completeness of the partition is not
    val full = Ann.ivfTopKKmeans(e, q, "vec_id", "embedding", 5,
        nLists = 4, nProbe = 4, iters = 2)
      .select("query_id", "neighbor_id").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(full == exact)
    val c1 = Ann.kmeansCentroids(e, "vec_id", "embedding", 8, iters = 2)
      .collect().map(r => (r.getLong(0), r.getSeq[Double](1))).sortBy(_._1)
    val c2 = Ann.kmeansCentroids(e, "vec_id", "embedding", 8, iters = 2)
      .collect().map(r => (r.getLong(0), r.getSeq[Double](1))).sortBy(_._1)
    assert(c1.toSeq == c2.toSeq)
    // sampled build: still yields centroids and a usable index
    val sampled = Ann.ivfTopKKmeans(e, q, "vec_id", "embedding", 5,
        nLists = 4, nProbe = 2, iters = 1, sampleOneIn = 2)
      .select("query_id", "neighbor_id").collect()
    assert(sampled.nonEmpty)
  }

  test("IVF probe over a parquet-persisted index equals the inline form") {
    // q207's contract: kmeansCentroids + ivfListAssignments written to
    // parquet (lists PARTITIONED BY cid) and read back must drive
    // ivfTopKProbe to the exact rows ivfTopKKmeans computes inline —
    // the 6dp-rounded centroid doubles and the float vectors round-trip
    // losslessly, and the split is definitional
    val e = engine.Tables.embeddings(spark, SparkTestSession.sfDir)
    val q = e.filter(col("vec_id") < 3)
    def rows(df: org.apache.spark.sql.DataFrame) =
      df.select("query_id", "neighbor_id", "cos", "rank").collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2), r.getInt(3))).toSet
    val inline = rows(Ann.ivfTopKKmeans(e, q, "vec_id", "embedding", 5,
      nLists = 8, nProbe = 2, iters = 2))
    val dir = java.nio.file.Files.createTempDirectory("ivf-index").toString
    Ann.kmeansCentroids(e, "vec_id", "embedding", 8, iters = 2)
      .write.mode("overwrite").parquet(s"$dir/cents")
    Ann.ivfListAssignments(e, "vec_id", "embedding",
        spark.read.parquet(s"$dir/cents"))
      .write.mode("overwrite").partitionBy("cid").parquet(s"$dir/lists")
    val persisted = rows(Ann.ivfTopKProbe(q,
      spark.read.parquet(s"$dir/cents"),
      spark.read.parquet(s"$dir/lists").withColumn("cid", col("cid").cast("long")),
      "vec_id", "embedding", k = 5, nProbe = 2))
    assert(inline.nonEmpty)
    assert(persisted == inline, s"persisted=${persisted.size} inline=${inline.size}")
  }

  test("LSH-bucket probe over a parquet-persisted index equals the inline form") {
    // q209's contract: lshBucketAssignments written to parquet
    // (PARTITIONED BY bucket) and read back must drive lshTopKProbe to
    // the exact rows lshTopK computes inline — buckets are a pure
    // per-vector function of the seeded hyperplanes and float vectors
    // round-trip losslessly
    val e = engine.Tables.embeddings(spark, SparkTestSession.sfDir)
    val q = e.filter(col("vec_id") < 3)
    def rows(df: org.apache.spark.sql.DataFrame) =
      df.select("query_id", "neighbor_id", "cos", "rank").collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2), r.getInt(3))).toSet
    val inline = rows(Ann.lshTopK(e, q, "vec_id", "embedding", 5,
      nBits = 4, multiProbe = 2))
    val dir = java.nio.file.Files.createTempDirectory("lsh-buckets").toString
    Ann.lshBucketAssignments(e, "vec_id", "embedding", nBits = 4)
      .write.mode("overwrite").partitionBy("bucket").parquet(dir)
    val persisted = rows(Ann.lshTopKProbe(q,
      spark.read.parquet(dir).withColumn("bucket", col("bucket").cast("long")),
      "vec_id", "embedding", k = 5, nBits = 4, multiProbe = 2))
    assert(inline.nonEmpty)
    assert(persisted == inline, s"persisted=${persisted.size} inline=${inline.size}")
  }

  test("winnowing guarantee: a shared run of w+k-1 tokens yields a shared fingerprint") {
    // doc 1 and 2 share a 6-token run (= w+k-1 with k=3, w=4) inside
    // otherwise-disjoint text; doc 3 is fully disjoint
    val docs = Seq(
      (1L, "aa bb cc shared run of six exact tokens dd ee"),
      (2L, "xx yy shared run of six exact tokens zz ww qq"),
      (3L, "totally different words with no common span at all")
    ).toDF("doc_id", "text")
    val pairs = Dedup.winnowOverlap(docs, "doc_id", "text", 3, 4, minShared = 1)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(pairs.contains((1L, 2L)))
    assert(!pairs.exists { case (a, b) => a == 3L || b == 3L })
    // fingerprints are a subset of the doc's own k-gram hashes (minima)
    val fp1 = Dedup.winnowFingerprints(docs, "doc_id", "text", 3, 4)
      .filter(col("id") === 1L).collect().map(_.getLong(1)).toSet
    assert(fp1.nonEmpty && fp1.size <= 9) // <= number of 3-gram windows
  }

  test("dup-cluster collapse equals a driver-side union-find ground truth") {
    val docs = engine.Tables.documents(spark, SparkTestSession.sfDir)
    val pairs = Dedup.simHashDup(docs, "doc_id", "text", 16)
      .select("id_a", "id_b").collect().map(r => (r.getLong(0), r.getLong(1)))
    assume(pairs.nonEmpty)
    // ground truth: classic union-find over the collected pairs
    val parent = scala.collection.mutable.Map[Long, Long]()
    def find(x: Long): Long = {
      val p = parent.getOrElseUpdate(x, x)
      if (p == x) x else { val r = find(p); parent(x) = r; r }
    }
    for ((a, b) <- pairs) {
      val (ra, rb) = (find(a), find(b))
      if (ra != rb) parent(math.max(ra, rb)) = math.min(ra, rb)
    }
    val truth = parent.keys.map(n => n -> find(n)).toMap
    val got = Dedup.dupClusters(
        Dedup.simHashDup(docs, "doc_id", "text", 16), "id_a", "id_b", 4)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(got == truth) // 4 iterations fully converge these components
    // every label is the minimum of its cluster (the canonical keeper)
    assert(got.groupBy(_._2).forall { case (lbl, members) =>
      members.keys.min == lbl })
  }

  test("star CC converges a 64-node chain where diameter-bound propagation cannot") {
    import spark.implicits._
    // chain 0-1-2-...-63: diameter 63. Star alternation must fully
    // converge (every label 0) within far fewer rounds than the
    // diameter; min-label propagation at the same budget must NOT.
    val pairs = (0L until 63L).map(i => (i, i + 1)).toDF("id_a", "id_b")
    val star = Dedup.dupClustersStar(pairs, "id_a", "id_b", maxRounds = 10)
      .collect().map(r => (r.getLong(0), r.getLong(1)))
    assert(star.length == 64)
    assert(star.forall(_._2 == 0L), s"unconverged: ${star.filter(_._2 != 0L).take(5).toSeq}")
    val prop = Dedup.dupClusters(pairs, "id_a", "id_b", iterations = 10)
      .collect().map(r => (r.getLong(0), r.getLong(1)))
    assert(prop.exists(_._2 != 0L)) // the chain defeats 10 propagation hops
  }

  test("star CC equals the union-find ground truth on the simhash pair graph") {
    val docs = engine.Tables.documents(spark, SparkTestSession.sfDir)
    val pairs = Dedup.simHashDup(docs, "doc_id", "text", 16)
      .select("id_a", "id_b").collect().map(r => (r.getLong(0), r.getLong(1)))
    assume(pairs.nonEmpty)
    val parent = scala.collection.mutable.Map[Long, Long]()
    def find(x: Long): Long = {
      val p = parent.getOrElseUpdate(x, x)
      if (p == x) x else { val r = find(p); parent(x) = r; r }
    }
    for ((a, b) <- pairs) {
      val (ra, rb) = (find(a), find(b))
      if (ra != rb) parent(math.max(ra, rb)) = math.min(ra, rb)
    }
    val truth = parent.keys.map(n => n -> find(n)).toMap
    val got = Dedup.dupClustersStar(
        Dedup.simHashDup(docs, "doc_id", "text", 16), "id_a", "id_b")
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(got == truth)
  }

  test("star CC bounded local path equals the distributed star loop") {
    import spark.implicits._
    // r15 optimization: below localLimit edges dupClustersStar labels
    // via a driver union-find instead of the multi-round star loop.
    // Both paths must agree label-for-label on a graph that mixes a
    // long chain (high diameter), a clique, self-pairs and isolated
    // self-loop nodes; localLimit = 0 forces the distributed loop, on
    // an empty graph too.
    val pairs = ((0L until 40L).map(i => (i, i + 1)) ++
      Seq((100L, 101L), (100L, 102L), (101L, 102L), (200L, 200L)) ++
      (0 until 8).map(i => (300L + i, 300L + (i * 3) % 8))).toDF("id_a", "id_b")
    val empty = Seq.empty[(Long, Long)].toDF("id_a", "id_b")
    for (g <- Seq(pairs, empty)) {
      def labels(limit: Long) =
        Dedup.dupClustersStar(g, "id_a", "id_b", localLimit = limit)
          .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
      val local = labels(200000L)
      val dist = labels(0L)
      assert(local == dist, s"local != distributed: ${
        (local.toSet diff dist.toSet).take(5)} / ${(dist.toSet diff local.toSet).take(5)}")
    }
  }

  test("IVF ANN: probing all lists recovers brute-force exactly; fewer lists approximates") {
    val e = engine.Tables.embeddings(spark, SparkTestSession.sfDir)
    val q = e.filter(col("vec_id") < 3)
    val exact = Ann.bruteForceTopK(e, q, "vec_id", "embedding", 5)
      .select("query_id", "neighbor_id").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    // nProbe == nLists => every list scanned => identical to brute force
    val full = Ann.ivfTopK(e, q, "vec_id", "embedding", 5, nLists = 4, nProbe = 4)
      .select("query_id", "neighbor_id").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(full == exact)
    val approx = Ann.ivfTopK(e, q, "vec_id", "embedding", 5, nLists = 8, nProbe = 2)
      .select("query_id", "neighbor_id").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(approx.nonEmpty)
    assert((exact intersect approx).nonEmpty)
  }

  test("pageRankInt: hand-computed path graph, 2 iterations") {
    // path 1-2-3: deg(1)=deg(3)=1, deg(2)=2, n=3, scale=1e9
    // r0 = 333333333; base = 15*333333333 div 100 = 49999999
    // iter1: r(1)=r(3)=49999999 + 85*166666666 div 100 = 191666665
    //        r(2)=49999999 + 85*666666666 div 100 = 616666665
    // iter2: r(1)=r(3)=49999999 + 85*(616666665 div 2) div 100 = 312083331
    //        r(2)=49999999 + 85*(191666665*2) div 100 = 375833329
    val pairs = Seq((1L, 2L), (2L, 3L)).toDF("id_a", "id_b")
    val got = GraphOps.pageRankInt(pairs, "id_a", "id_b", iters = 2)
      .orderBy("id").collect().map(r => (r.getLong(0), r.getLong(2), r.getLong(1)))
    assert(got.toSeq == Seq((1L, 312083331L, 1L), (2L, 375833329L, 2L),
      (3L, 312083331L, 1L)))
  }

  test("semDedup keeps one representative per planted duplicate set") {
    // two planted duplicate pairs (1≈2 exact copy, 5≈6 tiny perturbation)
    // among orthogonal-ish vectors; whatever clusters k-means lands on,
    // a duplicate pair shares a cluster (identical vectors assign
    // identically) and only its lowest id survives
    val vecs = Seq(
      1L -> Array(1f, 0f, 0f, 0f), 2L -> Array(1f, 0f, 0f, 0f),
      3L -> Array(0f, 1f, 0f, 0f), 4L -> Array(0f, 0f, 1f, 0f),
      5L -> Array(0f, 0f, 0f, 1f), 6L -> Array(0.01f, 0f, 0f, 1f),
      7L -> Array(0.7f, 0.7f, 0f, 0f))
    val df = vecs.toDF("vec_id", "embedding")
    val out = Ann.semDedup(df, "vec_id", "embedding", nLists = 4, eps = 0.95)
      .collect().map(r => r.getLong(0) -> r.getBoolean(2)).toMap
    assert(out.size == 7)
    assert(out(1L) && !out(2L), "exact copy: lowest id kept, copy dropped")
    assert(out(5L) && !out(6L), "perturbed copy dropped")
    assert(out(3L) && out(4L) && out(7L), "non-duplicates all kept")
  }

  test("editDistance1Join: complete vs brute force, and never a cross join") {
    val names = Seq(1L -> "cat", 2L -> "cut", 3L -> "cats", 4L -> "dog", 5L -> "cat")
    val df = names.toDF("id", "name")
    val out = Dedup.editDistance1Join(df, "id", "name")
    // plan is posting-list shaped: no cartesian / nested-loop join
    val plan = out.queryExecution.executedPlan.toString
    assert(!plan.contains("CartesianProduct") && !plan.contains("NestedLoop"), plan.take(300))
    val got = out.collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    // brute force over the fixture: every Levenshtein<=1 pair, a < b
    val brute = (for {
      (ia, sa) <- names; (ib, sb) <- names if ia < ib
      d = {
        val m = Array.tabulate(sa.length + 1, sb.length + 1) { (i, j) =>
          if (i == 0) j else if (j == 0) i else 0
        }
        for (i <- 1 to sa.length; j <- 1 to sb.length)
          m(i)(j) = math.min(math.min(m(i - 1)(j) + 1, m(i)(j - 1) + 1),
            m(i - 1)(j - 1) + (if (sa(i - 1) == sb(j - 1)) 0 else 1))
        m(sa.length)(sb.length)
      } if d <= 1
    } yield (ia, ib, d.toLong)).toSet
    assert(got == brute)
    assert(got == Set((1L, 2L, 1L), (1L, 3L, 1L), (1L, 5L, 0L),
      (2L, 5L, 1L), (3L, 5L, 1L)))
    // the pair-distinct shuffle carries (id_a, id_b, dist) only — string
    // payloads must not survive past candidate verification (VERDICT r05
    // #5). The distinct is the Aggregate grouping on `dist`; its grouping
    // keys ARE the exchange's partition/payload columns, so they must be
    // string-free.
    import org.apache.spark.sql.catalyst.plans.logical.Aggregate
    import org.apache.spark.sql.types.StringType
    val distinctAggs = out.queryExecution.optimizedPlan.collect {
      case a: Aggregate if a.groupingExpressions.exists(
        _.references.exists(_.name == "dist")) => a
    }
    assert(distinctAggs.nonEmpty, "expected a pair-distinct aggregate")
    distinctAggs.foreach { a =>
      assert(!a.groupingExpressions.exists(_.dataType == StringType),
        s"distinct shuffles strings: ${a.groupingExpressions.map(e => s"$e:${e.dataType}")}")
    }
  }

  test("exactSubstringSpans: planted spans reported with exact maximal bounds") {
    val shared = "The quick brown fox jumps over the lazy dog near the riverbank at dawn."
    assert(shared.length >= 40)
    val piece = shared.substring(0, 45)
    // boundary chars around every planted span differ across docs, so a
    // reported span must be exactly the plant — not one char wider
    val a = "XXXX" + shared + "YYYY"
    val b = "QQQQ" + shared + "ZZZZ"
    val c = "no overlap here at all, this text is entirely its own thing today."
    val dd = "mm" + piece + "nn"
    val e = "kk" + shared.substring(0, 39) + "ww" // one char under threshold
    val df = Seq(1L -> a, 2L -> b, 3L -> c, 4L -> dd, 5L -> e)
      .toDF("id", "text")
    val got = Dedup.exactSubstringSpans(df, "id", "text", minLen = 40)
      .collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4)))
      .toSet
    assert(got == Set(
      (1L, 2L, 5L, 5L, shared.length.toLong),
      (1L, 4L, 5L, 3L, piece.length.toLong),
      (2L, 4L, 5L, 3L, piece.length.toLong)))
    // spans are exact coordinates: the named ranges ARE equal text
    got.foreach { case (ia, ib, sa, sb, len) =>
      val texts = Map(1L -> a, 2L -> b, 4L -> dd)
      assert(texts(ia).substring(sa.toInt - 1, sa.toInt - 1 + len.toInt) ==
        texts(ib).substring(sb.toInt - 1, sb.toInt - 1 + len.toInt))
    }
    // maxGramFreq recall contract: a cap of 2 drops exactly the grams
    // all THREE docs share (those inside `piece`, shared-offsets 0..5),
    // so the (1,4)/(2,4) pairs vanish and the (1,2) span SHORTENS to
    // the offset-6.. tail — the documented split/shorten trade
    val capped = Dedup.exactSubstringSpans(df, "id", "text", 40, maxGramFreq = 2)
      .collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4)))
      .toSet
    assert(capped == Set((1L, 2L, 11L, 11L, shared.length.toLong - 6)))
    // posting-list shaped: no cartesian / nested-loop join in the plan
    val plan = Dedup.exactSubstringSpans(df, "id", "text", 40)
      .queryExecution.executedPlan.toString
    assert(!plan.contains("CartesianProduct") && !plan.contains("NestedLoop"))
    // the hashed-gram scale path (8-byte shuffle keys) produces the
    // identical spans on the real corpus (collisions are ~2^-65-rare)
    val docs = spark.read.parquet(s"${SparkTestSession.sfDir}/documents.parquet")
    def spans(hashed: Boolean) =
      Dedup.exactSubstringSpans(docs, "doc_id", "text", 40, hashGrams = hashed)
        .collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4)))
        .toSet
    assert(spans(hashed = true) == spans(hashed = false))
  }

  test("removeDuplicateSpans: higher-id doc loses each span; overlaps merge") {
    val shared = "The quick brown fox jumps over the lazy dog near the riverbank at dawn."
    val piece = shared.substring(0, 45)
    val a = "XXXX" + shared + "YYYY"
    val b = "QQQQ" + shared + "ZZZZ"
    val c = "no overlap here at all, this text is entirely its own thing today."
    val dd = "mm" + piece + "nn"
    val df = Seq(1L -> a, 2L -> b, 3L -> c, 4L -> dd).toDF("id", "text")
    def md5hex(s: String): String =
      java.security.MessageDigest.getInstance("MD5").digest(s.getBytes("UTF-8"))
        .map("%02x".format(_)).mkString
    val got = Dedup.removeDuplicateSpans(df, "id", "text", minLen = 40)
      .collect()
      .map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2), r.getLong(3), r.getString(4))))
      .toMap
    // doc 1 is never the higher id: untouched; doc 3 shares nothing
    assert(got(1L) == ((0L, 0L, a.length.toLong, md5hex(a))))
    assert(got(3L) == ((0L, 0L, c.length.toLong, md5hex(c))))
    // doc 2 loses its whole copy of `shared`
    assert(got(2L) == ((1L, shared.length.toLong, 8L, md5hex("QQQQZZZZ"))))
    // doc 4 loses `piece` ONCE: the identical spans vs docs 1 and 2
    // merge into one interval before cutting
    assert(got(4L) == ((1L, piece.length.toLong, 4L, md5hex("mmnn"))))
  }

  test("selfRepeatSpans: planted within-doc repeats at exact maximal bounds") {
    val block = "the chorus line repeats here" // 28 chars, L=10 grams
    // doc 1: block at pos 3 and pos 41 (disjoint, different neighbors)
    val a = "zz" + block + "-- middle --" + block + "##"
    // doc 2: overlapping period-5 repeat: "abcde"*6 -> one maximal
    // span per diagonal (multiples of 5 within reach of L=10)
    val b = "abcde" * 6
    // doc 3: no repeat of length >= 10
    val c = "every word here appears just once, nothing cycles back again"
    val df = Seq(1L -> a, 2L -> b, 3L -> c).toDF("id", "text")
    val got = Dedup.selfRepeatSpans(df, "id", "text", minLen = 10,
        maxGramFreq = 1000)
      .collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)))
      .toSet
    // doc 1: block starts at 1-based 3 and 3+28+12=43
    val doc1 = (1L, 3L, 43L, block.length.toLong)
    // doc 2 (len 30): diagonals -5/-10/-15/-20: a shift by k*5 matches
    // over 30-k*5 chars (>= 10 for k <= 4), anchored at pos 1
    val doc2 = (1 to 4).map(k => (2L, 1L, 1L + 5L * k, 30L - 5L * k))
      .filter(_._4 >= 10L).toSet
    assert(got == doc2 + doc1, got.toString)
    // hashGrams mode is result-identical here too
    val hashed = Dedup.selfRepeatSpans(df, "id", "text", minLen = 10,
        hashGrams = true).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3))).toSet
    assert(hashed == got)
  }

  test("removeDuplicateSpans includeSelf: doc keeps first occurrence, loses repeat") {
    def md5hex(s: String): String =
      java.security.MessageDigest.getInstance("MD5").digest(s.getBytes("UTF-8"))
        .map("%02x".format(_)).mkString
    val block = "the chorus line repeats here"
    val a = "zz" + block + "-- middle --" + block + "##"
    val c = "every word here appears just once, nothing cycles back again"
    val df = Seq(1L -> a, 3L -> c).toDF("id", "text")
    val got = Dedup.removeDuplicateSpans(df, "id", "text", minLen = 10,
        includeSelf = true)
      .collect()
      .map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2), r.getLong(3), r.getString(4))))
      .toMap
    // doc 1 keeps the FIRST block, loses the second (cut at its start)
    val cleaned = "zz" + block + "-- middle --" + "##"
    assert(got(1L) == ((1L, block.length.toLong, cleaned.length.toLong, md5hex(cleaned))))
    assert(got(3L) == ((0L, 0L, c.length.toLong, md5hex(c))))
    // includeSelf = false leaves the self-repeat untouched
    val crossOnly = Dedup.removeDuplicateSpans(df, "id", "text", minLen = 10)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(crossOnly(1L) == 0L)
  }

  test("recallAtK: perfect, partial, and empty candidates score exactly") {
    val truth = Seq((1L, 10L), (1L, 11L), (1L, 12L), (1L, 13L),
      (2L, 20L), (2L, 21L), (3L, 30L)).toDF("query_id", "neighbor_id")
    // q1: 2 of 4 recovered (+1 spurious, which must not count);
    // q2: both recovered; q3: nothing recovered
    val cand = Seq((1L, 10L), (1L, 12L), (1L, 99L), (2L, 20L), (2L, 21L))
      .toDF("query_id", "neighbor_id")
    val got = Ann.recallAtK(truth, cand).collect()
      .map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2), r.getDouble(3))))
      .toMap
    assert(got == Map(
      1L -> ((4L, 2L, 0.5)), 2L -> ((2L, 2L, 1.0)), 3L -> ((1L, 0L, 0.0))))
    // self-evaluation of an exact method is identically 1.0
    val e = engine.Tables.embeddings(spark, SparkTestSession.sfDir)
    val q = e.filter(col("vec_id") < 3)
    val brute = Ann.bruteForceTopK(e, q, "vec_id", "embedding", 5)
    assert(Ann.recallAtK(brute, brute).collect()
      .forall(_.getDouble(3) == 1.0))
  }

  test("bloomIncrementalExact: exact pairs out, bloom demonstrably prunes") {
    val pfx = "this prefix is exactly forty characters!"
    assert(pfx.length == 40)
    // corpus: 2 docs sharing `pfx`-prefixes + 60 unrelated; batch: one
    // true duplicate + 40 docs that match nothing
    val corpus = (Seq(1L -> (pfx + " corpus tail one"), 2L -> (pfx + " corpus tail two")) ++
      (10L to 69L).map(i => i -> s"corpus filler number $i with its own unique prefix text"))
      .toDF("id", "text")
    val batch = (Seq(100L -> (pfx + " arriving batch tail")) ++
      (200L to 239L).map(i => i -> s"batch filler number $i nothing like the corpus at all"))
      .toDF("id", "text")
    val out = Dedup.bloomIncrementalExact(corpus, batch, "id", "text", prefixLen = 40)
    val got = out.collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(got == Set((100L, 1L), (100L, 2L)))
    // the bloom filter is in the plan (ConvertToLocalRelation folds it
    // into this in-memory fixture's LocalTableScan before physical
    // planning, so assert on the analyzed plan, where the Filter node
    // still stands)
    val bloomPlan = out.queryExecution.analyzed.toString
    assert(bloomPlan.contains("might_contain"), bloomPlan.take(500))
    // empty corpus -> empty result (null bloom guard)
    assert(Dedup.bloomIncrementalExact(corpus.limit(0), batch, "id", "text", 40)
      .count() == 0)
  }

  test("editDistance1Join maxKeyFreq cap: dropped keys are enumerable") {
    // three 1-char strings pairwise at distance 1, sharing ONLY the ""
    // deletion key; cap 2 drops that key, losing all pairs — and the
    // diagnostic companion names exactly what was dropped
    val df = Seq(1L -> "a", 2L -> "b", 3L -> "c").toDF("id", "name")
    assert(Dedup.editDistance1Join(df, "id", "name", maxKeyFreq = 2).count() == 0)
    val dropped = Dedup.editDistance1DroppedKeys(df, "id", "name", maxKeyFreq = 2)
      .collect().map(r => (r.getString(0), r.getLong(1)))
    assert(dropped.toSeq == Seq(("", 3L)))
    // at an adequate cap nothing is dropped and the join is exhaustive
    assert(Dedup.editDistance1DroppedKeys(df, "id", "name").count() == 0)
    assert(Dedup.editDistance1Join(df, "id", "name").count() == 3)
  }

  test("editDistance1SelfJoinPostings over deletionKeyPostings == editDistance1Join") {
    // the index form keeps singleton lists (size <= cap only) and the
    // self-join restores the >= 2 floor; at cap 2 the "" key (3 members)
    // drops on both paths while the size-2 "a", "b" and "ab" keys of
    // the extended fixture survive
    val abc = Seq(1L -> "a", 2L -> "b", 3L -> "c")
    val extended = abc ++ Seq(4L -> "ab", 5L -> "abc", 6L -> "xyz")
    def rows(d: org.apache.spark.sql.DataFrame) =
      d.collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    for (fixture <- Seq(abc, extended); cap <- Seq(1000, 2)) {
      val df = fixture.toDF("id", "name")
      val inline = rows(Dedup.editDistance1Join(df, "id", "name", maxKeyFreq = cap))
      val viaIndex = rows(Dedup.editDistance1SelfJoinPostings(
        Dedup.deletionKeyPostings(df, "id", "name", maxKeyFreq = cap)))
      assert(viaIndex == inline, s"n=${fixture.size} cap=$cap")
    }
    assert(rows(Dedup.editDistance1Join(extended.toDF("id", "name"), "id", "name",
      maxKeyFreq = 2)) == Set((1L, 4L, 1L), (2L, 4L, 1L), (4L, 5L, 1L)))
  }

  test("triangleStats: hand graph with one triangle, a pendant, and a path") {
    // 1-2-3 triangle, 3-4 pendant, 4-5-6 path
    val pairs = Seq((1L, 2L), (2L, 3L), (3L, 1L), (3L, 4L), (4L, 5L), (5L, 6L))
      .toDF("id_a", "id_b")
    val r = GraphOps.triangleStats(pairs, "id_a", "id_b").collect().head
    // degrees: 1:2 2:2 3:3 4:2 5:2 6:1 -> wedges 1+1+3+1+1+0 = 7
    assert((r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)) ==
      (6L, 6L, 1L, 7L))
    assert(r.getDouble(4) == math.rint(3.0 / 7 * 10000) / 10000)
    // duplicate and reversed input edges collapse to the same stats
    val noisy = pairs.unionAll(Seq((2L, 1L), (1L, 3L)).toDF("id_a", "id_b"))
    val r2 = GraphOps.triangleStats(noisy, "id_a", "id_b").collect().head
    assert(r2.getLong(2) == 1L && r2.getLong(1) == 6L)
  }

  test("pageRankInt equals a driver-side long-arithmetic brute force") {
    val pairs = Dedup.simHashDup(
      spark.read.parquet(s"${SparkTestSession.sfDir}/documents.parquet"),
      "doc_id", "text", nBits = 16)
    val edges = pairs.select("id_a", "id_b").as[(Long, Long)].collect()
      .flatMap { case (a, b) => Seq((a, b), (b, a)) }
    assume(edges.nonEmpty)
    val deg = edges.groupBy(_._1).map { case (k, v) => k -> v.length.toLong }
    val n = deg.size.toLong
    val scale = 1000000000L
    val base = (15L * (scale / n)) / 100L
    var rank = deg.keys.map(_ -> scale / n).toMap
    for (_ <- 1 to 3) {
      val contrib = rank.map { case (k, r) => k -> r / deg(k) }
      val sums = edges.groupBy(_._2).map { case (v, es) =>
        v -> es.map(e => contrib(e._1)).sum
      }
      rank = deg.keys.map(k => k -> (base + (85L * sums.getOrElse(k, 0L)) / 100L)).toMap
    }
    val got = GraphOps.pageRankInt(pairs, "id_a", "id_b", iters = 3)
      .collect().map(r => (r.getLong(0), r.getLong(2))).toMap
    assert(got.size == n)
    got.foreach { case (id, r) => assert(rank(id) == r, s"node $id") }
  }

  test("ssspHops at unit weight: hand graph — min over seeds, hop cap, isolated seed") {
    import spark.implicits._
    // chain 1-2-3-4-5-6, branch 3-30; seeds {1, 30}; node 99 isolated
    val pairs = Seq((1L, 2L), (2L, 3L), (3L, 4L), (4L, 5L), (5L, 6L), (3L, 30L))
      .toDF("id_a", "id_b")
    val seeds = Seq(1L, 30L, 99L).toDF("doc_id")
    def hops(p: org.apache.spark.sql.DataFrame, s: org.apache.spark.sql.DataFrame,
             k: Int) =
      GraphOps.ssspHops(p.withColumn("w", lit(1L)), "id_a", "id_b", "w",
          s, "doc_id", maxHops = k)
        .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val got = hops(pairs, seeds, 3)
    // node 4: via 3 (min(seed1: 1-2-3-4 = 3, seed30: 30-3-4 = 2)) = 2
    assert(got == Map(1L -> 0L, 30L -> 0L, 99L -> 0L,
      2L -> 1L, 3L -> 1L, 4L -> 2L, 5L -> 3L, 6L -> 4L).filter(_._2 <= 3))
    // cap respected: 6 (distance 4) absent above; maxHops=5 reaches it
    val full = hops(pairs, seeds, 5)
    assert(full(6L) == 4L)
    // partition-invariance of the iterative min-agg
    val rep = hops(pairs.repartition(5), seeds.repartition(2), 3)
    assert(rep == got)
  }

  test("graph local twins equal the distributed loops (bfs/sssp/kCore)") {
    import spark.implicits._
    // r15: below Shape.LocalRowLimit the iterative graph ops run a
    // driver twin; localLimit = 0 forces the distributed loop on the
    // same inputs — results must agree map-for-map on graphs that mix
    // chains, branches, weights, islands and isolated seeds, and on an
    // empty graph.
    val pairs = (Seq((1L, 2L), (2L, 3L), (3L, 4L), (4L, 5L), (5L, 6L),
      (3L, 30L), (7L, 8L)) ++ (0 until 10).map(i => (40L + i, 41L + i)))
      .toDF("id_a", "id_b")
    val noPairs = Seq.empty[(Long, Long)].toDF("id_a", "id_b")
    val seeds = Seq(1L, 30L, 99L, 45L).toDF("doc_id")
    def mp(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    for (p <- Seq(pairs, noPairs); unit = p.withColumn("w", lit(1L)))
      assert(mp(GraphOps.ssspHops(unit, "id_a", "id_b", "w", seeds, "doc_id", 3)) ==
        mp(GraphOps.ssspHops(unit, "id_a", "id_b", "w", seeds, "doc_id", 3,
          localLimit = 0L)))
    val wedges = Seq((1L, 2L, 1L), (2L, 3L, 1L), (1L, 3L, 10L),
      (3L, 4L, 2L), (4L, 5L, 2L), (6L, 7L, 1L)).toDF("id_a", "id_b", "w")
    val noWedges = Seq.empty[(Long, Long, Long)].toDF("id_a", "id_b", "w")
    val wseeds = Seq(1L).toDF("doc_id")
    for (w <- Seq(wedges, noWedges); k <- Seq(1, 2, 4))
      assert(mp(GraphOps.ssspHops(w, "id_a", "id_b", "w", wseeds,
          "doc_id", k)) ==
        mp(GraphOps.ssspHops(w, "id_a", "id_b", "w", wseeds,
          "doc_id", k, localLimit = 0L)), s"sssp maxHops=$k")
    val g = Seq((1L, 2L), (2L, 3L), (1L, 3L), (3L, 4L), (4L, 5L),
      (5L, 6L), (6L, 4L), (4L, 3L)).toDF("id_a", "id_b")
    for (p <- Seq(g, noPairs); k <- Seq(1, 2, 3))
      assert(mp(GraphOps.kCore(p, "id_a", "id_b", k, maxRounds = 10)) ==
        mp(GraphOps.kCore(p, "id_a", "id_b", k, maxRounds = 10,
          localLimit = 0L)), s"kCore k=$k")
  }

  /** A pair graph mixing chains, cliques, bridges and isolated islands. */
  private val mixedEdges: Seq[(Long, Long)] =
    Seq((1L, 2L), (2L, 3L), (3L, 4L), (4L, 5L), (5L, 6L),
      (3L, 30L), (7L, 8L), (1L, 3L), (2L, 4L)) ++
      (0 until 10).map(i => (40L + i, 41L + i)) ++
      Seq((60L, 61L), (61L, 62L), (62L, 60L))

  private def m3(df: org.apache.spark.sql.DataFrame) =
    df.collect().map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2))).toMap

  test("fixed-round graph local twins equal the distributed loops " +
      "(pageRank/pPR/weightedPR/LPA)") {
    import spark.implicits._
    // r16: the four fixed-round integer loops got bounded local twins;
    // localLimit = 0 forces the distributed loop on the same inputs —
    // scaled-long ranks and vote labels must agree BIT-identically
    // (the arithmetic is integral, so there is no tolerance) on graphs
    // mixing chains, cliques, bridges and isolated islands.
    val pairs = mixedEdges.toDF("id_a", "id_b")
    def m2(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    for (it <- Seq(1, 3))
      assert(m3(GraphOps.pageRankInt(pairs, "id_a", "id_b", it)
          .select("id", "d", "r")) ==
        m3(GraphOps.pageRankInt(pairs, "id_a", "id_b", it, localLimit = 0L)
          .select("id", "d", "r")), s"pageRank iters=$it")
    val seeds = Some((Seq(1L, 30L, 99L, 45L).toDF("doc_id"), "doc_id"))
    for (it <- Seq(1, 3))
      assert(m3(GraphOps.pageRankInt(pairs, "id_a", "id_b", it,
          seeds = seeds).select("id", "d", "r")) ==
        m3(GraphOps.pageRankInt(pairs, "id_a", "id_b", it,
          seeds = seeds, localLimit = 0L).select("id", "d", "r")),
        s"pPR iters=$it")
    val wedges = Seq((1L, 2L, 3L), (2L, 3L, 1L), (1L, 3L, 10L),
      (3L, 4L, 2L), (4L, 5L, 2L), (6L, 7L, 1L), (5L, 6L, 4L))
      .toDF("id_a", "id_b", "w")
    for (it <- Seq(1, 3))
      assert(m3(GraphOps.pageRankInt(wedges, "id_a", "id_b", it,
          weightCol = Some("w"))) ==
        m3(GraphOps.pageRankInt(wedges, "id_a", "id_b", it,
          weightCol = Some("w"), localLimit = 0L)), s"weightedPR iters=$it")
    // the empty graph: no rows from the rank loop on either path; with
    // seeds there is no seed in the graph, which is an error on both
    val noPairs = Seq.empty[(Long, Long)].toDF("id_a", "id_b")
    for (limit <- Seq(engine.Shape.LocalRowLimit, 0L)) {
      assert(GraphOps.pageRankInt(noPairs, "id_a", "id_b", 3,
        localLimit = limit).collect().isEmpty, s"empty PR localLimit=$limit")
      val err = intercept[IllegalArgumentException](GraphOps.pageRankInt(
        noPairs, "id_a", "id_b", 3, seeds = seeds, localLimit = limit))
      assert(err.getMessage.contains("no seed node appears in the pair graph"))
    }
    for (p <- Seq(pairs, noPairs); r <- Seq(0, 1, 3))
      assert(m2(GraphOps.labelPropagation(p, "id_a", "id_b", r)) ==
        m2(GraphOps.labelPropagation(p, "id_a", "id_b", r,
          localLimit = 0L)), s"LPA rounds=$r")
  }

  test("rank and hop special cases equal their general forms on both paths") {
    // unweighted PageRank is weight 1, uniform teleport is "every node
    // is a seed", and BFS is ssspHops at unit weight — each checked on
    // the mixed graph with the local twin and the distributed loop
    val pairs = mixedEdges.toDF("id_a", "id_b")
    val unit = pairs.withColumn("w", lit(1L))
    val nodes = mixedEdges.flatMap { case (a, b) => Seq(a, b) }.distinct
    val everyNode = Some((nodes.toDF("n"), "n"))
    val seeds = Seq(1L, 30L, 99L, 45L)
    val adj = mixedEdges.flatMap { case (a, b) => Seq(a -> b, b -> a) }
      .groupBy(_._1).map { case (k, vs) => k -> vs.map(_._2) }
    def driverBfs(k: Int): Map[Long, Long] = {
      var dist = seeds.map(_ -> 0L).toMap
      var frontier = seeds
      for (h <- 1 to k) {
        frontier = frontier.flatMap(adj.getOrElse(_, Nil)).distinct
          .filterNot(dist.contains)
        dist ++= frontier.map(_ -> h.toLong)
      }
      dist
    }
    for (limit <- Seq(engine.Shape.LocalRowLimit, 0L)) {
      for (it <- Seq(1, 3)) {
        val plain = m3(GraphOps.pageRankInt(pairs, "id_a", "id_b", it,
          localLimit = limit))
        assert(plain.keySet == nodes.toSet)
        assert(m3(GraphOps.pageRankInt(unit, "id_a", "id_b", it,
          weightCol = Some("w"), localLimit = limit)) == plain,
          s"all-1 weights, iters=$it localLimit=$limit")
        assert(m3(GraphOps.pageRankInt(pairs, "id_a", "id_b", it,
          seeds = everyNode, localLimit = limit)) == plain,
          s"every node a seed, iters=$it localLimit=$limit")
      }
      for (k <- Seq(0, 1, 2, 4, 12))
        assert(GraphOps.ssspHops(unit, "id_a", "id_b", "w",
            seeds.toDF("doc_id"), "doc_id", k, localLimit = limit)
          .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap ==
          driverBfs(k), s"unit-weight sssp, maxHops=$k localLimit=$limit")
    }
  }

  test("ppJoinShingles equals the brute-force model at several thresholds") {
    import spark.implicits._
    val rnd = new scala.util.Random(23)
    val vocab = Vector("alpha", "beta", "gamma", "delta", "eps", "zeta",
      "eta", "theta", "iota", "kappa")
    def doc() = Seq.fill(8 + rnd.nextInt(8))(vocab(rnd.nextInt(vocab.size))).mkString(" ")
    val base = (1L to 30L).map(i => (i, doc()))
    // planted near-dups: copy with one word changed
    val dups = base.take(6).map { case (i, t) =>
      (i + 100L, t.split(" ").updated(0, "omega").mkString(" ")) }
    val docs = (base ++ dups).toDF("doc_id", "text")
    def shingleSet(t: String): Set[String] = {
      val toks = t.trim.split("\\s+").toSeq
      if (toks.size < 3) Set(toks.mkString(" "))
      else toks.sliding(3).map(_.mkString(" ")).toSet
    }
    val sets = (base ++ dups).map { case (i, t) => i -> shingleSet(t) }.toMap
    for (tPpm <- Seq(300000L, 600000L)) {
      val model = (for {
        (a, sa) <- sets; (b, sb) <- sets if a < b
        inter = (sa & sb).size
        jac = inter.toLong * 1000000L / (sa.size + sb.size - inter)
        if jac >= tPpm
      } yield (a, b, inter.toLong, jac)).toSet
      val got = Dedup.ppJoinShingles(docs, "doc_id", "text", tPpm)
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)))
        .toSet
      assert(got == model, s"tPpm=$tPpm: prefix filter must lose nothing")
      assert(model.nonEmpty, s"tPpm=$tPpm: vacuous fixture")
    }
  }

  test("pageRankInt with seeds: hand path graph, teleport only to the seed") {
    import spark.implicits._
    // path 1-2-3, seed {1}, scale 1e9, 2 iterations — hand-unrolled:
    // r0 = [1e9, 0, 0]; deg = [1, 2, 1]; base = 15e7 (seed only)
    // it1: 2 <- 1e9 from node 1        => r1 = [15e7, 85e7, 0]
    // it2: 1,3 <- 425e6 each from node 2; 2 <- 15e7 from node 1
    //   r2 = [15e7 + 361250000, 127500000, 361250000]
    val pairs = Seq((1L, 2L), (2L, 3L)).toDF("id_a", "id_b")
    val seeds = Seq(1L).toDF("doc_id")
    val got = GraphOps.pageRankInt(pairs, "id_a", "id_b", iters = 2,
        seeds = Some((seeds, "doc_id")))
      .collect().map(r => r.getLong(0) -> r.getLong(2)).toMap
    assert(got == Map(1L -> 511250000L, 2L -> 127500000L, 3L -> 361250000L),
      got.toString)
    // non-seed nodes get NO teleport mass: with the seed removed from
    // the graph's reach (isolated seed), ranks would be undefined —
    // assert instead that total mass stays bounded by scale
    assert(got.values.sum <= 1000000000L)
  }

  test("ssspHops: cheaper 2-edge path beats direct edge; hop cap flips it") {
    import spark.implicits._
    // triangle 1-2 (w1), 2-3 (w1), 1-3 (w10); island 4-5; seed {1}
    val edges = Seq((1L, 2L, 1L), (2L, 3L, 1L), (1L, 3L, 10L), (4L, 5L, 2L))
      .toDF("id_a", "id_b", "w")
    val seeds = Seq(1L).toDF("doc_id")
    def run(k: Int) = GraphOps.ssspHops(edges, "id_a", "id_b", "w",
        seeds, "doc_id", maxHops = k)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    // 2 rounds: node 3 reached cheaper via 1-2-3 (2) than direct (10)
    assert(run(2) == Map(1L -> 0L, 2L -> 1L, 3L -> 2L))
    // 1 round: only direct edges relaxed, node 3 pays the w=10 edge
    assert(run(1) == Map(1L -> 0L, 2L -> 1L, 3L -> 10L))
    // island 4-5 unreachable: absent, not infinite
    assert(!run(3).contains(4L) && !run(3).contains(5L))
    // partition invariance of the iterative min-merge
    val rep = GraphOps.ssspHops(edges.repartition(4), "id_a", "id_b", "w",
        seeds.repartition(2), "doc_id", maxHops = 2)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(rep == run(2))
  }

  test("kCore: tails peel, anchored paths survive, fixpoint bound throws") {
    import spark.implicits._
    // triangle 1-2-3 with tail 3-4-5: the tail peels inward (5 then 4),
    // the triangle is the 2-core at degree 2 each
    val g1 = Seq((1L, 2L), (2L, 3L), (1L, 3L), (3L, 4L), (4L, 5L))
      .toDF("id_a", "id_b")
    val core1 = GraphOps.kCore(g1, "id_a", "id_b", k = 2, maxRounds = 5)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(core1 == Map(1L -> 2L, 2L -> 2L, 3L -> 2L))
    // path BETWEEN two triangles: every path node keeps degree 2, so
    // the whole graph is its own 2-core (peeling never starts)
    val g2 = Seq((1L, 2L), (2L, 3L), (1L, 3L), (3L, 4L), (4L, 5L), (5L, 6L),
      (6L, 7L), (7L, 8L), (6L, 8L)).toDF("id_a", "id_b")
    val core2 = GraphOps.kCore(g2, "id_a", "id_b", k = 2, maxRounds = 5)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(core2.keySet == (1L to 8L).toSet && core2(4L) == 2L)
    // 10-node path at k=2 needs 5 peel rounds to empty — a bound of 3
    // must throw (never silently return a non-fixpoint), 5 must empty
    val path = (1L to 9L).map(i => (i, i + 1)).toDF("id_a", "id_b")
    intercept[IllegalArgumentException] {
      GraphOps.kCore(path, "id_a", "id_b", k = 2, maxRounds = 3).collect()
    }
    assert(GraphOps.kCore(path, "id_a", "id_b", k = 2, maxRounds = 5).count() == 0L)
    // partition invariance of the peel loop
    val rep = GraphOps.kCore(g1.repartition(4), "id_a", "id_b", 2, 5)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(rep == core1)
  }

  test("int8GramMatrix: hand X'X, floor quantization, partition-invariance") {
    import spark.implicits._
    // m = 2: [1,-1] -> [63, -64] (floor(-63.5) = -64), [2,0] -> [127, 0]
    val df = Seq((1L, Array(1.0f, -1.0f)), (2L, Array(2.0f, 0.0f)))
      .toDF("vec_id", "embedding")
    val got = Ann.int8GramMatrix(df, "embedding")
      .collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getLong(2)).toMap
    assert(got == Map((0L, 0L) -> 20098L, (0L, 1L) -> -4032L,
      (1L, 1L) -> 4096L))
    val rep = Ann.int8GramMatrix(df.repartition(3), "embedding")
      .collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getLong(2)).toMap
    assert(rep == got)
  }

  test("sortedNeighborhoodPairs: window geometry, ties, partition-invariance") {
    import spark.implicits._
    // sort order by (key, id): b1(2) b2(5) b2(7) c1(1) d4(9) — window 3
    // pairs = positions within 2 of each other
    val df = Seq((1L, "c1"), (2L, "b1"), (5L, "b2"), (7L, "b2"), (9L, "d4"))
      .toDF("id", "k")
    val got = Dedup.sortedNeighborhoodPairs(df, "id", "k", window = 3)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    // sorted: 2,5,7,1,9 -> pairs at distance 1-2
    assert(got == Set((2L, 5L), (2L, 7L), (5L, 7L), (5L, 1L), (7L, 1L),
      (7L, 9L), (1L, 9L)))
    val rep = Dedup.sortedNeighborhoodPairs(df.repartition(4), "id", "k",
        window = 3, numPartitions = 3)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(rep == got)
    // candidate count is exactly n*(w-1) - boundary truncation
    assert(got.size == 5 * 2 - 3)
  }

  test("cmsJoinSizeEstimate: overestimate-only, exact at collision-free width") {
    import spark.implicits._
    import graft.operators.Sketches
    val a = Seq(1L, 1L, 1L, 2L, 3L).toDF("k")
    val b = Seq(1L, 2L, 2L, 4L).toDF("k")
    // exact |A join B| = 3*1 + 1*2 = 5
    val wide = Sketches.cmsJoinSizeEstimate(
      Sketches.cmsBuildKeys(a, "k", 4, 32768, "t_"),
      Sketches.cmsBuildKeys(b, "k", 4, 32768, "t_"))
      .collect()(0).getLong(0)
    assert(wide == 5L, s"collision-free width must be exact, got $wide")
    // a tiny width forces collisions; the estimate may only go UP
    val tight = Sketches.cmsJoinSizeEstimate(
      Sketches.cmsBuildKeys(a, "k", 4, 2, "t_"),
      Sketches.cmsBuildKeys(b, "k", 4, 2, "t_"))
      .collect()(0).getLong(0)
    assert(tight >= 5L, s"count-min join size must never underestimate, got $tight")
  }

  test("pqTopK: clustered corpus retrieves own cluster; partition-invariant") {
    import spark.implicits._
    // 4 well-separated prototypes in R^64; 10 members each with tiny
    // deterministic jitter. PQ-coded distances must rank same-cluster
    // members above every other cluster for a prototype query.
    def proto(c: Int) = Array.tabulate(64)(i =>
      if (i % 4 == c) 10.0f else 0.0f)
    val corpus = (for {
      c <- 0 until 4
      j <- 0 until 10
    } yield {
      val v = proto(c).clone()
      v(j % 64) = v(j % 64) + 0.01f * ((c * 10 + j) % 7)
      ((c * 10 + j).toLong, v)
    }).toDF("vec_id", "embedding")
    val queries = (0 until 4).map(c => (100L + c, proto(c)))
      .toDF("vec_id", "embedding")
    val got = Ann.pqTopK(corpus, queries, "vec_id", "embedding",
        k = 5, m = 8, codesPerSub = 8, iters = 2)
      .collect().map(r => (r.getLong(0), r.getLong(1)))
    assert(got.length == 20)
    got.foreach { case (qid, nid) =>
      val c = (qid - 100L).toInt
      assert(nid / 10 == c, s"query $qid pulled $nid from another cluster")
    }
    // partition invariance: codebooks, codes and LUT sums are all
    // deterministic functions of the data
    val rep = Ann.pqTopK(corpus.repartition(7), queries.repartition(3),
        "vec_id", "embedding", k = 5, m = 8, codesPerSub = 8, iters = 2)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2), r.getLong(3))).toSet
    val base = Ann.pqTopK(corpus, queries, "vec_id", "embedding",
        k = 5, m = 8, codesPerSub = 8, iters = 2)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2), r.getLong(3))).toSet
    assert(rep == base)
  }

  test("dbscanGrid: blobs, border min-label, noise, multiplicity collapse") {
    import spark.implicits._
    // blob A: 4 points at (10,10)-(11,11); blob B: 4 points at (50,50)
    // area; outlier at (90,90); border point at (14,10) — within eps of
    // blob A's cores but with a sparse own-neighborhood
    val pts = Seq(
      (1L, 10L, 10L), (2L, 11L, 10L), (3L, 10L, 11L), (4L, 11L, 11L),
      (10L, 50L, 50L), (11L, 51L, 50L), (12L, 50L, 51L), (13L, 51L, 51L),
      (20L, 90L, 90L),
      (30L, 14L, 10L)
    ).toDF("id", "x", "y")
    val got = Ann.dbscanGrid(pts, "id", "x", "y", eps = 3L, minPts = 4)
      .collect().map(r => r.getLong(0) -> (r.getString(1), r.getLong(2))).toMap
    assert((1L to 4L).forall(i => got(i) == (("core", 1L))))
    assert((10L to 13L).forall(i => got(i) == (("core", 10L))))
    assert(got(20L) == (("noise", -1L)))
    assert(got(30L) == (("border", 1L)))
    // duplicate positions collapse but every point reports; the extra
    // mass promotes the outlier pair to core
    val dup = pts.unionAll(Seq((21L, 90L, 90L), (22L, 90L, 90L),
      (23L, 90L, 90L)).toDF("id", "x", "y"))
    val got2 = Ann.dbscanGrid(dup, "id", "x", "y", eps = 3L, minPts = 4)
      .collect().map(r => r.getLong(0) -> (r.getString(1), r.getLong(2))).toMap
    assert(got2(20L) == (("core", 20L)) && got2(23L) == (("core", 20L)))
    assert(got2(1L) == (("core", 1L)))
  }

  test("pageRankInt with weights: hand triangle, weights steer the flow") {
    import spark.implicits._
    // edges 1-2 (w3), 2-3 (w1); undirected. swt: 1->3, 2->4, 3->1.
    // scale 1e9, n=3, r0=333333333, base=49999999 (15% of r0).
    // it1: node1 gets (r0*3) div 4 = 249999999 -> r=49999999+212499999
    //      node2 gets (r0*3) div 3 + (r0*1) div 1 = 333333333+333333333
    //      node3 gets (r0*1) div 4 = 83333333
    val e = Seq((1L, 2L, 3L), (2L, 3L, 1L)).toDF("u", "v", "w")
    val rows = GraphOps.pageRankInt(e, "u", "v", iters = 1,
        weightCol = Some("w")).collect()
    val got = rows.map(r => r.getLong(0) -> r.getLong(2)).toMap
    // d is the incident weight sum
    assert(rows.map(r => r.getLong(0) -> r.getLong(1)).toMap ==
      Map(1L -> 3L, 2L -> 4L, 3L -> 1L))
    val r0 = 1000000000L / 3
    val base = (15L * r0) / 100
    assert(got(1L) == base + (85L * ((r0 * 3) / 4)) / 100)
    assert(got(2L) == base + (85L * ((r0 * 3) / 3 + (r0 * 1) / 1)) / 100)
    assert(got(3L) == base + (85L * ((r0 * 1) / 4)) / 100)
    // heavier 1-2 edge must rank 2 above what the unweighted walk gives 3
    assert(got(2L) > got(3L))
  }

  test("naiveBayesConfusion: separable corpus classifies diagonal-only") {
    import spark.implicits._
    // two classes with DISJOINT vocabularies; whatever the md5 split
    // selects as eval must land on the diagonal
    val docs = (
      (1L to 30L).map(i => (i, "foo bar foo bar foo", "x")) ++
      (31L to 60L).map(i => (i, "baz qux baz qux baz", "y"))
    ).toDF("doc_id", "text", "lang")
    val got = Curation.naiveBayesConfusion(docs, "doc_id", "text", "lang")
      .collect().map(r => (r.getString(0), r.getString(1), r.getLong(2)))
    assert(got.nonEmpty)
    assert(got.forall { case (a, p, _) => a == p }, got.mkString(";"))
    // deterministic across partitionings (md5 split + integer costs)
    val rep = Curation.naiveBayesConfusion(docs.repartition(7),
        "doc_id", "text", "lang")
      .collect().map(r => (r.getString(0), r.getString(1), r.getLong(2)))
    assert(rep.sorted.toSeq == got.sorted.toSeq)
  }

  test("kCenterGreedy matches a driver-side farthest-first model") {
    import spark.implicits._
    import graft.functions.TextFunctions.tokenHash64Jvm
    val rnd = new scala.util.Random(11)
    val rows = (1L to 60L).map(id =>
      (id, Array.fill(4)(rnd.nextFloat() * 2f - 1f)))
    val df = rows.toDF("vec_id", "embedding")
    def d2(v: Array[Float], c: Array[Double]): Double = {
      var vv = 0.0; var dot = 0.0; var cc = 0.0
      for (j <- v.indices) { val x = v(j).toDouble; vv += x * x; dot += x * c(j) }
      c.foreach(x => cc += x * x)
      java.math.BigDecimal.valueOf(vv - 2.0 * dot + cc)
        .setScale(6, java.math.RoundingMode.HALF_UP).doubleValue()
    }
    // model: md5-min seed, then argmax of min-dist with ties to min id
    val seedId = rows.minBy(r => (tokenHash64Jvm("kc_" + r._1), r._1))._1
    var cents = Seq(rows.find(_._1 == seedId).get._2.map(_.toDouble))
    var want = Seq((1L, seedId, 0.0))
    for (r <- 2 to 5) {
      val (bid, bd) = rows.map { case (id, v) =>
        (id, cents.map(c => d2(v, c)).min)
      }.maxBy { case (id, dm) => (dm, -id) }
      want :+= ((r.toLong, bid, bd))
      cents :+= rows.find(_._1 == bid).get._2.map(_.toDouble)
    }
    val got = Ann.kCenterGreedy(df.repartition(7), "vec_id", "embedding", k = 5)
      .orderBy("rank").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSeq
    assert(got == want)
    // selection distances are non-increasing (farthest-first invariant)
    val ds = got.drop(1).map(_._3)
    assert(ds == ds.sorted.reverse)
  }

  test("hammingJoinPostings: ingest equals the cross-side subset of hammingNearDup; parquet round-trip") {
    import spark.implicits._
    import graft.operators.Dedup
    // 25 groups of 4 fingerprints: base xor one flipped bit each, so
    // same-group pairs sit at Hamming <= 2; bases are far apart
    val rows = (0L until 100L).map { i =>
      val base = (i / 4) * 2654435761L ^ ((i / 4) * 40503L << 17)
      (i, base ^ (1L << (i % 4).toInt))
    }
    val df = rows.toDF("id", "fp")
    val corpus = df.filter(col("id") % 10 =!= 0)
    val batch = df.filter(col("id") % 10 === 0)
    val postings = Dedup.hammingBandPostings(corpus, "id", "fp", 64, 2)
    val dir = java.nio.file.Files.createTempDirectory("hfp").toString
    postings.write.mode("overwrite").parquet(dir)
    val got = Dedup.hammingJoinPostings(batch, spark.read.parquet(dir),
        "id", "fp", 64, 2)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    // reference: the full self-join, restricted to cross-side pairs and
    // re-oriented (batch, corpus)
    val full = Dedup.hammingNearDup(df, "id", "fp", 64, 2)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    val want = full.flatMap { case (a, b, h) =>
      (a % 10, b % 10) match {
        case (0, x) if x != 0 => Some((a, b, h))
        case (x, 0) if x != 0 => Some((b, a, h))
        case _ => None
      }
    }.toSet
    assert(got == want, s"got ${got.size} want ${want.size}")
    assert(got.nonEmpty, "fixture must produce cross-side pairs")
    // inline == persisted
    val inline0 = Dedup.hammingJoinPostings(batch, postings, "id", "fp", 64, 2)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    assert(inline0 == got)
  }

  test("labelPropagation: barbell graph splits into two communities where CC merges") {
    import spark.implicits._
    import graft.operators.GraphOps
    // two triangles bridged by one edge: CC would report ONE component;
    // frequency voting keeps the two dense cores apart
    val pairs = Seq((1L, 2L), (1L, 3L), (2L, 3L),
      (4L, 5L), (4L, 6L), (5L, 6L), (3L, 4L)).toDF("id_a", "id_b")
    val got = GraphOps.labelPropagation(pairs, "id_a", "id_b", rounds = 3)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(got.keySet == (1L to 6L).toSet)
    assert(Set(got(1L), got(2L), got(3L)).size == 1, "left core one label")
    assert(Set(got(4L), got(5L), got(6L)).size == 1, "right core one label")
    assert(got(1L) != got(4L), "bridge must not merge the cores")
    // partition invariance: sync rounds + deterministic ties
    val rep = GraphOps.labelPropagation(pairs.repartition(5), "id_a", "id_b",
      rounds = 3).collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(rep == got)
  }

  test("ivfPqTopKProbe: probing ALL lists reduces to plain PQ; codebooks round-trip") {
    val e = engine.Tables.embeddings(spark, SparkTestSession.sfDir)
    val queries = e.filter(col("vec_id") < 3)
    val (m, codes, nLists) = (8, 8, 4)
    val cents = Ann.kmeansCentroids(e, "vec_id", "embedding", nLists, iters = 2)
    val books = Ann.pqCodebooks(e, "vec_id", "embedding", m, codes)
    // parquet round-trip of the codebooks is lossless (round-6dp doubles)
    val dir = java.nio.file.Files.createTempDirectory("pqbooks").toString
    books.write.mode("overwrite").parquet(dir)
    val booksRt = spark.read.parquet(dir)
    assert(books.exceptAll(booksRt).isEmpty && booksRt.exceptAll(books).isEmpty)
    val codedLists = Ann.ivfListAssignments(e, "vec_id", "embedding", cents)
      .select(col("cid"), col("neighbor_id").cast("long").as("neighbor_id"))
      .join(Ann.pqEncodeWith(e, "vec_id", "embedding", booksRt, m),
        Seq("neighbor_id"))
    // with nProbe = nLists every list is probed, so IVF-PQ degenerates
    // to plain PQ ADC over the whole corpus — definitional equivalence
    val ivfpq = Ann.ivfPqTopKProbe(queries, cents, codedLists, booksRt,
        "vec_id", "embedding", k = 5, nProbe = nLists, m = m)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2),
        r.getLong(3))).toSet
    val pq = Ann.pqTopK(e, queries, "vec_id", "embedding",
        k = 5, m = m, codesPerSub = codes)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2),
        r.getLong(3))).toSet
    assert(ivfpq == pq)
  }
}
