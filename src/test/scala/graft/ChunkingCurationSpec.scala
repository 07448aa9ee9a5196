package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.functions.TextFunctions.repetitionStats
import graft.operators.{Chunking, Curation}

/** Round-4 LLM-pipeline operators: chunking, packing (distributed prefix
  * sum), repetition metrics, PII redaction, boilerplate ratio.
  */
class ChunkingCurationSpec extends AnyFunSuite {
  lazy val spark = SparkTestSession.spark
  import spark.implicits._

  test("numChunks geometry: short docs one chunk, strides cover every token") {
    assert(Chunking.numChunks(0, 16, 12) == 1)
    assert(Chunking.numChunks(16, 16, 12) == 1)
    assert(Chunking.numChunks(17, 16, 12) == 2)
    assert(Chunking.numChunks(28, 16, 12) == 2)
    assert(Chunking.numChunks(29, 16, 12) == 3)
    // last chunk always reaches the final token
    for (len <- 1 to 200; cs <- Seq(8, 16); st <- Seq(4, cs)) {
      val nc = Chunking.numChunks(len, cs, st)
      assert((nc - 1) * st + cs >= len, s"len=$len cs=$cs st=$st uncovered tail")
      // no fully-redundant trailing chunk: the last chunk starts in range
      assert((nc - 1) * st < math.max(len, 1), s"len=$len cs=$cs st=$st overshoot")
    }
  }

  test("chunkTokens: chunk 0 of a short doc is the whole text; overlap is chunkSize-stride") {
    val docs = Seq((1L, "a b c"), (2L, (1 to 30).map(i => s"t$i").mkString(" ")))
      .toDF("doc_id", "text")
    val got = Chunking.chunkTokens(docs, "doc_id", "text", 16, 12)
      .orderBy("id", "chunk_idx").collect()
    val short = got.filter(_.getLong(0) == 1L)
    assert(short.length == 1 && short.head.getLong(2) == 3L)
    val long = got.filter(_.getLong(0) == 2L)
    // 30 tokens, chunks start at 0/12/24: sizes 16, 16, clamped 6
    assert(long.map(_.getLong(2)).toSeq == Seq(16L, 16L, 6L))
  }

  test("orderedOffsets equals the naive single-partition window cumsum") {
    // keys deliberately unsorted + sparse; values vary
    val rows = (0 until 1000).map(i => ((i * 7919) % 10007).toLong)
      .distinct.map(k => (k, k % 13 + 1))
    val df = rows.toDF("k", "v").repartition(7)
    val got = Chunking.orderedOffsets(df, "k", "v", numPartitions = 5)
      .orderBy("k").select("k", "offset").as[(Long, Long)].collect().toSeq
    val expected = rows.sortBy(_._1)
      .scanLeft((Long.MinValue, 0L)) { case ((_, acc), (k, v)) => (k, acc + v) }
      .sliding(2).map { case Seq((_, accBefore), (k, _)) => (k, accBefore) }.toSeq
    assert(got == expected)
  }

  test("packedSpans: offsets are contiguous and pack ids consistent") {
    val docs = engine.Tables.documents(spark, SparkTestSession.sfDir)
    val got = Chunking.packedSpans(docs, "doc_id", "text", budget = 256)
      .orderBy("doc_id").collect()
    var expectedOffset = 0L
    got.foreach { r =>
      val (n, off, sp, ep, po) = (r.getLong(1), r.getLong(2), r.getLong(3),
        r.getLong(4), r.getLong(5))
      assert(off == expectedOffset, s"gap at doc ${r.getLong(0)}")
      expectedOffset += n
      assert(po == off % 256 && sp == off / 256)
      assert(ep == (if (n > 0) (off + n - 1) / 256 else off / 256))
      assert(ep >= sp)
    }
  }

  test("repetitionStats: hand-computed 2/3-gram counts") {
    // "a b a b a": 2-grams ab,ba,ab,ba -> n2=4 top2=2
    //              3-grams aba,bab,aba -> n3=3, dup occurrences=2
    val r = Seq("a b a b a").toDF("text")
      .select(repetitionStats(split(col("text"), " ")).as("r"))
      .select("r._1", "r._2", "r._3", "r._4").as[(Long, Long, Long, Long)]
      .head()
    assert(r == ((4L, 2L, 3L, 2L)))
    val empty = Seq(Seq.empty[String]).toDF("t")
      .select(repetitionStats(col("t")).as("r"))
      .select("r._1", "r._2", "r._3", "r._4").as[(Long, Long, Long, Long)].head()
    assert(empty == ((0L, 0L, 0L, 0L)))
  }

  test("redactPii replaces all three types; email's IP-shaped host counts as email") {
    val txt = "write bob.smith@corp.example.org or 555-123-4567 from 192.168.0.1 " +
      "or root@10.0.0.1"
    val got = Seq(txt).toDF("text")
      .select(Curation.redactPii(col("text")).as("red"),
        Curation.piiCounts(col("text")).as("p"))
      .select("red", "p.n_emails", "p.n_phones", "p.n_ips")
      .as[(String, Long, Long, Long)].head()
    // root@10.0.0.1 is NOT an email (the last host label must be
    // alphabetic), so its address part falls through to the IP pass
    assert(got._1 == "write <EMAIL> or <PHONE> from <IP> or root@<IP>")
    assert((got._2, got._3, got._4) == ((1L, 1L, 2L)))
  }

  test("boilerplateRatio matches a driver-side brute force on sf0.001") {
    val docs = engine.Tables.documents(spark, SparkTestSession.sfDir)
    val got = Curation.boilerplateRatio(docs, "doc_id", "text", k = 3, minDocFreq = 5)
      .orderBy("id").collect()
    // brute force: positional 3-grams per doc, doc-freq over distinct
    val local = docs.select("doc_id", "text").as[(Long, String)].collect()
    def grams(t: String): Seq[String] = {
      val tk = t.trim.split("\\s+").toSeq.filter(_.nonEmpty)
      if (tk.size < 3) Seq(tk.mkString(" "))
      else (0 to tk.size - 3).map(i => tk.slice(i, i + 3).mkString(" "))
    }
    val docFreq = local.flatMap { case (id, t) => grams(t).distinct.map(g => (g, id)) }
      .groupBy(_._1).map { case (g, xs) => (g, xs.map(_._2).distinct.size) }
    val expected = local.map { case (id, t) =>
      val gs = grams(t)
      val boiler = gs.count(g => docFreq(g) >= 5)
      (id, gs.size.toLong, boiler.toLong)
    }.sortBy(_._1)
    assert(got.length == expected.length)
    got.zip(expected).foreach { case (r, (id, ng, nb)) =>
      assert(r.getLong(0) == id && r.getLong(1) == ng && r.getLong(2) == nb,
        s"doc $id: got (${r.getLong(1)},${r.getLong(2)}) want ($ng,$nb)")
    }
  }

  test("bpeMerges: hand-computed merges on a tiny corpus") {
    // corpus: "low low low lower lower newest" ->
    //   low:3 lower:2 newest:1
    // pair weights r1: "l o":5, "o w":5, "w e":3, "e r":2, "n e":1,
    //   "e w":1, "e s":1, "s t":1  -> tie 5/5 -> lexicographic: "l o"
    // r2: symbols lo w / lo w e r / n e w e s t: "lo w":5 wins
    // r3: low / low e r / n e w e s t: "low e":2 ("e r" 2, tie ->
    //   "e r" vs "low e": 'e'<'l' so "e r" wins lexicographically!)
    //   recompute: pairs r3: "low e":2, "e r":2, "n e":1, "e w":1,
    //   "w e":1, "e s":1, "s t":1 -> tie 2/2 between "e r" and
    //   "low e" -> "e r" < "low e" -> "e r"
    // r4: low / low er / n e w e s t: "low er":2 wins (ties none: 2)
    val docs = Seq((1L, "low low low lower lower newest")).toDF("doc_id", "text")
    val got = operators.Bpe.bpeMerges(docs, "text", iters = 4)
      .orderBy("rank").collect()
      .map(r => (r.getLong(0), r.getString(1), r.getString(2), r.getLong(3)))
    assert(got.toSeq == Seq(
      (1L, "l o", "lo", 5L),
      (2L, "lo w", "low", 5L),
      (3L, "e r", "er", 2L),
      (4L, "low er", "lower", 2L)), got.toSeq.toString)
  }

  test("bpe local and distributed merge loops are identical at real vocab size") {
    // sf0.001 documents: a genuinely multi-thousand-word vocabulary —
    // an order of magnitude past the hand-computed fixtures. localLimit
    // forces each path explicitly; merge logs AND final segmentations
    // must agree row for row.
    val docs = graft.engine.Tables.documents(spark, SparkTestSession.sfDir)
    val iters = 12
    def merges(limit: Long) =
      operators.Bpe.bpeMerges(docs, "text", iters, localLimit = limit)
        .orderBy("rank").collect()
        .map(r => (r.getLong(0), r.getString(1), r.getString(2), r.getLong(3)))
        .toSeq
    val local = merges(Long.MaxValue)
    val dist = merges(0L)
    assert(local.nonEmpty && local.size == iters)
    assert(local == dist)
    def enc(limit: Long) =
      operators.Bpe.bpeEncode(docs, "text", iters, localLimit = limit)
        .collect().map(r => (r.getString(0), r.getString(1), r.getLong(2), r.getLong(3)))
        .toSet
    assert(enc(Long.MaxValue) == enc(0L))
  }

  test("bpeEncode: segmentations after the hand-computed merges") {
    // same corpus as the bpeMerges test; merges are l o -> lo,
    // lo w -> low, e r -> er, low er -> lower. Final symbol tables:
    //   low    -> "low"            (1 token)
    //   lower  -> "lower"          (1 token)
    //   newest -> "n e w e s t"    (6 tokens; no learned merge applies:
    //     "w e" was never merged and er needs an 'e r' pair, but
    //     newest's 'e' neighbors are w/s)
    val docs = Seq((1L, "low low low lower lower newest")).toDF("doc_id", "text")
    val got = operators.Bpe.bpeEncode(docs, "text", iters = 4)
      .orderBy("w").collect()
      .map(r => (r.getString(0), r.getString(1), r.getLong(2), r.getLong(3)))
    assert(got.toSeq == Seq(
      ("low", "low", 1L, 3L),
      ("lower", "lower", 1L, 2L),
      ("newest", "n e w e s t", 6L, 1L)), got.toSeq.toString)
  }

  test("linearQualityScore: hand-computed integer features and verdict") {
    // text: "the cat sat on a mat" -> 6 tokens, stopwords {the, on, a}=3,
    // chars=20, alpha=15 (spaces excluded)
    // f_len=6, f_stop=1000*3 div 6=500, f_alpha=1000*15 div 20=750,
    // f_wlen=20 div 6=3
    // weights (3,2,5,-1), score = 18 + 1000 + 3750 - 3 = 4765 >= 4000
    val docs = Seq((7L, "the cat sat on a mat"), (8L, ""))
      .toDF("doc_id", "text")
    val got = Curation.linearQualityScore(docs, "doc_id", "text",
        wLen = 3L, wStop = 2L, wAlpha = 5L, wWlen = -1L, threshold = 4000L)
      .orderBy("id").collect()
    assert(got(0).getLong(1) == 6L && got(0).getLong(2) == 500L &&
      got(0).getLong(3) == 750L && got(0).getLong(4) == 3L, got(0).toString)
    assert(got(0).getAs[Long]("score") == 4765L && got(0).getAs[Boolean]("keep"))
    // empty doc: every feature 0 (no division blow-ups), dropped
    assert(got(1).getAs[Long]("score") == 0L && !got(1).getAs[Boolean]("keep"))
  }

  test("linearQualityScore: NULL text propagates to a null score, not a real one") {
    val docs = Seq((1L, Some("the cat")), (2L, Option.empty[String]))
      .toDF("doc_id", "text")
    val got = Curation.linearQualityScore(docs, "doc_id", "text",
        wLen = 1L, wStop = 1L, wAlpha = 1L, wWlen = 1L, threshold = 0L)
      .orderBy("id").collect()
    assert(!got(0).isNullAt(got(0).fieldIndex("score")))
    // null text: null features, null score, null keep -> a threshold
    // filter drops the row exactly as the builtin expressions did
    val r = got(1)
    Seq("f_len", "f_stop", "f_alpha", "f_wlen", "score", "keep").foreach(c =>
      assert(r.isNullAt(r.fieldIndex(c)), s"$c should be null for null text"))
  }

  test("shuffleShards: permutation is total, deterministic, positions contiguous") {
    val docs = (1 to 500).map(i => (i.toLong, s"doc body $i")).toDF("doc_id", "text")
    val out = Curation.shuffleShards(docs, "doc_id", 8)
    assert(out.count() == 500)
    assert(out.select("doc_id").distinct().count() == 500)
    // positions within each shard are 1..|shard| with no gaps
    out.groupBy("shard")
      .agg(count(lit(1)).as("n"), max("pos").as("mx"), min("pos").as("mn"))
      .collect().foreach { r =>
        assert(r.getLong(2) == r.getLong(1) && r.getLong(3) == 1L, r.toString)
      }
    // deterministic across invocations
    val again = Curation.shuffleShards(docs, "doc_id", 8)
      .select("doc_id", "shard", "pos").collect().map(_.toSeq).toSet
    assert(out.select("doc_id", "shard", "pos").collect().map(_.toSeq).toSet == again)
  }

  test("stratifiedSample: exact ceil(frac*n) quota per group, equals naive ranking") {
    import org.apache.spark.sql.expressions.Window
    val docs = ((1 to 97).map(i => (i.toLong, "a")) ++ (200 to 203).map(i => (i.toLong, "b"))
      ++ Seq((300L, "c"))).toDF("doc_id", "source")
    val out = Curation.stratifiedSample(docs, "source", "doc_id", 0.125)
    val bySrc = out.groupBy("source").count().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    // ceil(0.125*97)=13, ceil(0.125*4)=1, ceil(0.125*1)=1
    assert(bySrc == Map("a" -> 13L, "b" -> 1L, "c" -> 1L), bySrc.toString)
    // exact head of the (key, id) ordering — same rows as a naive rank
    val keyed = docs.withColumn("__k",
      pmod(graft.functions.TextFunctions.tokenHash64(
        concat(lit("strat_"), col("doc_id").cast("string"))), lit(1000000L)))
    val w = Window.partitionBy("source").orderBy(col("__k").asc, col("doc_id").asc)
    val naive = keyed.withColumn("rn", row_number().over(w))
      .withColumn("n", count(lit(1)).over(Window.partitionBy("source")))
      .filter(col("rn") <= ceil(lit(0.125) * col("n")))
      .select("source", "doc_id").collect().map(_.toSeq).toSet
    assert(out.select("source", "doc_id").collect().map(_.toSeq).toSet == naive)
  }

  test("stratifiedSample: boundary refinement exact when keys collide") {
    // every doc hashes into key domain {0}: force total collision by a
    // 1-value domain... not reachable through the public API, so instead
    // verify the generic invariant on a group large enough that the
    // 1e6-domain WILL contain the quota boundary among duplicates of
    // distinct keys: quota rows exactly, lowest keys win
    val docs = (1 to 4000).map(i => (i.toLong, "s")).toDF("doc_id", "source")
    val out = Curation.stratifiedSample(docs, "source", "doc_id", 0.25)
    assert(out.count() == 1000) // ceil(0.25*4000)
  }

  test("boilerplateRatio: universal gram stays skew-safe (no window op)") {
    // one 3-gram present in EVERY doc — the corpus-scale hot key. The
    // doc-freq must come from a groupBy + equi-join (AQE-splittable),
    // never a count().over(partitionBy(gram)) window, which buffers one
    // row per containing doc in a single un-splittable task.
    val docs = (1 to 200)
      .map(i => (i.toLong, s"shared boiler gram unique$i word$i tail$i"))
      .toDF("doc_id", "text")
    val out = Curation.boilerplateRatio(docs, "doc_id", "text", k = 3, minDocFreq = 100)
    assert(!out.queryExecution.executedPlan.toString.contains("Window"),
      "doc-freq must not be a window over the gram key")
    val rows = out.orderBy("id").collect()
    assert(rows.length == 200)
    // each doc: 4 positional 3-grams, exactly one ("shared boiler gram")
    // shared by all 200 docs >= minDocFreq
    rows.foreach { r =>
      assert(r.getLong(1) == 4L && r.getLong(2) == 1L &&
        r.getDouble(3) == 0.25, s"doc ${r.getLong(0)}: $r")
    }
  }

  test("unigramSurprisal: hand-computed integer bits on a tiny corpus") {
    import spark.implicits._
    // counts: a=2, b=2, c=1; N=5. bits(a)=bits(b)=floor(log2(5 div 2))=1,
    // bits(c)=floor(log2(5))=2
    val docs = Seq((1L, "a a b"), (2L, "b c")).toDF("doc_id", "text")
    val got = Curation.unigramSurprisal(docs, "doc_id", "text")
      .orderBy("id").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)))
    assert(got.toSeq == Seq((1L, 3L, 3L, 1000L), (2L, 2L, 3L, 1500L)))
  }

  test("budgetSelect: exact best-first prefix, ties by id, partition-invariant") {
    // scores force the order 4(90), 2(80), 5(80), 1(70), 3(60) — doc 2
    // beats doc 5 on the id tie-break. Tokens 30+40+20+50+10: budget 95
    // admits 4,2,5 (cum 90) and STOPS — doc 1 (cum 140) and the
    // smaller doc 3 both sit past the prefix even though doc 3 alone
    // would fit, because selection is a prefix, not a knapsack.
    val rows = Seq((1L, 70L, 50L), (2L, 80L, 40L), (3L, 60L, 10L),
      (4L, 90L, 30L), (5L, 80L, 20L))
    val df = rows.toDF("id", "score", "n_tokens")
    def run(np: Int) =
      Curation.budgetSelect(df, "id", "score", "n_tokens", budget = 95L,
          numPartitions = np)
        .orderBy("id").collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)))
        .toSeq
    val expect = Seq((2L, 80L, 40L, 70L), (4L, 90L, 30L, 30L),
      (5L, 80L, 20L, 90L))
    assert(run(4) == expect)
    // the distributed prefix sum is a pure implementation detail: one
    // partition and many (some empty) agree exactly
    assert(run(1) == expect)
    assert(run(9) == expect)
    // exact-fit boundary is inclusive; zero budget selects nothing
    assert(Curation.budgetSelect(df, "id", "score", "n_tokens", 30L)
      .collect().map(_.getLong(0)).toSeq == Seq(4L))
    assert(Curation.budgetSelect(df, "id", "score", "n_tokens", 29L)
      .collect().isEmpty)
    assert(Curation.budgetSelect(df, "id", "score", "n_tokens", 0L)
      .collect().isEmpty)
  }

  test("ppsSample: md5 coin matches the JVM hash; weights exact; p=1 certain") {
    import graft.functions.TextFunctions.tokenHash64Jvm
    val rows = (1L to 200L).map(i => (i, (i * 13) % 1500 + 1)) // sizes 1..1500
    val df = rows.toDF("id", "sz")
    val got = Curation.ppsSample(df, "id", "sz", ratePerMillion = 1000L)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)))
    // model: keep iff hash("pps_"+id) % 1e6 < min(1e6, sz*1000)
    val model = rows.flatMap { case (id, sz) =>
      val pNum = math.min(1000000L, sz * 1000L)
      if (tokenHash64Jvm("pps_" + id) % 1000000L < pNum)
        Some((id, sz, pNum, sz * 1000000L / pNum))
      else None
    }
    assert(got.sortBy(_._1).toSeq == model.sortBy(_._1))
    // size >= 1000 => p_num = 1e6 => certain inclusion with ht_size = size
    val certain = rows.filter(_._2 >= 1000).map(_._1).toSet
    val gotIds = got.map(_._1).toSet
    assert(certain.subsetOf(gotIds))
    assert(got.filter(r => certain(r._1)).forall(r => r._4 == r._2))
    // the sample is partition-independent (map-only decision)
    val rep = Curation.ppsSample(df.repartition(7), "id", "sz", 1000L)
      .collect().map(_.getLong(0)).toSet
    assert(rep == gotIds)
  }

  test("rendezvousAssign: minimal movement on fleet growth, matches max-score model") {
    import graft.functions.TextFunctions.tokenHash64Jvm
    val ids = (1L to 400L).toSeq
    val df = ids.toDF("id")
    def model(id: Long, n: Int): Long =
      (0 until n).map(s => (tokenHash64Jvm(s"rv${s}_$id"), s.toLong)).max._2
    val a12 = Curation.rendezvousAssign(df, "id", 12, "rv")
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val a16 = Curation.rendezvousAssign(df, "id", 16, "rv")
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    ids.foreach { id =>
      assert(a12(id) == model(id, 12))
      assert(a16(id) == model(id, 16))
    }
    // HRW contract: a doc moves ONLY to one of the added shards
    val movers = ids.filter(id => a12(id) != a16(id))
    assert(movers.nonEmpty)
    assert(movers.forall(id => a16(id) >= 12))
    // same fleet size => identical assignment (restart-stable)
    val again = Curation.rendezvousAssign(df.repartition(7), "id", 16, "rv")
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(again == a16)
    // expected movement fraction ~ 4/16; allow wide slack
    assert(movers.size.toDouble / ids.size < 0.5)
  }

  test("skylineMinMax equals the O(n^2) dominance model, incl. duplicates") {
    import graft.operators.Relational
    val rnd = new scala.util.Random(7)
    val rows = (1L to 300L).map(id => (id, rnd.nextInt(50).toLong, rnd.nextInt(50).toLong)) ++
      Seq((301L, 5L, 40L), (302L, 5L, 40L)) // exact duplicate pair: both stay
    def dominated(a: (Long, Long, Long)): Boolean = rows.exists { b =>
      b._2 <= a._2 && b._3 >= a._3 && (b._2 < a._2 || b._3 > a._3)
    }
    val expect = rows.filterNot(dominated).toSet
    for (nPart <- Seq(1, 3, 16)) {
      val df = rows.toDF("id", "minv", "maxv").repartition(nPart)
      val got = Relational.skylineMinMax(df, "id", "minv", "maxv")
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
      assert(got == expect, s"nPart=$nPart")
    }
    // the duplicate pair survives iff undominated; assert both present or both absent
    val got1 = Relational.skylineMinMax(rows.toDF("id", "minv", "maxv"), "id", "minv", "maxv")
      .collect().map(_.getLong(0)).toSet
    assert(got1.contains(301L) == got1.contains(302L))
    // NULL dimensions are excluded, never crash the encoder or distort
    // the frontier
    val withNulls = Seq((1L, Some(1L), Some(9L)), (2L, Option.empty[Long], Some(99L)),
      (3L, Some(0L), Option.empty[Long])).toDF("id", "minv", "maxv")
    val gn = Relational.skylineMinMax(withNulls, "id", "minv", "maxv")
      .collect().map(_.getLong(0)).toSet
    assert(gn == Set(1L))
  }

  test("perceptronTrain: separable toy converges; epoch-1 counts every row under w=0") {
    import graft.operators.Ann
    // linearly separable: class +1 has positive first coordinate
    val rows = (1 to 40).map { i =>
      val y = if (i % 2 == 0) 1 else -1
      val x0 = (0.3f + 0.01f * i) * y
      (i.toLong, Array(x0, 0.05f * (i % 3)), if (y > 0) 2 else 7)
    }
    val df = rows.toDF("vec_id", "embedding", "label")
    val out = Ann.perceptronTrain(df, "vec_id", "embedding", "label",
      posMax = 4, epochs = 6).orderBy("epoch").collect()
    assert(out.length == 6)
    // epoch 1 scores with w = 0: every margin is 0 => everything "wrong"
    assert(out.head.getLong(1) == 40L)
    // converged: some later epoch reaches 0 misclassifications and stays
    val wrongs = out.map(_.getLong(1))
    assert(wrongs.last == 0L, s"trajectory ${wrongs.mkString(",")}")
    // weights stop moving once converged
    val l1 = out.map(_.getLong(2))
    assert(l1.takeRight(2).distinct.length == 1)
  }

  test("cohortRetention: hand triangle — cohorts, offsets, ppm") {
    import graft.operators.Relational
    import java.sql.Timestamp
    // 2024-01-01 is a Monday; W0 = that week, W1 = +7d
    def ts(s: String) = Timestamp.valueOf(s)
    val ev = Seq(
      (1L, ts("2024-01-02 10:00:00")), (1L, ts("2024-01-09 10:00:00")),
      (2L, ts("2024-01-03 10:00:00")),
      (3L, ts("2024-01-10 10:00:00"))
    ).toDF("user_id", "ts")
    val got = Relational.cohortRetention(ev, "user_id", "ts")
      .collect().map(r => (r.getString(0), r.getLong(1)) ->
        (r.getLong(2), r.getLong(3), r.getLong(4))).toMap
    assert(got == Map(
      ("2024-01-01", 0L) -> ((2L, 2L, 1000000L)),
      ("2024-01-01", 1L) -> ((1L, 2L, 500000L)),
      ("2024-01-08", 0L) -> ((1L, 1L, 1000000L))))
  }

  test("assocRules: hand baskets — support, confidence, fused lift") {
    import graft.operators.Relational
    // u1{a,b} u2{a,b} u3{a} u4{b,c}; repeats must not inflate counts
    val ev = Seq((1L, "a"), (1L, "b"), (1L, "a"), (2L, "a"), (2L, "b"),
      (3L, "a"), (4L, "b"), (4L, "c")).toDF("user_id", "event_type")
    val got = Relational.assocRules(ev, "user_id", "event_type")
      .collect().map(r => (r.getString(0), r.getString(1)) ->
        (r.getLong(2), r.getLong(5), r.getLong(6), r.getLong(7))).toMap
    // a->b: both 2, support 2/4, conf 2/3, lift 2*4*1000/(3*3)
    assert(got(("a", "b")) == ((2L, 500000L, 666666L, 888L)))
    // c->b: conf 1/1, lift 4000/3
    assert(got(("c", "b")) == ((1L, 250000L, 1000000L, 1333L)))
    assert(!got.contains(("a", "c")), "a and c never co-occur")
  }

  test("intervalUnionLength: overlap merges, touching merges, gap splits") {
    import graft.operators.Relational
    // [0,10) [5,20) overlap; [20,30) touches (closed-open => merges);
    // [40,50) after a gap. Second key: one interval.
    val iv = Seq(("u", 0L, 10L), ("u", 5L, 20L), ("u", 20L, 30L),
      ("u", 40L, 50L), ("v", 3L, 7L)).toDF("k", "s", "e")
    val got = Relational.intervalUnionLength(iv, "k", "s", "e")
      .collect().map(r => r.getString(0) -> (r.getLong(1), r.getLong(2))).toMap
    assert(got == Map("u" -> ((2L, 40L)), "v" -> ((1L, 4L))))
    // duplicate rows and partitioning do not change the sweep
    val rep = Relational.intervalUnionLength(
        iv.unionAll(iv).repartition(5), "k", "s", "e")
      .collect().map(r => r.getString(0) -> (r.getLong(1), r.getLong(2))).toMap
    assert(rep == got)
  }

  test("cooccurRecsTopK: hand baskets — fused cosine², floor, repeats") {
    import graft.operators.Relational
    // b1{x,y,z} b2{x,y} b3{x,y} b4{y,z} b5{x,w}; duplicate (b2,x) rows
    // must not inflate counts. n_x=4 n_y=4 n_z=2 n_w=1; xy=3 xz=1 yz=2.
    val bi = Seq(("b1", "x"), ("b1", "y"), ("b1", "z"), ("b2", "x"),
      ("b2", "x"), ("b2", "y"), ("b3", "x"), ("b3", "y"), ("b4", "y"),
      ("b4", "z"), ("b5", "x"), ("b5", "w")).toDF("b", "i")
    val got = Relational.cooccurRecsTopK(bi, "b", "i", minBoth = 2L, topK = 3)
      .collect().map(r => (r.getString(0), r.getString(1)) ->
        (r.getLong(2), r.getLong(5), r.getLong(6))).toMap
    // xy: 9e6/16 = 562500; yz: 4e6/8 = 500000; xz/xw below minBoth
    assert(got == Map(
      ("x", "y") -> ((3L, 562500L, 1L)),
      ("y", "x") -> ((3L, 562500L, 1L)),
      ("y", "z") -> ((2L, 500000L, 2L)),
      ("z", "y") -> ((2L, 500000L, 1L))))
  }

  test("meanShiftCut: planted level shift found, ties break earliest") {
    import graft.operators.Relational
    import java.sql.Date
    def day(i: Int) = Date.valueOf(f"2024-01-${i}%02d")
    val daily = (
      // a: 4 days of 100 then 4 days of 200 — cut after day 4,
      // score (8·400−4·1200)²/(4·4) = 160000
      (1 to 8).map(i => ("a", day(i), if (i <= 4) 100L else 200L)) ++
      // b: constant — every split scores 0, tie breaks to day 1
      (1 to 8).map(i => ("b", day(i), 50L)) ++
      // c: under minDays, must not appear
      (1 to 4).map(i => ("c", day(i), 999L))
    ).toDF("grp", "day", "v")
    val got = Relational.meanShiftCut(daily, "grp", "day", "v", minDays = 8)
      .collect().map(r => r.getString(0) ->
        (r.getLong(1), r.getDate(2).toString, r.getLong(3))).toMap
    assert(got == Map(
      "a" -> ((8L, "2024-01-04", 160000L)),
      "b" -> ((8L, "2024-01-01", 0L))))
  }

  test("activitySelect: greedy beats the long interval, touching fits") {
    import graft.operators.Relational
    val iv = Seq(
      // u: [0,100) vs shorts [0,10)[10,20)[15,30)[30,40): greedy picks
      // [0,10),[10,20),[30,40) — 3 selected, the long one loses
      ("u", 0L, 100L), ("u", 0L, 10L), ("u", 10L, 20L), ("u", 15L, 30L),
      ("u", 30L, 40L),
      // v: two identical intervals — only one fits
      ("v", 5L, 9L), ("v", 5L, 9L)
    ).toDF("k", "s", "e")
    val got = Relational.activitySelect(iv, "k", "s", "e")
      .collect().map(r => r.getString(0) -> (r.getLong(1), r.getLong(2))).toMap
    assert(got == Map("u" -> ((5L, 3L)), "v" -> ((2L, 1L))))
  }

  test("gapFillInterpolate: interior gaps filled on the line, edges stay") {
    import graft.operators.Relational
    // k=a: observed x=1(v10), x=4(v40), x=6(v20): gap 2,3 on the
    // 10->40 line (+10/step); gap 5 midway 40->20 (truncating)
    val s = Seq(("a", 1L, 10L), ("a", 4L, 40L), ("a", 6L, 20L),
      ("b", 7L, 5L)).toDF("k", "x", "v")
    val got = Relational.gapFillInterpolate(s, "k", "x", "v")
      .collect().map(r => (r.getString(0), r.getLong(1)) ->
        (r.getLong(2), r.getString(3))).toMap
    assert(got(("a", 2L)) == ((20L, "interp")))
    assert(got(("a", 3L)) == ((30L, "interp")))
    assert(got(("a", 5L)) == ((30L, "interp")))
    assert(got(("a", 1L)) == ((10L, "obs")) && got(("a", 6L)) == ((20L, "obs")))
    // single-point key emits only itself; no leading/trailing fill
    assert(got(("b", 7L)) == ((5L, "obs")))
    assert(got.size == 7)
    // negative-slope truncation: 0 -> -7 over 3 steps: -7*1 div 3 = -2
    val neg = Seq(("n", 0L, 0L), ("n", 3L, -7L)).toDF("k", "x", "v")
    val gotN = Relational.gapFillInterpolate(neg, "k", "x", "v")
      .collect().map(r => r.getLong(1) -> r.getLong(2)).toMap
    assert(gotN(1L) == -2L && gotN(2L) == -4L)
  }

  test("theilSenSlope: outlier-immune median slope, truncating division") {
    import graft.operators.Relational
    val series = (
      // g1: y = 2x with one wild outlier — 6 of 10 pairwise slopes are
      // exactly 2000 milli, so the lower median ignores the outlier
      Seq((0L, 0L), (1L, 2L), (2L, 4L), (3L, 6L), (4L, 1000L))
        .map { case (x, y) => ("g1", x, y) } ++
      // g2: single pair with negative non-exact slope: -7000 div 3
      // truncates to -2333 (floor would be -2334) on BOTH engines
      Seq(("g2", 0L, 0L), ("g2", 3L, -7L))
    ).toDF("g", "x", "y")
    val got = Relational.theilSenSlope(series, "g", "x", "y")
      .collect().map(r => r.getString(0) -> (r.getLong(1), r.getLong(2))).toMap
    assert(got("g1") == ((10L, 2000L)))
    assert(got("g2") == ((1L, -2333L)))
  }

  test("autocorrLag1: linear +1, alternating -1, constant guarded to 0") {
    import graft.operators.Relational
    import java.sql.Date
    def day(i: Int) = Date.valueOf(f"2024-01-${i}%02d")
    val daily = (
      (1 to 4).map(i => ("up", day(i), i.toLong)) ++
      (1 to 4).map(i => ("alt", day(i), (if (i % 2 == 0) 2L else 1L))) ++
      (1 to 4).map(i => ("flat", day(i), 7L))
    ).toDF("grp", "day", "v")
    val got = Relational.autocorrLag1(daily, "grp", "day", "v")
      .collect().map(r => r.getString(0) -> (r.getLong(1), r.getDouble(2))).toMap
    assert(got("up") == ((3L, 1.0)))
    assert(got("alt") == ((3L, -1.0)))
    assert(got("flat") == ((3L, 0.0)))
  }

  test("bucketFingerprints: multiset function, change-sensitive, partition-invariant") {
    import graft.operators.Relational
    import graft.functions.TextFunctions.tokenHash64
    def fp(rows: Seq[(Long, String)], nPart: Int) =
      Relational.bucketFingerprints(
          rows.toDF("k", "payload").repartition(nPart),
          tokenHash64(concat(lit("b_"), col("k").cast("string"))),
          tokenHash64(concat_ws("|", col("k").cast("string"), col("payload"))),
          nBuckets = 8)
        .collect().map(r => (r.getLong(0), (r.getLong(1), r.getLong(2), r.getLong(3))))
        .toMap
    val base = (1L to 200L).map(k => (k, s"v$k"))
    val a = fp(base, 1)
    // partitioning and row order never change the fingerprint
    assert(fp(scala.util.Random.shuffle(base), 7) == a)
    // a changed payload flags exactly the key's bucket
    val changed = fp(base.map { case (k, v) => (k, if (k == 42L) "X" else v) }, 3)
    val bucket42 = graft.functions.TextFunctions.tokenHash64Jvm("b_42") % 8
    assert(changed.keySet == a.keySet)
    assert(changed.filter { case (b, t) => a(b) != t }.keySet == Set(bucket42))
    // adding a DUPLICATE of an existing row shifts each component by
    // exactly the row hash's contribution (count +1, xor ^= h, sum += h mod M)
    val dup = fp(base :+ base.head, 2)
    val b1 = graft.functions.TextFunctions.tokenHash64Jvm("b_1") % 8
    val h1 = graft.functions.TextFunctions.tokenHash64Jvm("1|v1")
    assert(dup(b1)._1 == a(b1)._1 + 1)
    assert(dup(b1)._2 == (a(b1)._2 ^ h1))
    assert(dup(b1)._3 == a(b1)._3 + h1 % Relational.FingerprintSumMod)
    // a removed row flags its bucket
    val removed = fp(base.tail, 4)
    assert(removed(b1) != a(b1))
  }

  test("funnelStagesWindowed: closure beats greedy; equals brute-force DP") {
    import graft.operators.Relational
    val stages = Seq("a", "b", "c")
    def ts(us: Long) = new java.sql.Timestamp(us / 1000)
    def frame(rows: Seq[(Long, Long, String)]) =
      rows.map { case (u, t, tp) => (u, ts(t), tp) }.toDF("user_id", "ts", "event_type")
    def run(rows: Seq[(Long, Long, String)], wUs: Long) =
      Relational.funnelStagesWindowed(frame(rows), "user_id", "ts", "event_type", stages, wUs)
        .orderBy("stage_idx").collect().map(_.getLong(2)).toSeq
    // THE counterexample: greedy-earliest picks a@0,b@3 and misses
    // c@14000000 (deadline 13000000); the closure survives via a@5,b@12
    val cx = Seq(
      (1L, 0L, "a"), (1L, 5000000L, "a"), (1L, 3000000L, "b"),
      (1L, 12000000L, "b"), (1L, 14000000L, "c"))
    assert(run(cx, 10000000L) == Seq(1L, 1L, 1L))
    // brute-force DP over random streams: user reaches stage k iff an
    // increasing chain exists with every step within the window
    val rnd = new scala.util.Random(41)
    val rows = for {
      u <- 1L to 50L
      _ <- 1 to rnd.nextInt(8)
    } yield (u, rnd.nextInt(30).toLong * 1000000L, stages(rnd.nextInt(3)))
    def reach(evs: Seq[(Long, String)], wUs: Long): Int = {
      var cands = evs.collect { case (t, "a") => t }.distinct
      var depth = if (cands.nonEmpty) 1 else 0
      for (st <- stages.tail if cands.nonEmpty) {
        cands = evs.collect { case (t, `st`) if cands.exists(c => t > c && t <= c + wUs) => t }.distinct
        if (cands.nonEmpty) depth += 1
      }
      depth
    }
    for (wUs <- Seq(3000000L, 9000000L, 100000000L)) {
      val byUser = rows.groupBy(_._1).view
        .mapValues(_.map(e => (e._2, e._3)).toSeq).toMap
      val expect = stages.indices.map { k =>
        byUser.values.count(reach(_, wUs) >= k + 1).toLong
      }
      assert(run(rows, wUs) == expect, s"wUs=$wUs")
    }
    // an unbounded window reduces to the strict-funnel semantics
    val unbounded = run(rows, Long.MaxValue / 4)
    val strict = Relational.funnelStages(frame(rows), "user_id", "ts", "event_type", stages)
      .orderBy("stage_idx").collect().map(_.getLong(2)).toSeq
    assert(unbounded == strict)
    // empty input: k rows of 0 users
    assert(run(Nil, 9000000L) == Seq(0L, 0L, 0L))
    // building the funnel is one lazy plan: no job until an action
    val (_, jobs) = SparkTestSession.jobsDuring(Relational.funnelStagesWindowed(
      frame(rows), "user_id", "ts", "event_type", stages, 9000000L))
    assert(jobs == 0)
  }

  test("gapFillLocf: dense per-key grid, LOCF across gaps, null closes skipped") {
    import graft.operators.Relational
    import java.sql.Date
    def d(s: String) = Date.valueOf(s)
    val closes = Seq(
      (1L, d("2024-01-01"), Some(10L)),
      (1L, d("2024-01-04"), Some(40L)),          // 3-day gap carries 10
      (1L, d("2024-01-06"), Option.empty[Long]), // null close: keep carrying 40
      (2L, d("2024-02-10"), Some(7L)))           // single-day span
    for (nPart <- Seq(1, 3)) {
      val got = Relational.gapFillLocf(
          closes.toDF("k", "day", "v").repartition(nPart), "k", "day", "v")
        .collect().map(r => (r.getLong(0), r.getDate(1).toString,
          if (r.isNullAt(2)) -1L else r.getLong(2))).toSet
      val expect = Set(
        (1L, "2024-01-01", 10L), (1L, "2024-01-02", 10L), (1L, "2024-01-03", 10L),
        (1L, "2024-01-04", 40L), (1L, "2024-01-05", 40L), (1L, "2024-01-06", 40L),
        (2L, "2024-02-10", 7L))
      assert(got == expect, s"nPart=$nPart")
    }
  }

  test("funnelStages equals the brute-force ordered-subsequence model") {
    import graft.operators.Relational
    val stages = Seq("a", "b", "c")
    val rnd = new scala.util.Random(13)
    // random per-user event streams, ts collisions included (strict >)
    val events = for {
      u <- 1L to 80L
      _ <- 1 to rnd.nextInt(8)
    } yield (u, rnd.nextInt(10).toLong, stages(rnd.nextInt(3)))
    // brute force: greedy earliest subsequence per user, stop at the
    // first stage with no strictly-later event
    def reachDepth(evs: Seq[(Long, String)]): Int = {
      var t = Long.MinValue; var depth = 0; var blocked = false
      for (st <- stages if !blocked) {
        val cand = evs.collect { case (ts, `st`) if depth == 0 || ts > t => ts }
        if (cand.isEmpty) blocked = true
        else { t = cand.min; depth += 1 }
      }
      depth
    }
    val byUser = events.groupBy(_._1).view
      .mapValues(_.map(e => (e._2, e._3)).toSeq).toMap
    val expectCounts = stages.indices.map { k =>
      byUser.values.count(reachDepth(_) >= k + 1).toLong
    }
    for (nPart <- Seq(1, 4)) {
      val df = events.toDF("user_id", "ts", "event_type").repartition(nPart)
      val got = Relational.funnelStages(df, "user_id", "ts", "event_type", stages)
        .orderBy("stage_idx").collect()
      assert(got.map(_.getLong(2)).toSeq == expectCounts, s"nPart=$nPart")
      // conv_ppm is the exact integer ratio vs the previous stage
      val ppm = got.map(_.getLong(3)).toSeq
      assert(ppm.head == 1000000L)
      for (i <- 1 until stages.size) {
        val want = if (expectCounts(i - 1) > 0)
          expectCounts(i) * 1000000L / expectCounts(i - 1) else 0L
        assert(ppm(i) == want, s"stage $i")
      }
    }
    // equal timestamps do NOT satisfy the strictly-after contract
    val eq = Seq((1L, 5L, "a"), (1L, 5L, "b"), (1L, 6L, "b"), (2L, 5L, "a"))
      .toDF("user_id", "ts", "event_type")
    val gotEq = Relational.funnelStages(eq, "user_id", "ts", "event_type", Seq("a", "b"))
      .orderBy("stage_idx").collect().map(_.getLong(2)).toSeq
    assert(gotEq == Seq(2L, 1L)) // user 1 reaches b only via ts=6
    // an empty downstream stage yields zero users and zero conv
    val none = Seq((1L, 1L, "a")).toDF("user_id", "ts", "event_type")
    val gotNone = Relational.funnelStages(none, "user_id", "ts", "event_type",
      Seq("a", "b", "c")).orderBy("stage_idx").collect()
    assert(gotNone.map(_.getLong(2)).toSeq == Seq(1L, 0L, 0L))
    assert(gotNone.map(_.getLong(3)).toSeq == Seq(1000000L, 0L, 0L))
    // empty input: every stage counts 0 users; only stage 1 keeps 100%
    val empty = Seq.empty[(Long, Long, String)].toDF("user_id", "ts", "event_type")
    val gotEmpty = Relational.funnelStages(empty, "user_id", "ts", "event_type",
      Seq("a", "b", "c")).orderBy("stage_idx").collect()
    assert(gotEmpty.map(r => (r.getInt(0), r.getString(1))).toSeq ==
      Seq((1, "a"), (2, "b"), (3, "c")))
    assert(gotEmpty.map(_.getLong(2)).toSeq == Seq(0L, 0L, 0L))
    assert(gotEmpty.map(_.getLong(3)).toSeq == Seq(1000000L, 0L, 0L))
    // building the funnel is one lazy plan: no job until an action
    val (_, jobs) = SparkTestSession.jobsDuring(Relational.funnelStages(
      events.toDF("user_id", "ts", "event_type"), "user_id", "ts", "event_type", stages))
    assert(jobs == 0)
  }
}
