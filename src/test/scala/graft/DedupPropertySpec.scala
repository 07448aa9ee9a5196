package graft

import org.scalacheck.{Gen, rng}
import org.scalatest.funsuite.AnyFunSuite

import graft.operators.{Dedup, Sketches}

/** Model-based property tests of the dedup family: ScalaCheck-generated
  * corpora (planted exact copies, whitespace variants, case flips, token
  * edits — fixed seed) are checked against direct Scala models of each
  * operator's CONTRACT, evaluated in one Spark job per operator. The
  * models replicate the documented token/shingle semantics
  * (trim + split on \s+; distinct k-shingles, short-doc degenerate
  * shingle), not the implementation.
  */
class DedupPropertySpec extends AnyFunSuite {
  lazy val spark = SparkTestSession.spark
  import spark.implicits._

  // --- generated corpus --------------------------------------------------
  private val vocab = Vector("alpha", "beta", "gamma", "delta", "epsilon",
    "zeta", "Eta", "theta", "IOTA", "kappa")
  private val baseGen: Gen[List[String]] =
    Gen.chooseNum(1, 10).flatMap(n => Gen.listOfN(n, Gen.oneOf(vocab)))
  private val mutateGen: Gen[List[String] => String] = Gen.oneOf(
    (t: List[String]) => t.mkString(" "),                      // verbatim
    (t: List[String]) => "  " + t.mkString("\t ") + " ",       // whitespace variant
    (t: List[String]) => t.mkString(" ").toUpperCase,          // case flip
    (t: List[String]) => (t :+ "omega").mkString(" "),         // append token
    (t: List[String]) => t.reverse.mkString(" "))              // reorder

  private lazy val docs: Vector[(Long, String)] = {
    val params = Gen.Parameters.default
    val gen = for { b <- baseGen; m <- mutateGen } yield m(b)
    Iterator.iterate(rng.Seed(7L))(_.next).take(160)
      .map(s => gen.pureApply(params, s)).toVector.zipWithIndex
      .map { case (t, i) => (i.toLong, t) }
  }

  // --- contract models ---------------------------------------------------
  private def toks(t: String): Array[String] = {
    val s = t.trim
    if (s.isEmpty) Array.empty else s.split("\\s+")
  }

  private def shingles3(t: String): Set[String] = {
    val ts = toks(t)
    if (ts.isEmpty) Set(ts.mkString(" "))
    else if (ts.length < 3) Set(ts.mkString(" "))
    else ts.sliding(3).map(_.mkString(" ")).toSet
  }

  test("exact dedup equals the normalize-group-min model") {
    // Locale.ROOT: Spark's lower() is locale-independent; a bare
    // toLowerCase under a Turkish-like JVM locale maps I -> ı and breaks
    // the model spuriously
    val model = docs
      .groupBy { case (_, t) =>
        t.trim.toLowerCase(java.util.Locale.ROOT).replaceAll("\\s+", " ") }
      .map { case (_, ds) => (ds.map(_._1).min, ds.size.toLong) }
      .toSet
    val got = Dedup.exact(docs.toDF("doc_id", "text"), "doc_id", "text")
      .select("keep_id", "n_copies").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(got == model)
  }

  test("ngram Jaccard (uncapped) equals the exact set-similarity model") {
    val sh = docs.map { case (id, t) => id -> shingles3(t) }.toMap
    val model = (for {
      (a, sa) <- sh; (b, sb) <- sh if a < b
      inter = (sa intersect sb).size
      if inter > 0
      // HALF_UP to match Spark's round(), not rint's HALF_EVEN
      j = BigDecimal(inter.toDouble / (sa.size + sb.size - inter))
        .setScale(4, BigDecimal.RoundingMode.HALF_UP).toDouble
      if j >= 0.2
    } yield (a, b, j)).toSet
    val got = Dedup.ngramJaccard(docs.toDF("doc_id", "text"), "doc_id", "text",
        k = 3, minJaccard = 0.2, maxDocFreq = Int.MaxValue)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    assert(got == model)
  }

  test("Hamming<=d near-dup equals the brute-force popcount model on this corpus") {
    val df = docs.toDF("doc_id", "text")
    val hashes = Dedup.simHash(df, "doc_id", "text", 24).collect()
      .map(r => (r.getLong(0), r.getLong(1)))
    val model = (for {
      (a, ha) <- hashes; (b, hb) <- hashes
      if a < b && java.lang.Long.bitCount(ha ^ hb) <= 2
    } yield (a, b)).toSet
    val got = Dedup.simHashNearDup(df, "doc_id", "text", 24, 2)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(got == model)
  }

  test("MinHash-LSH finds every identical-token pair with est_jaccard 1.0") {
    // docs with the same token stream have identical signatures, so they
    // collide in EVERY band and must surface with estimate exactly 1.0
    val sameToks = docs.groupBy { case (_, t) => toks(t).toList }
      .values.filter(_.size >= 2)
      .flatMap(g => for ((a, _) <- g; (b, _) <- g if a < b) yield (a, b)).toSet
    assume(sameToks.nonEmpty)
    val got = Dedup.minHashLsh(docs.toDF("doc_id", "text"), "doc_id", "text",
        k = 3, bands = 4, rowsPerBand = 4, minEstJaccard = 0.0,
        maxBucketSize = Int.MaxValue)
      .collect().map(r => ((r.getLong(0), r.getLong(1)), r.getDouble(2))).toMap
    sameToks.foreach { p => assert(got.get(p).contains(1.0), s"missing pair $p") }
  }

  test("exactSubstringSpans equals the brute-force maximal-run model") {
    // adversarial corpus: tiny alphabet ("ab" + space) makes periodic
    // text, multi-diagonal repeats, and boundary-kissing spans common —
    // exactly the edge cases the islands merge must get right
    val L = 5
    val charGen = Gen.frequency(4 -> Gen.const('a'), 3 -> Gen.const('b'),
      1 -> Gen.const(' '))
    val strGen = Gen.chooseNum(0, 24)
      .flatMap(n => Gen.listOfN(n, charGen).map(_.mkString))
    val params = Gen.Parameters.default
    val spanDocs: Vector[(Long, String)] =
      Iterator.iterate(rng.Seed(11L))(_.next).take(40)
        .map(s => strGen.pureApply(params, s)).toVector.zipWithIndex
        .map { case (t, i) => (i.toLong, t) }
    // brute force: every cross-doc anchor (equal L-gram), grouped by
    // diagonal, maximal consecutive runs — the operator's CONTRACT,
    // computed without posting lists, joins, or windows
    val model = (for {
      (ia, sa) <- spanDocs; (ib, sb) <- spanDocs if ia < ib
      diag <- (1 - sb.length) to sa.length
      run <- {
        val anchors = (1 to sa.length - L + 1).filter { pa =>
          val pb = pa - diag
          pb >= 1 && pb + L - 1 <= sb.length &&
            sa.substring(pa - 1, pa + L - 1) == sb.substring(pb - 1, pb + L - 1)
        }
        // split into maximal consecutive runs
        anchors.foldLeft(List.empty[List[Int]]) {
          case (acc @ (h :: t), p) if h.head == p - 1 => (p :: h) :: t
          case (acc, p) => List(p) :: acc
        }.map(r => (r.min, r.size))
      }
    } yield (ia, ib, run._1.toLong, (run._1 - diag).toLong,
      (run._2 + L - 1).toLong)).toSet
    val got = Dedup.exactSubstringSpans(spanDocs.toDF("id", "text"), "id", "text",
        minLen = L, maxGramFreq = Int.MaxValue - 1)
      .collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4)))
      .toSet
    assume(model.nonEmpty) // the corpus must actually exercise the operator
    assert(got == model)

    // mode equivalence on the same adversarial corpus: hashed gram keys
    // (the registered q125/q126 tuning) and the bloom prefilter are
    // VOLUME choices, never result choices
    for (hash <- Seq(false, true); bloom <- Seq(false, true)
         if hash || bloom) {
      val variant = Dedup.exactSubstringSpans(spanDocs.toDF("id", "text"),
          "id", "text", minLen = L, maxGramFreq = Int.MaxValue - 1,
          hashGrams = hash, bloomPrune = bloom)
        .collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4)))
        .toSet
      assert(variant == model, s"hashGrams=$hash bloomPrune=$bloom diverged")
    }

    // the SELF half-plane on the same corpus: same contract with
    // ia == ib, pos_a < pos_b (diag < 0) — periodic tiny-alphabet text
    // makes overlapping self-repeats the common case here
    val selfModel = (for {
      (ia, sa) <- spanDocs
      diag <- -sa.length to -1
      run <- {
        val anchors = (1 to sa.length - L + 1).filter { pa =>
          val pb = pa - diag
          pb >= 1 && pb + L - 1 <= sa.length &&
            sa.substring(pa - 1, pa + L - 1) == sa.substring(pb - 1, pb + L - 1)
        }
        anchors.foldLeft(List.empty[List[Int]]) {
          case (acc @ (h :: t), p) if h.head == p - 1 => (p :: h) :: t
          case (acc, p) => List(p) :: acc
        }.map(r => (r.min, r.size))
      }
    } yield (ia, run._1.toLong, (run._1 - diag).toLong,
      (run._2 + L - 1).toLong)).toSet
    val gotSelf = Dedup.selfRepeatSpans(spanDocs.toDF("id", "text"), "id", "text",
        minLen = L, maxGramFreq = Int.MaxValue - 1)
      .collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)))
      .toSet
    assume(selfModel.nonEmpty)
    assert(gotSelf == selfModel)
  }

  test("removeDuplicateSpans keeper path equals the span-derived removal") {
    // the removal fast path skips the pair join (Dedup.removeDuplicateSpans
    // scaladoc: union of losing-side span intervals == union of [p, p+L)
    // over anchors with an earlier occurrence). This test pins that
    // equivalence on the adversarial tiny-alphabet corpus, across both
    // half-plane modes, a binding maxGramFreq cap, and hashed gram keys:
    // the model cuts each document using exactSubstringSpans' pair-path
    // output (itself checked against the brute-force model above).
    val L = 5
    val charGen = Gen.frequency(4 -> Gen.const('a'), 3 -> Gen.const('b'),
      1 -> Gen.const(' '))
    val strGen = Gen.chooseNum(0, 24)
      .flatMap(n => Gen.listOfN(n, charGen).map(_.mkString))
    val params = Gen.Parameters.default
    val spanDocs: Vector[(Long, String)] =
      Iterator.iterate(rng.Seed(23L))(_.next).take(40)
        .map(s => strGen.pureApply(params, s)).toVector.zipWithIndex
        .map { case (t, i) => (i.toLong, t) }
    val df = spanDocs.toDF("id", "text")
    def md5hex(s: String): String =
      java.security.MessageDigest.getInstance("MD5").digest(s.getBytes("UTF-8"))
        .map("%02x".format(_)).mkString
    def cutModel(text: String, ivs: Seq[(Long, Long)]): (Long, Long, Long, String) = {
      val merged = scala.collection.mutable.ArrayBuffer.empty[(Long, Long)]
      ivs.sorted.foreach { case (s, e) =>
        if (merged.nonEmpty && s <= merged.last._2)
          merged(merged.length - 1) = (merged.last._1, math.max(merged.last._2, e))
        else merged += ((s, e))
      }
      val sb = new StringBuilder; var from = 1L
      merged.foreach { case (s, e) =>
        sb.append(text.substring(from.toInt - 1, s.toInt - 1)); from = e
      }
      sb.append(text.substring(from.toInt - 1))
      val clean = sb.result()
      (merged.length.toLong, merged.map(p => p._2 - p._1).sum,
        clean.length.toLong, md5hex(clean))
    }
    for (includeSelf <- Seq(false, true); cap <- Seq(6, Int.MaxValue - 1)) {
      val spans = Dedup.exactSubstringSpans(df, "id", "text", minLen = L,
          maxGramFreq = cap, includeSelf = includeSelf)
        .collect()
        .map(r => (r.getLong(1), r.getLong(3), r.getLong(3) + r.getLong(4)))
      val byDoc = spans.groupBy(_._1)
      val model = spanDocs.map { case (id, text) =>
        id -> cutModel(text, byDoc.getOrElse(id, Array.empty).toSeq
          .map(t => (t._2, t._3)))
      }.toMap
      for (hash <- Seq(false, true)) {
        val got = Dedup.removeDuplicateSpans(df, "id", "text", minLen = L,
            maxGramFreq = cap, hashGrams = hash, includeSelf = includeSelf)
          .collect()
          .map(r => r.getLong(0) ->
            ((r.getLong(1), r.getLong(2), r.getLong(3), r.getString(4))))
          .toMap
        assert(got == model,
          s"includeSelf=$includeSelf cap=$cap hashGrams=$hash diverged")
      }
    }
  }

  test("ppJoinAgainstPostings equals the brute-force cross model at several thresholds") {
    // the generated corpus splits on the q218 coin; the model is the
    // exact shingle-set Jaccard over every (batch, corpus) pair — the
    // prefix filter must lose NOTHING at any threshold, including
    // batch shingles the corpus never saw (the reorder/append mutations
    // plant plenty)
    val df = docs.toDF("doc_id", "text")
    val batch = df.filter(org.apache.spark.sql.functions.pmod(
      org.apache.spark.sql.functions.col("doc_id"),
      org.apache.spark.sql.functions.lit(10L)) === 0L)
    val corpus = df.filter(org.apache.spark.sql.functions.pmod(
      org.apache.spark.sql.functions.col("doc_id"),
      org.apache.spark.sql.functions.lit(10L)) =!= 0L)
    def shingleSet(t: String): Set[String] = {
      val toks = t.trim match { case "" => Nil; case s => s.split("\\s+").toList }
      if (toks.size < 3) Set(toks.mkString(" "))
      else toks.sliding(3).map(_.mkString(" ")).toSet
    }
    val bSets = docs.filter(_._1 % 10 == 0).map { case (i, t) => i -> shingleSet(t) }
    val cSets = docs.filter(_._1 % 10 != 0).map { case (i, t) => i -> shingleSet(t) }
    for (t <- Seq(200000L, 500000L, 800000L)) {
      val model = (for {
        (bi, bs) <- bSets; (ci, cs) <- cSets
        inter = (bs intersect cs).size.toLong
        jac = inter * 1000000L / (bs.size + cs.size - inter)
        if jac >= t
      } yield (bi, ci, inter, jac)).toSet
      val (dfreq, postings, sets) = Dedup.ppJoinIndex(corpus, "doc_id", "text", t)
      val got = Dedup.ppJoinAgainstPostings(batch, dfreq, postings, sets,
          "doc_id", "text", t)
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3))).toSet
      assert(got == model, s"t=$t got=${got.size} model=${model.size}")
    }
  }

  test("ppJoinIndexUpsert: probe over the folded index equals brute force; fold-in is batch-order-independent") {
    // the frozen-order contract (Dedup.ppJoinIndexUpsert scaladoc):
    // corpus = id%10 != 0 docs, two disjoint arriving batches B1
    // (id%20 == 0) and B2 (id%20 == 10); B1 folds in, then B2 probes
    // the post-fold index — probe results must equal exact shingle-set
    // Jaccard over B2 × (corpus ∪ B1), INCLUDING B2×B1 pairs whose B1
    // side entered under stale (frozen) dfs and pairs on shingles the
    // built index never saw (df=0 rank).
    import org.apache.spark.sql.functions.{col, pmod, lit}
    val df = docs.toDF("doc_id", "text")
    val corpus = df.filter(pmod(col("doc_id"), lit(10L)) =!= 0L)
    val b1 = df.filter(pmod(col("doc_id"), lit(20L)) === 0L)
    val b2 = df.filter(pmod(col("doc_id"), lit(20L)) === 10L)
    val b2Sets = docs.filter(_._1 % 20 == 10).map { case (i, t) => i -> shingles3(t) }
    val tgtSets = docs.filter(p => p._1 % 10 != 0 || p._1 % 20 == 0)
      .map { case (i, t) => i -> shingles3(t) }
    for (t <- Seq(200000L, 500000L, 800000L)) {
      val model = (for {
        (bi, bs) <- b2Sets; (ci, cs) <- tgtSets
        inter = (bs intersect cs).size.toLong
        jac = inter * 1000000L / (bs.size + cs.size - inter)
        if jac >= t
      } yield (bi, ci, inter, jac)).toSet
      val (dfreq, postings, sets) = Dedup.ppJoinIndex(corpus, "doc_id", "text", t)
      val (np, ns) = Dedup.ppJoinIndexUpsert(dfreq, b1, "doc_id", "text", t)
      val got = Dedup.ppJoinAgainstPostings(b2, dfreq,
          postings.unionByName(np), sets.unionByName(ns),
          "doc_id", "text", t)
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3))).toSet
      assert(got == model, s"t=$t got=${got.size} model=${model.size} " +
        s"missed=${(model -- got).take(3)} extra=${(got -- model).take(3)}")
    }
    // batch-order independence, frame-bit-exact: folding B1 then B2
    // appends the same rows as folding B1 ∪ B2 in one pass — postings
    // and sets are pure per-doc functions of the FROZEN dfreq, so the
    // fold sequence cannot matter
    val t0 = 500000L
    val (dfreq0, _, _) = Dedup.ppJoinIndex(corpus, "doc_id", "text", t0)
    val (p1, s1) = Dedup.ppJoinIndexUpsert(dfreq0, b1, "doc_id", "text", t0)
    val (p2, s2) = Dedup.ppJoinIndexUpsert(dfreq0, b2, "doc_id", "text", t0)
    val (pu, su) = Dedup.ppJoinIndexUpsert(dfreq0, b1.unionByName(b2),
      "doc_id", "text", t0)
    def rs(d: org.apache.spark.sql.DataFrame) = d.collect().map(_.toSeq).toSet
    assert(rs(p1.unionByName(p2)) == rs(pu), "postings fold-order")
    assert(rs(s1.unionByName(s2)) == rs(su), "sets fold-order")
  }

  test("ppJoinIndexUpsert of the corpus under its own dfreq == ppJoinIndex") {
    // build and fold-in rank in one place: upserting the corpus itself
    // under the index's dfreq must return the index's own postings and
    // sets, schema and rows bit-equal
    val corpus = docs.toDF("doc_id", "text")
    for (t <- Seq(200000L, 800000L)) {
      val (dfreq, postings, sets) = Dedup.ppJoinIndex(corpus, "doc_id", "text", t)
      val (up, us) = Dedup.ppJoinIndexUpsert(dfreq, corpus, "doc_id", "text", t)
      def rs(d: org.apache.spark.sql.DataFrame) =
        d.collect().map(_.toSeq.map {
          case a: scala.collection.Seq[_] => a.toList
          case v => v
        }).toSeq.sortBy(_.toString)
      assert(up.schema == postings.schema && us.schema == sets.schema, s"t=$t")
      assert(rs(up) == rs(postings), s"postings t=$t")
      assert(rs(us) == rs(sets), s"sets t=$t")
    }
  }

  test("ppJoinIndexDelete: probe over the tombstoned index equals brute force over the survivors") {
    // q307's contract: dfreq stays FROZEN (prefixes are per-doc
    // functions of the frozen order), the deleted ids' rows vanish, and
    // the probe loses exactly the tombstoned docs' pairs — brute-force
    // equality over batch × (corpus MINUS deleted), including the
    // no-op tombstone of an id the index never held
    import org.apache.spark.sql.functions.{col, pmod, lit}
    val df = docs.toDF("doc_id", "text")
    val corpus = df.filter(pmod(col("doc_id"), lit(10L)) =!= 0L)
    val batch = df.filter(pmod(col("doc_id"), lit(10L)) === 0L)
    val deletedIds = docs.map(_._1)
      .filter(i => i % 10 != 0 && i % 7 == 0).toSet
    val bSets = docs.filter(_._1 % 10 == 0).map { case (i, t) => i -> shingles3(t) }
    val cSets = docs.filter(p => p._1 % 10 != 0 && !deletedIds(p._1))
      .map { case (i, t) => i -> shingles3(t) }
    for (t <- Seq(200000L, 500000L)) {
      val model = (for {
        (bi, bs) <- bSets; (ci, cs) <- cSets
        inter = (bs intersect cs).size.toLong
        jac = inter * 1000000L / (bs.size + cs.size - inter)
        if jac >= t
      } yield (bi, ci, inter, jac)).toSet
      val (dfreq, postings, sets) = Dedup.ppJoinIndex(corpus, "doc_id", "text", t)
      val (p2, s2) = Dedup.ppJoinIndexDelete(postings, sets,
        (deletedIds.toSeq :+ 999999L).toDF("doc_id")) // +no-op tombstone
      val got = Dedup.ppJoinAgainstPostings(batch, dfreq, p2, s2,
          "doc_id", "text", t)
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3))).toSet
      assert(got == model, s"t=$t got=${got.size} model=${model.size} " +
        s"missed=${(model -- got).take(3)} extra=${(got -- model).take(3)}")
    }
  }

  test("ppJoin positional filter admits no false negatives on run-structured corpora") {
    // The r13 positional filter (Xiao et al. WWW'08 §3.1,
    // Dedup.positionalFilter) prunes pairs whose first shared prefix
    // token sits too late in either ordering. This corpus is built to
    // stress exactly that: docs are consecutive-token RUNS over one
    // shared 100-token line, so two docs' shingle sets overlap in one
    // contiguous block whose size (and position in the rare-first
    // order) varies smoothly — Jaccard lands densely around every
    // threshold, and shared blocks sit at controlled depths. The
    // filter must still equal brute force EXACTLY at thresholds
    // straddling the α boundaries.
    val rnd = new scala.util.Random(1813)
    val line = Array.tabulate(100)(i => s"t$i")
    val runDocs: Vector[(Long, String)] = (0 until 120).toVector.map { i =>
      val start = rnd.nextInt(70)
      val len = 3 + rnd.nextInt(30)
      (i.toLong, line.slice(start, math.min(100, start + len)).mkString(" "))
    }
    val df = runDocs.toDF("doc_id", "text")
    val sets = runDocs.map { case (i, t) => i -> shingles3(t) }
    for (t <- Seq(166667L, 250000L, 333333L, 499999L, 500000L, 500001L,
        700000L, 900000L)) {
      val model = (for {
        (ai, as) <- sets; (bi, bs) <- sets if ai < bi
        inter = (as intersect bs).size.toLong
        jac = inter * 1000000L / (as.size + bs.size - inter)
        if jac >= t
      } yield (ai, bi, inter, jac)).toSet
      val got = Dedup.ppJoinShingles(df, "doc_id", "text", t)
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
          r.getLong(3))).toSet
      assert(got == model, s"t=$t got=${got.size} model=${model.size} " +
        s"missed=${(model -- got).take(3)} extra=${(got -- model).take(3)}")
    }
  }

  test("Misra-Gries: contract holds on random skewed streams at random partitionings") {
    // ScalaCheck-generated zipf-ish streams: for every (k, partitioning)
    // the exact heavy hitters must be retained, never overcounted, and
    // undercounted by at most n/k — the PODS merge rule across whatever
    // merge tree Spark's partitioning induces
    import org.apache.spark.sql.{functions => F}
    val params = Gen.Parameters.default
    val streamGen = for {
      nHot <- Gen.chooseNum(1, 3)
      hotReps <- Gen.chooseNum(150, 400)
      coldKinds <- Gen.chooseNum(20, 80)
      coldReps <- Gen.chooseNum(1, 9)
    } yield (0 until nHot).flatMap(h => Seq.fill(hotReps)(s"hot$h")) ++
      (0 until coldKinds).flatMap(c => Seq.fill(coldReps)(s"c$c"))
    var checked = 0
    Iterator.iterate(rng.Seed(11L))(_.next).take(4).foreach { seed =>
      val stream = streamGen.pureApply(params, seed)
      for (k <- Seq(5, 12); parts <- Seq(1, 7)) {
        val n = stream.size.toLong
        val exact = stream.groupBy(identity).view.mapValues(_.size.toLong).toMap
        val heavy = exact.filter { case (_, c) => c * k > n }
        val rows = Sketches.mgHeavyHitters(
            stream.toDF("w").repartition(parts), F.col("w"), k)
          .collect().map(r => r.getString(0) ->
            (r.getBoolean(2), r.getBoolean(3), r.getBoolean(4))).toMap
        assert(rows.keySet == heavy.keySet, s"k=$k parts=$parts")
        assert(rows.values.forall(_ == ((true, true, true))),
          s"k=$k parts=$parts contract: $rows")
        checked += heavy.size
      }
    }
    assert(checked > 0, "no heavy hitters generated — weak test data")
  }

  test("log-bucket quantiles bracket the exact disc quantile on generated value sets") {
    import org.apache.spark.sql.functions.col
    val params = Gen.Parameters.default
    // mixed magnitudes: small exact range, mid range, heavy tail
    val vGen = Gen.oneOf(Gen.chooseNum(1L, 31L), Gen.chooseNum(32L, 5000L),
      Gen.chooseNum(1L, 1L << 40))
    val qGen = Gen.chooseNum(1L, 1000000L)
    (1 to 5).foreach { trial =>
      val seed0 = rng.Seed(1000L + trial)
      val vs = Iterator.iterate(seed0)(_.next).take(400)
        .map(s => vGen.pureApply(params, s)).toVector
      val qs = Iterator.iterate(seed0.next.next)(_.next).take(4)
        .map(s => qGen.pureApply(params, s)).toVector.distinct
      val df = vs.map(("g", _)).toDF("grp", "v")
      val cells = Sketches.logBucketCells(df, "grp", col("v"), 5)
      val est = Sketches.logBucketQuantiles(cells, qs, 5)
        .collect().map(r => r.getAs[Long]("q_ppm") ->
          (r.getAs[Long]("est"), r.getAs[Long]("width"))).toMap
      // driver model: exact disc quantile under the shared rank rule
      val sorted = vs.sorted
      qs.foreach { q =>
        val rank = math.max((vs.size.toLong * q + 999999L) / 1000000L, 1L)
        val exact = sorted(math.min(rank, vs.size).toInt - 1)
        val (e, w) = est(q)
        assert(e <= exact && exact < e + w,
          s"trial $trial q=$q est=$e width=$w exact=$exact")
      }
    }
  }

  test("Aho-Corasick blocklist counts match brute force on generated text/patterns") {
    import graft.operators.Curation
    val params = Gen.Parameters.default
    val textGen = Gen.chooseNum(0, 60).flatMap(n =>
      Gen.listOfN(n, Gen.oneOf('a', 'b', 'c', ' ')).map(_.mkString))
    val patGen = Gen.chooseNum(1, 4).flatMap(n =>
      Gen.listOfN(n, Gen.oneOf('a', 'b', 'c', ' ')).map(_.mkString))
    def brute(text: String, pat: String): Long =
      (0 to text.length - pat.length)
        .count(i => text.regionMatches(i, pat, 0, pat.length)).toLong
    (1 to 4).foreach { trial =>
      val seed0 = rng.Seed(9000L + trial)
      val texts = Iterator.iterate(seed0)(_.next).take(40)
        .map(s => textGen.pureApply(params, s)).toVector
        .zipWithIndex.map { case (t, i) => (i.toLong, t) }
      val pats = Iterator.iterate(seed0.next)(_.next)
        .map(s => patGen.pureApply(params, s))
        .distinct.take(6).toVector
      val got = Curation.blocklistScreen(texts.toDF("id", "text"),
          "id", "text", pats)
        .collect().map(r => (r.getLong(0), r.getString(1)) -> r.getLong(2))
        .toMap
      texts.foreach { case (id, t) =>
        pats.foreach { p =>
          assert(got.getOrElse((id, p), 0L) == brute(t, p),
            s"trial $trial id=$id pat='$p' text='$t'")
        }
      }
    }
  }
}
