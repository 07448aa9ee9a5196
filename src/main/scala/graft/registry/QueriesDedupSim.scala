package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.engine.Shape.MaterializeOps
import graft.engine.Shape
import graft.engine.Tables._
import graft.functions.TextFunctions._
import graft.operators.{Curation, Dedup, Relational}

import graft.QueryShared._

/** DedupSim query registry — exact/near dedup, LSH/SimHash/PPJoin, substring spans, entity resolution, standing indexes.
  * Split verbatim from SparkEntry (round 12): every entry is the
  * original closure/SQL, unchanged; SparkEntry concatenates the
  * family maps back into the driver contract.
  */
private[graft] object QueriesDedupSim {

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(

    // --- deduplication family ---

    "q29_dedup_exact" -> ((s, d) =>
      Dedup.exact(documents(s, d), "doc_id", "text").orderBy("fp")),

    // Scale guards active (the oracle SQL mirrors the same doc-frequency /
    // bucket-size prefilters, so the hash check covers the guarded plan —
    // the one that would run at 100 TB).
    "q30_dedup_ngram_jaccard" -> ((s, d) =>
      Dedup.ngramJaccard(documents(s, d), "doc_id", "text", k = 3, minJaccard = 0.05,
          maxDocFreq = 10000)
        .orderBy("id_a", "id_b")),

    "q31_dedup_minhash_lsh" -> ((s, d) =>
      Dedup.minHashLsh(documents(s, d), "doc_id", "text",
          k = 3, bands = 4, rowsPerBand = 4, minEstJaccard = 0.25,
          maxBucketSize = 10000)
        .orderBy("id_a", "id_b")),

    "q32_simhash" -> ((s, d) =>
      Dedup.simHash(documents(s, d), "doc_id", "text", nBits = 16)
        .withColumnRenamed("id", "doc_id")
        .orderBy("doc_id")),

    "q278_minhash_error" -> ((s, d) => {
      // Estimator-quality report for q31's MinHash: per LSH candidate
      // pair, |16-hash estimate − exact 3-shingle Jaccard| in exact
      // ppm, rolled up to n_pairs / floor-mean / max / within-one-
      // hash-quantum (62 500 ppm = 1/16). Every quantity is
      // deterministic (md5 hash family + fixed corpus), so the report
      // hash-compares with NO stochastic tolerance; exact J runs ONLY
      // on the candidate pairs (semi-filtered shingle postings), never
      // all pairs — the q240 eval doctrine.
      val docs = documents(s, d)
      val cand = Dedup.minHashLsh(docs, "doc_id", "text",
          k = 3, bands = 4, rowsPerBand = 4, minEstJaccard = 0.25,
          maxBucketSize = 10000)
        .withColumn("est_ppm",
          expr("cast(round(est_jaccard * 1000000) as bigint)"))
      val ids = cand.select(col("id_a").as("id"))
        .unionByName(cand.select(col("id_b").as("id"))).distinct()
      val shc = docs.select(col("doc_id").as("id"),
          explode(Dedup.shingles(col("text"), 3)).as("sh")).distinct()
        .join(ids, Seq("id"), "left_semi")
      val sz = shc.groupBy("id").agg(count(lit(1)).as("n"))
      val inter = shc.select(col("id").as("id_a"), col("sh"))
        .join(shc.select(col("id").as("id_b"), col("sh")), Seq("sh"))
        .filter(col("id_a") < col("id_b"))
        .groupBy("id_a", "id_b").agg(count(lit(1)).as("inter"))
      cand
        .join(sz.select(col("id").as("id_a"), col("n").as("na")), Seq("id_a"))
        .join(sz.select(col("id").as("id_b"), col("n").as("nb")), Seq("id_b"))
        .join(inter, Seq("id_a", "id_b"), "left")
        .withColumn("err_ppm", abs(col("est_ppm") -
          expr("coalesce(inter, 0) * 1000000 div (na + nb - coalesce(inter, 0))")))
        .agg(count(lit(1)).as("n_pairs"),
          expr("sum(err_ppm) div count(1)").as("mean_err_ppm"),
          max("err_ppm").as("max_err_ppm"),
          sum(when(col("err_ppm") <= 62500L, 1L).otherwise(0L))
            .as("n_within_1q"))
        .select(col("n_pairs").cast("long").as("n_pairs"),
          col("mean_err_ppm").cast("long").as("mean_err_ppm"),
          col("max_err_ppm").cast("long").as("max_err_ppm"),
          col("n_within_1q").cast("long").as("n_within_1q"))
    }),

    "q75_winnow_overlap" -> ((s, d) =>
      // winnowing (MOSS) partial-overlap detection: local fingerprints,
      // pairs sharing >= 2
      Dedup.winnowOverlap(documents(s, d), "doc_id", "text",
          k = 3, w = 4, minShared = 2)
        .orderBy("id_a", "id_b")),

    "q63_dedup_clusters" -> ((s, d) =>
      // collapse the q33 simhash dup pairs into connected components;
      // label = canonical (min) doc id per cluster
      Dedup.dupClusters(
          Dedup.simHashDup(documents(s, d), "doc_id", "text", nBits = 16),
          "id_a", "id_b", iterations = 4)
        .orderBy("node")),

    // q63's pair graph through large-star/small-star CC instead of
    // bounded min-label propagation: runs to a PROVEN fixpoint (edge-set
    // signature stable), so the oracle can be the exact recursive
    // transitive closure rather than q63's unrolled k iterations.
    "q84_dedup_clusters_star" -> ((s, d) =>
      Dedup.dupClustersStar(
          Dedup.simHashDup(documents(s, d), "doc_id", "text", nBits = 16),
          "id_a", "id_b")
        .orderBy("node")),

    "q33_dedup_simhash" -> ((s, d) =>
      Dedup.simHashDup(documents(s, d), "doc_id", "text", nBits = 16)
        .orderBy("id_a", "id_b")),

    "q34_dedup_embedding" -> ((s, d) =>
      Dedup.embeddingNearDup(embeddings(s, d), "vec_id", "embedding",
          nBits = 8, minCosine = 0.2)
        .orderBy("id_a", "id_b")),

    // 60 bits (the full tokenHash64 width): band width must grow with
    // log(corpus) or the pigeonhole buckets go quadratic — at 32 bits
    // the Hamming<=2 bands are ~11 bits (~2K buckets), measured 7.4x
    // growth per 10x data at sf1 (8.56 s) vs 60-bit's 20-bit bands
    // (2.83 s, ~linear). The oracle SQL derives from the SAME nBits so
    // the two can't drift; the width lives in one place below.
    "q52_dedup_simhash_hamming" -> ((s, d) =>
      Dedup.simHashNearDup(documents(s, d), "doc_id", "text",
          nBits = SimHashBitsQ52, maxHamming = 2)
        .orderBy("id_a", "id_b")),

    // d=3 is where plain pigeonhole banding (q52's shape) breaks down —
    // 8-bit chunks at 32 bits — and the multi-index tables keep keys at
    // 16 bits (C(6,3)=20 tables of 3-of-6 block combinations).
    "q82_dedup_simhash_multiindex" -> ((s, d) =>
      Dedup.simHashNearDupMulti(documents(s, d), "doc_id", "text",
          nBits = 32, maxHamming = 3, nBlocks = 6)
        .orderBy("id_a", "id_b")),

    "q76_contamination" -> ((s, d) => {
      // benchmark-leak scan: the q73 eval carve-out checked for winnowing
      // overlap against the training remainder; per eval doc, how many
      // train docs leak into it
      val docs = documents(s, d)
      val eval_ = Curation.hashSamplePerGroup(docs, "source", "doc_id", 5)
      val train = docs.join(eval_.select("doc_id"), Seq("doc_id"), "left_anti")
      Curation.contaminationCheck(train, eval_, "doc_id", "text",
          k = 3, w = 4, minShared = 2)
        .groupBy("eval_id")
        .agg(count(lit(1)).as("n_leaking_train_docs"),
          max(col("n_shared")).as("max_shared"))
        .orderBy("eval_id")
    }),

    "q104_dedup_retention" -> ((s, d) =>
      // retention policy after exact dedup: keep each duplicate group's
      // highest-quality copy (ties -> smallest doc_id). One groupBy with
      // a struct-max — map-side partial maxes, so even a viral duplicate
      // with millions of copies never materializes as a group
      documents(s, d)
        .select(fingerprint(col("text")).as("fp"), col("doc_id"),
          // quality is k/10⁴ with integer k, so ×10⁴ is k ± ulp and
          // floor(+0.5) recovers k exactly on both engines (Spark's
          // round() would re-round the decimal string — the sf1 edge)
          floor(qualityScore(col("text")) * 10000 + lit(0.5))
            .cast("long").as("q"))
        .groupBy("fp")
        .agg(count(lit(1)).as("n_copies"),
          max(struct(col("q").as("q"), (-col("doc_id")).as("nid"))).as("m"))
        .select(col("fp"), (-col("m.nid")).as("keep_id"),
          col("m.q").as("kept_q"), col("n_copies"))
        .orderBy("fp")),

    "q115_dedup_incremental" -> ((s, d) => {
      // Incremental near-dup: the "today's batch vs standing corpus"
      // shape (batch = doc_id % 10 == 0 as a stand-in for an ingest
      // partition). Only new x corpus pairs are generated — the corpus
      // side is the one groupBy a standing band index would persist
      // bucketed; per batch only the new side is hashed and shuffled
      // (Dedup.minHashLshAgainst scaladoc).
      val docs = documents(s, d)
      Dedup.minHashLshAgainst(
          docs.filter(isBatch("doc_id")),
          docs.filter(isCorpus("doc_id")),
          "doc_id", "text", k = 3, bands = 4, rowsPerBand = 4,
          minEstJaccard = 0.25, maxBucketSize = 10000)
        .orderBy("new_id", "corpus_id")
    }),

    "q116_dedup_containment" -> ((s, d) =>
      // Asymmetric containment |A∩B|/|A| vs /|B|: catches subset
      // duplication (a doc quoted whole inside a longer one) that
      // Jaccard scores near zero — same single-shuffle posting-list
      // pipeline as q30 (Dedup.ngramContainment scaladoc).
      Dedup.ngramContainment(documents(s, d), "doc_id", "text",
          k = 3, minContainment = 0.6, maxDocFreq = 10000)
        .orderBy("id_a", "id_b")),

    "q121_fuzzy_join_ed1" -> ((s, d) =>
      // SymSpell deletion-neighborhood fuzzy join: Levenshtein<=1 pairs
      // via ONE shuffle on deletion keys + exact post-filter — never the
      // O(n^2) cross join a naive theta-join plans
      // (Dedup.editDistance1Join scaladoc). Customer names differ in
      // single digit positions, the classic typo-dedup shape.
      Dedup.editDistance1Join(customer(s, d), "c_custkey", "c_name")
        .orderBy("id_a", "id_b")),

    "q125_substring_spans" -> ((s, d) =>
      // EXACT substring dedup (Lee et al. 2022 suffix-array family):
      // every maximal >=40-char span two documents share verbatim, with
      // exact 1-based coordinates — per-position 40-gram posting lists
      // + diagonal islands, never a cross join; winnowing (q75) only
      // approximates this with sampled fingerprints. hashGrams: 8-byte
      // xxhash64 keys through every exchange/join — measured 6.9 s vs
      // 11.4 s at sf1 (string-mode equivalence is property-tested; the
      // ~C²/2⁶⁵ collision bound is ~2e-10 at oracle scale, and the
      // string-exact DuckDB oracle would catch one)
      // (Dedup.exactSubstringSpans scaladoc).
      Dedup.exactSubstringSpans(documents(s, d), "doc_id", "text", minLen = 40,
          hashGrams = true)
        .orderBy("id_a", "id_b", "start_a", "start_b")),

    "q126_substring_removal" -> ((s, d) =>
      // the REMOVAL half of Lee et al. exact dedup: q125's spans are
      // merged per losing doc (higher id) and cut; every doc returns
      // with removal accounting + an md5 of its cleaned text (fixed-
      // width however large the docs are). Whole-doc duplicates clean
      // to the empty string (Dedup.removeDuplicateSpans scaladoc).
      // hashGrams mirrors q125 (same measured trade, same oracle check).
      Dedup.removeDuplicateSpans(documents(s, d), "doc_id", "text", minLen = 40,
          hashGrams = true)
        .orderBy("id")),

    "q127_bloom_incremental" -> ((s, d) => {
      // ingest-time dedup: the standing corpus (doc_id % 10 != 3)
      // collapses to ONE bloom filter over 80-char prefix fingerprints;
      // the arriving batch (doc_id % 10 == 3) is might_contain-pruned
      // BEFORE any shuffle and an exact equi-join verifies survivors —
      // output is exact (no bloom false negatives; false positives die
      // in the join), so the oracle is the plain join
      // (Dedup.bloomIncrementalExact scaladoc).
      val docs = documents(s, d)
      Dedup.bloomIncrementalExact(
          docs.filter(pmod(col("doc_id"), lit(10)) =!= 3),
          docs.filter(pmod(col("doc_id"), lit(10)) === 3),
          "doc_id", "text", prefixLen = 80)
        .orderBy("batch_id", "corpus_id")
    }),

    "q130_selfrepeat_spans" -> ((s, d) =>
      // WITHIN-document repeat spans — the id_a == id_b, diag != 0
      // half-plane of the Lee et al. loop q125 leaves out: a doc
      // repeating its own >= 15-char substring (boilerplate headers,
      // chorus lines) reports each maximal repeat with exact 1-based
      // coordinates, first occurrence in start_a. minLen 15, not 40:
      // the corpus's genuine self-repeats live at that scale (262
      // repeated 15-grams at sf0.01; zero 40-grams)
      // (Dedup.selfRepeatSpans scaladoc).
      Dedup.selfRepeatSpans(documents(s, d), "doc_id", "text", minLen = 15,
          hashGrams = true)
        .orderBy("id", "start_a", "start_b")),

    "q131_selfrepeat_removal" -> ((s, d) =>
      // the COMPLETE Lee et al. cut: cross-doc spans (higher id loses
      // its copy) AND within-doc repeats (the doc loses the later
      // copy) merged into one interval set per doc and cut in one
      // pass — q126's machinery with includeSelf, at q130's minLen
      // (Dedup.removeDuplicateSpans scaladoc).
      Dedup.removeDuplicateSpans(documents(s, d), "doc_id", "text", minLen = 15,
          hashGrams = true, includeSelf = true)
        .orderBy("id")),

    "q182_ppjoin" -> ((s, d) =>
      // EXACT set-similarity self-join with prefix filtering
      // (PPJoin-lite): every 3-shingle-Jaccard >= 0.7 pair, no LSH
      // recall loss, no all-pairs — rare-first global shingle order
      // keeps prefix postings short (Dedup.ppJoinShingles scaladoc).
      // The oracle is the brute-force quadratic join: the filter must
      // lose NOTHING.
      Dedup.ppJoinShingles(documents(s, d), "doc_id", "text",
          tPpm = PpJoinTPpm)
        .orderBy("id_a", "id_b")),

    "q191_entity_resolution" -> ((s, d) => {
      // Record-linkage composition (the pipeline q121 stops short of):
      // SymSpell ed<=1 candidate pairs -> nation blocking -> star CC
      // collapse -> per-entity cluster label + size; singletons
      // self-label. Every stage is the proven machinery (q121, q84).
      // csize as ONE window count over the label partition (r16): the
      // groupBy + join-back consumed `out` twice — with no checkpoint
      // that re-ran the star-label assembly per consumer — and paid an
      // extra exchange for the identical value (guide §2.4)
      val out = erClusterLabels(s, d)
      out.withColumn("csize", count(lit(1)).over(Window.partitionBy("label")))
        .select(col("cust_id"), col("label"), col("csize").cast("long").as("csize"))
        .orderBy("cust_id")
    }),

    "q193_snm_dedup" -> ((s, d) => {
      // Sorted-neighborhood blocking + exact verify: candidates within
      // 4 sorted-name positions, kept at levenshtein <= 1 — the
      // sort-based complement of q121's deletion-key blocking
      // (Dedup.sortedNeighborhoodPairs scaladoc: distributed rank, no
      // single-partition window).
      val c = customer(s, d)
      val named = c.select(col("c_custkey"), col("c_name"))
      Dedup.sortedNeighborhoodPairs(c, "c_custkey", "c_name",
          window = SnmWindow)
        .join(named.select(col("c_custkey").as("id_a"),
          col("c_name").as("na")), Seq("id_a"))
        .join(named.select(col("c_custkey").as("id_b"),
          col("c_name").as("nb")), Seq("id_b"))
        // threshold form (r16 batch 2 doctrine, guide §4): the banded
        // 3-arg levenshtein returns -1 past the bound, so `>= 0` keeps
        // exactly the dist<=1 pairs with identical dist values
        .withColumn("dist", levenshtein(col("na"), col("nb"), 1).cast("long"))
        .filter(col("dist") >= 0)
        .select(col("id_a"), col("id_b"), col("dist"))
        .orderBy("id_a", "id_b")
    }),

    "q197_golden_record" -> ((s, d) => {
      // Survivorship (the "golden record" step completing q191's ER
      // pipeline): per entity cluster, field-wise best values —
      // representative name from the MIN member id, max balance,
      // majority segment with deterministic (count desc, segment asc)
      // ties — all as plain aggs over the shared cluster labels.
      val lab = erClusterLabels(s, d)
      val full = customer(s, d)
        .select(col("c_custkey").as("cust_id"), col("c_name"),
          cents(col("c_acctbal")).as("bal_c"), col("c_mktsegment"))
        .join(lab, Seq("cust_id"))
      // ONE pass over `full` (r16, guide §1.2/§2.4): the previous
      // agg-by-label + mode-by-(label,segment) pair consumed `full`
      // twice — with no checkpoint that re-ran the WHOLE ER pipeline
      // (SymSpell join + star CC) per consumer — and paid a third
      // exchange plus a join to glue the halves. A two-level rollup
      // computes the identical values: group by (label, segment) first
      // (count/min-struct/max are decomposable — min of per-group mins
      // == global min, sum of per-group counts == global count), then
      // roll up to label, taking the mode as the same min(struct(-cnt,
      // segment)) the join shape used. Values and ties bit-identical;
      // the oracle (unchanged) re-proves it.
      full.groupBy("label", "c_mktsegment").agg(
          count(lit(1)).as("cnt"),
          min(struct(col("cust_id"), col("c_name"))).as("rep_s"),
          max("bal_c").as("max_b"))
        .groupBy("label").agg(
          sum("cnt").cast("long").as("n_members"),
          min("rep_s").getField("c_name").as("rep_name"),
          max("max_b").cast("long").as("max_bal_c"),
          min(struct((col("cnt") * -1).as("nc"), col("c_mktsegment")))
            .getField("c_mktsegment").as("top_segment"))
        .select(col("label"), col("n_members"), col("rep_name"),
          col("max_bal_c"), col("top_segment"))
        .orderBy("label")
    }),

    "q201_er_incremental" -> ((s, d) => {
      // Incremental/persisted ER (VERDICT r07 #4): the standing corpus
      // (deterministic md5-coin 80% of customers) is labeled once via
      // the q191 pipeline; the remaining 20% arrives as an ingest
      // batch whose candidate pairs are the batch-internal SymSpell
      // join PLUS the batch-vs-standing posting join
      // (Dedup.editDistance1JoinPostings) — the standing corpus is
      // never self-re-joined — and Dedup.incrementalClusterLabels
      // merges them touching only affected components. The oracle is
      // the FULL recompute over all customers (q191's SQL verbatim):
      // a green row PROVES incremental == recompute.
      val c = customer(s, d)
        .select(col("c_custkey"), col("c_name"), col("c_nationkey"))
      val corpus = c.filter(!erBatchCoin)
      val batch = c.filter(erBatchCoin)
      // the corpus deletion-key postings feed BOTH the standing
      // self-join and the batch-vs-standing join — built once,
      // materialized, shared (editDistance1SelfJoinPostings scaladoc:
      // value-identical to the previous per-call builds; the oracle —
      // the full recompute — re-proves it)
      val postings = operators.Dedup
        .deletionKeyPostings(corpus, "c_custkey", "c_name").materialized
      // standing is referenced three times inside
      // incrementalClusterLabels (two semi-joins + the untouched
      // anti-join) and labels twice below (output + sizes); without
      // checkpoints each reference re-runs the upstream join chain
      // (guide §5 — cache exactly the reused frames). Both ARE the
      // artifacts a real pipeline persists (q203 reads them from
      // parquet fixtures). The two chains are INDEPENDENT once the
      // shared postings are materialized — the standing star-CC
      // assembly and the batch candidate verify overlap via the driver
      // pool (guide §2.6; q201 was a serial cascade of ~40 mostly
      // 1-task jobs, so the second chain back-fills the first's idle
      // cores). newEdges: ONE nation-blocking pass over the UNION of
      // both candidate frames (r16, VERDICT #1) — blocking is a
      // per-pair filter, so union-then-block equals block-then-union
      // while halving the join count.
      val (standing, newEdges) = Shape.inParallel(
        erLabelsOfPairs(corpus,
            operators.Dedup.editDistance1SelfJoinPostings(postings))
          .withColumnRenamed("cust_id", "node")
          .materialized,
        erNationBlocked(
            operators.Dedup.editDistance1Join(batch, "c_custkey", "c_name")
              .select(col("id_a"), col("id_b"))
            .unionAll(operators.Dedup
              .editDistance1JoinPostings(batch, postings, "c_custkey", "c_name")
              .select(col("batch_id").as("id_a"), col("corpus_id").as("id_b"))),
            c)
          .materialized)
      // labels is consumed ONCE now (erLabeledWithSizes' window
      // replaced the sizes agg + join-back), so no checkpoint
      val labels = operators.Dedup
        .incrementalClusterLabels(standing, newEdges, "id_a", "id_b")
      erLabeledWithSizes(c, labels)
    }),

    "q203_er_ingest" -> ((s, d) => {
      // The ingest-shaped ER query (VERDICT r08 #6): q201 PROVES
      // incremental == recompute but pays the standing-label recompute
      // inside the query; here the standing side is PERSISTED parquet
      // fixtures (erStandingLabels, erStandingPostings — written once,
      // like a warehouse index maintained across ingests): the (node, label)
      // clustering AND the corpus's deletion-key postings (the
      // reusable SymSpell index, Dedup.deletionKeyPostings scaladoc).
      // The measured time is therefore the per-batch ingest cost —
      // batch SymSpell self-join + batch keys vs persisted postings +
      // affected-component star CC + the full labeled output the
      // oracle contract demands. Oracle stays the FULL recompute — a
      // green row proves persisted-index ingest == recompute.
      val c = customer(s, d)
        .select(col("c_custkey"), col("c_name"), col("c_nationkey"))
      val batch = c.filter(erBatchCoin)
      val standing = erStandingLabels(s, d)
      val postings = erStandingPostings(s, d)
      // fused blocking + windowed sizes: same restructure as q201
      // (r16, VERDICT #1) — see the q201 comments
      val newEdges = erNationBlocked(
          operators.Dedup.editDistance1Join(batch, "c_custkey", "c_name")
            .select(col("id_a"), col("id_b"))
          .unionAll(operators.Dedup
            .editDistance1JoinPostings(batch, postings, "c_custkey", "c_name")
            .select(col("batch_id").as("id_a"), col("corpus_id").as("id_b"))),
          c)
        .materialized
      val labels = operators.Dedup
        .incrementalClusterLabels(standing, newEdges, "id_a", "id_b")
      erLabeledWithSizes(c, labels)
    }),

    "q206_lsh_ingest" -> ((s, d) => {
      // q115's incremental near-dup with the standing band index
      // PERSISTED (the q203 pattern applied to the LSH family): the
      // corpus's (band, band_key, postings) table is the index a
      // warehouse maintains across ingests
      // (Dedup.minHashBandPostings scaladoc) — written once per SF,
      // read back, so the measured time is the batch's own hashing +
      // the band equi-join. Same pairs as q115 (signatures are a pure
      // per-doc function), same oracle.
      val docs = documents(s, d)
      val postings = lshPostingsFixture(s, d, docs)
      Dedup.minHashLshJoinPostings(
          docs.filter(isBatch("doc_id")), postings,
          "doc_id", "text", k = 3, bands = 4, rowsPerBand = 4,
          minEstJaccard = 0.25)
        .orderBy("new_id", "corpus_id")
    }),

    "q208_simhash_ingest" -> ((s, d) => {
      // q82's multi-index SimHash family in its INGEST shape with the
      // standing index PERSISTED (the q203/q206/q207 fixture pattern):
      // the corpus's capped (tbl, key, postings) multi-index table is
      // written once per SF and read back, so the measured time is the
      // batch's own hashing + C(6,3)=20 key explode + the table
      // equi-join. Candidate recall is exact by the block-pigeonhole
      // argument (Manku et al. WWW'07), verification is the exact
      // bit_count Hamming distance — the oracle mirrors the split and
      // the corpus-side bucket cap.
      val docs = documents(s, d)
      val postings = simHashPostingsFixture(s, d, docs)
      Dedup.simHashJoinPostings(
          docs.filter(isBatch("doc_id")), postings,
          "doc_id", "text", nBits = 32, maxHamming = 3, nBlocks = 6)
        .orderBy("new_id", "corpus_id")
    }),

    "q210_url_dedup" -> ((s, d) => {
      // URL-level crawl dedup (Curation.canonicalizeUrl scaladoc): raw
      // surface forms — case-varied scheme/host, www. prefix, default
      // port, trailing slash, tracking params, param order, fragment —
      // collapse onto one canonical page key. The raw URLs are derived
      // deterministically from the documents table (the corpus has no
      // URL column) with enough mod-variation to exercise every rule;
      // the oracle rebuilds the SAME derivation and normalization in
      // SQL. Map-side expression + one hash agg: q29's scale shape.
      val raw = documents(s, d).select(col("doc_id"),
        rawUrl(col("doc_id"), col("source"), col("lang")).as("url"))
      operators.Curation.urlDedup(raw, "doc_id", "url")
        .orderBy("canonical_url")
    }),

    "q215_dedup_keeper" -> ((s, d) => {
      // Exact dedup with the QUALITY keeper policy (Dedup.exactKeeperBy
      // scaladoc): per content cluster keep the highest-quality member,
      // ties to the lowest id — the curation-grade upgrade of q29's
      // min-id rule. One fingerprint exchange carries both the rank and
      // the cluster size.
      Dedup.exactKeeperBy(documents(s, d), "doc_id", "text",
          qualityScore(col("text")))
        .orderBy("fp")
    }),

    "q217_neardup_keeper" -> ((s, d) => {
      // The full NEAR-dup curation pass (q33 pairs -> q84 star CC ->
      // q215's keeper rule generalized): every doc gets a cluster label
      // (CC label for edge-touched docs, self for singletons), then per
      // cluster the highest-quality member survives, ties to min id
      // (Dedup.clusterKeeper scaladoc). This is the pass a training
      // pipeline actually ships — near-identical pages collapse AND the
      // cleanest copy is the one kept.
      val docs = documents(s, d)
      val labels = Dedup.dupClustersStar(
        Dedup.simHashDup(docs, "doc_id", "text", nBits = 16),
        "id_a", "id_b")
      val members = docs
        .select(col("doc_id"), qualityScore(col("text")).as("q"))
        .join(labels, col("doc_id") === col("node"), "left")
        .select(coalesce(col("label"), col("doc_id")).as("cluster"),
          col("doc_id"), col("q"))
      Dedup.clusterKeeper(members, "cluster", "doc_id", col("q"))
        .orderBy("cluster")
    }),

    "q218_ppjoin_ingest" -> ((s, d) => {
      // EXACT set-similarity ingest against a PERSISTED prefix-posting
      // index (the last candidate-generation family to get its ingest
      // form — Dedup.ppJoinAgainstPostings scaladoc): the batch ranks
      // its shingles by the index's own rarity order and equi-joins the
      // corpus's prefix postings; the exact verify touches candidate
      // ids only; NO recall loss (prefix theorem under the shared
      // order, spec'd against brute force). Oracle = the brute-force
      // batch x corpus Jaccard join.
      val (dfreq, postings, sets) = ppJoinIndexFixture(s, d)
      val batch = documents(s, d)
        .filter(isBatch("doc_id"))
      Dedup.ppJoinAgainstPostings(batch, dfreq, postings, sets,
          "doc_id", "text", PpJoinTPpm)
        .orderBy("new_id", "corpus_id")
    }),

    "q305_ppjoin_index_upsert" -> ((s, d) => {
      // PPJoin index MAINTENANCE (the last create/probe-only candidate
      // index gains its fold-in — VERDICT r14 #7): the q218 batch
      // APPENDS its prefix postings + sets under the index's FROZEN
      // rarity order (exactness needs a shared total order, not the
      // true-df order — Dedup.ppJoinIndexUpsert scaladoc, incl. the
      // re-rank/rebuild drift contract), then the SAME batch probes the
      // post-fold index. The batch×batch near-dup pairs now surface
      // THROUGH the index — the pairs q218's create/probe split cannot
      // see; self-pairs drop. Oracle = brute-force exact Jaccard of
      // batch × (corpus ∪ batch) minus self — fold-in loses no recall.
      val (dfreq, postings, sets) = ppJoinIndexFixture(s, d)
      val batch = documents(s, d)
        .filter(isBatch("doc_id"))
      val (np, ns) = Dedup.ppJoinIndexUpsert(dfreq, batch,
        "doc_id", "text", PpJoinTPpm)
      Dedup.ppJoinAgainstPostings(batch, dfreq,
          postings.unionByName(np), sets.unionByName(ns),
          "doc_id", "text", PpJoinTPpm)
        .filter(col("new_id") =!= col("corpus_id"))
        .orderBy("new_id", "corpus_id")
    }),

    "q306_substring_index_upsert" -> ((s, d) => {
      // Substring gram-index MAINTENANCE (round 15 — the LAST standing
      // index to gain its fold-in, closing the maintenance matrix): the
      // q220 batch's gram postings APPEND (pure per-doc function) and
      // the TOUCHED gram dfs fold by summation — no drift contract
      // needed, df is only the fan-out cap, so folded counts are true
      // counts forever (Dedup.substringGramIndexUpsert scaladoc). The
      // same batch then probes the post-fold index: batch×batch
      // verbatim spans now surface THROUGH the index (self-spans drop),
      // and the fan-out cap reads the post-merge dfs. Oracle = the
      // q220 brute force widened to batch × (corpus ∪ batch) minus
      // self, cap over ALL docs' gram counts.
      val (postings, gramdf) = substringIndexFixture(s, d)
      val batch = documents(s, d)
        .filter(isBatch("doc_id"))
      val (np, touchedDf) = Dedup.substringGramIndexUpsert(gramdf, batch,
        "doc_id", "text", minLen = 40)
      val mergedDf = gramdf
        .join(touchedDf.select("g"), Seq("g"), "left_anti")
        .unionByName(touchedDf)
      // np IS the batch's gram postings (pure per-doc function, same
      // hash flags), materialized by the upsert — pass it through so the
      // probe does not re-run the per-CHAR gram pipeline (r16)
      Dedup.exactSubstringSpansAgainstPostings(batch,
          postings.unionByName(np), mergedDf,
          "doc_id", "text", minLen = 40, maxGramFreq = 1000,
          batchPostings = Some(np))
        .filter(col("id_a") =!= col("id_b"))
        .select(col("id_a").as("new_id"), col("id_b").as("corpus_id"),
          col("start_a"), col("start_b"), col("span_len"))
        .orderBy("new_id", "corpus_id", "start_a", "start_b")
    }),

    "q307_ppjoin_index_delete" -> ((s, d) => {
      // The DELETE half of PPJoin index maintenance (q305's tombstone
      // sibling, completing the family's CRUD): ~14% of the standing
      // corpus (id%7==0) is taken down; postings and sets stream once
      // through broadcast anti joins, dfreq stays FROZEN (prefixes are
      // per-doc functions of the frozen order, so delete == recompute
      // under it bit-exactly and probes stay EXACT — the deleted
      // shingles' overstated dfs are the same selectivity-only drift
      // as the upsert; Dedup.ppJoinIndexDelete scaladoc). The q218
      // batch then probes the post-delete index. Oracle = brute-force
      // exact Jaccard of batch × (corpus MINUS deleted).
      val (dfreq, postings, sets) = ppJoinIndexFixture(s, d)
      val deleted = documents(s, d)
        .filter(isCorpus("doc_id") &&
          pmod(col("doc_id"), lit(7L)) === 0L)
        .select(col("doc_id"))
      val (p2, s2) = Dedup.ppJoinIndexDelete(postings, sets, deleted)
      val batch = documents(s, d)
        .filter(isBatch("doc_id"))
      Dedup.ppJoinAgainstPostings(batch, dfreq, p2, s2,
          "doc_id", "text", PpJoinTPpm)
        .orderBy("new_id", "corpus_id")
    }),

    "q219_lsh_index_upsert" -> ((s, d) => {
      // Index MAINTENANCE (the other half of the q206 ingest story:
      // probing is read-only, an accepted batch must also be FOLDED
      // INTO the standing index): the batch's band lists broadcast
      // against the persisted uncapped index, and only the TOUCHED
      // buckets are rewritten — cost ∝ batch + touched buckets, never
      // the index (Dedup.minHashBandPostingsUpsert scaladoc). Output =
      // the touched buckets' post-merge membership; oracle recomputes
      // the bands over corpus ∪ batch and restricts to buckets with a
      // batch member — the green row proves merge == recompute.
      val docs = documents(s, d)
      val batch = docs.filter(isBatch("doc_id"))
      Dedup.minHashBandPostingsUpsert(
          lshPostingsFixture(s, d, docs, full = true), batch,
          "doc_id", "text", k = 3, bands = 4, rowsPerBand = 4)
        .select(col("band").cast("long").as("band"), col("band_key"),
          size(col("lst")).cast("long").as("n"),
          array_join(transform(col("lst"),
            x => x.getField("id").cast("string")), ",").as("ids"))
        .orderBy("band", "band_key")
    }),

    "q220_substring_ingest" -> ((s, d) => {
      // EXACT substring spans of a batch against a PERSISTED standing
      // gram index (the Lee et al. family's ingest form —
      // Dedup.exactSubstringSpansAgainstPostings scaladoc): the batch
      // hashes its own 40-grams, the fan-out cap reads the PERSISTED
      // df table (corpus-side freq <= 1000; singleton corpus grams
      // stay eligible — the batch occurrence is the pair's other
      // side), and the index is never re-aggregated or shuffled.
      val (postings, gramdf) = substringIndexFixture(s, d)
      val batch = documents(s, d)
        .filter(isBatch("doc_id"))
      Dedup.exactSubstringSpansAgainstPostings(batch, postings, gramdf,
          "doc_id", "text", minLen = 40, maxGramFreq = 1000)
        .select(col("id_a").as("new_id"), col("id_b").as("corpus_id"),
          col("start_a"), col("start_b"), col("span_len"))
        .orderBy("new_id", "corpus_id", "start_a", "start_b")
    }),

    "q221_lsh_index_delete" -> ((s, d) => {
      // The DELETE half of index maintenance (q219's sibling — the
      // tombstone pass a takedown/retention policy runs): a deterministic
      // md5-free coin (corpus ids with id%7==0) tombstones ~14% of the
      // standing index; only buckets that CONTAINED a deleted member
      // are rewritten (fully-emptied buckets disappear), untouched
      // buckets untouched, the index streams once against the broadcast
      // tombstone set (Dedup.minHashBandPostingsDelete scaladoc).
      // Oracle recomputes the bands over corpus MINUS deleted,
      // restricted to touched buckets — delete == recompute.
      val docs = documents(s, d)
      val deleted = docs
        .filter(isCorpus("doc_id") &&
          pmod(col("doc_id"), lit(7L)) === 0L)
        .select(col("doc_id"))
      Dedup.minHashBandPostingsDelete(
          lshPostingsFixture(s, d, docs, full = true), deleted)
        .select(col("band").cast("long").as("band"), col("band_key"),
          size(col("lst")).cast("long").as("n"),
          array_join(transform(col("lst"),
            x => x.getField("id").cast("string")), ",").as("ids"))
        .orderBy("band", "band_key")
    }),

    "q236_negative_pairs" -> ((s, d) =>
      // Deterministic negative-pair sampling for contrastive training:
      // docs ranked on an md5 ring (distributed prefix-sum rank, no
      // single-partition window), each doc pairs with the ring
      // neighbors at offsets {1, 37, 1001} modulo N — hash-derived,
      // coin-free, so the same corpus yields the same negatives on
      // every run (Curation.negativePairs scaladoc). Oracle replays
      // the ring with one row_number window.
      Curation.negativePairs(documents(s, d), "doc_id",
          offsets = Seq(1, 37, 1001), saltPrefix = "neg_")
        .orderBy("id_a", "off")),

    "q240_dedup_eval" -> ((s, d) => {
      // Candidate-quality audit for the dedup index — the harness a
      // team tunes banding with (q129's recall@k idea applied to
      // near-dup candidates): ground truth = the EXACT Jaccard >= 0.5
      // pair set (ppJoinShingles — no recall loss by construction),
      // candidates = the 16-bit simhash equality buckets, metrics =
      // precision/recall in exact ppm, both computed on the
      // md5-bottom-N FIXED-size sample — the 100 TB-right eval shape:
      // ground-truth cost never grows with the corpus (the unsampled
      // form measured 13.3×/decade into sf10). One semi-join over two
      // pair frames; counts are three bounded driver actions — the
      // pair frames MATERIALIZE first (Shape.materialize):
      // truth and cand share the sampled-docs lineage, and three
      // actions over live lineage would re-run the whole PPJoin truth
      // pipeline per action.
      import s.implicits._
      val docs = documents(s, d)
        .withColumn("__k", tokenHash64(concat(lit("deval_"),
          col("doc_id").cast("string"))))
        .orderBy(col("__k"), col("doc_id")).limit(DedupEvalSampleN)
        .drop("__k")
        // limit() collapses the sample to ONE partition, and the
        // checkpoint preserves that: both downstream pair pipelines'
        // shingle/simhash passes ran single-task (job profile: one
        // 3.2 s 1-task job of 4.7 s total). Hash-spread the FIXED-size
        // sample across the session's shuffle width before
        // materializing — bounded cost at any corpus scale, rows and
        // aggregates unchanged (guide §2.5 input-skew remedy).
        .repartition(Shape.width(s), col("doc_id"))
        .materialized // fixed-size; feeds BOTH pair frames
      // truth and cand are INDEPENDENT pipelines over the shared
      // materialized sample — their job chains overlap via the driver
      // pool (guide §2.6) instead of running serially; each half is
      // the exact computation the serial form ran
      val (truth, cand) = Shape.inParallel(
        // pinnedPartitions: the sample is FIXED-size by construction,
        // so a session-width pin on the PPJoin verify stages has no
        // scale exposure — AQE otherwise runs them on 3 tasks (r16)
        Dedup.ppJoinShingles(docs, "doc_id", "text",
            tPpm = DedupEvalTPpm,
            pinnedPartitions = Some(Shape.width(s)))
          .select("id_a", "id_b").materialized,
        Dedup.simHashDup(docs, "doc_id", "text", nBits = 16)
          .select("id_a", "id_b").materialized)
      val nT = truth.count()
      val nC = cand.count()
      val nH = cand.join(truth, Seq("id_a", "id_b"), "left_semi").count()
      Seq((nT, nC, nH,
          if (nC > 0) nH * 1000000L / nC else 0L,
          if (nT > 0) nH * 1000000L / nT else 0L))
        .toDF("n_truth", "n_cand", "n_hit", "precision_ppm", "recall_ppm")
    }),

    "q263_cluster_size_hist" -> ((s, d) => {
      // Duplicate-cluster SIZE distribution — the dedup report a
      // curation run ships beside the keeper pass (q217): how many
      // clusters of each size, and how many docs they hold, over the
      // q63 simhash dup graph's connected components. Star CC labels
      // (O(log² n) rounds, checkpointed) then two domain-bounded aggs
      // — the histogram is as wide as the largest cluster, never the
      // corpus.
      val pairs = Dedup.simHashDup(documents(s, d), "doc_id", "text",
        nBits = 16)
      Dedup.dupClustersStar(pairs, "id_a", "id_b")
        .groupBy("label").agg(count(lit(1)).as("size"))
        .groupBy("size").agg(count(lit(1)).as("n_clusters"))
        .withColumn("n_docs", col("size") * col("n_clusters"))
        .orderBy("size")
    }),

    "q291_jaro_winkler" -> ((s, d) =>
      // Jaro-Winkler ER scoring — the classic record-linkage name
      // scorer (q121's edit-distance companion with prefix emphasis):
      // top-40 most-similar DISTINCT part-name pairs. The name DOMAIN
      // is catalog-bounded (64 values at every SF), so the all-pairs
      // scoring is a broadcast self-join over ≤64 rows forever — the
      // corpus-sized work is only the distinct. The UDF is the
      // DuckDB-compatible variant (transpositions TRUNCATED, boost
      // threshold 0.7), verified bit-identical against the native
      // function on 16 000 random pairs (TextFunctions.jaroWinklerJvm
      // scaladoc + StatsFoldPropertySpec), so the oracle uses DuckDB's
      // jaro_winkler_similarity directly. The catalog-bounded contract
      // is ENFORCED (VERDICT r13): past 20k distinct names the scoring
      // raises (C(n,2) would explode) instead of silently running —
      // the mcnemarPpm guard template via boundedSelfJoinSide.
      Relational.boundedSelfJoinSide(
          part(s, d).select(col("p_name").as("name_a")).distinct(),
          "name_a", 20000L, "q291 jaro-winkler scoring",
          "pre-block the names (e.g. by prefix) before all-pairs scoring")
        .join(broadcast(
          part(s, d).select(col("p_name").as("name_b")).distinct()),
          col("name_a") < col("name_b"))
        .withColumn("jw6", jaroWinkler6(col("name_a"), col("name_b")))
        .orderBy(col("jw6").desc, col("name_a"), col("name_b"))
        .limit(40)),

    "q299_fellegi_sunter" -> ((s, d) => {
      // Fellegi-Sunter record-linkage DECISION scoring (the 1969
      // probabilistic-ER framework q121/q191 stop short of) in its
      // INGEST shape (VERDICT r13 #2, the q203 pattern): SymSpell ed≤1
      // candidates for the md5-coin 20% batch — batch self-join + batch
      // keys vs the PERSISTED corpus deletion-key postings
      // (erStandingPostings), so the measured time is the per-batch
      // cost, not a standing-index rebuild — scored by per-field
      // agreement weights (integer centi-ban log-odds surrogates —
      // name exact +40 / ed1 +25, nation ±15/−10, segment +8/−6,
      // $1000 balance band +5/−3) and classified match / possible /
      // non_match by the fixed thresholds 45/20. Never all-pairs; the
      // attribute joins are pair-bounded equi joins. The oracle
      // replays the weights over the brute-force levenshtein≤1 pairs
      // TOUCHING the batch — equality re-proves SymSpell's exactness,
      // the persisted-postings join, AND the scoring.
      val c = customer(s, d)
      val batch = c.filter(erBatchCoin)
      val postings = erStandingPostings(s, d)
      val pairs = Dedup.editDistance1Join(batch, "c_custkey", "c_name")
          .select("id_a", "id_b", "dist")
        .unionAll(Dedup
          .editDistance1JoinPostings(batch, postings, "c_custkey", "c_name")
          .select(least(col("batch_id"), col("corpus_id")).as("id_a"),
            greatest(col("batch_id"), col("corpus_id")).as("id_b"),
            col("dist")))
      val attrs = customer(s, d).select(
        col("c_custkey").cast("long").as("cid"),
        col("c_nationkey").cast("long").as("nat"),
        col("c_mktsegment").as("seg"),
        // negative-safe $1000 band (the q252/q293 offset doctrine)
        expr("(cast(round(c_acctbal * 100) as bigint) + 100000) div 100000")
          .as("bal"))
      pairs
        .join(attrs.select(col("cid").as("id_a"), col("nat").as("nat_a"),
          col("seg").as("seg_a"), col("bal").as("bal_a")), Seq("id_a"))
        .join(attrs.select(col("cid").as("id_b"), col("nat").as("nat_b"),
          col("seg").as("seg_b"), col("bal").as("bal_b")), Seq("id_b"))
        .withColumn("score",
          when(col("dist") === 0L, 40L).otherwise(25L) +
          when(col("nat_a") === col("nat_b"), 15L).otherwise(-10L) +
          when(col("seg_a") === col("seg_b"), 8L).otherwise(-6L) +
          when(col("bal_a") === col("bal_b"), 5L).otherwise(-3L))
        .withColumn("decision",
          when(col("score") >= 45L, "match")
            .when(col("score") >= 20L, "possible")
            .otherwise("non_match"))
        .select(col("id_a"), col("id_b"),
          col("score").cast("long").as("score"), col("decision"))
        .orderBy("id_a", "id_b")
    }),
  )

  val oracleSql: Map[String, String] = Map(

    "q29_dedup_exact" ->
      """SELECT md5(regexp_replace(lower(trim(text)),'\s+',' ','g')) AS fp,
        | CAST(min(doc_id) AS BIGINT) AS keep_id, COUNT(*) AS n_copies
        |FROM documents GROUP BY 1 ORDER BY 1""".stripMargin,

    // The `kept` CTE mirrors Dedup.ngramJaccard's maxDocFreq=10000 guard
    // (an anti-join on hot shingles); sizes stay pre-filter, matching the
    // Spark plan's carried n_sh.
    "q30_dedup_ngram_jaccard" ->
      s"""WITH sh AS ($SHINGLES3),
         |sizes AS (SELECT id, COUNT(*) AS n FROM sh GROUP BY 1),
         |df AS (SELECT sh AS s2, COUNT(*) AS d FROM sh GROUP BY 1),
         |kept AS (SELECT sh.* FROM sh JOIN df ON sh = s2 WHERE d <= 10000),
         |hs AS (SELECT id, ${duckHash("sh", 15)} AS h FROM kept),
         |common AS (
         | SELECT a.id AS id_a, b.id AS id_b, COUNT(*) AS c
         | FROM hs a JOIN hs b ON a.h = b.h AND a.id < b.id GROUP BY 1,2)
         |SELECT id_a, id_b,
         | round(CAST(c AS DOUBLE)/(na.n + nb.n - c), 4) AS jaccard
         |FROM common JOIN sizes na ON na.id = id_a JOIN sizes nb ON nb.id = id_b
         |WHERE round(CAST(c AS DOUBLE)/(na.n + nb.n - c), 4) >= 0.05
         |ORDER BY id_a, id_b""".stripMargin,

    "q31_dedup_minhash_lsh" ->
      s"""WITH sh AS ($SHINGLES3),
         |h AS (SELECT id, ${duckHash("sh", 7)} AS h FROM sh),
         |mh AS (SELECT id, i AS hash_idx,
         |  min((h*((i*2654435761) % 2147483647 + 1) + i*40503 + 7) % 2147483647) AS min_hash
         | FROM h CROSS JOIN (SELECT unnest(generate_series(0,15)) AS i) GROUP BY 1,2),
         |bk0 AS (SELECT id, hash_idx // 4 AS band,
         |  md5(string_agg(CAST(min_hash AS VARCHAR), ',' ORDER BY hash_idx)) AS band_key
         | FROM mh GROUP BY 1,2),
         |bsz AS (SELECT band AS b2, band_key AS k2, COUNT(*) AS n FROM bk0 GROUP BY 1,2),
         |bk AS (SELECT bk0.* FROM bk0 JOIN bsz ON band = b2 AND band_key = k2
         | WHERE n <= 10000),
         |cand AS (SELECT DISTINCT a.id AS id_a, b.id AS id_b
         | FROM bk a JOIN bk b ON a.band = b.band AND a.band_key = b.band_key AND a.id < b.id),
         |est AS (SELECT c.id_a, c.id_b,
         |  round(avg(CASE WHEN ma.min_hash = mb.min_hash THEN CAST(1 AS DOUBLE) ELSE CAST(0 AS DOUBLE) END), 4) AS est_jaccard
         | FROM cand c
         |  JOIN mh ma ON ma.id = c.id_a
         |  JOIN mh mb ON mb.id = c.id_b AND mb.hash_idx = ma.hash_idx
         | GROUP BY 1,2)
         |SELECT id_a, id_b, est_jaccard FROM est
         |WHERE est_jaccard >= 0.25 ORDER BY id_a, id_b""".stripMargin,

    // q31's candidate CTEs verbatim, exact 3-shingle Jaccard on the
    // candidate ids only, error rollup in exact ppm
    "q278_minhash_error" ->
      s"""WITH sh AS ($SHINGLES3),
         |h AS (SELECT id, ${duckHash("sh", 7)} AS h FROM sh),
         |mh AS (SELECT id, i AS hash_idx,
         |  min((h*((i*2654435761) % 2147483647 + 1) + i*40503 + 7) % 2147483647) AS min_hash
         | FROM h CROSS JOIN (SELECT unnest(generate_series(0,15)) AS i) GROUP BY 1,2),
         |bk0 AS (SELECT id, hash_idx // 4 AS band,
         |  md5(string_agg(CAST(min_hash AS VARCHAR), ',' ORDER BY hash_idx)) AS band_key
         | FROM mh GROUP BY 1,2),
         |bsz AS (SELECT band AS b2, band_key AS k2, COUNT(*) AS n FROM bk0 GROUP BY 1,2),
         |bk AS (SELECT bk0.* FROM bk0 JOIN bsz ON band = b2 AND band_key = k2
         | WHERE n <= 10000),
         |cand AS (SELECT DISTINCT a.id AS id_a, b.id AS id_b
         | FROM bk a JOIN bk b ON a.band = b.band AND a.band_key = b.band_key AND a.id < b.id),
         |est AS (SELECT c.id_a, c.id_b,
         |  round(avg(CASE WHEN ma.min_hash = mb.min_hash THEN CAST(1 AS DOUBLE) ELSE CAST(0 AS DOUBLE) END), 4) AS est_jaccard
         | FROM cand c
         |  JOIN mh ma ON ma.id = c.id_a
         |  JOIN mh mb ON mb.id = c.id_b AND mb.hash_idx = ma.hash_idx
         | GROUP BY 1,2),
         |ep AS (SELECT id_a, id_b,
         |  CAST(round(est_jaccard * 1000000) AS BIGINT) AS est_ppm
         | FROM est WHERE est_jaccard >= 0.25),
         |ids AS (SELECT DISTINCT id FROM (
         |  SELECT id_a AS id FROM ep UNION ALL SELECT id_b FROM ep)),
         |sc AS (SELECT sh.id, sh.sh FROM sh JOIN ids USING (id)),
         |sz AS (SELECT id, CAST(COUNT(*) AS BIGINT) AS n FROM sc GROUP BY 1),
         |iv AS (SELECT a.id AS id_a, b.id AS id_b, CAST(COUNT(*) AS BIGINT) AS inter
         | FROM sc a JOIN sc b ON a.sh = b.sh AND a.id < b.id GROUP BY 1, 2),
         |er AS (SELECT abs(ep.est_ppm - (COALESCE(iv.inter, 0) * 1000000
         |    // (sa.n + sb.n - COALESCE(iv.inter, 0)))) AS err_ppm
         | FROM ep JOIN sz sa ON sa.id = ep.id_a
         |  JOIN sz sb ON sb.id = ep.id_b
         |  LEFT JOIN iv ON iv.id_a = ep.id_a AND iv.id_b = ep.id_b)
         |SELECT CAST(COUNT(*) AS BIGINT) AS n_pairs,
         | CAST(SUM(err_ppm) // COUNT(*) AS BIGINT) AS mean_err_ppm,
         | CAST(MAX(err_ppm) AS BIGINT) AS max_err_ppm,
         | CAST(SUM(CASE WHEN err_ppm <= 62500 THEN 1 ELSE 0 END) AS BIGINT) AS n_within_1q
         |FROM er""".stripMargin,

    // POSITIONAL k-gram hashes (no DISTINCT — repeats matter for window
    // minima), window-of-4 minima, distinct per doc, then the same
    // doc-frequency-capped pair pattern as q30.
    "q75_winnow_overlap" -> {
      val posHash = s"${duckHash("array_to_string(t[i:i+2], ' ')", 15)}"
      s"""WITH tt AS (SELECT doc_id AS id, $TOKS AS t FROM documents),
         |hs AS (SELECT id,
         |  CASE WHEN len(t) < 3 THEN [${duckHash("array_to_string(t, ' ')", 15)}]
         |       ELSE list_transform(generate_series(1, len(t)-2), i -> $posHash) END AS hs
         | FROM tt),
         |fp AS (SELECT DISTINCT id, unnest(
         |  CASE WHEN len(hs) <= 4 THEN [list_min(hs)]
         |       ELSE list_transform(generate_series(1, len(hs)-3), i -> list_min(hs[i:i+3])) END) AS fp
         | FROM hs),
         |df AS (SELECT fp AS f2, COUNT(*) AS d FROM fp GROUP BY 1),
         |kept AS (SELECT fp.* FROM fp JOIN df ON fp = f2 WHERE d <= 10000)
         |SELECT a.id AS id_a, b.id AS id_b, COUNT(*) AS n_shared
         |FROM kept a JOIN kept b ON a.fp = b.fp AND a.id < b.id
         |GROUP BY 1, 2 HAVING COUNT(*) >= 2
         |ORDER BY id_a, id_b""".stripMargin
    },

    "q32_simhash" ->
      s"""WITH w AS (SELECT doc_id AS id, unnest($TOKS) AS w FROM documents),
         |h AS (SELECT id, ${duckHash("w", 15)} AS h FROM w),
         |bits AS (SELECT id, bit,
         |  SUM(CASE WHEN ((h >> bit) & 1) = 1 THEN 1 ELSE -1 END) AS v
         | FROM h CROSS JOIN (SELECT unnest(generate_series(0,15)) AS bit) b GROUP BY 1,2)
         |SELECT id AS doc_id,
         | CAST(SUM(CASE WHEN v > 0 THEN (CAST(1 AS BIGINT) << bit) ELSE 0 END) AS BIGINT) AS simhash
         |FROM bits GROUP BY 1 ORDER BY 1""".stripMargin,

    "q33_dedup_simhash" ->
      s"""WITH w AS (SELECT doc_id AS id, unnest($TOKS) AS w FROM documents),
         |h AS (SELECT id, ${duckHash("w", 15)} AS h FROM w),
         |bits AS (SELECT id, bit,
         |  SUM(CASE WHEN ((h >> bit) & 1) = 1 THEN 1 ELSE -1 END) AS v
         | FROM h CROSS JOIN (SELECT unnest(generate_series(0,15)) AS bit) b GROUP BY 1,2),
         |sh AS (SELECT id,
         |  CAST(SUM(CASE WHEN v > 0 THEN (CAST(1 AS BIGINT) << bit) ELSE 0 END) AS BIGINT) AS simhash
         | FROM bits GROUP BY 1)
         |SELECT a.id AS id_a, b.id AS id_b, a.simhash
         |FROM sh a JOIN sh b ON a.simhash = b.simhash AND a.id < b.id
         |ORDER BY id_a, id_b""".stripMargin,

    // q33's pair CTEs + 4 UNROLLED min-label-propagation iterations —
    // generated from the same iteration count as the Spark loop, so the
    // two cannot drift.
    "q63_dedup_clusters" -> {
      val iters = 4
      val prop = (1 to iters).map { k =>
        s"""l$k AS (SELECT node, MIN(label) AS label FROM (
           | SELECT node, label FROM l${k - 1}
           | UNION ALL
           | SELECT e.u AS node, l.label FROM edges e JOIN l${k - 1} l ON e.v = l.node) t
           | GROUP BY node)""".stripMargin
      }.mkString(",\n")
      s"""WITH w AS (SELECT doc_id AS id, unnest($TOKS) AS w FROM documents),
         |h AS (SELECT id, ${duckHash("w", 15)} AS h FROM w),
         |bits AS (SELECT id, bit,
         |  SUM(CASE WHEN ((h >> bit) & 1) = 1 THEN 1 ELSE -1 END) AS v
         | FROM h CROSS JOIN (SELECT unnest(generate_series(0,15)) AS bit) b GROUP BY 1,2),
         |sh AS (SELECT id,
         |  CAST(SUM(CASE WHEN v > 0 THEN (CAST(1 AS BIGINT) << bit) ELSE 0 END) AS BIGINT) AS simhash
         | FROM bits GROUP BY 1),
         |p AS (SELECT a.id AS id_a, b.id AS id_b
         | FROM sh a JOIN sh b ON a.simhash = b.simhash AND a.id < b.id),
         |edges AS (SELECT id_a AS u, id_b AS v FROM p
         | UNION ALL SELECT id_b AS u, id_a AS v FROM p),
         |l0 AS (SELECT DISTINCT u AS node, u AS label FROM edges),
         |$prop
         |SELECT node, label FROM l$iters ORDER BY node""".stripMargin
    },

    // Exact connected components via DuckDB's recursive CTE (the true
    // transitive closure — no iteration bound), over q63's edge source.
    // dupClustersStar runs to a verified fixpoint, so the two must agree
    // exactly; component min = MIN(label) over everything reachable.
    "q84_dedup_clusters_star" ->
      s"""WITH RECURSIVE w AS (SELECT doc_id AS id, unnest($TOKS) AS w FROM documents),
         |h AS (SELECT id, ${duckHash("w", 15)} AS h FROM w),
         |bits AS (SELECT id, bit,
         |  SUM(CASE WHEN ((h >> bit) & 1) = 1 THEN 1 ELSE -1 END) AS v
         | FROM h CROSS JOIN (SELECT unnest(generate_series(0,15)) AS bit) b GROUP BY 1,2),
         |sh AS (SELECT id,
         |  CAST(SUM(CASE WHEN v > 0 THEN (CAST(1 AS BIGINT) << bit) ELSE 0 END) AS BIGINT) AS simhash
         | FROM bits GROUP BY 1),
         |p AS (SELECT a.id AS id_a, b.id AS id_b
         | FROM sh a JOIN sh b ON a.simhash = b.simhash AND a.id < b.id),
         |edges AS (SELECT id_a AS u, id_b AS v FROM p
         | UNION ALL SELECT id_b AS u, id_a AS v FROM p),
         |reach AS (
         | SELECT u AS node, u AS label FROM edges
         | UNION
         | SELECT e.u AS node, r.label FROM edges e JOIN reach r ON e.v = r.node)
         |SELECT node, MIN(label) AS label FROM reach GROUP BY node
         |ORDER BY node""".stripMargin,

    "q34_dedup_embedding" -> {
      val planes =
        s"""SELECT p, list_transform(generate_series(0,63), j -> ${duckPlane("p", "j")}) AS c
           |FROM (SELECT unnest(generate_series(0,7)) AS p)""".stripMargin
      s"""WITH e AS (SELECT vec_id AS id, embedding::DOUBLE[] AS v FROM embeddings),
         |pl AS ($planes),
         |proj AS (SELECT id, p, list_dot_product(v, c) AS proj FROM e CROSS JOIN pl),
         |bkt AS (SELECT id,
         |  CAST(SUM(CASE WHEN proj >= 0 THEN (CAST(1 AS BIGINT) << p) ELSE 0 END) AS BIGINT) AS bucket
         | FROM proj GROUP BY 1),
         |ev AS (SELECT e.id, e.v, bkt.bucket FROM e JOIN bkt ON e.id = bkt.id)
         |SELECT a.id AS id_a, b.id AS id_b, round(${duckCos("a.v", "b.v")}, 4) AS cos
         |FROM ev a JOIN ev b ON a.bucket = b.bucket AND a.id < b.id
         |WHERE round(${duckCos("a.v", "b.v")}, 4) >= 0.2
         |ORDER BY id_a, id_b""".stripMargin
    },

    // q73's eval carve-out + q75's fingerprint CTEs composed: train side
    // is the anti-join remainder; same winnow parameters (k=3, w=4).
    "q76_contamination" -> {
      val posHash = s"${duckHash("array_to_string(t[i:i+2], ' ')", 15)}"
      s"""WITH m AS (SELECT source, doc_id,
         | ${duckHash("concat('sample_', CAST(doc_id AS VARCHAR))", 15)} % 1000000 AS key
         | FROM documents),
         |r AS (SELECT doc_id,
         |  row_number() OVER (PARTITION BY source ORDER BY key, doc_id) AS rn FROM m),
         |ev AS (SELECT doc_id FROM r WHERE rn <= 5),
         |tt AS (SELECT doc_id AS id, $TOKS AS t FROM documents),
         |hs AS (SELECT id,
         |  CASE WHEN len(t) < 3 THEN [${duckHash("array_to_string(t, ' ')", 15)}]
         |       ELSE list_transform(generate_series(1, len(t)-2), i -> $posHash) END AS hs
         | FROM tt),
         |fp AS (SELECT DISTINCT id, unnest(
         |  CASE WHEN len(hs) <= 4 THEN [list_min(hs)]
         |       ELSE list_transform(generate_series(1, len(hs)-3), i -> list_min(hs[i:i+3])) END) AS fp
         | FROM hs),
         |efp AS (SELECT fp.id AS eval_id, fp.fp FROM fp JOIN ev ON fp.id = ev.doc_id),
         |tfp AS (SELECT fp.* FROM fp LEFT JOIN ev ON fp.id = ev.doc_id
         | WHERE ev.doc_id IS NULL),
         |pairs AS (SELECT e.eval_id, t.id AS train_id, COUNT(*) AS n_shared
         | FROM tfp t JOIN efp e ON t.fp = e.fp GROUP BY 1, 2 HAVING COUNT(*) >= 2)
         |SELECT eval_id, COUNT(*) AS n_leaking_train_docs,
         | CAST(MAX(n_shared) AS BIGINT) AS max_shared
         |FROM pairs GROUP BY 1 ORDER BY 1""".stripMargin
    },

    // Band boundaries are DERIVED from Dedup.simHashBands(SimHashBitsQ52,
    // 2) so the SQL cannot drift from the Scala chunking (width changes
    // in ONE place); the bsz filter mirrors the default
    // maxBucketSize=10000 guard.
    "q52_dedup_simhash_hamming" -> {
      val nBits = SimHashBitsQ52
      val bands = graft.operators.Dedup.simHashBands(nBits, 2)
      val bandCase = bands.map {
        case (i, start, len) => s"WHEN $i THEN (simhash >> $start) & ${(1L << len) - 1}"
      }.mkString(" ")
      s"""WITH w AS (SELECT doc_id AS id, unnest($TOKS) AS w FROM documents),
         |h AS (SELECT id, ${duckHash("w", 15)} AS h FROM w),
         |bits AS (SELECT id, bit,
         |  SUM(CASE WHEN ((h >> bit) & 1) = 1 THEN 1 ELSE -1 END) AS v
         | FROM h CROSS JOIN (SELECT unnest(generate_series(0,${nBits - 1})) AS bit) b GROUP BY 1,2),
         |sh AS (SELECT id,
         |  CAST(SUM(CASE WHEN v > 0 THEN (CAST(1 AS BIGINT) << bit) ELSE 0 END) AS BIGINT) AS simhash
         | FROM bits GROUP BY 1),
         |bands0 AS (SELECT id, simhash, chunk,
         |  CASE chunk $bandCase END AS key
         | FROM sh CROSS JOIN (SELECT unnest(generate_series(0,${bands.size - 1})) AS chunk) c),
         |bsz AS (SELECT chunk AS c2, key AS k2, COUNT(*) AS n FROM bands0 GROUP BY 1,2),
         |bands AS (SELECT bands0.* FROM bands0 JOIN bsz ON chunk = c2 AND key = k2
         | WHERE n <= 10000),
         |cand AS (SELECT a.id AS id_a, b.id AS id_b,
         |  min(a.simhash) AS ha, min(b.simhash) AS hb
         | FROM bands a JOIN bands b ON a.chunk = b.chunk AND a.key = b.key AND a.id < b.id
         | GROUP BY 1,2)
         |SELECT id_a, id_b, CAST(bit_count(xor(ha, hb)) AS BIGINT) AS hamming
         |FROM cand WHERE bit_count(xor(ha, hb)) <= 2
         |ORDER BY id_a, id_b""".stripMargin
    },

    // Multi-index twin of q52 at d=3: table keys are DERIVED from
    // Dedup.simHashMultiTables(32, 6, 3) — the same block-combination
    // layout the Scala operator explodes — so the SQL cannot drift.
    "q82_dedup_simhash_multiindex" -> {
      val tables = graft.operators.Dedup.simHashMultiTables(32, 6, 3)
      val keyCase = tables.map { case (t, blocks) =>
        var off = 0
        val expr = blocks.map { case (start, len) =>
          val part = s"(((simhash >> $start) & ${(1L << len) - 1}) << $off)"
          off += len
          part
        }.mkString(" | ")
        s"WHEN $t THEN $expr"
      }.mkString(" ")
      s"""WITH w AS (SELECT doc_id AS id, unnest($TOKS) AS w FROM documents),
         |h AS (SELECT id, ${duckHash("w", 15)} AS h FROM w),
         |bits AS (SELECT id, bit,
         |  SUM(CASE WHEN ((h >> bit) & 1) = 1 THEN 1 ELSE -1 END) AS v
         | FROM h CROSS JOIN (SELECT unnest(generate_series(0,31)) AS bit) b GROUP BY 1,2),
         |sh AS (SELECT id,
         |  CAST(SUM(CASE WHEN v > 0 THEN (CAST(1 AS BIGINT) << bit) ELSE 0 END) AS BIGINT) AS simhash
         | FROM bits GROUP BY 1),
         |keys0 AS (SELECT id, simhash, tbl,
         |  CASE tbl $keyCase END AS key
         | FROM sh CROSS JOIN (SELECT unnest(generate_series(0,${tables.size - 1})) AS tbl) t),
         |ksz AS (SELECT tbl AS t2, key AS k2, COUNT(*) AS n FROM keys0 GROUP BY 1,2),
         |keys AS (SELECT keys0.* FROM keys0 JOIN ksz ON tbl = t2 AND key = k2
         | WHERE n <= 10000),
         |cand AS (SELECT a.id AS id_a, b.id AS id_b,
         |  min(a.simhash) AS ha, min(b.simhash) AS hb
         | FROM keys a JOIN keys b ON a.tbl = b.tbl AND a.key = b.key AND a.id < b.id
         | GROUP BY 1,2)
         |SELECT id_a, id_b, CAST(bit_count(xor(ha, hb)) AS BIGINT) AS hamming
         |FROM cand WHERE bit_count(xor(ha, hb)) <= 3
         |ORDER BY id_a, id_b""".stripMargin
    },

    // q82's simhash/multi-table CTEs split into new (id%10=0) and
    // corpus sides; the bucket cap applies to the CORPUS key lists,
    // like the Spark plan (and q115's LSH analog). The persisted-index
    // form finds the SAME pairs (table keys are a pure per-doc function
    // of nBits/maxHamming/nBlocks).
    "q208_simhash_ingest" -> {
      val tables = graft.operators.Dedup.simHashMultiTables(32, 6, 3)
      val keyCase = tables.map { case (t, blocks) =>
        var off = 0
        val expr = blocks.map { case (start, len) =>
          val part = s"(((simhash >> $start) & ${(1L << len) - 1}) << $off)"
          off += len
          part
        }.mkString(" | ")
        s"WHEN $t THEN $expr"
      }.mkString(" ")
      s"""WITH w AS (SELECT doc_id AS id, unnest($TOKS) AS w FROM documents),
         |h AS (SELECT id, ${duckHash("w", 15)} AS h FROM w),
         |bits AS (SELECT id, bit,
         |  SUM(CASE WHEN ((h >> bit) & 1) = 1 THEN 1 ELSE -1 END) AS v
         | FROM h CROSS JOIN (SELECT unnest(generate_series(0,31)) AS bit) b GROUP BY 1,2),
         |sh AS (SELECT id,
         |  CAST(SUM(CASE WHEN v > 0 THEN (CAST(1 AS BIGINT) << bit) ELSE 0 END) AS BIGINT) AS simhash
         | FROM bits GROUP BY 1),
         |ck0 AS (SELECT id, simhash, tbl,
         |  CASE tbl $keyCase END AS key
         | FROM sh CROSS JOIN (SELECT unnest(generate_series(0,${tables.size - 1})) AS tbl) t
         | WHERE id % 10 <> 0),
         |ksz AS (SELECT tbl AS t2, key AS k2, COUNT(*) AS n FROM ck0 GROUP BY 1,2),
         |ck AS (SELECT ck0.* FROM ck0 JOIN ksz ON tbl = t2 AND key = k2
         | WHERE n <= 10000),
         |nk AS (SELECT id, simhash, tbl,
         |  CASE tbl $keyCase END AS key
         | FROM sh CROSS JOIN (SELECT unnest(generate_series(0,${tables.size - 1})) AS tbl) t
         | WHERE id % 10 = 0),
         |cand AS (SELECT n.id AS new_id, c.id AS corpus_id,
         |  min(n.simhash) AS hn, min(c.simhash) AS hc
         | FROM nk n JOIN ck c ON n.tbl = c.tbl AND n.key = c.key AND n.id <> c.id
         | GROUP BY 1,2)
         |SELECT new_id, corpus_id, CAST(bit_count(xor(hn, hc)) AS BIGINT) AS hamming
         |FROM cand WHERE bit_count(xor(hn, hc)) <= 3
         |ORDER BY new_id, corpus_id""".stripMargin
    },

    // the raw-URL derivation (rawUrl) and every normalization rule of
    // Curation.canonicalizeUrl replayed in SQL: fragment strip, scheme/
    // host lowercase, www. strip, default-port drop, slash collapse +
    // trailing-slash strip, tracking-param filter, param sort. DuckDB's
    // regexp_replace needs the explicit 'g' flag where Spark replaces
    // globally by default; both sides' param sort is binary on ASCII.
    "q210_url_dedup" ->
      """WITH raw AS (SELECT doc_id,
        |  (CASE WHEN doc_id % 4 = 0 THEN 'https://'
        |        WHEN doc_id % 4 = 1 THEN 'HTTPS://'
        |        WHEN doc_id % 4 = 2 THEN 'https://WWW.'
        |        ELSE 'HTTPS://www.' END)
        |  || source || '.Example.COM'
        |  || (CASE WHEN doc_id % 2 = 0 THEN ':443' ELSE '' END)
        |  || '/Articles/' || CAST(doc_id % 250 AS VARCHAR)
        |  || (CASE WHEN doc_id % 5 = 0 THEN '/' ELSE '' END)
        |  || (CASE WHEN doc_id % 3 = 0 THEN '?id=' ||
        |        CAST(doc_id % 250 AS VARCHAR) || '&lang=' || lang ||
        |        '&utm_source=feed'
        |      WHEN doc_id % 3 = 1 THEN '?lang=' || lang || '&id=' ||
        |        CAST(doc_id % 250 AS VARCHAR)
        |      ELSE '?utm_campaign=x&id=' ||
        |        CAST(doc_id % 250 AS VARCHAR) || '&lang=' || lang ||
        |        '#top' END) AS url
        | FROM documents),
        |c AS (SELECT doc_id, url, regexp_replace(url, '#.*', '') AS u
        | FROM raw),
        |p AS (SELECT doc_id, url,
        |  lower(regexp_extract(u, '^([A-Za-z][A-Za-z0-9+.-]*)://', 1))
        |    AS scheme,
        |  lower(regexp_extract(u,
        |    '^[A-Za-z][A-Za-z0-9+.-]*://([^/?#]*)', 1)) AS hostport,
        |  regexp_extract(u,
        |    '^[A-Za-z][A-Za-z0-9+.-]*://[^/?#]*([^?#]*)', 1) AS path0,
        |  regexp_extract(u, '\?(.*)$', 1) AS qstr
        | FROM c),
        |n AS (SELECT doc_id, url, scheme,
        |  regexp_replace(regexp_replace(hostport, ':[0-9]+$', ''),
        |    '^www\.', '') AS host,
        |  regexp_extract(hostport, ':([0-9]+)$', 1) AS port,
        |  CASE WHEN scheme = 'https' THEN '443'
        |       WHEN scheme = 'http' THEN '80' ELSE '' END AS defport,
        |  regexp_replace(regexp_replace(path0, '/{2,}', '/', 'g'),
        |    '/$', '') AS path1,
        |  array_to_string(list_sort(list_filter(string_split(qstr, '&'),
        |    x -> x <> '' AND NOT regexp_matches(lower(x),
        |      '^(utm_[^=]*|gclid|fbclid|ref)='))), '&') AS q2
        | FROM p),
        |k AS (SELECT doc_id, url,
        |  scheme || '://' || host
        |  || (CASE WHEN port = '' OR port = defport THEN ''
        |      ELSE ':' || port END)
        |  || (CASE WHEN path1 = '' THEN '/' ELSE path1 END)
        |  || (CASE WHEN q2 = '' THEN '' ELSE '?' || q2 END)
        |    AS canonical_url
        | FROM n)
        |SELECT canonical_url, CAST(count(*) AS BIGINT) AS n_urls,
        | CAST(count(DISTINCT url) AS BIGINT) AS n_raw_forms,
        | CAST(min(doc_id) AS BIGINT) AS keeper_id
        |FROM k GROUP BY 1 ORDER BY 1""".stripMargin,

    // the same fingerprint as q29 and the same quality formula as q40,
    // keeper = (quality DESC, doc_id ASC) rank 1 per cluster
    "q215_dedup_keeper" -> {
      val sw = StopWords.map(w => s"'$w'").mkString(", ")
      s"""WITH t AS (SELECT doc_id, text,
         |  md5(regexp_replace(lower(trim(text)),'\\s+',' ','g')) AS fp,
         |  $TOKS AS toks FROM documents),
         |s AS (SELECT doc_id, fp, text,
         |  CAST(len(toks) AS BIGINT) AS n_tokens,
         |  CAST(len(list_filter(toks, x -> x IN ($sw))) AS BIGINT) AS n_stop
         | FROM t),
         |q AS (SELECT doc_id, fp,
         |  floor((least(CAST(n_tokens AS DOUBLE)/50.0, 1.0)*0.4
         |   + least((CASE WHEN n_tokens > 0 THEN CAST(n_stop AS DOUBLE)/n_tokens ELSE 0.0 END)*4.0, 1.0)*0.3
         |   + (CASE WHEN length(text) > 0
         |      THEN CAST(length(regexp_replace(text,'[^A-Za-z]','','g')) AS DOUBLE)/length(text)
         |      ELSE 0.0 END)*0.3)*10000 + 0.5)/10000.0 AS quality
         | FROM s),
         |r AS (SELECT fp, doc_id, quality,
         |  CAST(count(*) OVER (PARTITION BY fp) AS BIGINT) AS n_copies,
         |  row_number() OVER (PARTITION BY fp
         |    ORDER BY quality DESC, doc_id) AS rn FROM q)
         |SELECT fp, CAST(doc_id AS BIGINT) AS keep_id,
         | quality AS best_score, n_copies
         |FROM r WHERE rn = 1 ORDER BY fp""".stripMargin
    },

    // q84's simhash pairs + recursive closure, q40's quality formula,
    // keeper = (quality DESC, doc_id ASC) rank 1 per cluster;
    // singletons self-cluster via the COALESCE
    "q217_neardup_keeper" -> {
      val sw = StopWords.map(w => s"'$w'").mkString(", ")
      s"""WITH RECURSIVE w AS (SELECT doc_id AS id, unnest($TOKS) AS w FROM documents),
         |h AS (SELECT id, ${duckHash("w", 15)} AS h FROM w),
         |bits AS (SELECT id, bit,
         |  SUM(CASE WHEN ((h >> bit) & 1) = 1 THEN 1 ELSE -1 END) AS v
         | FROM h CROSS JOIN (SELECT unnest(generate_series(0,15)) AS bit) b GROUP BY 1,2),
         |sh AS (SELECT id,
         |  CAST(SUM(CASE WHEN v > 0 THEN (CAST(1 AS BIGINT) << bit) ELSE 0 END) AS BIGINT) AS simhash
         | FROM bits GROUP BY 1),
         |p AS (SELECT a.id AS id_a, b.id AS id_b
         | FROM sh a JOIN sh b ON a.simhash = b.simhash AND a.id < b.id),
         |edges AS (SELECT id_a AS u, id_b AS v FROM p
         | UNION ALL SELECT id_b AS u, id_a AS v FROM p),
         |reach AS (
         | SELECT u AS node, u AS label FROM edges
         | UNION
         | SELECT e.u AS node, r.label FROM edges e JOIN reach r ON e.v = r.node),
         |lab AS (SELECT node, MIN(label) AS label FROM reach GROUP BY node),
         |t AS (SELECT doc_id, text, $TOKS AS toks FROM documents),
         |st AS (SELECT doc_id, text,
         |  CAST(len(toks) AS BIGINT) AS n_tokens,
         |  CAST(len(list_filter(toks, x -> x IN ($sw))) AS BIGINT) AS n_stop
         | FROM t),
         |q AS (SELECT doc_id,
         |  floor((least(CAST(n_tokens AS DOUBLE)/50.0, 1.0)*0.4
         |   + least((CASE WHEN n_tokens > 0 THEN CAST(n_stop AS DOUBLE)/n_tokens ELSE 0.0 END)*4.0, 1.0)*0.3
         |   + (CASE WHEN length(text) > 0
         |      THEN CAST(length(regexp_replace(text,'[^A-Za-z]','','g')) AS DOUBLE)/length(text)
         |      ELSE 0.0 END)*0.3)*10000 + 0.5)/10000.0 AS quality
         | FROM st),
         |m AS (SELECT CAST(COALESCE(l.label, q.doc_id) AS BIGINT) AS cluster,
         |  q.doc_id, q.quality
         | FROM q LEFT JOIN lab l ON q.doc_id = l.node),
         |r AS (SELECT cluster, doc_id, quality,
         |  CAST(count(*) OVER (PARTITION BY cluster) AS BIGINT) AS n_members,
         |  row_number() OVER (PARTITION BY cluster
         |    ORDER BY quality DESC, doc_id) AS rn FROM m)
         |SELECT cluster, CAST(doc_id AS BIGINT) AS keep_id,
         | quality AS best_score, n_members
         |FROM r WHERE rn = 1 ORDER BY cluster""".stripMargin
    },

    // q219's band CTEs over the CORPUS split minus the tombstoned ids,
    // restricted to buckets that contained a deleted member — delete
    // must equal recompute on every touched bucket, and fully-emptied
    // buckets must vanish (the inner join against non-empty recompute
    // groups encodes that)
    "q221_lsh_index_delete" ->
      s"""WITH sh AS (SELECT id, sh FROM ($SHINGLES3) WHERE id % 10 <> 0),
         |h AS (SELECT id, ${duckHash("sh", 7)} AS h FROM sh),
         |mh AS (SELECT id, i AS hash_idx,
         |  min((h*((i*2654435761) % 2147483647 + 1) + i*40503 + 7) % 2147483647) AS min_hash
         | FROM h CROSS JOIN (SELECT unnest(generate_series(0,15)) AS i) GROUP BY 1,2),
         |bk0 AS (SELECT id, hash_idx // 4 AS band,
         |  md5(string_agg(CAST(min_hash AS VARCHAR), ',' ORDER BY hash_idx)) AS band_key
         | FROM mh GROUP BY 1,2),
         |touched AS (SELECT DISTINCT band, band_key FROM bk0 WHERE id % 7 = 0),
         |b AS (SELECT band, band_key, CAST(COUNT(*) AS BIGINT) AS n,
         |  string_agg(CAST(id AS VARCHAR), ',' ORDER BY id) AS ids
         | FROM bk0 WHERE id % 7 <> 0 GROUP BY 1,2)
         |SELECT CAST(b.band AS BIGINT) AS band, b.band_key, n, ids
         |FROM b JOIN touched USING (band, band_key)
         |ORDER BY band, band_key""".stripMargin,

    // q125's gram/diagonal CTEs split batch-vs-corpus: corpus-side
    // postings with the df <= 1000 cap (no lower bound — the batch
    // occurrence is the pair's other side), diagonal islands per
    // (new, corpus) pair
    "q220_substring_ingest" ->
      """WITH grams AS (
        |  SELECT doc_id AS id, p AS pos, substring(text, p, 40) AS g
        |  FROM documents, LATERAL (SELECT unnest(generate_series(1,
        |    greatest(length(text) - 39, 1))) AS p) t
        |  WHERE p <= length(text) - 39),
        |cg AS (SELECT * FROM grams WHERE id % 10 <> 0),
        |bg AS (SELECT * FROM grams WHERE id % 10 = 0),
        |gf AS (SELECT g FROM cg GROUP BY g HAVING count(*) <= 1000),
        |pairs AS (
        |  SELECT b.id AS new_id, b.pos AS pos_a, c.id AS corpus_id, c.pos AS pos_b
        |  FROM bg b JOIN gf USING (g) JOIN cg c USING (g)),
        |d AS (SELECT *, pos_a - pos_b AS diag,
        |  pos_a - row_number() OVER (PARTITION BY new_id, corpus_id, pos_a - pos_b
        |    ORDER BY pos_a) AS isl FROM pairs)
        |SELECT new_id, corpus_id, CAST(min(pos_a) AS BIGINT) AS start_a,
        | CAST(min(pos_b) AS BIGINT) AS start_b,
        | CAST(count(*) + 39 AS BIGINT) AS span_len
        |FROM d GROUP BY new_id, corpus_id, diag, isl
        |ORDER BY new_id, corpus_id, start_a, start_b""".stripMargin,

    // q31's band-key derivation over corpus UNION batch (= all
    // documents), restricted to buckets containing a batch member —
    // merge must equal recompute on every touched bucket
    "q219_lsh_index_upsert" ->
      s"""WITH sh AS ($SHINGLES3),
         |h AS (SELECT id, ${duckHash("sh", 7)} AS h FROM sh),
         |mh AS (SELECT id, i AS hash_idx,
         |  min((h*((i*2654435761) % 2147483647 + 1) + i*40503 + 7) % 2147483647) AS min_hash
         | FROM h CROSS JOIN (SELECT unnest(generate_series(0,15)) AS i) GROUP BY 1,2),
         |bk0 AS (SELECT id, hash_idx // 4 AS band,
         |  md5(string_agg(CAST(min_hash AS VARCHAR), ',' ORDER BY hash_idx)) AS band_key
         | FROM mh GROUP BY 1,2),
         |b AS (SELECT band, band_key, CAST(COUNT(*) AS BIGINT) AS n,
         |  string_agg(CAST(id AS VARCHAR), ',' ORDER BY id) AS ids
         | FROM bk0 GROUP BY 1,2),
         |touched AS (SELECT DISTINCT band, band_key FROM bk0 WHERE id % 10 = 0)
         |SELECT CAST(b.band AS BIGINT) AS band, b.band_key, n, ids
         |FROM b JOIN touched USING (band, band_key)
         |ORDER BY band, band_key""".stripMargin,

    // the brute-force batch x corpus Jaccard join: the prefix-posting
    // probe must find EXACTLY these pairs (no recall loss)
    "q218_ppjoin_ingest" ->
      s"""WITH sh AS ($SHINGLES3),
         |ss AS (SELECT id, list_sort(list(sh)) AS sset FROM sh GROUP BY 1),
         |p AS (SELECT a.id AS new_id, b.id AS corpus_id,
         |  CAST(len(list_intersect(a.sset, b.sset)) AS BIGINT) AS inter,
         |  CAST(len(a.sset) AS BIGINT) AS na, CAST(len(b.sset) AS BIGINT) AS nb
         | FROM ss a JOIN ss b ON a.id % 10 = 0 AND b.id % 10 <> 0)
         |SELECT new_id, corpus_id, inter,
         | CAST(inter * 1000000 // (na + nb - inter) AS BIGINT) AS jac_ppm
         |FROM p WHERE inter * 1000000 // (na + nb - inter) >= $PpJoinTPpm
         |ORDER BY new_id, corpus_id""".stripMargin,

    // q218's brute-force truth widened to the POST-FOLD corpus: the
    // probe batch against everything (corpus ∪ batch) minus self —
    // batch×batch pairs appear in both orders, exactly as the engine's
    // probe-over-folded-index emits them
    "q305_ppjoin_index_upsert" ->
      s"""WITH sh AS ($SHINGLES3),
         |ss AS (SELECT id, list_sort(list(sh)) AS sset FROM sh GROUP BY 1),
         |p AS (SELECT a.id AS new_id, b.id AS corpus_id,
         |  CAST(len(list_intersect(a.sset, b.sset)) AS BIGINT) AS inter,
         |  CAST(len(a.sset) AS BIGINT) AS na, CAST(len(b.sset) AS BIGINT) AS nb
         | FROM ss a JOIN ss b ON a.id % 10 = 0 AND a.id <> b.id)
         |SELECT new_id, corpus_id, inter,
         | CAST(inter * 1000000 // (na + nb - inter) AS BIGINT) AS jac_ppm
         |FROM p WHERE inter * 1000000 // (na + nb - inter) >= $PpJoinTPpm
         |ORDER BY new_id, corpus_id""".stripMargin,

    // q218's brute-force truth over corpus MINUS the tombstoned ids —
    // delete-then-probe must equal recompute-then-probe
    "q307_ppjoin_index_delete" ->
      s"""WITH sh AS ($SHINGLES3),
         |ss AS (SELECT id, list_sort(list(sh)) AS sset FROM sh GROUP BY 1),
         |p AS (SELECT a.id AS new_id, b.id AS corpus_id,
         |  CAST(len(list_intersect(a.sset, b.sset)) AS BIGINT) AS inter,
         |  CAST(len(a.sset) AS BIGINT) AS na, CAST(len(b.sset) AS BIGINT) AS nb
         | FROM ss a JOIN ss b ON a.id % 10 = 0 AND b.id % 10 <> 0
         |   AND b.id % 7 <> 0)
         |SELECT new_id, corpus_id, inter,
         | CAST(inter * 1000000 // (na + nb - inter) AS BIGINT) AS jac_ppm
         |FROM p WHERE inter * 1000000 // (na + nb - inter) >= $PpJoinTPpm
         |ORDER BY new_id, corpus_id""".stripMargin,

    // q220's brute force widened to the POST-FOLD corpus: batch grams
    // against ALL docs' grams minus self, the fan-out cap over the
    // post-merge (whole-corpus) gram counts — fold-in == rebuild
    "q306_substring_index_upsert" ->
      """WITH grams AS (
        |  SELECT doc_id AS id, p AS pos, substring(text, p, 40) AS g
        |  FROM documents, LATERAL (SELECT unnest(generate_series(1,
        |    greatest(length(text) - 39, 1))) AS p) t
        |  WHERE p <= length(text) - 39),
        |bg AS (SELECT * FROM grams WHERE id % 10 = 0),
        |gf AS (SELECT g FROM grams GROUP BY g HAVING count(*) <= 1000),
        |pairs AS (
        |  SELECT b.id AS new_id, b.pos AS pos_a, c.id AS corpus_id, c.pos AS pos_b
        |  FROM bg b JOIN gf USING (g) JOIN grams c USING (g)
        |  WHERE b.id <> c.id),
        |d AS (SELECT *, pos_a - pos_b AS diag,
        |  pos_a - row_number() OVER (PARTITION BY new_id, corpus_id, pos_a - pos_b
        |    ORDER BY pos_a) AS isl FROM pairs)
        |SELECT new_id, corpus_id, CAST(min(pos_a) AS BIGINT) AS start_a,
        | CAST(min(pos_b) AS BIGINT) AS start_b,
        | CAST(count(*) + 39 AS BIGINT) AS span_len
        |FROM d GROUP BY new_id, corpus_id, diag, isl
        |ORDER BY new_id, corpus_id, start_a, start_b""".stripMargin,

    // brute-force ground truth: the oracle MAY cross-join (DuckDB local
    // correctness run at sf0.01); the Spark side must not, and its plan
    // is asserted posting-list-shaped in DedupAnnSpec
    "q121_fuzzy_join_ed1" ->
      """SELECT a.c_custkey AS id_a, b.c_custkey AS id_b,
        | CAST(levenshtein(a.c_name, b.c_name) AS BIGINT) AS dist
        |FROM customer a JOIN customer b ON a.c_custkey < b.c_custkey
        |WHERE levenshtein(a.c_name, b.c_name) <= 1
        |ORDER BY id_a, id_b""".stripMargin,

    // naive form of Dedup.exactSubstringSpans: every-position 40-gram
    // equi-join (a<b), then the identical diagonal-islands merge — a
    // run of consecutive anchors on one diagonal is a maximal span
    "q125_substring_spans" ->
      """WITH grams AS (
        |  SELECT doc_id AS id, p AS pos, substring(text, p, 40) AS g
        |  FROM documents, LATERAL (SELECT unnest(generate_series(1,
        |    greatest(length(text) - 39, 1))) AS p) t
        |  WHERE p <= length(text) - 39),
        |gf AS (SELECT g FROM grams GROUP BY g HAVING count(*) BETWEEN 2 AND 1000),
        |pairs AS (
        |  SELECT a.id AS id_a, a.pos AS pos_a, b.id AS id_b, b.pos AS pos_b
        |  FROM grams a JOIN gf USING (g) JOIN grams b USING (g)
        |  WHERE a.id < b.id),
        |d AS (SELECT *, pos_a - pos_b AS diag,
        |  pos_a - row_number() OVER (PARTITION BY id_a, id_b, pos_a - pos_b
        |    ORDER BY pos_a) AS isl FROM pairs)
        |SELECT id_a, id_b, CAST(min(pos_a) AS BIGINT) AS start_a,
        | CAST(min(pos_b) AS BIGINT) AS start_b,
        | CAST(count(*) + 39 AS BIGINT) AS span_len
        |FROM d GROUP BY id_a, id_b, diag, isl
        |ORDER BY id_a, id_b, start_a, start_b""".stripMargin,

    // q125's span CTEs, then per-losing-doc interval merge (islands on
    // running max end; s > prev-e breaks, touch coalesces — mirrors the
    // Scala merge rule exactly), kept segments via lag(e), and an md5
    // of the reassembled text
    "q126_substring_removal" ->
      """WITH grams AS (
        |  SELECT doc_id AS id, p AS pos, substring(text, p, 40) AS g
        |  FROM documents, LATERAL (SELECT unnest(generate_series(1,
        |    greatest(length(text) - 39, 1))) AS p) t
        |  WHERE p <= length(text) - 39),
        |gf AS (SELECT g FROM grams GROUP BY g HAVING count(*) BETWEEN 2 AND 1000),
        |pairs AS (
        |  SELECT a.id AS id_a, a.pos AS pos_a, b.id AS id_b, b.pos AS pos_b
        |  FROM grams a JOIN gf USING (g) JOIN grams b USING (g)
        |  WHERE a.id < b.id),
        |d AS (SELECT *, pos_a - pos_b AS diag,
        |  pos_a - row_number() OVER (PARTITION BY id_a, id_b, pos_a - pos_b
        |    ORDER BY pos_a) AS isl FROM pairs),
        |spans AS (
        |  SELECT id_b AS id, min(pos_b) AS s, min(pos_b) + count(*) + 39 AS e
        |  FROM d GROUP BY id_a, id_b, diag, isl),
        |m AS (SELECT id, s, e, CASE WHEN s > coalesce(max(e) OVER (PARTITION BY id
        |        ORDER BY s, e ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), -1)
        |      THEN 1 ELSE 0 END AS brk FROM spans),
        |g2 AS (SELECT *, sum(brk) OVER (PARTITION BY id ORDER BY s, e) AS grp FROM m),
        |iv AS (SELECT id, min(s) AS s, max(e) AS e FROM g2 GROUP BY id, grp),
        |seg AS (SELECT id, coalesce(lag(e) OVER (PARTITION BY id ORDER BY s), 1) AS ks,
        |        s AS ke FROM iv),
        |tl AS (SELECT id, max(e) AS ks FROM iv GROUP BY id),
        |pieces AS (
        |  SELECT s.id, s.ks,
        |    substring(doc.text, CAST(s.ks AS INT), CAST(s.ke - s.ks AS INT)) AS p
        |  FROM seg s JOIN documents doc ON doc.doc_id = s.id
        |  UNION ALL
        |  SELECT t.id, t.ks, substring(doc.text, CAST(t.ks AS INT)) AS p
        |  FROM tl t JOIN documents doc ON doc.doc_id = t.id),
        |clean AS (SELECT id, string_agg(p, '' ORDER BY ks) AS ct FROM pieces GROUP BY id),
        |acct AS (SELECT id, CAST(count(*) AS BIGINT) AS n_cut,
        |         CAST(sum(e - s) AS BIGINT) AS removed_chars FROM iv GROUP BY id)
        |SELECT doc.doc_id AS id, coalesce(acct.n_cut, 0) AS n_cut,
        |  coalesce(acct.removed_chars, 0) AS removed_chars,
        |  CAST(length(coalesce(clean.ct, doc.text)) AS BIGINT) AS clean_len,
        |  md5(coalesce(clean.ct, doc.text)) AS clean_md5
        |FROM documents doc
        |LEFT JOIN acct ON acct.id = doc.doc_id
        |LEFT JOIN clean ON clean.id = doc.doc_id
        |ORDER BY id""".stripMargin,

    // q125's naive form on the self half-plane: same-doc anchor pairs
    // (pos_a < pos_b), same diagonal-islands merge, L=15
    "q130_selfrepeat_spans" ->
      """WITH grams AS (
        |  SELECT doc_id AS id, p AS pos, substring(text, p, 15) AS g
        |  FROM documents, LATERAL (SELECT unnest(generate_series(1,
        |    greatest(length(text) - 14, 1))) AS p) t
        |  WHERE p <= length(text) - 14),
        |gf AS (SELECT g FROM grams GROUP BY g HAVING count(*) BETWEEN 2 AND 1000),
        |pairs AS (
        |  SELECT a.id AS id, a.pos AS pos_a, b.pos AS pos_b
        |  FROM grams a JOIN gf USING (g) JOIN grams b USING (g)
        |  WHERE a.id = b.id AND a.pos < b.pos),
        |d AS (SELECT *, pos_a - pos_b AS diag,
        |  pos_a - row_number() OVER (PARTITION BY id, pos_a - pos_b
        |    ORDER BY pos_a) AS isl FROM pairs)
        |SELECT id, CAST(min(pos_a) AS BIGINT) AS start_a,
        | CAST(min(pos_b) AS BIGINT) AS start_b,
        | CAST(count(*) + 14 AS BIGINT) AS span_len
        |FROM d GROUP BY id, diag, isl
        |ORDER BY id, start_a, start_b""".stripMargin,

    // q126's removal CTEs with BOTH half-planes in `pairs` (cross-doc
    // a.id < b.id plus within-doc a.pos < b.pos) at L=15 — the cut
    // side is id_b/pos_b in both planes, so the spans CTE is unchanged
    "q131_selfrepeat_removal" ->
      """WITH grams AS (
        |  SELECT doc_id AS id, p AS pos, substring(text, p, 15) AS g
        |  FROM documents, LATERAL (SELECT unnest(generate_series(1,
        |    greatest(length(text) - 14, 1))) AS p) t
        |  WHERE p <= length(text) - 14),
        |gf AS (SELECT g FROM grams GROUP BY g HAVING count(*) BETWEEN 2 AND 1000),
        |pairs AS (
        |  SELECT a.id AS id_a, a.pos AS pos_a, b.id AS id_b, b.pos AS pos_b
        |  FROM grams a JOIN gf USING (g) JOIN grams b USING (g)
        |  WHERE a.id < b.id OR (a.id = b.id AND a.pos < b.pos)),
        |d AS (SELECT *, pos_a - pos_b AS diag,
        |  pos_a - row_number() OVER (PARTITION BY id_a, id_b, pos_a - pos_b
        |    ORDER BY pos_a) AS isl FROM pairs),
        |spans AS (
        |  SELECT id_b AS id, min(pos_b) AS s, min(pos_b) + count(*) + 14 AS e
        |  FROM d GROUP BY id_a, id_b, diag, isl),
        |m AS (SELECT id, s, e, CASE WHEN s > coalesce(max(e) OVER (PARTITION BY id
        |        ORDER BY s, e ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), -1)
        |      THEN 1 ELSE 0 END AS brk FROM spans),
        |g2 AS (SELECT *, sum(brk) OVER (PARTITION BY id ORDER BY s, e) AS grp FROM m),
        |iv AS (SELECT id, min(s) AS s, max(e) AS e FROM g2 GROUP BY id, grp),
        |seg AS (SELECT id, coalesce(lag(e) OVER (PARTITION BY id ORDER BY s), 1) AS ks,
        |        s AS ke FROM iv),
        |tl AS (SELECT id, max(e) AS ks FROM iv GROUP BY id),
        |pieces AS (
        |  SELECT s.id, s.ks,
        |    substring(doc.text, CAST(s.ks AS INT), CAST(s.ke - s.ks AS INT)) AS p
        |  FROM seg s JOIN documents doc ON doc.doc_id = s.id
        |  UNION ALL
        |  SELECT t.id, t.ks, substring(doc.text, CAST(t.ks AS INT)) AS p
        |  FROM tl t JOIN documents doc ON doc.doc_id = t.id),
        |clean AS (SELECT id, string_agg(p, '' ORDER BY ks) AS ct FROM pieces GROUP BY id),
        |acct AS (SELECT id, CAST(count(*) AS BIGINT) AS n_cut,
        |         CAST(sum(e - s) AS BIGINT) AS removed_chars FROM iv GROUP BY id)
        |SELECT doc.doc_id AS id, coalesce(acct.n_cut, 0) AS n_cut,
        |  coalesce(acct.removed_chars, 0) AS removed_chars,
        |  CAST(length(coalesce(clean.ct, doc.text)) AS BIGINT) AS clean_len,
        |  md5(coalesce(clean.ct, doc.text)) AS clean_md5
        |FROM documents doc
        |LEFT JOIN acct ON acct.id = doc.doc_id
        |LEFT JOIN clean ON clean.id = doc.doc_id
        |ORDER BY id""".stripMargin,

    // the bloom is engine-side pruning only (no false negatives, false
    // positives verified away) — the oracle is the exact join itself
    "q127_bloom_incremental" ->
      """SELECT b.doc_id AS batch_id, c.doc_id AS corpus_id
        |FROM documents b JOIN documents c
        |  ON substring(b.text, 1, 80) = substring(c.text, 1, 80)
        |WHERE b.doc_id % 10 = 3 AND c.doc_id % 10 != 3
        |  AND length(b.text) >= 80 AND length(c.text) >= 80
        |ORDER BY batch_id, corpus_id""".stripMargin,

    "q104_dedup_retention" -> {
      val sw = StopWords.map(w => s"'$w'").mkString(", ")
      s"""WITH t AS (SELECT doc_id, text,
         |  md5(regexp_replace(lower(trim(text)),'\\s+',' ','g')) AS fp,
         |  $TOKS AS toks FROM documents),
         |s AS (SELECT doc_id, fp, text, CAST(len(toks) AS BIGINT) AS n_tokens,
         |  CAST(len(list_filter(toks, x -> x IN ($sw))) AS BIGINT) AS n_stop FROM t),
         |q AS (SELECT doc_id, fp,
         |  floor((least(CAST(n_tokens AS DOUBLE)/50.0, 1.0)*0.4
         |   + least((CASE WHEN n_tokens > 0 THEN CAST(n_stop AS DOUBLE)/n_tokens ELSE 0.0 END)*4.0, 1.0)*0.3
         |   + (CASE WHEN length(text) > 0
         |      THEN CAST(length(regexp_replace(text,'[^A-Za-z]','','g')) AS DOUBLE)/length(text)
         |      ELSE 0.0 END)*0.3)*10000 + 0.5)/10000.0 AS quality
         | FROM s),
         |r AS (SELECT fp, doc_id, CAST(floor(quality*10000 + 0.5) AS BIGINT) AS q,
         |  row_number() OVER (PARTITION BY fp ORDER BY CAST(floor(quality*10000 + 0.5) AS BIGINT) DESC, doc_id ASC) AS rn,
         |  COUNT(*) OVER (PARTITION BY fp) AS n_copies
         | FROM q)
         |SELECT fp, doc_id AS keep_id, q AS kept_q, n_copies
         |FROM r WHERE rn = 1 ORDER BY fp""".stripMargin
    },

    // q31's minhash/band CTEs split into new (id%10=0) and corpus sides;
    // the bucket cap applies to the CORPUS posting list, like the Spark
    // plan. mh covers all docs (per-doc signatures are subset-independent).
    "q115_dedup_incremental" -> lshIncrementalOracle,

    // persisted-band-index ingest finds the SAME pairs (signatures are
    // a pure per-doc function of k/bands/rowsPerBand) — same oracle
    "q206_lsh_ingest" -> lshIncrementalOracle,

    // q30's common-shingle CTEs with the asymmetric containment ratios.
    "q116_dedup_containment" ->
      s"""WITH sh AS ($SHINGLES3),
         |sizes AS (SELECT id, COUNT(*) AS n FROM sh GROUP BY 1),
         |df AS (SELECT sh AS s2, COUNT(*) AS d FROM sh GROUP BY 1),
         |kept AS (SELECT sh.* FROM sh JOIN df ON sh = s2 WHERE d <= 10000),
         |hs AS (SELECT id, ${duckHash("sh", 15)} AS h FROM kept),
         |common AS (
         | SELECT a.id AS id_a, b.id AS id_b, COUNT(*) AS c
         | FROM hs a JOIN hs b ON a.h = b.h AND a.id < b.id GROUP BY 1,2)
         |SELECT id_a, id_b, c AS n_common,
         | round(CAST(c AS DOUBLE)/na.n, 4) AS c_ab,
         | round(CAST(c AS DOUBLE)/nb.n, 4) AS c_ba
         |FROM common JOIN sizes na ON na.id = id_a JOIN sizes nb ON nb.id = id_b
         |WHERE greatest(round(CAST(c AS DOUBLE)/na.n, 4),
         |               round(CAST(c AS DOUBLE)/nb.n, 4)) >= 0.6
         |ORDER BY id_a, id_b""".stripMargin,

    // the brute-force quadratic join — the engine's prefix filter must
    // reproduce it EXACTLY (prefix filtering has no false negatives)
    "q182_ppjoin" ->
      s"""WITH sh AS ($SHINGLES3),
         |ss AS (SELECT id, list_sort(list(sh)) AS sset FROM sh GROUP BY 1),
         |p AS (SELECT a.id AS id_a, b.id AS id_b,
         |  CAST(len(list_intersect(a.sset, b.sset)) AS BIGINT) AS inter,
         |  CAST(len(a.sset) AS BIGINT) AS na, CAST(len(b.sset) AS BIGINT) AS nb
         | FROM ss a JOIN ss b ON a.id < b.id)
         |SELECT id_a, id_b, inter,
         | CAST(inter * 1000000 // (na + nb - inter) AS BIGINT) AS jac_ppm
         |FROM p WHERE inter * 1000000 // (na + nb - inter) >= $PpJoinTPpm
         |ORDER BY id_a, id_b""".stripMargin,

    // q121's brute-force levenshtein pairs restricted to the nation
    // block, exact recursive closure, singleton self-label
    "q191_entity_resolution" -> erFullRecomputeOracle,

    // the incremental path must equal the FULL recompute — same oracle
    "q201_er_incremental" -> erFullRecomputeOracle,

    // persisted-labels ingest must equal the FULL recompute too
    "q203_er_ingest" -> erFullRecomputeOracle,

    // the rank the engine computes distributed, as one oracle window;
    // (name, id) sort pair keeps the rank total
    "q193_snm_dedup" ->
      s"""WITH r AS (SELECT c_custkey AS id, c_name AS nm,
         |  row_number() OVER (ORDER BY c_name, c_custkey) AS pos FROM customer)
         |SELECT a.id AS id_a, b.id AS id_b,
         | CAST(levenshtein(a.nm, b.nm) AS BIGINT) AS dist
         |FROM r a JOIN r b ON b.pos > a.pos AND b.pos <= a.pos + ${SnmWindow - 1}
         |WHERE levenshtein(a.nm, b.nm) <= 1
         |ORDER BY id_a, id_b""".stripMargin,

    // q191's closure CTEs + field-wise survivorship: arg_min name,
    // max balance, majority segment with (count desc, segment) ties
    "q197_golden_record" ->
      """WITH RECURSIVE pr AS (SELECT a.c_custkey ia, b.c_custkey ib
        | FROM customer a JOIN customer b
        | ON a.c_custkey < b.c_custkey AND a.c_nationkey = b.c_nationkey
        | WHERE levenshtein(a.c_name, b.c_name) <= 1),
        |e AS (SELECT ia u, ib v FROM pr UNION ALL SELECT ib, ia FROM pr),
        |reach AS (SELECT u AS node, u AS label FROM e
        | UNION SELECT e.u, r.label FROM e JOIN reach r ON e.v = r.node),
        |lab AS (SELECT node, MIN(label) lbl FROM reach GROUP BY 1),
        |fl AS (SELECT c_custkey AS cust_id,
        |  CAST(COALESCE(lab.lbl, c_custkey) AS BIGINT) AS label, c_name,
        |  CAST(round(c_acctbal*100, 0) AS BIGINT) AS bal_c, c_mktsegment
        | FROM customer LEFT JOIN lab ON customer.c_custkey = lab.node),
        |agg AS (SELECT label, CAST(COUNT(*) AS BIGINT) AS n_members,
        |  arg_min(c_name, cust_id) AS rep_name,
        |  CAST(MAX(bal_c) AS BIGINT) AS max_bal_c
        | FROM fl GROUP BY 1),
        |sm AS (SELECT label, c_mktsegment, COUNT(*) AS cnt
        | FROM fl GROUP BY 1, 2),
        |md AS (SELECT label, c_mktsegment AS top_segment FROM (
        |  SELECT *, row_number() OVER (PARTITION BY label
        |    ORDER BY cnt DESC, c_mktsegment) AS rn FROM sm) t WHERE rn = 1)
        |SELECT a.label, a.n_members, a.rep_name, a.max_bal_c, md.top_segment
        |FROM agg a JOIN md USING (label) ORDER BY a.label""".stripMargin,

    // the ring replayed with one window; self-pairs (off ≡ 0 mod N)
    // excluded on both sides
    "q236_negative_pairs" ->
      s"""WITH h AS (SELECT doc_id AS id,
         |  ${duckHash("concat('neg_', CAST(doc_id AS VARCHAR))", 15)} AS h
         | FROM documents),
         |r AS (SELECT id,
         |  CAST(row_number() OVER (ORDER BY h, id) - 1 AS BIGINT) AS pos
         | FROM h),
         |nn AS (SELECT CAST(COUNT(*) AS BIGINT) AS n FROM r),
         |p AS (SELECT r.id AS id_a, CAST(o.off AS BIGINT) AS off,
         |  (r.pos + o.off) % nn.n AS pos
         | FROM r CROSS JOIN (VALUES (1), (37), (1001)) o(off) CROSS JOIN nn)
         |SELECT p.id_a, b.id AS id_b, p.off
         |FROM p JOIN r b USING (pos) WHERE p.id_a <> b.id
         |ORDER BY id_a, off""".stripMargin,

    // ground truth = brute-force exact Jaccard >= 0.5 over the SAME
    // md5-bottom-N sample; candidates = the q105 simhash replay;
    // metrics as exact integer ppm
    "q240_dedup_eval" ->
      s"""WITH sd AS (SELECT doc_id, text FROM (
         |  SELECT doc_id, text, row_number() OVER (ORDER BY
         |   ${duckHash("concat('deval_', CAST(doc_id AS VARCHAR))", 15)}, doc_id) AS rn
         |  FROM documents) WHERE rn <= $DedupEvalSampleN),
         |t0 AS (SELECT doc_id, $TOKS AS t FROM sd),
         |sh AS (SELECT DISTINCT doc_id AS id, unnest(
         |  CASE WHEN len(t) < 3 THEN [array_to_string(t,' ')]
         |       ELSE list_transform(generate_series(1, len(t)-2), i -> array_to_string(t[i:i+2],' ')) END) AS sh
         | FROM t0),
         |ss AS (SELECT id, list_sort(list(sh)) AS sset FROM sh GROUP BY 1),
         |tp AS (SELECT id_a, id_b FROM (
         |  SELECT a.id AS id_a, b.id AS id_b,
         |   CAST(len(list_intersect(a.sset, b.sset)) AS BIGINT) AS inter,
         |   CAST(len(a.sset) AS BIGINT) AS na, CAST(len(b.sset) AS BIGINT) AS nb
         |  FROM ss a JOIN ss b ON a.id < b.id) t
         | WHERE inter * 1000000 // (na + nb - inter) >= $DedupEvalTPpm),
         |w2 AS (SELECT doc_id AS id, unnest($TOKS) AS w FROM sd),
         |h2 AS (SELECT id, ${duckHash("w", 15)} AS h FROM w2),
         |bits AS (SELECT id, bit,
         |  SUM(CASE WHEN ((h >> bit) & 1) = 1 THEN 1 ELSE -1 END) AS v
         | FROM h2 CROSS JOIN (SELECT unnest(generate_series(0,15)) AS bit) b
         | GROUP BY 1, 2),
         |sh2 AS (SELECT id,
         |  CAST(SUM(CASE WHEN v > 0 THEN (CAST(1 AS BIGINT) << bit) ELSE 0 END) AS BIGINT) AS simhash
         | FROM bits GROUP BY 1),
         |cp AS (SELECT a.id AS id_a, b.id AS id_b
         | FROM sh2 a JOIN sh2 b ON a.simhash = b.simhash AND a.id < b.id),
         |hit AS (SELECT cp.id_a, cp.id_b FROM cp JOIN tp USING (id_a, id_b)),
         |c AS (SELECT (SELECT COUNT(*) FROM tp) AS n_truth,
         |  (SELECT COUNT(*) FROM cp) AS n_cand,
         |  (SELECT COUNT(*) FROM hit) AS n_hit)
         |SELECT CAST(n_truth AS BIGINT) AS n_truth,
         | CAST(n_cand AS BIGINT) AS n_cand,
         | CAST(n_hit AS BIGINT) AS n_hit,
         | CAST(CASE WHEN n_cand > 0 THEN n_hit * 1000000 // n_cand
         |   ELSE 0 END AS BIGINT) AS precision_ppm,
         | CAST(CASE WHEN n_truth > 0 THEN n_hit * 1000000 // n_truth
         |   ELSE 0 END AS BIGINT) AS recall_ppm
         |FROM c""".stripMargin,

    // q63's min-label propagation chain, rolled to the size histogram
    "q263_cluster_size_hist" -> {
      val iters = 4
      val prop = (1 to iters).map { k =>
        s"""l$k AS (SELECT node, MIN(label) AS label FROM (
           | SELECT node, label FROM l${k - 1}
           | UNION ALL
           | SELECT e.u AS node, l.label FROM edges e JOIN l${k - 1} l ON e.v = l.node) t
           | GROUP BY node)""".stripMargin
      }.mkString(",\n")
      s"""WITH w AS (SELECT doc_id AS id, unnest($TOKS) AS w FROM documents),
         |h AS (SELECT id, ${duckHash("w", 15)} AS h FROM w),
         |bits AS (SELECT id, bit,
         |  SUM(CASE WHEN ((h >> bit) & 1) = 1 THEN 1 ELSE -1 END) AS v
         | FROM h CROSS JOIN (SELECT unnest(generate_series(0,15)) AS bit) b GROUP BY 1,2),
         |sh AS (SELECT id,
         |  CAST(SUM(CASE WHEN v > 0 THEN (CAST(1 AS BIGINT) << bit) ELSE 0 END) AS BIGINT) AS simhash
         | FROM bits GROUP BY 1),
         |p AS (SELECT a.id AS id_a, b.id AS id_b
         | FROM sh a JOIN sh b ON a.simhash = b.simhash AND a.id < b.id),
         |edges AS (SELECT id_a AS u, id_b AS v FROM p
         | UNION ALL SELECT id_b AS u, id_a AS v FROM p),
         |l0 AS (SELECT DISTINCT u AS node, u AS label FROM edges),
         |$prop,
         |sz AS (SELECT label, CAST(COUNT(*) AS BIGINT) AS size
         | FROM l$iters GROUP BY 1)
         |SELECT size, CAST(COUNT(*) AS BIGINT) AS n_clusters,
         | CAST(size * COUNT(*) AS BIGINT) AS n_docs
         |FROM sz GROUP BY 1 ORDER BY 1""".stripMargin
    },

    // the native function — the engine UDF replicates its exact
    // variant (truncated transpositions, 0.7 boost threshold) and
    // IEEE op order, verified on 16k random pairs
    "q291_jaro_winkler" ->
      """WITH n AS (SELECT DISTINCT p_name AS name FROM part),
        |p AS (SELECT a.name AS name_a, b.name AS name_b,
        |  round(jaro_winkler_similarity(a.name, b.name), 6) AS jw6
        | FROM n a JOIN n b ON a.name < b.name)
        |SELECT name_a, name_b, jw6 FROM p
        |ORDER BY jw6 DESC, name_a, name_b LIMIT 40""".stripMargin,

    // brute-force levenshtein<=1 pairs TOUCHING the md5-coin batch
    // (q121's oracle restricted to the ingest frontier — corpus-corpus
    // pairs are yesterday's scores, not this batch's) + the same
    // integer agreement weights and decision thresholds
    "q299_fellegi_sunter" ->
      """WITH attrs AS (SELECT c_custkey AS cid, c_name,
        |  c_nationkey AS nat, c_mktsegment AS seg,
        |  (CAST(round(c_acctbal*100,0) AS BIGINT) + 100000) // 100000 AS bal,
        |  (CAST(concat('0x', substr(md5(concat('erb_',
        |     CAST(c_custkey AS VARCHAR))),1,15)) AS BIGINT) % 5 = 0)
        |    AS in_batch
        | FROM customer),
        |p AS (SELECT a.cid AS id_a, b.cid AS id_b,
        |  levenshtein(a.c_name, b.c_name) AS dist,
        |  a.nat AS nat_a, b.nat AS nat_b, a.seg AS seg_a, b.seg AS seg_b,
        |  a.bal AS bal_a, b.bal AS bal_b
        | FROM attrs a JOIN attrs b ON a.cid < b.cid
        | WHERE (a.in_batch OR b.in_batch)
        |   AND levenshtein(a.c_name, b.c_name) <= 1),
        |sc AS (SELECT id_a, id_b,
        |  (CASE WHEN dist = 0 THEN 40 ELSE 25 END
        |   + CASE WHEN nat_a = nat_b THEN 15 ELSE -10 END
        |   + CASE WHEN seg_a = seg_b THEN 8 ELSE -6 END
        |   + CASE WHEN bal_a = bal_b THEN 5 ELSE -3 END) AS score
        | FROM p)
        |SELECT id_a, id_b, CAST(score AS BIGINT) AS score,
        | CASE WHEN score >= 45 THEN 'match'
        |      WHEN score >= 20 THEN 'possible'
        |      ELSE 'non_match' END AS decision
        |FROM sc ORDER BY id_a, id_b""".stripMargin,
  )
}
