package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.engine.Shape
import graft.engine.Shape.MaterializeOps

import graft.functions.TextFunctions._
import graft.functions.VectorFunctions

/** Deduplication family for the LLM-data-pipeline surface (SURVEY.md §2b):
  * exact, MinHash+LSH, SimHash, n-gram Jaccard, embedding-cosine near-dup.
  *
  * Scale design notes (these run on ~100 TB corpora, not just the sf
  * fixtures):
  *  - NOTHING here is a cross join. Every candidate-generation step is
  *    ONE hash-partitioned shuffle on a derived key (fingerprint, LSH
  *    band, shared shingle hash, LSH bucket) into posting lists
  *    ([[postingPairs]]), so shuffle volume is O(data); skew guards cap
  *    per-key fan-out and AQE splits oversized partitions.
  *  - All hashes are md5-derived (tokenHash64) => deterministic across
  *    engines, which makes every variant DuckDB-oracle-checkable.
  *  - Pair enumeration emits each unordered pair once (sorted posting
  *    list + slice), halving the candidate space at the source.
  *
  * The reference has no dedup operators (SURVEY.md §2a covers its entire
  * 876-LoC surface); these generalize its scan→agg shape
  * (usr_functions.c:19-109) to similarity keys.
  */
object Dedup {

  /** Exact dedup: keep the lowest doc id per normalized-content
    * fingerprint. One shuffle on the 128-bit fingerprint; partial
    * (map-side) min makes the exchange carry one row per distinct doc per
    * partition.
    */
  def exact(docs: DataFrame, idCol: String, textCol: String): DataFrame =
    docs
      .select(fingerprint(col(textCol)).as("fp"), col(idCol))
      .groupBy("fp")
      .agg(min(idCol).as("keep_id"), count(lit(1)).as("n_copies"))

  /** Exact dedup with a QUALITY keeper policy: per normalized-content
    * cluster keep the highest-`score` member, ties to the lowest id —
    * what a production curation pass actually does (the min-id rule of
    * [[exact]] discards quality; near-identical pages differ in
    * boilerplate, and the pipeline wants the cleanest copy). Returns
    * (fp, keep_id, best_score, n_copies).
    *
    * Scale: ONE exchange on the fingerprint; both window functions
    * share the partition key, so the rank and the cluster size ride the
    * same shuffle (the rank adds a sort, not an exchange), and
    * WindowGroupLimit prunes each task to its per-fp top row before the
    * filter.
    */
  def exactKeeperBy(docs: DataFrame, idCol: String, textCol: String,
                    score: Column): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val byFp = Window.partitionBy("fp")
    docs
      .select(fingerprint(col(textCol)).as("fp"), col(idCol).as("id"),
        score.as("score"))
      .withColumn("__rn",
        row_number().over(byFp.orderBy(col("score").desc, col("id"))))
      .withColumn("n_copies", count(lit(1)).over(byFp))
      .filter(col("__rn") === 1)
      .select(col("fp"), col("id").as("keep_id"),
        col("score").as("best_score"), col("n_copies"))
  }

  /** The keeper policy over ARBITRARY cluster labels (the
    * [[exactKeeperBy]] rule generalized past content fingerprints —
    * feed it [[dupClustersStar]] labels and it completes a NEAR-dup
    * curation pass): per `clusterCol`, keep the highest-`score` member,
    * ties to the lowest id. Same one-exchange shape: both windows share
    * the cluster partitioning. Returns
    * (cluster, keep_id, best_score, n_members).
    */
  def clusterKeeper(members: DataFrame, clusterCol: String, idCol: String,
                    score: Column): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    members
      .select(col(clusterCol).as("cluster"), col(idCol).as("id"),
        score.as("score"))
      .withColumn("__rn",
        row_number().over(Window.partitionBy("cluster")
          .orderBy(col("score").desc, col("id"))))
      .withColumn("n_members",
        count(lit(1)).over(Window.partitionBy("cluster")))
      .filter(col("__rn") === 1)
      .select(col("cluster"), col("id").as("keep_id"),
        col("score").as("best_score"), col("n_members"))
  }

  /** Word k-shingles of a text column (distinct, first-occurrence order).
    *
    * Deliberately a Scala UDF, not higher-order array functions: Spark's
    * HigherOrderFunction expressions are interpreted (no codegen), and the
    * measured cost of the transform(sequence)+slice+array_join form was
    * ~640 µs/doc vs ~10 µs/doc for this tight loop — an 8× end-to-end win
    * on every shingle-based operator. Values are identical either way, so
    * DuckDB-oracle parity is unaffected.
    */
  def shingles(text: Column, k: Int): Column = {
    // asNondeterministic is a (truthful-output) optimizer hint: without
    // it, InferFiltersFromGenerate + predicate pushdown clone the UDF
    // into a size(..)>0 filter and the scan's data filters — measured 3
    // evaluations per row per join side on the ngramJaccard plan.
    val f = udf { toks: Seq[String] =>
      if (toks == null) null else shingleList(toks, k)
    }.asNondeterministic()
    f(tokens(text))
  }

  private def shingleList(toks: Seq[String], k: Int): Array[String] =
    if (toks.size < k) Array(toks.mkString(" "))
    else Array.tabulate(toks.size - k + 1)(i => toks.slice(i, i + k).mkString(" ")).distinct

  /** Pair enumeration within a posting list: `lst` is a sorted
    * array<struct> whose FIRST field is the unique doc id; emits every
    * (a, b) element pair with a.id < b.id via posexplode + slice —
    * C(m,2) rows generated streaming through two Generate operators,
    * never materialized as one array. This is the shared candidate-
    * generation kernel for every dedup family: the grouped form computes
    * the (expensive) signature pipeline ONCE — the naive self-equi-join
    * plans it twice, because the nondeterministic signature UDFs defeat
    * exchange reuse — and makes the skew guard a free size(lst) filter
    * instead of a second aggregation + anti-join.
    *
    * The id-inequality filter guards the one case where a doc can appear
    * twice in a list: two DISTINCT shingles of the same doc colliding to
    * one 60-bit key would otherwise emit a self-pair that the strict
    * a.id < b.id contract (and the oracle) excludes. ~n²/2⁶¹ probability,
    * but "matches by construction" should not depend on luck.
    */
  private def postingPairs(posting: DataFrame): DataFrame =
    posting
      .select(posexplode(col("lst")).as(Seq("i", "a")), col("lst"))
      .select(col("a"), explode(slice(col("lst"), col("i") + lit(2), size(col("lst")))).as("b"))
      .filter(col("a.id") =!= col("b.id"))

  /** The one posting-list build of every candidate generator: `keyed`
    * grouped by `keys` into `lst`, the sorted array of `members` structs
    * whose first member is the doc id ([[postingPairs]] and
    * [[probePostings]] read it as `id`). `minSize` 2 is the self-join
    * floor (a singleton list pairs with nothing); 1 keeps every list, as
    * a standing index must, since a singleton corpus bucket still
    * matches an arriving batch doc. `cap` is the skew guard: a list of m
    * members emits m(m-1)/2 self-join pairs, so longer lists drop, a
    * free filter on list size; `Int.MaxValue` disables it.
    */
  private def postingLists(keyed: DataFrame, keys: Seq[String], members: Seq[String],
                           minSize: Int, cap: Int): DataFrame = {
    val lists = keyed.groupBy(keys.map(col): _*)
      .agg(sort_array(collect_list(struct(members.map(col): _*))).as("lst"))
    val n = size(col("lst"))
    val floor = if (minSize > 1) Some(n >= minSize) else None
    val ceiling = if (cap < Int.MaxValue) Some(n <= cap) else None
    (floor ++ ceiling).reduceOption(_ && _).fold(lists)(lists.filter)
  }

  /** A batch probing a standing [[postingLists]] index: `keyed` rows
    * (id, payload..., keys...) equi-join the postings on `keys`, each
    * matched list explodes to one row per corpus member `c`, and
    * same-id pairs drop (a batch row re-using a corpus id is an upsert,
    * not a duplicate). Returns keyed's non-key columns plus `c`; only
    * the batch side shuffles, and the family verifies and dedups its
    * own pairs (one pair can meet in several buckets).
    */
  private def probePostings(keyed: DataFrame, postings: DataFrame,
                            keys: Seq[String]): DataFrame =
    keyed.join(postings, keys)
      .select(keyed.columns.filterNot(keys.contains).map(col) :+
        explode(col("lst")).as("c"): _*)
      .filter(col("id") =!= col("c.id"))

  /** `df`'s columns plus one row per entry of `entries`, a struct per
    * candidate key whose fields become columns — the map-side key
    * explode of every banded family ([[bandKeyed]], [[hammingKeyed]],
    * [[multiIndexKeyed]]).
    */
  private def explodeKeys(df: DataFrame, entries: Seq[Column]): DataFrame =
    df.select(df.columns.map(col) :+ explode(array(entries: _*)).as("e"): _*)
      .select(df.columns.map(col) :+ col("e.*"): _*)

  /** Candidate pairs sharing >= 1 shingle, with exact Jaccard similarity
    * over distinct k-shingles. Inverted-index shape: ONE shuffle keyed by
    * the shingle hash builds the posting lists, so shuffle volume is
    * proportional to the postings, never |docs|^2, and the signature
    * pipeline (tokenize + shingle UDF) runs exactly once. `minJaccard`
    * filters after an exact common-count aggregation.
    */
  def ngramJaccard(docs: DataFrame, idCol: String, textCol: String,
                   k: Int, minJaccard: Double,
                   maxDocFreq: Int = 10000): DataFrame =
    shingleCommonCounts(docs, idCol, textCol, k, maxDocFreq)
      .withColumn("jaccard",
        round(col("n_common").cast("double") /
          (col("n_a") + col("n_b") - col("n_common")).cast("double"), 4))
      .filter(col("jaccard") >= minJaccard)
      .select("id_a", "id_b", "jaccard")

  /** CONTAINMENT near-dup: per candidate pair, the asymmetric overlap
    * c_ab = |A∩B|/|A| and c_ba = |A∩B|/|B| over distinct k-shingles.
    * Jaccard misses subset duplication — a short doc quoted whole inside
    * a long one scores |A|/|B| ≈ 0 Jaccard but c_ab = 1.0 — and
    * training corpora are full of exactly that (boilerplate-wrapped
    * articles, quoted posts, template-injected bodies). Same
    * posting-list pipeline and scale guards as [[ngramJaccard]]; with
    * the hot-shingle cap, reported containment is a lower bound.
    */
  def ngramContainment(docs: DataFrame, idCol: String, textCol: String,
                       k: Int, minContainment: Double,
                       maxDocFreq: Int = 10000): DataFrame =
    shingleCommonCounts(docs, idCol, textCol, k, maxDocFreq)
      .withColumn("c_ab", round(col("n_common").cast("double") / col("n_a").cast("double"), 4))
      .withColumn("c_ba", round(col("n_common").cast("double") / col("n_b").cast("double"), 4))
      .filter(greatest(col("c_ab"), col("c_ba")) >= minContainment)
      .select("id_a", "id_b", "n_common", "c_ab", "c_ba")

  /** Shared exact-overlap kernel for [[ngramJaccard]] /
    * [[ngramContainment]]: one shuffle keyed by the 60-bit shingle hash
    * builds posting lists, pairs stream out of [[postingPairs]], and the
    * pair aggregation returns (id_a, id_b, n_common, n_a, n_b).
    */
  private def shingleCommonCounts(docs: DataFrame, idCol: String, textCol: String,
                                  k: Int, maxDocFreq: Int): DataFrame = {
    require(k >= 1, s"shingle size k must be >= 1, got $k")
    require(maxDocFreq >= 1, s"maxDocFreq must be >= 1, got $maxDocFreq")
    // |shingles| per doc is size() of the (already-distinct) shingle
    // array, carried THROUGH the exploded rows and the join — recovering
    // it per pair with max() costs nothing extra in the pair aggregation.
    // Shingles are hashed to their 60-bit md5 keys INSIDE the UDF
    // (string-distinct first, hash second — identical order to the
    // oracle's DISTINCT-then-hash), so the explode carries 8-byte longs
    // and the expression-layer md5→substring→conv hex-string chain never
    // runs; values equal tokenHash64(shingle string) bit-for-bit.
    val hashUdf = udf { toks: Seq[String] =>
      if (toks == null) null
      else shingleList(toks, k).map(graft.functions.TextFunctions.tokenHash64Jvm)
    }.asNondeterministic()
    // [[Shape.spread]]: the shingle-hash UDF + explode otherwise ride
    // the 1-3 task scan stage at bench scale
    val exploded = Shape.spread(docs, col(idCol))
      .select(col(idCol).as("id"), hashUdf(tokens(col(textCol))).as("hs"))
      .select(col("id"), size(col("hs")).cast("long").as("n_sh"),
        explode(col("hs")).as("h"))
    // Posting lists keyed by the 60-bit md5 hash of the shingle, not the
    // string: the exchange carries 8-byte longs instead of ~k-word
    // strings. The oracle keys on the SAME hash (md5-derived on both
    // engines), so any collision is seen identically — results match by
    // construction, not by luck.
    //
    // Scale guard (ON by default, maxDocFreq=10000): ubiquitous "stop
    // shingles" ("in the", "of the") dominate the pair count
    // quadratically while carrying no near-dup signal. n_common then
    // undercounts by at most the dropped shingles, so reported Jaccard
    // is a lower bound. 10⁴ keeps any genuine duplicate cluster smaller
    // than 10⁴ docs fully intact while capping the worst key at ~5·10⁷
    // pairs (one AQE-splittable task).
    postingPairs(postingLists(exploded, Seq("h"), Seq("id", "n_sh"), 2, maxDocFreq))
      .groupBy(col("a.id").as("id_a"), col("b.id").as("id_b"))
      .agg(count(lit(1)).as("n_common"),
        max(col("a.n_sh")).as("n_a"), max(col("b.n_sh")).as("n_b"))
  }

  /** Per-doc MinHash signature as ONE array column `sig`: element i is
    * permutation i's min-hash, h_i(x) = (a_i*x + b_i) mod p over the
    * shingle hashes — pure map work, nothing leaves the stage. 28-bit shingle hashes + small affine coefficients keep
    * (a*h+b) far below 2^63: the JVM would silently wrap but DuckDB
    * raises on BIGINT overflow, so oracle parity requires staying in
    * range.
    */
  def minHashSignature(docs: DataFrame, idCol: String, textCol: String,
                       k: Int, numHashes: Int): DataFrame = {
    // NO Shape.spread: the spread exchange costs more than the
    // signature UDF's parallelism buys on every minhash caller
    // (measured with it at sf0.1: q31 0.53→0.70 s, q278 1.40→1.71 s)
    val P = 2147483647L // 2^31-1, Mersenne prime
    // Single UDF pass: shingle → 28-bit md5 hash → numHashes mins. The
    // hash values are identical to the tokenHash32/pmod expression form
    // (and the DuckDB oracle); the tight loop replaces numHashes
    // interpreted array_min(transform(...)) evaluations per row.
    //
    // Permutation i is (h·aᵢ + bᵢ) mod P with aᵢ = (i·2654435761) mod
    // P + 1 (Knuth's multiplicative constant — multipliers spread over
    // the whole field). The original small multipliers (2i+1 ≤ 31)
    // were a measured estimator defect (the q278 error report caught
    // it): h·(2i+1) never wraps P for small h, so a shingle with a
    // globally tiny 28-bit hash won EVERY permutation and two docs
    // sharing one such shingle estimated J = 1.0 against a true 1% —
    // max error 989 474 ppm at sf0.01. Field-sized multipliers wrap
    // every h, restoring min-wise mixing: same report, max error
    // ≤ ~3σ of the 16-hash binomial. h·aᵢ ≤ 2²⁸·2³¹ = 2⁵⁹ fits a
    // signed 64-bit on both engines.
    val f = udf { toks: Seq[String] =>
      if (toks == null) null
      else {
        val hs = shingleList(toks, k).map(tokenHash32Jvm)
        Array.tabulate(numHashes) { i =>
          val a = (i * 2654435761L) % P + 1L
          val b = i * 40503L + 7L
          var m = Long.MaxValue
          hs.foreach { h =>
            val v = (h * a + b) % P
            if (v < m) m = v
          }
          m
        }
      }
    }
    docs.select(col(idCol).as("id"), f(tokens(col(textCol))).as("sig"))
  }

  /** One row per (id, sig, band, band_key): the signature array split
    * into `bands` map-side band fingerprints (md5 of the band's
    * in-order min-hashes). Shared by the self-join ([[minHashLsh]]),
    * the index build ([[minHashBandPostings]], its upsert) and the
    * probe ([[minHashLshJoinPostings]]).
    */
  private def bandKeyed(sig: DataFrame, bands: Int, rowsPerBand: Int): DataFrame =
    explodeKeys(sig, (0 until bands).map { b =>
      struct(lit(b).as("band"),
        md5(concat_ws(",",
          slice(col("sig"), b * rowsPerBand + 1, rowsPerBand)
            .cast("array<string>"))).as("band_key"))
    })

  /** MinHash + LSH banding: signatures are split into `bands` bands of
    * `rowsPerBand` hashes; docs agreeing on ALL hashes of any band become
    * candidate pairs (single equi-join on the band fingerprint), then
    * candidates are verified with the estimated Jaccard =
    * fraction of agreeing min-hashes. Pure equi-joins throughout: at
    * 100 TB the band fingerprint is the only shuffle key and band buckets
    * are small by construction (tune bands/rows for the target threshold
    * s ~ (1/bands)^(1/rowsPerBand)).
    */
  def minHashLsh(docs: DataFrame, idCol: String, textCol: String,
                 k: Int, bands: Int, rowsPerBand: Int,
                 minEstJaccard: Double,
                 maxBucketSize: Int = 10000): DataFrame = {
    require(bands >= 1 && rowsPerBand >= 1,
      s"bands/rowsPerBand must be >= 1, got $bands/$rowsPerBand")
    require(maxBucketSize >= 1, s"maxBucketSize must be >= 1, got $maxBucketSize")
    val numHashes = bands * rowsPerBand
    val sig = minHashSignature(docs, idCol, textCol, k, numHashes)

    // band fingerprint = md5 of the in-order min-hashes of the band's
    // slice of the signature array, computed map-side; the full
    // signature rides along in the posting lists, so the verify step
    // needs NO further joins
    val bandKeys = bandKeyed(sig, bands, rowsPerBand)

    // Posting-list candidate generation: ONE shuffle on (band,
    // band_key) and the signature UDF runs once. Above the bucket cap
    // (a viral duplicate cluster) the cluster's pairs are usually still
    // found via its other, smaller band buckets, but recall is no
    // longer guaranteed. Pairs colliding in >=1 band are deduped by the
    // pair groupBy (first() is safe: a doc's signature is identical on
    // every matching row); estimated Jaccard = fraction of agreeing
    // signature positions, a per-row zip_with fold.
    postingPairs(postingLists(bandKeys, Seq("band", "band_key"), Seq("id", "sig"), 2,
        maxBucketSize))
      .groupBy(col("a.id").as("id_a"), col("b.id").as("id_b"))
      .agg(first(col("a.sig")).as("sig_a"), first(col("b.sig")).as("sig_b"))
      .select(col("id_a"), col("id_b"),
        sigAgreement(col("sig_a"), col("sig_b"), numHashes).as("est_jaccard"))
      .filter(col("est_jaccard") >= minEstJaccard)
  }

  /** Estimated Jaccard of two MinHash signatures: the fraction of
    * agreeing positions (a per-row zip_with fold), rounded to 4 places.
    */
  private def sigAgreement(a: Column, b: Column, numHashes: Int): Column =
    round(aggregate(zip_with(a, b, (x, y) => when(x === y, 1.0).otherwise(0.0)),
      lit(0.0), (acc, v) => acc + v) / numHashes, 4)

  /** INCREMENTAL near-dup: today's batch against the standing corpus —
    * the daily-ingest shape every production dedup runs, where
    * re-self-joining the whole corpus per batch would be O(corpus) work
    * for O(batch) new data. Only (new x corpus) pairs are emitted;
    * corpus-internal duplicates are assumed handled when the corpus was
    * built ([[minHashLsh]]).
    *
    * Scale shape: the corpus side is ONE groupBy into per-(band, key)
    * posting lists — at 100 TB this is the precomputed bucketed "band
    * index" a standing corpus would persist (bucketBy(band, band_key)),
    * so per batch only the NEW side is hashed and shuffled; the join is
    * a hash equi-join on the band key. `maxBucketSize` caps a viral
    * bucket exactly like the self-join path. The per-doc MinHash values
    * are identical to [[minHashLsh]]'s (subset-independence: a doc's
    * signature never depends on other docs), so incremental + corpus
    * self-dedup together find the same pairs as one big self-join.
    */
  def minHashLshAgainst(newDocs: DataFrame, corpus: DataFrame,
                        idCol: String, textCol: String,
                        k: Int, bands: Int, rowsPerBand: Int,
                        minEstJaccard: Double,
                        maxBucketSize: Int = 10000): DataFrame =
    minHashLshJoinPostings(newDocs,
      minHashBandPostings(corpus, idCol, textCol, k, bands, rowsPerBand,
        maxBucketSize),
      idCol, textCol, k, bands, rowsPerBand, minEstJaccard)

  /** The corpus side of [[minHashLshAgainst]] as a standalone buildable
    * frame — (band, band_key, lst: array<struct<id, sig>>) capped band
    * postings. In an ingest pipeline this IS the persisted standing LSH
    * index (write it once, parquet/bucket it, and each batch pays only
    * its own signatures — q206); the inline form rebuilds it per call.
    */
  def minHashBandPostings(corpus: DataFrame, idCol: String, textCol: String,
                          k: Int, bands: Int, rowsPerBand: Int,
                          maxBucketSize: Int = 10000): DataFrame = {
    require(bands >= 1 && rowsPerBand >= 1,
      s"bands/rowsPerBand must be >= 1, got $bands/$rowsPerBand")
    require(maxBucketSize >= 1, s"maxBucketSize must be >= 1, got $maxBucketSize")
    postingLists(
      bandKeyed(minHashSignature(corpus, idCol, textCol, k, bands * rowsPerBand),
        bands, rowsPerBand),
      Seq("band", "band_key"), Seq("id", "sig"), 1, maxBucketSize)
  }

  /** Index MAINTENANCE for the LSH band index: merge a batch INTO a
    * prebuilt (possibly parquet-persisted) UNCAPPED
    * [[minHashBandPostings]] frame, returning the post-merge lists of
    * the TOUCHED buckets only — the partitions an upsert actually
    * rewrites; untouched buckets are untouched, which is the point
    * (cost ∝ batch + touched buckets, never the index). On uncapped
    * postings the merge is EXACT: per (band, band_key) the merged list
    * is the sorted member list of corpus ∪ batch (groupBy/collect
    * distributes over union; signatures are a pure per-doc function of
    * the parameters), so recompute-over-union restricted to touched
    * buckets is the oracle. A cap, where wanted, is a downstream filter
    * applied identically to either path. Plan shape: the batch's band
    * lists BROADCAST against the standing index scan — the index never
    * shuffles.
    */
  def minHashBandPostingsUpsert(existing: DataFrame, batch: DataFrame,
                                idCol: String, textCol: String,
                                k: Int, bands: Int, rowsPerBand: Int): DataFrame = {
    require(bands >= 1 && rowsPerBand >= 1,
      s"bands/rowsPerBand must be >= 1, got $bands/$rowsPerBand")
    val batchLists = postingLists(
        bandKeyed(minHashSignature(batch, idCol, textCol, k, bands * rowsPerBand),
          bands, rowsPerBand),
        Seq("band", "band_key"), Seq("id", "sig"), 1, Int.MaxValue)
      .withColumnRenamed("lst", "new_lst")
    // Two joins instead of one right-outer: Spark cannot broadcast the
    // RIGHT side of a right outer join (build-left only — the hint is
    // ignored and the INDEX side would shuffle), but a broadcast LEFT
    // SEMI streams the index once map-side to select the touched
    // buckets, and the outer merge then joins two batch-proportional
    // frames.
    val touchedExisting = existing.join(
      broadcast(batchLists.select("band", "band_key")),
      Seq("band", "band_key"), "left_semi")
    batchLists
      .join(touchedExisting, Seq("band", "band_key"), "left")
      .select(col("band"), col("band_key"),
        // concat(NULL, x) is NULL — a batch-only bucket (no standing
        // list) is just the batch's own list
        when(col("lst").isNull, col("new_lst"))
          .otherwise(sort_array(concat(col("lst"), col("new_lst"))))
          .as("lst"))
  }

  /** The DELETE half of LSH index maintenance (the tombstone pass a
    * GDPR takedown or a retention policy runs): remove `deletedIds`
    * (one id column) from a prebuilt UNCAPPED [[minHashBandPostings]]
    * frame, returning the post-delete lists of the TOUCHED buckets —
    * buckets that contained a deleted member; a fully-emptied bucket
    * disappears (no empty-list rows), and untouched buckets are
    * untouched. The deleted-id set BROADCASTS both into the touch
    * filter and the list rewrite, so the index streams once and never
    * shuffles. delete == recompute over (corpus MINUS deleted)
    * restricted to the touched buckets, exactly (same
    * groupBy-distributes-over-difference argument as
    * [[minHashBandPostingsUpsert]]'s union).
    */
  def minHashBandPostingsDelete(existing: DataFrame,
                                deletedIds: DataFrame): DataFrame = {
    val del = deletedIds.select(col(deletedIds.columns.head).cast("long").as("__del"))
    val touched = existing
      .select(col("band"), col("band_key"), explode(col("lst")).as("m"))
      .join(broadcast(del), col("m.id") === col("__del"), "left_semi")
      .select("band", "band_key").distinct()
    existing
      .join(broadcast(touched), Seq("band", "band_key"), "left_semi")
      // the deleted set rides as ONE collected array row (bounded: a
      // tombstone batch), cross-joined broadcast so the member filter
      // is a map-side array_contains
      .join(broadcast(del.agg(sort_array(collect_list("__del")).as("__dels"))))
      .select(col("band"), col("band_key"),
        filter(col("lst"),
          m => !array_contains(col("__dels"), m.getField("id"))).as("lst"))
      .filter(size(col("lst")) > 0)
  }

  /** [[minHashLshAgainst]] against a prebuilt (possibly
    * parquet-persisted) [[minHashBandPostings]] frame. The k/bands/
    * rowsPerBand parameters MUST match the ones the postings were built
    * with (signatures are a pure per-doc function of them).
    */
  def minHashLshJoinPostings(newDocs: DataFrame, postings: DataFrame,
                             idCol: String, textCol: String,
                             k: Int, bands: Int, rowsPerBand: Int,
                             minEstJaccard: Double): DataFrame = {
    require(bands >= 1 && rowsPerBand >= 1,
      s"bands/rowsPerBand must be >= 1, got $bands/$rowsPerBand")
    val numHashes = bands * rowsPerBand
    val nb = bandKeyed(
      minHashSignature(newDocs, idCol, textCol, k, numHashes), bands, rowsPerBand)
    probePostings(nb, postings, Seq("band", "band_key"))
      .select(col("id").as("new_id"), col("sig").as("sig_n"),
        col("c.id").as("corpus_id"), col("c.sig").as("sig_c"))
      .groupBy("new_id", "corpus_id")
      .agg(first(col("sig_n")).as("sig_n"), first(col("sig_c")).as("sig_c"))
      .select(col("new_id"), col("corpus_id"),
        sigAgreement(col("sig_n"), col("sig_c"), numHashes).as("est_jaccard"))
      .filter(col("est_jaccard") >= minEstJaccard)
  }

  /** SimHash per document: tokens hashed to 60-bit md5-derived values,
    * each bit position votes +1/-1 per token, sign of the vote sets the
    * bit. One UDF pass per document (hash every token, vote every bit,
    * assemble) — map-only, no explode, no shuffle; the higher-order-
    * function formulation (nBits interpreted folds over a hash array)
    * measured ~10x slower because HigherOrderFunctions never enter
    * codegen. Hash values match the tokenHash64 expression, so the
    * DuckDB oracle reproduces them. Docs with no tokens emit NO row
    * (matching the oracle's unnest-of-empty-list semantics).
    */
  def simHash(docs: DataFrame, idCol: String, textCol: String, nBits: Int = 16): DataFrame = {
    // 63, not 64: the hash lives in a Long and band masks are built as
    // (1L << len) - 1, which wraps at a 64-bit shift (1L << 64 == 1L)
    require(nBits >= 1 && nBits <= 63, s"nBits must be in [1, 63], got $nBits")
    val f = udf { toks: Seq[String] =>
      val votes = new Array[Long](nBits)
      toks.foreach { t =>
        val h = tokenHash64Jvm(t)
        var b = 0
        while (b < nBits) {
          if (((h >> b) & 1L) == 1L) votes(b) += 1 else votes(b) -= 1
          b += 1
        }
      }
      var s = 0L; var b = 0
      while (b < nBits) { if (votes(b) > 0) s |= 1L << b; b += 1 }
      s
    }
    // NO Shape.spread: the hash/vote UDF is cheap enough that the
    // spread exchange costs more than its parallelism buys on every
    // simhash caller (measured with it at sf0.1: q63 0.83→1.23 s, q84
    // 0.52→0.93 s)
    docs.select(col(idCol).as("id"), tokens(col(textCol)).as("toks"))
      .filter(size(col("toks")) > 0)
      .select(col("id"), f(col("toks")).as("simhash"))
  }

  /** SimHash near-dup: exact-equal simhash buckets (the degenerate
    * Hamming-0 case, one equi-join). For Hamming<=d at scale, use
    * [[simHashNearDup]] — same join shape, d+1 band keys.
    */
  def simHashDup(docs: DataFrame, idCol: String, textCol: String, nBits: Int = 16): DataFrame =
    postingPairs(postingLists(simHash(docs, idCol, textCol, nBits), Seq("simhash"),
        Seq("id", "simhash"), 2, Int.MaxValue))
      .select(col("a.id").as("id_a"), col("b.id").as("id_b"), col("a.simhash").as("simhash"))

  /** Bit-band boundaries for Hamming<=d banding: maxHamming+1 chunks
    * covering nBits, the first (nBits % chunks) chunks one bit wider.
    * Returns (chunkIndex, startBit, width).
    */
  def simHashBands(nBits: Int, maxHamming: Int): Seq[(Int, Int, Int)] = {
    val nChunks = maxHamming + 1
    require(nBits >= nChunks, s"need at least $nChunks bits for Hamming<=$maxHamming banding")
    val w = nBits / nChunks; val r = nBits % nChunks
    (0 until nChunks).map { i =>
      val len = if (i < r) w + 1 else w
      val start = if (i < r) i * (w + 1) else r * (w + 1) + (i - r) * w
      (i, start, len)
    }
  }

  /** SimHash near-dup with Hamming distance <= maxHamming, by pigeonhole
    * banding: two nBits hashes within Hamming d differ in at most d bit
    * positions, so when the bits are cut into d+1 contiguous chunks at
    * least ONE chunk is bit-identical — candidate generation is d+1
    * equi-joins on (chunk, chunk bits), folded into one join via a
    * map-side explode (the same shape as [[minHashLsh]]'s band join; no
    * cross join, shuffle proportional to |docs| * (d+1)). Candidates are
    * then verified with the EXACT Hamming distance (bit_count of xor,
    * codegen'd). The full hash rides through the join so verification
    * needs no re-join.
    *
    * The same maxBucketSize guard as [[minHashLsh]] applies: a chunk
    * value shared by m docs emits m(m-1)/2 candidates, so viral clusters
    * are capped (ON by default; pass Int.MaxValue to disable).
    */
  def simHashNearDup(docs: DataFrame, idCol: String, textCol: String,
                     nBits: Int = 16, maxHamming: Int = 2,
                     maxBucketSize: Int = 10000): DataFrame =
    hammingNearDup(simHash(docs, idCol, textCol, nBits), "id", "simhash",
      nBits, maxHamming, maxBucketSize)

  /** Hamming<=d pairs over ANY precomputed bit-fingerprint column —
    * the [[simHashNearDup]] banding join lifted out of the text path so
    * other fingerprint families (e.g. image perceptual hashes) reuse
    * it. Pigeonhole recall is exact: d+1 chunks, a pair within Hamming
    * d agrees on >= 1 chunk. Input must carry a unique `idCol` and a
    * long `hashCol` whose meaningful bits fit in `nBits`.
    */
  def hammingNearDup(hashed: DataFrame, idCol: String, hashCol: String,
                     nBits: Int, maxHamming: Int,
                     maxBucketSize: Int = 10000): DataFrame = {
    require(maxBucketSize >= 1, s"maxBucketSize must be >= 1, got $maxBucketSize")
    postingPairs(postingLists(hammingKeyed(hashed, idCol, hashCol, nBits, maxHamming),
        Seq("chunk", "key"), Seq("id", "simhash"), 2, maxBucketSize))
      .transform(hammingVerify(maxHamming))
  }

  /** The standing half of [[hammingNearDup]] as a persistable index:
    * the corpus's (chunk, key) band postings over ANY fingerprint
    * column (text SimHash, image aHash, audio/video energy hashes) —
    * the q206/q208 standing-index pattern generalized to the
    * fingerprint-dedup triad. NO size ≥ 2 floor: a singleton corpus
    * bucket must still match an arriving batch doc (the q208 lesson).
    * Write once next to the fingerprint table; probe with
    * [[hammingJoinPostings]].
    */
  def hammingBandPostings(hashed: DataFrame, idCol: String, hashCol: String,
                          nBits: Int, maxHamming: Int): DataFrame =
    postingLists(hammingKeyed(hashed, idCol, hashCol, nBits, maxHamming),
      Seq("chunk", "key"), Seq("id", "simhash"), 1, Int.MaxValue)

  /** Batch-vs-corpus Hamming ≤ d near-dup against a PERSISTED
    * [[hammingBandPostings]] index: only the BATCH side bands and
    * shuffles (d+1 rows per doc), the index streams through one
    * equi-join on (chunk, key), candidates explode from the touched
    * buckets only, and the exact popcount verdict drops band-collision
    * false positives. Pigeonhole recall is exact: a true pair within
    * Hamming d agrees on ≥ 1 of the d+1 chunks, and that chunk's
    * bucket holds the corpus member. Pairs reached through several
    * chunks collapse via the final groupBy. Returns
    * (id_a = batch, id_b = corpus, hamming).
    */
  def hammingJoinPostings(batchHashed: DataFrame, postings: DataFrame,
                          idCol: String, hashCol: String,
                          nBits: Int, maxHamming: Int): DataFrame =
    probePostings(hammingKeyed(batchHashed, idCol, hashCol, nBits, maxHamming),
        postings, Seq("chunk", "key"))
      .groupBy(col("id").as("id_a"), col("c.id").as("id_b"))
      .agg(first(col("simhash")).as("ha"), first(col("c.simhash")).as("hb"))
      .select(col("id_a"), col("id_b"),
        bit_count(col("ha").bitwiseXOR(col("hb"))).cast("long").as("hamming"))
      .filter(col("hamming") <= maxHamming)

  /** The exact verify of the Hamming self-joins: posting pairs (a, b)
    * of (id, simhash) members become (id_a, id_b, hamming), each pair
    * once however many buckets it met in, within `maxHamming`.
    */
  private def hammingVerify(maxHamming: Int)(pairs: DataFrame): DataFrame =
    pairs.groupBy(col("a.id").as("id_a"), col("b.id").as("id_b"))
      .agg(first(col("a.simhash")).as("ha"), first(col("b.simhash")).as("hb"))
      .select(col("id_a"), col("id_b"),
        bit_count(col("ha").bitwiseXOR(col("hb"))).cast("long").as("hamming"))
      .filter(col("hamming") <= maxHamming)

  /** (id, simhash, chunk, key): each `hashCol` fingerprint keyed d+1
    * ways on its [[simHashBands]] chunks — the map-side explode of the
    * Hamming self-join, index build and probe.
    */
  private def hammingKeyed(hashed: DataFrame, idCol: String, hashCol: String,
                           nBits: Int, maxHamming: Int): DataFrame =
    explodeKeys(hashed.select(col(idCol).as("id"), col(hashCol).as("simhash")),
      simHashBands(nBits, maxHamming).map { case (i, start, len) =>
        struct(lit(i).as("chunk"),
          shiftright(col("simhash"), start).bitwiseAND(lit((1L << len) - 1)).as("key"))
      })

  /** Multi-index tables for Hamming<=d banding (the generalization of
    * [[simHashBands]] that keeps keys WIDE as d grows — the approach of
    * Manku, Jain & Sarma, WWW'07 §3, expressed as block combinations
    * instead of bit rotations): nBits cut into `nBlocks` contiguous
    * blocks (the first nBits % nBlocks one bit wider), one table per
    * (nBlocks − d)-subset of blocks. A pair within Hamming d has its
    * differing bits confined to at most d blocks, so at least one table
    * keys both docs identically — recall stays exact. Key width is
    * nBits·(nBlocks−d)/nBlocks vs [[simHashBands]]' nBits/(d+1): at
    * d=4 / nBits=63 / nBlocks=6 that is ~21 bits instead of ~12, so
    * buckets stay small enough to enumerate at corpus scale, at the
    * cost of C(nBlocks, d) tables (15 here) instead of d+1.
    * Returns (tableId, blocks) with blocks as (startBit, width).
    */
  def simHashMultiTables(nBits: Int, nBlocks: Int,
                         maxHamming: Int): Seq[(Int, Seq[(Int, Int)])] = {
    require(nBlocks > maxHamming,
      s"need nBlocks > maxHamming for exact recall; got $nBlocks <= $maxHamming")
    require(nBits >= nBlocks, s"need at least $nBlocks bits, got $nBits")
    val w = nBits / nBlocks; val r = nBits % nBlocks
    val blocks = (0 until nBlocks).map { i =>
      val len = if (i < r) w + 1 else w
      val start = if (i < r) i * (w + 1) else r * (w + 1) + (i - r) * w
      (start, len)
    }
    (0 until nBlocks).combinations(nBlocks - maxHamming).toSeq
      .zipWithIndex
      .map { case (ix, t) => (t, ix.map(blocks).toSeq) }
  }

  /** Concatenate the given (startBit, width) blocks of `simhash` into
    * one table key (block i shifted left by the widths before it).
    */
  private def multiTableKey(simhash: Column, blocks: Seq[(Int, Int)]): Column = {
    var off = 0
    blocks.map { case (start, len) =>
      val c = shiftleft(
        shiftright(simhash, start).bitwiseAND(lit((1L << len) - 1)), off)
      off += len
      c
    }.reduce(_ bitwiseOR _)
  }

  /** SimHash near-dup for Hamming d=3-4, where plain pigeonhole banding
    * ([[simHashNearDup]]) degrades: its chunks narrow to nBits/(d+1)
    * bits and every bucket goes quadratic. Multi-index candidate
    * generation ([[simHashMultiTables]]) keys each doc C(nBlocks, d)
    * times on wide (nBlocks−d)-block combinations instead — same
    * posting-list shape (ONE shuffle on (table, key), simhash UDF runs
    * once, bucket cap is a free size filter), shuffle volume
    * |docs|·C(nBlocks, d). Candidates are verified with the EXACT
    * bit_count Hamming distance, so precision is exact and recall is
    * exact up to the bucket cap.
    */
  def simHashNearDupMulti(docs: DataFrame, idCol: String, textCol: String,
                          nBits: Int = 63, maxHamming: Int = 3,
                          nBlocks: Int = 6,
                          maxBucketSize: Int = 10000): DataFrame = {
    val keyed = multiIndexKeyed(simHash(docs, idCol, textCol, nBits),
      nBits, maxHamming, nBlocks)
    postingPairs(postingLists(keyed, Seq("tbl", "key"), Seq("id", "simhash"), 2,
        maxBucketSize))
      .transform(hammingVerify(maxHamming))
  }

  /** Each (id, simhash) row keyed C(nBlocks, maxHamming) ways on its
    * [[simHashMultiTables]] block-combination keys — the shared
    * map-side explode of [[simHashNearDupMulti]] and the
    * batch-vs-corpus forms below.
    */
  private def multiIndexKeyed(shs: DataFrame, nBits: Int,
                              maxHamming: Int, nBlocks: Int): DataFrame =
    explodeKeys(shs, simHashMultiTables(nBits, nBlocks, maxHamming).map {
      case (t, blocks) =>
        struct(lit(t).as("tbl"), multiTableKey(col("simhash"), blocks).as("key"))
    })

  /** The standing SimHash index for incremental near-dup (the
    * [[minHashBandPostings]] pattern applied to the multi-index family)
    * — (tbl, key, lst: array<struct<id, simhash>>) capped multi-index
    * postings, probed per batch by [[simHashJoinPostings]], so ingest
    * shuffles the batch plus the matched postings, never the corpus
    * against itself (q208 persists it). Unlike the self-join form there
    * is no size>=2 floor: a singleton corpus bucket still matches a
    * batch doc. Exact recall is [[simHashNearDupMulti]]'s, per bucket
    * cap.
    */
  def simHashMultiIndexPostings(corpus: DataFrame, idCol: String,
                                textCol: String,
                                nBits: Int = 63, maxHamming: Int = 3,
                                nBlocks: Int = 6,
                                maxBucketSize: Int = 10000): DataFrame = {
    require(maxBucketSize >= 1, s"maxBucketSize must be >= 1, got $maxBucketSize")
    postingLists(multiIndexKeyed(simHash(corpus, idCol, textCol, nBits),
        nBits, maxHamming, nBlocks),
      Seq("tbl", "key"), Seq("id", "simhash"), 1, maxBucketSize)
  }

  /** A batch against a prebuilt (possibly
    * parquet-persisted) [[simHashMultiIndexPostings]] frame. The
    * nBits/maxHamming/nBlocks parameters MUST match the ones the
    * postings were built with (the table keys are a pure per-doc
    * function of them). Same-id pairs are dropped (the batch is
    * expected id-disjoint from the corpus, as in
    * [[minHashLshJoinPostings]]); output is (new_id, corpus_id,
    * hamming) with the EXACT bit_count distance verified.
    */
  def simHashJoinPostings(batch: DataFrame, postings: DataFrame,
                          idCol: String, textCol: String,
                          nBits: Int, maxHamming: Int,
                          nBlocks: Int): DataFrame = {
    val keyed = multiIndexKeyed(simHash(batch, idCol, textCol, nBits),
      nBits, maxHamming, nBlocks)
    probePostings(keyed, postings, Seq("tbl", "key"))
      .select(col("id").as("new_id"), col("simhash").as("hn"),
        col("c.id").as("corpus_id"), col("c.simhash").as("hc"))
      .groupBy("new_id", "corpus_id")
      .agg(first(col("hn")).as("hn"), first(col("hc")).as("hc"))
      .select(col("new_id"), col("corpus_id"),
        bit_count(col("hn").bitwiseXOR(col("hc"))).cast("long").as("hamming"))
      .filter(col("hamming") <= maxHamming)
  }

  /** Near-dup CLUSTER collapse: connected components over the candidate
    * pair graph by iterative min-label propagation — the step after pair
    * generation in a dedup pipeline (each doc's `label` is the smallest
    * doc id reachable within `iterations` hops; the label IS the
    * canonical keeper). Each iteration is one equi-join + one min
    * aggregation (both hash-partitioned on the node id), the
    * small-graph version of the large-star/small-star CC algorithm; at
    * 100 TB you would add the star optimizations, but the shuffle shape
    * (edges joined to labels on a key) is already the scale shape.
    * `iterations` bounds work and is mirrored EXACTLY in the unrolled
    * oracle SQL; components with diameter <= iterations are fully
    * converged (asserted against a driver-side union-find in tests).
    */
  def dupClusters(pairs: DataFrame, aCol: String, bCol: String,
                  iterations: Int): DataFrame = {
    // Materialize the edge list once (checkpoint truncates the lineage):
    // every iteration references edges, and without this the final plan
    // re-runs the whole upstream pair generation per iteration (measured
    // 4× the pair-gen cost at iterations=4). [[Shape.materialize]] makes
    // it a reliable checkpoint when `spark.graft.checkpointDir` is set.
    val edges = pairs.select(col(aCol).as("u"), col(bCol).as("v"))
      .unionAll(pairs.select(col(bCol).as("u"), col(aCol).as("v")))
      .materialized
    var labels = edges.select(col("u").as("node")).distinct()
      .withColumn("label", col("node"))
    for (_ <- 1 to iterations) {
      val viaNeighbor = edges.join(labels, col("v") === col("node"))
        .select(col("u").as("node"), col("label"))
      // checkpoint per iteration: labels is referenced twice (union +
      // join), so an unbroken lineage DOUBLES per iteration — 2^k
      // subplan copies by iteration k (measured 47 exchanges at k=4)
      labels = labels.unionAll(viaNeighbor)
        .groupBy("node").agg(min("label").as("label"))
        .materialized
    }
    labels
  }

  /** Large-star/small-star connected components (Kiveris et al.,
    * "Connected Components in MapReduce and Beyond", SoCC'14 §3) — the
    * convergence-guaranteed sibling of [[dupClusters]] for HIGH-DIAMETER
    * pair graphs, where min-label propagation needs `diameter` rounds
    * (a 1M-node chain would need 1M joins) but star alternation needs
    * O(log² n). Each round is two phases and each phase is ONE
    * hash-partitioned window aggregation over the edge list (the
    * per-node minimum is a partition-local window min — no join back):
    *  - large-star: every neighbor v > u re-links to
    *    m(u) = min(N(u) ∪ {u})
    *  - small-star: orient edges (hi → lo); every member of a node's
    *    oriented star re-links to the star's minimum
    * Rounds run until the edge set is stable (count + id sums +
    * xxhash64 sum signature — one tiny driver row per round), at which
    * point the edges form stars rooted at each component's minimum id.
    * Per-round checkpoint truncates lineage exactly as in
    * [[dupClusters]] ([[Shape.materialize]]: reliable when
    * `spark.graft.checkpointDir` is set). Output schema
    * is [[dupClusters]]' (node, label), label = component min.
    */
  def dupClustersStar(pairs: DataFrame, aCol: String, bCol: String,
                      maxRounds: Int = 25,
                      localLimit: Long = Shape.LocalRowLimit): DataFrame = {
    import org.apache.spark.sql.expressions.Window

    def largeStar(e: DataFrame): DataFrame = {
      val bidir = e.unionAll(e.select(col("v").as("u"), col("u").as("v"))).distinct()
      bidir
        .withColumn("m", least(col("u"), min(col("v")).over(Window.partitionBy("u"))))
        .filter(col("v") > col("u"))
        .select(col("v").as("u"), col("m").as("v"))
        .distinct()
    }

    def smallStar(e: DataFrame): DataFrame = {
      val oriented = e.select(greatest(col("u"), col("v")).as("hi"),
          least(col("u"), col("v")).as("lo"))
        .filter(col("hi") =!= col("lo")).distinct()
      val withM = oriented.withColumn("m", min(col("lo")).over(Window.partitionBy("hi")))
      withM.select(col("lo").as("u"), col("m").as("v"))
        .unionAll(withM.select(col("hi").as("u"), col("m").as("v")))
        .filter(col("u") =!= col("v"))
        .distinct()
    }

    // One tiny row per round; Row equality on (count, xor of row
    // hashes) is the (order-insensitive) edge-SET signature — edges are
    // distinct, and xor neither overflows (ANSI-safe) nor depends on id
    // magnitude, so it holds at any scale where a sum of ids would not.
    def signature(e: DataFrame): org.apache.spark.sql.Row =
      e.agg(count(lit(1)),
        coalesce(expr("bit_xor(xxhash64(u, v))"), lit(0L))).first()

    // Checkpoint the PAIR PROJECTION once and derive nodes and edges
    // from it, so the upstream pair generation (a simhash/SymSpell
    // candidate pipeline for every caller) runs once: two separate
    // eager checkpoints get no exchange reuse and cost one full
    // pair-gen job chain more per caller. `nodes` stays a lazy
    // derivation: it is consumed exactly once by the final star join,
    // so its distinct runs once either way.
    val m = pairs.select(col(aCol).as("u"), col(bCol).as("v")).materialized
    val nodes = m.select(col("u").as("node"))
      .unionAll(m.select(col("v").as("node"))).distinct()
    val edges0 = m.filter(col("u") =!= col("v")).distinct()
    // Bounded local path ([[Shape.localRows]]): below `localLimit`
    // edges a driver union-find is value-identical to the star fixpoint
    // (component-min labels; equality spec'd in DedupAnnSpec) while the
    // distributed loop pays ~8 scheduler round-trips per round ×
    // O(log² n) rounds — measured 5-8 rounds / 50+ AQE jobs on the ER
    // name-chain graphs (q191/q201), ~60% of those queries' wall time
    // at sf0.1. Union-find is processing-order-insensitive, so the
    // fetched order is irrelevant. The local labels re-enter the SAME
    // star-forest final join below, so output schema and lineage shape
    // are identical on both paths.
    val localRows =
      if (Shape.integralIds(edges0)) Shape.localRows(edges0, localLimit) else None
    val edges = localRows match {
      case Some(rows) =>
        unionFindLocalRows(rows, edges0.schema.head.dataType,
            edges0.sparkSession)
          .filter(col("node") =!= col("label"))
          .select(col("node").as("u"), col("label").as("v"))
      case None =>
        var e = edges0.materialized
        var sig = signature(e)
        var round = 0
        var converged = false
        while (round < maxRounds && !converged) {
          e = smallStar(largeStar(e)).materialized
          val next = signature(e)
          converged = next == sig
          sig = next
          round += 1
        }
        e
    }
    // At the star fixpoint every non-root node has exactly the edge
    // (node, componentMin); roots (and isolated nodes) label themselves.
    nodes
      .join(edges, col("node") === col("u"), "left")
      .groupBy("node")
      .agg(min(col("v")).as("mv"))
      .select(col("node"),
        coalesce(least(col("mv"), col("node")), col("node")).as("label"))
  }

  /** Winnowing fingerprints (Schleimer, Wilkerson & Aiken, SIGMOD'03 —
    * the MOSS algorithm): positional k-gram hashes, sliding window of
    * `w`, keep the minimum of each window, distinct per doc. Guarantees
    * any shared run of >= w+k-1 tokens between two docs produces >= 1
    * shared fingerprint — LOCAL fingerprints, so partial overlap
    * (contamination, quotation, boilerplate) is caught where whole-doc
    * MinHash dilutes it away. Positional sequence, NOT the distinct
    * shingle set: repeats matter for window minima. One UDF pass per
    * doc; output exploded to (id, fp).
    */
  def winnowFingerprints(docs: DataFrame, idCol: String, textCol: String,
                         k: Int, w: Int): DataFrame = {
    require(k >= 1 && w >= 1, s"k and w must be >= 1, got $k/$w")
    val f = udf { toks: Seq[String] =>
      if (toks == null) null
      else {
        val hs =
          if (toks.size < k) Array(tokenHash64Jvm(toks.mkString(" ")))
          else Array.tabulate(toks.size - k + 1)(i =>
            tokenHash64Jvm(toks.slice(i, i + k).mkString(" ")))
        if (hs.length <= w) Array(hs.min)
        else hs.sliding(w).map(_.min).toArray.distinct
      }
    }.asNondeterministic()
    docs.select(col(idCol).as("id"), explode(f(tokens(col(textCol)))).as("fp"))
  }

  /** Partial-overlap candidate pairs: docs sharing >= `minShared` winnow
    * fingerprints — the posting-list pattern again, keyed by the
    * fingerprint (shuffle O(fingerprints), maxDocFreq caps boilerplate
    * fingerprints shared by everything).
    */
  def winnowOverlap(docs: DataFrame, idCol: String, textCol: String,
                    k: Int, w: Int, minShared: Int,
                    maxDocFreq: Int = 10000): DataFrame = {
    require(minShared >= 1, s"minShared must be >= 1, got $minShared")
    require(maxDocFreq >= 1, s"maxDocFreq must be >= 1, got $maxDocFreq")
    postingPairs(postingLists(winnowFingerprints(docs, idCol, textCol, k, w),
        Seq("fp"), Seq("id"), 2, maxDocFreq))
      .groupBy(col("a.id").as("id_a"), col("b.id").as("id_b"))
      .agg(count(lit(1)).as("n_shared"))
      .filter(col("n_shared") >= minShared)
  }

  /** Embedding near-dup: LSH-bucketed cosine. Vectors are bucketed by
    * random-hyperplane signature (equi-join key); exact cosine verifies
    * within buckets. nBits trades recall for bucket size — at 100 TB the
    * bucket join replaces the O(n^2) cross join entirely.
    */
  def embeddingNearDup(emb: DataFrame, idCol: String, vecCol: String,
                       nBits: Int, minCosine: Double,
                       dim: Int = 64): DataFrame = {
    // Norms are computed once per VECTOR before bucketing, not once per
    // candidate pair (the norm product is bit-identical either way).
    // Posting-list form: the nBits hyperplane projections per vector run
    // once (the self-join planned them per side).
    val bucketed = emb.select(
      col(idCol).as("id"), col(vecCol).as("v"),
      VectorFunctions.lshBucket(col(vecCol), nBits, dim).as("bucket"),
      VectorFunctions.norm(col(vecCol)).as("nrm"))
    val nprod = col("a.nrm") * col("b.nrm")
    postingPairs(postingLists(bucketed, Seq("bucket"), Seq("id", "v", "nrm"), 2, Int.MaxValue))
      .select(col("a.id").as("id_a"), col("b.id").as("id_b"),
        round(when(nprod > 0,
          VectorFunctions.dot(col("a.v"), col("b.v")) / nprod).otherwise(lit(0.0)), 4).as("cos"))
      .filter(col("cos") >= minCosine)
  }

  /** Edit-distance-≤1 fuzzy join via SymSpell deletion neighborhoods
    * (Garbe's symmetric-delete algorithm, the public SymSpell scheme):
    * each string's candidate keys are itself plus every single-character
    * deletion, so two strings at Levenshtein ≤ 1 ALWAYS share a key —
    * substitution at i ⇒ both i-deletions equal; insertion/deletion ⇒
    * the shorter string IS a deletion of the longer; equality ⇒ the
    * string itself — and the exact `levenshtein ≤ 1` post-filter removes
    * the distance-2 collisions (two different-position deletions). This
    * is the scalable fuzzy join: candidate generation is the same ONE
    * shuffle on a derived key as every dedup family here (posting lists,
    * `maxKeyFreq` size cap), never the O(n²) cross-join a naive
    * `levenshtein` θ-join plans. Returns (id_a, id_b, dist) with
    * id_a < id_b, dist ∈ {0, 1}.
    *
    * RECALL CONTRACT: `maxKeyFreq` drops any deletion-key posting list
    * larger than the cap, so true ed≤1 pairs whose ONLY shared keys are
    * that frequent are lost — e.g. many short or empty strings all
    * sharing the "" key, or a corpus-wide boilerplate token. This is a
    * deliberate recall-for-boundedness trade (the capped key is exactly
    * the key whose pair fan-out is O(freq²)); it is NOT lossless. At
    * sf0.01 the oracle run has no key near the default cap, so the
    * check stays exact; at larger scale run
    * [[editDistance1DroppedKeys]] over the same inputs to enumerate
    * what the cap dropped before trusting an external comparison.
    */
  def editDistance1Join(df: DataFrame, idCol: String, strCol: String,
                        maxKeyFreq: Int = 1000): DataFrame = {
    val sessionW = Shape.width(df.sparkSession)
    // Explicit session-width partitioning on the posting exchange: the
    // levenshtein verify downstream is CPU-dense per ROW, so AQE's
    // byte-based coalescing starves it (4 tasks on 32 cores at sf0.1; a
    // global minPartitionSize floor regressed every iterative loop at
    // sf1, so the pin touches only this operator's exchange).
    // HashPartitioning(k, n) satisfies the groupBy's distribution, so
    // the repartition IS the posting agg's exchange (no extra shuffle,
    // no extra job) and the pair explode + verify inherit its width. A
    // measured-pair-volume width (the gramExchangePartitions rule)
    // measured slower at sf0.1 (q191 2.32→3.13 s, q203 1.92→4.04 s):
    // its count-only histogram job costs more wall than the spread
    // buys, because the ER family is stage-count-bound, not
    // verify-CPU-bound. The session width is the deployment's scale
    // knob, so the pin stays scale-adaptive.
    editDistance1Verify(postingPairs(postingLists(
      deletionKeyed(df, idCol, strCol).repartition(sessionW, col("k")),
      Seq("k"), Seq("id", "s"), 2, maxKeyFreq)))
  }

  /** The exact verify of every edit-distance-1 self-join: candidate
    * pairs (a, b) of (id, s) members become (id_a, id_b, dist) with
    * dist <= 1, each pair once. The verify runs BEFORE the pair
    * `distinct`, so the distinct exchange carries 24 fixed bytes per
    * pair instead of both strings, and distance-2 key collisions are
    * gone before the shuffle; a pair sharing several deletion keys
    * re-evaluates levenshtein once per key, the cheap side of that
    * trade. The 3-arg threshold form runs the banded O(len·threshold)
    * DP and returns -1 past the bound, so `>= 0` keeps exactly the
    * dist <= 1 pairs with the 2-arg form's dist values at a fraction of
    * its O(len²) cost.
    */
  private def editDistance1Verify(pairs: DataFrame): DataFrame =
    pairs
      .select(col("a.id").as("id_a"), col("b.id").as("id_b"),
        levenshtein(col("a.s"), col("b.s"), 1).cast("long").as("dist"))
      .filter(col("dist") >= 0)
      .distinct() // dist is a function of the pair: distinct == pair-distinct


  /** Diagnostic companion to [[editDistance1Join]]: the deletion keys the
    * `maxKeyFreq` cap silently drops, with their posting-list sizes —
    * rows (k, freq) where freq > maxKeyFreq, descending. Empty result ⇒
    * the join was exhaustive at this cap.
    */
  def editDistance1DroppedKeys(df: DataFrame, idCol: String, strCol: String,
                               maxKeyFreq: Int = 1000): DataFrame =
    deletionKeyed(df, idCol, strCol)
      .groupBy("k").agg(count(lit(1)).as("freq"))
      .filter(col("freq") > maxKeyFreq)
      .orderBy(col("freq").desc, col("k"))

  /** The standing deletion-key index of the ingest-time
    * [[editDistance1Join]] — (k, lst: array<struct<id, s>>) capped
    * postings, one corpus scan + one groupBy (q203 persists it next to
    * the standing labels). [[editDistance1JoinPostings]] probes it with
    * a batch, [[editDistance1SelfJoinPostings]] self-joins it.
    */
  def deletionKeyPostings(corpus: DataFrame, idCol: String, strCol: String,
                          maxKeyFreq: Int = 1000): DataFrame =
    postingLists(deletionKeyed(corpus, idCol, strCol), Seq("k"), Seq("id", "s"), 1,
      maxKeyFreq)

  /** The SELF-join half of [[editDistance1Join]] over a prebuilt
    * [[deletionKeyPostings]] frame — value-identical to
    * `editDistance1Join(corpus, ...)` built with the same `maxKeyFreq`:
    * the self-join's posting filter is `size BETWEEN 2 AND cap` and
    * [[deletionKeyPostings]] applies `size <= cap`, so filtering `>= 2`
    * here recovers the exact same posting set (same sort_array agg,
    * same [[postingPairs]] expansion, same levenshtein <= 1 verify,
    * same distinct). Callers that need BOTH the self-join and a
    * batch-vs-corpus join (q201's incremental ER) build the postings
    * once and feed both, instead of paying the corpus deletion-key
    * explode + posting aggregation twice.
    */
  def editDistance1SelfJoinPostings(postings: DataFrame): DataFrame =
    // session-width spread of the (typically checkpointed-narrow)
    // posting frame before the CPU-dense pair explode + verify — the
    // [[editDistance1Join]] pin, same rationale, no measurement job
    editDistance1Verify(postingPairs(postings.filter(size(col("lst")) >= 2)
      .repartition(Shape.width(postings.sparkSession), col("k"))))

  /** Cross-batch edit-distance ≤ 1 join: a NEW batch of strings against
    * a prebuilt (possibly parquet-persisted) [[deletionKeyPostings]]
    * index — the ingest-time shape of [[editDistance1Join]]. The batch
    * generates its own (few) keys and equi-joins them, so an ingest
    * shuffles the BATCH keys plus only the matched postings; the
    * standing corpus is never pairwise re-joined against itself. Same
    * `maxKeyFreq` recall contract and exact levenshtein verify as the
    * self-join form (a capped key can only drop candidates the
    * self-join would also drop). Returns (batch_id, corpus_id, dist),
    * deduped.
    *
    * PRECONDITION: batch and corpus id spaces must be DISJOINT — a
    * candidate with batch_id == corpus_id is dropped as a self-pair
    * (the ingest contract: a batch row re-using a standing id is an
    * upsert, not a new entity), so an ingest that recycles corpus ids
    * for different strings would silently lose those cross pairs.
    * q201/q203 satisfy this by construction (md5-coin partition of one
    * key space).
    */
  def editDistance1JoinPostings(batch: DataFrame, postings: DataFrame,
                                idCol: String, strCol: String): DataFrame =
    // NO width pin on this join: a matched-volume pre-join and a
    // session-width repartition of the batch keys both measured slower
    // — the batch side is small enough that the forced exchange costs
    // more than the narrow verify (q203 1.99 s without the pin vs
    // 2.76 s with it at sf0.1)
    probePostings(deletionKeyed(batch, idCol, strCol), postings, Seq("k"))
      .select(col("id").as("batch_id"), col("c.id").as("corpus_id"),
        levenshtein(col("s"), col("c.s"), 1).cast("long").as("dist"))
      .filter(col("dist") >= 0)
      .distinct()

  /** Incremental connected-component label maintenance: merge a batch
    * of `newEdges` into a STANDING (node, label) clustering WITHOUT
    * recomputing the full graph. A standing clustering from
    * [[dupClustersStar]]/[[dupClusters]] is a star forest (every node
    * points at its component min), so the update graph is
    * newEdges ∪ star edges of AFFECTED components only — affected =
    * components holding an endpoint of a new edge, found by two
    * semi-joins; everything else passes through untouched. Star CC
    * over that bounded graph yields the merged labels, and the result
    * EQUALS the full recompute (proved by q201's full-recompute
    * oracle): star edges preserve component membership, so the merged
    * component's min is the global min.
    *
    * Scale: the ingest shuffles |newEdges| + the affected components'
    * star edges — proportional to the batch and what it touches, never
    * the standing corpus. `standing` must cover every standing node
    * (singletons self-labeled, the [[dupClustersStar]] contract); new
    * nodes appearing only in `newEdges` label themselves through the
    * CC. Returns the updated (node, label) covering standing ∪ new.
    */
  def incrementalClusterLabels(standing: DataFrame, newEdges: DataFrame,
                               aCol: String, bCol: String,
                               localLimit: Long = Shape.LocalRowLimit): DataFrame = {
    val e = newEdges.select(col(aCol).as("u"), col(bCol).as("v"))
    val endpoints = e.select(col("u").as("node"))
      .unionAll(e.select(col("v").as("node"))).distinct()
    val touchedLabels = standing
      .join(endpoints, Seq("node"), "left_semi")
      .select("label").distinct()
    val affected = standing.join(touchedLabels, Seq("label"), "left_semi")
    val starEdges = affected.filter(col("node") =!= col("label"))
      .select(col("node").as("u"), col("label").as("v"))
    // every affected node reaches `merged`: non-roots carry a star
    // edge, an affected root is either a new-edge endpoint itself or
    // the TARGET of a member's star edge, and dupClustersStar's node
    // set is exactly the union of edge endpoints
    val update = e.unionAll(starEdges)
    // The update graph is batch-proportional (never the corpus), so a
    // typical ingest is SMALL: below localLimit edges the star loop's
    // multi-round exchange overhead dwarfs the work, and a driver
    // union-find over the fetched pairs ([[Shape.localRows]]) is
    // value-identical (component-min labels — the dupClustersStar
    // contract; both paths equal by IncrementalErSpec; measured q203
    // 6.1 -> 2.6 s and q201 10.6 -> 8.6 s at sf0.1). Above the limit —
    // a huge batch or a batch touching huge components — the O(log² n)
    // distributed loop takes over. String-keyed callers stay on the
    // distributed path: dupClustersStar handles any ordered id type.
    val localRows =
      if (Shape.integralIds(update)) Shape.localRows(update, localLimit) else None
    val merged = localRows match {
      case Some(rows) =>
        unionFindLocalRows(rows, update.schema.head.dataType, update.sparkSession)
      case None => dupClustersStar(update, "u", "v", localLimit = localLimit)
    }
    val untouched = standing.join(
      merged.select(col("node")), Seq("node"), "left_anti")
    untouched.select(col("node"), col("label"))
      .unionAll(merged.select(col("node"), col("label")))
  }

  /** Driver union-find over the bounded (u, v) edge rows that the
    * fused gate+fetch ([[Shape.localRows]], one bounded limit-collect)
    * already holds: component-min labels, the exact [[dupClustersStar]]
    * contract. Output column types are `dt`, the input's u column type,
    * so the caller's unions resolve without widening surprises.
    */
  private def unionFindLocalRows(rows: Array[org.apache.spark.sql.Row],
                                 dt: org.apache.spark.sql.types.DataType,
                                 spark: org.apache.spark.sql.SparkSession): DataFrame = {
    val pairs = rows.map { r =>
      (r.get(0).asInstanceOf[Number].longValue,
        r.get(1).asInstanceOf[Number].longValue)
    }
    val parent = scala.collection.mutable.LongMap.empty[Long]
    def find(x: Long): Long = {
      var root = x
      while (parent.getOrElse(root, root) != root)
        root = parent.getOrElse(root, root)
      var cur = x // path compression
      while (parent.getOrElse(cur, cur) != root) {
        val next = parent.getOrElse(cur, cur); parent(cur) = root; cur = next
      }
      root
    }
    pairs.foreach { case (u, v) =>
      val (ru, rv) = (find(u), find(v))
      // union by MIN root so the final find IS the component min
      if (ru < rv) parent(rv) = ru else if (rv < ru) parent(ru) = rv
    }
    val nodes = pairs.iterator.flatMap(p => Iterator(p._1, p._2)).toSet
    import org.apache.spark.sql.types.{LongType, StructField, StructType}
    val outRows = nodes.toSeq.sorted.map(n =>
      org.apache.spark.sql.Row(n, find(n)))
    spark.createDataFrame(
        spark.sparkContext.parallelize(outRows, 1),
        StructType(Seq(StructField("node", LongType, nullable = false),
          StructField("label", LongType, nullable = false))))
      .select(col("node").cast(dt).as("node"), col("label").cast(dt).as("label"))
  }

  /** Serialized bloom filter of the hash values occurring >= 2 times in
    * `hashes` (one LongType column) — a SUPERSET of the true duplicate
    * set (bloom false positives only add members, never drop), built
    * WITHOUT shuffling a single per-value row: each partition streams
    * its values once into two local blooms (`all` = seen here, `dup` =
    * seen here twice — the second occurrence hits `all.mightContain`,
    * no local hash set, memory stays O(bloom)); the driver then merges
    *   global dups = U dup_p  U  U_p (all_p ∩ union of earlier all_q)
    * with the running-union trick, so cross-partition duplicates are
    * caught by bit-array AND (which over-approximates intersection —
    * again only ADDING members). No false negatives: a true duplicate
    * is either local (in some dup_p) or spans partitions (in the
    * intersection term), and blooms never drop a genuinely-inserted
    * value.
    *
    * Scale: per-task cost is one bloom-sized bit array (undersizing
    * `expectedPerPartition` degrades the false-positive rate — the
    * prune weakens — but never correctness); the driver holds
    * 2·numPartitions serialized blooms transiently. This is the
    * map-side prefilter for [[exactSubstringSpans]]: the alternative
    * count-then-filter pass would shuffle one (value, count) row per
    * DISTINCT value — for a mostly-singleton corpus that is nearly the
    * full posting volume this bloom avoids.
    */
  def duplicateKeyBloom(hashes: DataFrame, expectedPerPartition: Long = 4L << 20,
                        fpp: Double = 0.03): Array[Byte] = {
    import org.apache.spark.util.sketch.BloomFilter
    def ser(bf: BloomFilter): Array[Byte] = {
      val bos = new java.io.ByteArrayOutputStream(); bf.writeTo(bos); bos.toByteArray
    }
    val perPart = hashes.rdd.mapPartitions { it =>
      val all = BloomFilter.create(expectedPerPartition, fpp)
      val dup = BloomFilter.create(expectedPerPartition, fpp)
      it.foreach { r =>
        val h = r.getLong(0)
        if (all.mightContainLong(h)) dup.putLong(h) else all.putLong(h)
      }
      Iterator.single((ser(all), ser(dup)))
    }.collect()
    val dup = BloomFilter.create(expectedPerPartition, fpp)
    val acc = BloomFilter.create(expectedPerPartition, fpp)
    perPart.foreach { case (allBytes, dupBytes) =>
      dup.mergeInPlace(BloomFilter.readFrom(dupBytes))
      // values seen in THIS partition and some earlier one
      dup.mergeInPlace(BloomFilter.readFrom(allBytes).intersectInPlace(acc))
      acc.mergeInPlace(BloomFilter.readFrom(allBytes))
    }
    ser(dup)
  }

  /** Serialized bloom filter of ALL hash values in `hashes` (one
    * LongType column) — the membership superset a bloom-pruned join
    * probes ([[Relational.bloomPrunedEquiJoin]]). Built WITHOUT any
    * exchange: per-partition blooms stream once over their rows and the
    * driver merges by bit-array OR — the zero-shuffle shape of
    * [[duplicateKeyBloom]] minus the duplicate bookkeeping. False
    * positives only weaken the prune, never membership (no false
    * negatives), so any consumer that re-verifies with an exact join
    * stays exact.
    */
  def keyBloom(hashes: DataFrame, expectedPerPartition: Long = 4L << 20,
               fpp: Double = 0.03): Array[Byte] = {
    import org.apache.spark.util.sketch.BloomFilter
    def ser(bf: BloomFilter): Array[Byte] = {
      val bos = new java.io.ByteArrayOutputStream(); bf.writeTo(bos); bos.toByteArray
    }
    val perPart = hashes.rdd.mapPartitions { it =>
      val all = BloomFilter.create(expectedPerPartition, fpp)
      it.foreach(r => all.putLong(r.getLong(0)))
      Iterator.single(ser(all))
    }.collect()
    val acc = BloomFilter.create(expectedPerPartition, fpp)
    perPart.foreach(b => acc.mergeInPlace(BloomFilter.readFrom(b)))
    ser(acc)
  }

  /** EXACT substring duplication — the suffix-array dedup family (Lee
    * et al. 2022, "Deduplicating Training Data Makes Language Models
    * Better", arXiv:2107.06499): every maximal span of length >= minLen
    * shared verbatim by two documents, as exact 1-based coordinates
    * (id_a, id_b, start_a, start_b, span_len) with id_a < id_b.
    *
    * Spark-native formulation — no global suffix array is materialized:
    * every position's minLen-gram becomes a posting (ONE shuffle keyed
    * by the gram, the same inverted-index shape as every dedup family
    * here); position pairs sharing a gram land on an
    * (id_a, id_b, diagonal) key where diagonal = pos_a - pos_b, and a
    * run of consecutive anchors on one diagonal IS a maximal shared
    * span of length run + minLen - 1 (grouped by the islands trick:
    * pos - row_number over the diagonal). Joining on the gram STRING
    * keeps the result exact — no hash collisions to verify away — and
    * a maximal common span of length M yields exactly M - minLen + 1
    * consecutive anchors, so span bounds are exact, where winnowing
    * (winnowOverlap) samples fingerprints and cannot name byte ranges.
    *
    * Scale: postings are O(total chars), one per position — the same
    * asymptotic cost as the suffix array the batch family builds — and
    * `maxGramFreq` bounds the worst gram's posting list (pair fan-out
    * O(maxGramFreq²) per gram). A gram dropped by the cap can split or
    * shorten a reported span: the same recall-for-boundedness contract
    * as maxDocFreq elsewhere in this file. Diagonal-window state is
    * bounded by the shorter document's length. Low-entropy periodic
    * text (a run of one repeated character) anchors on every diagonal
    * and reports one span per diagonal — exact, deterministic, and
    * capped by maxGramFreq, but verbose; real pipelines strip such
    * runs in curation first. At 100 TB the gram key would carry a
    * 64-bit rolling hash re-verified against the two texts; at oracle
    * scale the string key keeps the pipeline one stage shorter.
    */
  /** includeSelf = true adds the within-document half-plane
    * ([[selfRepeatSpans]]) to the cross-document spans — the complete
    * Lee et al. 2022 duplicate surface in one result.
    */
  def exactSubstringSpans(docs: DataFrame, idCol: String, textCol: String,
                          minLen: Int, maxGramFreq: Int = 1000,
                          hashGrams: Boolean = false,
                          bloomPrune: Boolean = false,
                          includeSelf: Boolean = false): DataFrame =
    substringSpansImpl(docs, idCol, textCol, minLen, maxGramFreq, hashGrams,
      bloomPrune, if (includeSelf) "both" else "cross")

  /** WITHIN-document repeat spans — the self half-plane of
    * [[exactSubstringSpans]] (id_a == id_b, diagonal != 0) the Lee et
    * al. 2022 loop also dedups: a document repeating its own
    * >= minLen substring (boilerplate headers, generated text, chorus
    * lines) reports each maximal repeat as (id, start_a, start_b,
    * span_len) with start_a < start_b. Overlapping self-repeats are
    * real repeats (periodic text reports one maximal span per
    * diagonal), same machinery, same caps, same coordinates contract
    * as the cross-doc operator.
    */
  def selfRepeatSpans(docs: DataFrame, idCol: String, textCol: String,
                      minLen: Int, maxGramFreq: Int = 1000,
                      hashGrams: Boolean = false,
                      bloomPrune: Boolean = false): DataFrame =
    substringSpansImpl(docs, idCol, textCol, minLen, maxGramFreq, hashGrams,
      bloomPrune, "self")
      .select(col("id_a").as("id"), col("start_a"), col("start_b"), col("span_len"))

  /** Partition count for the substring-span g-exchange — sized from
    * the MEASURED gram count, not the session default: the gram
    * exchange is one row per character, a ~50-100× blow-up over the
    * compressed scan. Sizing from the compressed scan bytes was tried
    * and underestimates (synthetic corpora compress 2.6-10×, so char
    * volume is not a function of file size); the caller instead
    * measures the exact gram count with one sum(length) agg job — a
    * single-column scan, a few percent of the operator's own cost at
    * any scale and the q119 count() precedent.
    *
    * The target is ~64 MB of raw shuffled gram rows per partition — a
    * SPILL-granularity number, deliberately NOT a hash-build bound: an
    * earlier revision targeted 16 MB of worst-case hash build, which
    * at the sf10 tier meant a 369-424-way exchange whose per-task
    * overhead cost ~50% wall clock on local[32] (q125 71.6 s →
    * 108.9 s) and STILL OOM'd the non-spillable build it was
    * protecting (the build bound belongs to the JOIN selection, which
    * AQE now makes from real map stats — substringSpansImpl scaladoc).
    * Locally this keeps the session width through ~sf1 and drifts up
    * gently (sf10 → ~50); at 100 TB it caps at 65536 (~GB-scale
    * partitions that sort-merge spills through). Never below the
    * session width, so small inputs keep the session plan exactly.
    */
  def gramExchangePartitions(gramRows: Long, shuffleBytesPerRow: Int,
                             sessionPartitions: Int): Int = {
    val needed = gramRows * shuffleBytesPerRow / (64L * 1024 * 1024)
    math.max(sessionPartitions, math.min(needed, 65536L).toInt)
  }

  /** The shared posting pipeline of the substring-span family: one
    * (id, pos, g) row per position admitting a full L-gram, hashed /
    * bloom-pruned per the flags, materialized as ONE g-partitioned
    * exchange at a width derived from the measured gram count
    * ([[gramExchangePartitions]]). Both the span reporters
    * ([[substringSpansImpl]]) and the removal fast path
    * ([[removeDuplicateSpans]]) start here, so the volume/tuning
    * trade-offs documented inline apply to every family member.
    */
  private def gramPostings(docs: DataFrame, idCol: String, textCol: String,
                           L: Int, hashGrams: Boolean,
                           bloomPrune: Boolean): DataFrame = {
    // one (id, pos, gram) row per position admitting a full-length gram;
    // the filter-over-sequence guard yields an empty array (not a bad
    // sequence bound) for docs shorter than minLen
    // gram generation is ONE JVM loop per document, not a sequence/
    // filter/transform higher-order chain: interpreted HOF lambdas cost
    // microseconds per element, and this inner loop runs once per CHAR
    // of the corpus (measured at sf0.1: 4.2 s HOF vs 0.26 s UDF for the
    // identical ~1.4M-gram output — the documented UDF-vs-builtin trade,
    // SURVEY §2c). Positions are 1-based UTF-16 offsets; identical to
    // codepoint offsets for BMP text (the whole corpus), which keeps
    // the DuckDB character-offset oracle exact.
    val gramUdf = udf { s: String =>
      if (s == null || s.length < L) Array.empty[(Long, String)]
      else Array.tabulate(s.length - L + 1)(i => ((i + 1).toLong, s.substring(i, i + L)))
    }
    // [[Shape.spread]]: the per-CHAR gram loop + explode otherwise ride
    // the 1-task scan stage (measured 0.7-0.8 s serial per specialized
    // exchange copy at sf0.1)
    val grams = Shape.spread(docs, col(idCol))
      .select(col(idCol).cast("long").as("id"),
        explode(gramUdf(col(textCol))).as("pg"))
      .select(col("id"), col("pg._1").as("pos"), col("pg._2").as("g"))
    // CROSS-doc anchor pairs via a g-keyed self equi-join, NOT the
    // collect_list + slice-explode posting pattern used elsewhere in
    // this file: a hot gram's posting array would be copied once per
    // emitted pair (O(freq²) array builds; measured 0.6 s slower at
    // sf0.1 and the gap widens with freq), while the join streams the
    // same pairs with zero array materialization. All three shuffles
    // (frequency agg, both join sides) key on g, so the exchanges
    // co-partition and the frequency cap still bounds the worst key's
    // fan-out. Join strategy is AQE's call (build.sbt pins
    // maxShuffledHashJoinLocalMapThreshold=64m): it converts to a
    // hash join when every build partition measures under the
    // threshold — recovering the measured SHJ-over-string-SMJ win
    // (50K docs/15M grams: SMJ 38 s, SHJ 16 s, SHJ hashed 10 s)
    // whenever it is safe — and keeps spillable sort-merge (8-byte
    // long sorts under hashGrams) when the eligible volume is large,
    // where a forced hash build OOMs.
    //
    // hashGrams = true replaces the gram string with xxhash64(gram)
    // before any shuffle — 8-byte keys through every exchange and join
    // (measured at sf1/12.9M grams, same session: 6.9 s vs 11.4 s for
    // the string keys; earlier at 50K docs: SHJ strings 16 s, hashed
    // 10 s). A 64-bit collision can fabricate an anchor and weld or
    // extend a span: for C total grams the expected fabricated-anchor
    // count is ~C²/2⁶⁵ (≈ 5e-6 at 13M grams, ~2e-10 at oracle scale) —
    // re-verify reported spans against the texts if that bound matters;
    // hashGrams = false keeps the string key, making every reported
    // span exact by construction at the measured cost above.
    //
    // bloomPrune = true filters singleton grams BEFORE the exchange via
    // [[duplicateKeyBloom]] (a map-side pass; 91% of this corpus's
    // postings are singletons). Default OFF because it is a LOCAL-mode
    // loss: the build pass re-scans every gram (measured 5.4-6.8 s at
    // sf1) while the memory-speed local exchange only saves ~1.4 s. The
    // trade flips on a real cluster, where the exchange is network and
    // disk: pruning 91% of a petabyte-scale shuffle for one map-side
    // scan is the right side of the ledger. Results are identical
    // either way (the exact `eligible` count below re-decides).
    val gramed0 =
      if (hashGrams) grams.select(xxhash64(col("g")).as("g"), col("id"), col("pos"))
      else grams
    // map-side bloom prune BEFORE any exchange: singleton grams — the
    // vast majority of a natural corpus — can never anchor a span, and
    // [[duplicateKeyBloom]] names a superset of the repeated grams
    // without shuffling a per-gram row. The prune is a pure volume
    // optimization: false positives (and xxhash64 collisions onto a
    // repeated gram's hash) pass extra singletons through, and the
    // EXACT `eligible` count below still decides membership, so the
    // result set is identical with or without the bloom. Grams ride
    // the probe as xxhash64 on BOTH sides (build and filter), making
    // the decision a deterministic function of the gram.
    val pruned = if (!bloomPrune) gramed0 else {
      import org.apache.spark.sql.GraftSqlShim
      import org.apache.spark.sql.catalyst.expressions.{BloomFilterMightContain, Literal => CatLit}
      val dupBloom = duplicateKeyBloom(gramed0.select(xxhash64(col("g")).as("h")))
      gramed0.filter(GraftSqlShim.column(BloomFilterMightContain(
        CatLit.create(dupBloom, org.apache.spark.sql.types.BinaryType),
        GraftSqlShim.expression(xxhash64(col("g"))))))
    }
    // materialize ONE g-partitioned exchange that all three consumers
    // (frequency agg, both join sides) reuse — without it each consumer
    // re-runs the gram UDF and re-shuffles (ReusedExchange was absent:
    // measured 14.8 s → 10.3 s at 50K docs/15M grams from this line).
    // Width is derived from the MEASURED gram count (one sum(length)
    // agg job — [[gramExchangePartitions]] scaladoc for why estimating
    // from scan bytes fails); every downstream groupBy/join keys on g
    // (or a superset of g), so HashPartitioning(g, n) satisfies their
    // distribution at any n and the width propagates through the whole
    // pipeline without further exchanges. The joins carry NO static
    // shuffle_hash hints: AQE's maxShuffledHashJoinLocalMapThreshold
    // (pinned in build.sbt, documented in the [[exactSubstringSpans]]
    // contract) converts to a hash join from REAL map-output stats —
    // exactly when every build partition fits the threshold — and
    // leaves spillable sort-merge otherwise. The static hints this
    // replaces OOM'd the sf10/minLen=15 run at every tried width (82%
    // of 141M postings eligible = unbounded non-spillable builds).
    val gramRowCount = {
      val r = docs.agg(sum(greatest(length(col(textCol)) - lit(L - 1), lit(0)))).first()
      if (r.isNullAt(0)) 0L else r.getLong(0)
    }
    val shuffleBytesPerRow = if (hashGrams) 24 else 24 + L
    val nPart = gramExchangePartitions(gramRowCount, shuffleBytesPerRow,
      docs.sparkSession.sessionState.conf.numShufflePartitions)
    // Catalyst's column pruning SPECIALIZES each consumer's copy of
    // this exchange ((g,id,pos) / (g,id) / (g) in q130's plan), so the
    // three copies are not canonically equal and the gram UDF re-runs
    // per consumer. A size-gated localCheckpoint of the exchange (one
    // explode, shared blocks) measured SLOWER at sf0.1 — q125
    // 1.43 s → 2.15 s, q130 2.49 → 2.69 — the
    // checkpoint round-trip of deserialized full-width rows costs more
    // than the repeated explode reading narrow pruned exchanges, and
    // at corpus scale pinning the postings is the adamicAdarTopK
    // AGGREGATE_OUT_OF_MEMORY lesson. Kept as-is, deliberately.
    pruned.repartition(nPart, col("g"))
  }

  private def substringSpansImpl(docs: DataFrame, idCol: String, textCol: String,
                                 minLen: Int, maxGramFreq: Int,
                                 hashGrams: Boolean, bloomPrune: Boolean,
                                 pairMode: String): DataFrame = {
    require(minLen >= 2, s"minLen must be >= 2, got $minLen")
    require(maxGramFreq >= 2, s"maxGramFreq must be >= 2, got $maxGramFreq")
    val L = minLen
    val gramed = gramPostings(docs, idCol, textCol, L, hashGrams, bloomPrune)
    val eligible = gramed.groupBy("g").agg(count(lit(1)).as("__f"))
      .filter(col("__f").between(2, maxGramFreq))
      .select("g")
    // pair half-planes: cross-doc (id_a < id_b), within-doc repeats
    // (same id, pos_a < pos_b — the diag != 0 half-plane), or both.
    //
    // The two planes take STRUCTURALLY different paths. Cross-doc
    // pairs are the g-keyed self equi-join below: the id_a < id_b
    // INEQUALITY stays a post-match condition, so the join key is g
    // alone and the g-exchange is reused for both sides. Within-doc
    // pairs must NOT be written as that join with id_a === id_b:
    // Catalyst extracts the equality into the join key, the join
    // becomes an (id, g) equi-join that RE-SHUFFLES the full posting
    // volume at session width (discarding the derived-width exchange,
    // whose reuse also breaks) and hash-builds multi-column keys —
    // the shape that OOM'd every sf10 self-mode run. A within-doc
    // repeat is a per-(g, id) fact, so it is computed as a GROUPING:
    // gramed is hash-partitioned by g, and HashPartitioning(g)
    // satisfies ClusteredDistribution(g, id), so the groupBy below
    // adds NO exchange; the global-frequency cap then applies via a
    // co-partitioned join against `eligible` whose probe side is only
    // the within-doc-repeated (g, id) groups (rare), not the corpus.
    require(Set("cross", "self", "both")(pairMode),
      s"bad pairMode $pairMode")
    val crossAnchors = if (pairMode == "self") None else {
      val keyed = gramed.join(eligible, "g")
      Some(keyed.select(col("g"), col("id").as("id_a"), col("pos").as("pos_a"))
        .join(keyed.select(col("g"), col("id").as("id_b"), col("pos").as("pos_b")), "g")
        .filter(col("id_a") < col("id_b"))
        .select("id_a", "pos_a", "id_b", "pos_b"))
    }
    val selfAnchors = if (pairMode == "cross") None else {
      // ordered position pairs within one (gram, doc) group; the
      // collect_list is bounded by one gram's occurrences in one
      // document (<= doc length), and sort_array makes the pair
      // emission order-free over the unordered aggregation
      val pairsUdf = udf { ps: Seq[Long] =>
        val out = Array.newBuilder[(Long, Long)]
        var i = 0
        while (i < ps.length) {
          var j = i + 1
          while (j < ps.length) { out += ((ps(i), ps(j))); j += 1 }
          i += 1
        }
        out.result()
      }
      // ONE pass over the g-exchange: the per-gram frequency and the
      // per-(g, id) repeat count come from two whole-partition window
      // counts that share the exchange's hash(g) distribution and one
      // (g, id) sort (the outer g-window's sort is a satisfied prefix),
      // and the surviving rows flow straight into the position collect
      // — a two-agg + eligible-join + re-fetch-join shape would consume
      // the exchange THREE times, each a pruning-specialized copy that
      // re-runs the gram explode (gramPostings' note). Same groups,
      // same position multisets: window count == grouped count, and
      // sort_array normalizes the collect order either way.
      import org.apache.spark.sql.expressions.Window
      Some(gramed
        .withColumn("__n", count(lit(1)).over(Window.partitionBy("g", "id")))
        .withColumn("__f", count(lit(1)).over(Window.partitionBy("g")))
        .filter(col("__f").between(2, maxGramFreq) && col("__n") >= 2)
        .groupBy("g", "id")
        .agg(sort_array(collect_list(col("pos"))).as("ps"))
        .select(col("id"), explode(pairsUdf(col("ps"))).as("pp"))
        .select(col("id").as("id_a"), col("pp._1").as("pos_a"),
          col("id").as("id_b"), col("pp._2").as("pos_b")))
    }
    val anchors = (crossAnchors.toSeq ++ selfAnchors.toSeq)
      .reduce(_ unionByName _)
    anchorsToSpans(anchors, L)
  }

  /** The STANDING half of [[exactSubstringSpans]] split for ingest-time
    * reuse (the persisted-index pattern applied to the Lee et al.
    * substring family): the corpus's per-position L-gram postings
    * (g, id, pos) — grams as 8-byte xxhash64 keys, the q125-measured
    * win whose string-mode equivalence is property-tested — plus the
    * per-gram frequency table the probe's fan-out cap consults without
    * ever re-aggregating the index. Both parquet-persist losslessly.
    */
  def substringGramIndex(corpus: DataFrame, idCol: String, textCol: String,
                         minLen: Int): (DataFrame, DataFrame) = {
    require(minLen >= 2, s"minLen must be >= 2, got $minLen")
    val postings = gramPostings(corpus, idCol, textCol, minLen,
      hashGrams = true, bloomPrune = false)
    (postings, postings.groupBy("g").agg(count(lit(1)).as("df")))
  }

  /** Index MAINTENANCE for the standing substring gram index — the
    * q219 fold-in rule applied to the Lee et al. family: the rows an
    * accepted `batch` contributes to a persisted [[substringGramIndex]].
    * Batch ids must be new to the index (append semantics; a re-ingest
    * is a tombstone + append). Returns
    *  - the batch's gram postings (g, id, pos) to APPEND — postings are
    *    a pure per-document function of the text, so append == rebuild
    *    bit-exactly;
    *  - the TOUCHED gram-frequency rows only — each gram the batch
    *    contains, with its post-merge df (corpus df + batch df; a
    *    batch-only gram enters at its batch df). df is a SUM, so
    *    touched-row replacement == rebuild bit-exactly (spec'd as
    *    untouched ∪ touched == full recompute in DedupAnnSpec).
    * Untouched grams are untouched — the point: a df-sharded store
    * rewrites only the shards holding batch grams.
    *
    * Plan shape: only the batch generates grams; the standing gramDf
    * streams ONCE map-side through a broadcast semi join (the touched
    * filter) and the merge joins two batch-proportional frames — the
    * index never shuffles, and the postings table is not read at all.
    * Unlike the PPJoin fold-in there is NO drift: df here is only the
    * probe-time fan-out cap, not an ordering, so folded counts are the
    * TRUE counts forever and no re-rank contract is needed.
    */
  def substringGramIndexUpsert(gramDf: DataFrame, batch: DataFrame,
                               idCol: String, textCol: String,
                               minLen: Int): (DataFrame, DataFrame) = {
    require(minLen >= 2, s"minLen must be >= 2, got $minLen")
    // materialize the batch postings ONCE: the per-CHAR
    // gram UDF + explode otherwise re-runs for EVERY consumer — the df
    // agg here, the touched semi-join, and each caller-side reference of
    // the returned frames (q306 profiles showed the identical 32-task
    // gram job 5×, ~35 s of duplicated CPU at sf0.1). The checkpoint is
    // batch-proportional (ingest batches are bounded by contract), never
    // corpus-sized — [[substringGramIndex]] itself stays lazy for the
    // corpus-wide fixture build.
    val bPostings = gramPostings(batch, idCol, textCol, minLen,
      hashGrams = true, bloomPrune = false).materialized
    val bDf = bPostings.groupBy("g").agg(count(lit(1)).as("df"))
    val touched = gramDf
      .join(broadcast(bDf.select("g")), Seq("g"), "left_semi")
      .select(col("g"), col("df").as("__cdf"))
    val mergedDf = bDf.select(col("g"), col("df").as("__bdf"))
      .join(touched, Seq("g"), "left")
      .select(col("g"),
        (coalesce(col("__cdf"), lit(0L)) + col("__bdf")).as("df"))
    (bPostings, mergedDf)
  }

  /** The DELETE half of PPJoin index maintenance ([[ppJoinIndexUpsert]]'s
    * tombstone sibling, q221's shape): remove `deletedIds` (one id
    * column; absent ids are no-ops) from a persisted [[ppJoinIndex]]'s
    * postings and sets. The deleted-id set BROADCASTS into two anti
    * joins, so each table streams once map-side and never shuffles.
    * dfreq stays FROZEN — it is the index's shared total order, and
    * prefixes depend only on a doc's own shingles plus that order, so
    * delete == recompute-under-the-frozen-order bit-exactly (per-doc
    * purity; spec'd in DedupPropertySpec) and every future probe stays
    * EXACT. The deleted docs' shingle counts now overstate df — the
    * same selectivity-only drift as the upsert, covered by the same
    * re-rank/rebuild threshold contract ([[ppJoinIndexUpsert]]
    * scaladoc).
    */
  def ppJoinIndexDelete(postings: DataFrame, sets: DataFrame,
                        deletedIds: DataFrame): (DataFrame, DataFrame) = {
    val del = deletedIds
      .select(col(deletedIds.columns.head).cast("long").as("id")).distinct()
    (postings.join(broadcast(del), Seq("id"), "left_anti")
       .select("sh", "id", "pos", "sz"),
     sets.join(broadcast(del), Seq("id"), "left_anti"))
  }

  /** Batch-vs-standing-corpus EXACT substring spans — the ingest form
    * of [[exactSubstringSpans]], probing a persisted
    * [[substringGramIndex]]: every maximal ≥ minLen-char span a NEW
    * document shares verbatim with a corpus document, as exact 1-based
    * coordinates (id_a = new, id_b = corpus). The batch hashes its own
    * grams with the same xxhash64; the fan-out cap reads the PERSISTED
    * df table (corpus-side frequency ≤ maxGramFreq — singleton corpus
    * grams stay eligible, the batch occurrence is the other side of
    * the pair); anchors flow through the shared diagonal-island merge.
    *
    * Scale shape: the batch's gram set joins the df table and then the
    * postings on g — both joins stream the persisted tables once with
    * the batch side broadcast; the index never shuffles and is never
    * re-aggregated.
    */
  def exactSubstringSpansAgainstPostings(batch: DataFrame,
                                         postings: DataFrame, gramDf: DataFrame,
                                         idCol: String, textCol: String,
                                         minLen: Int,
                                         maxGramFreq: Int = 1000,
                                         batchPostings: Option[DataFrame] = None)
      : DataFrame = {
    require(minLen >= 2, s"minLen must be >= 2, got $minLen")
    require(maxGramFreq >= 1, s"maxGramFreq must be >= 1, got $maxGramFreq")
    // batchPostings: a caller that already computed the batch's gram
    // postings — q306 folds them in via [[substringGramIndexUpsert]]
    // right before probing — passes them here instead of paying the
    // per-CHAR gram UDF a second time (same function, same flags,
    // value-identical by per-doc purity)
    val bg = batchPostings.getOrElse(gramPostings(batch, idCol, textCol,
      minLen, hashGrams = true, bloomPrune = false))
    val anchors = bg
      .join(gramDf.filter(col("df") <= maxGramFreq).select("g"), Seq("g"))
      .select(col("g"), col("id").as("id_a"), col("pos").as("pos_a"))
      .join(postings.select(col("g"), col("id").as("id_b"),
        col("pos").as("pos_b")), Seq("g"))
      .select("id_a", "pos_a", "id_b", "pos_b")
    anchorsToSpans(anchors, minLen)
  }

  /** The diagonal-island merge shared by every substring-span form:
    * matching L-gram anchors (id_a, pos_a, id_b, pos_b) collapse to
    * maximal spans — consecutive anchors on one diagonal
    * (pos_a − pos_b) are one island, island length + L − 1 is the span.
    * Anchors are unique per (pair, pos_a): the gram AT a position is a
    * function of the position, so no distinct is needed before the
    * window, and pos_a orders each diagonal strictly.
    */
  private def anchorsToSpans(anchors: DataFrame, L: Int): DataFrame = {
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("id_a", "id_b", "diag").orderBy("pos_a")
    anchors
      .withColumn("diag", col("pos_a") - col("pos_b"))
      .withColumn("isl", col("pos_a") - row_number().over(w))
      .groupBy("id_a", "id_b", "diag", "isl")
      .agg(min("pos_a").as("start_a"), min("pos_b").as("start_b"),
        (count(lit(1)) + lit(L - 1)).as("span_len"))
      .select("id_a", "id_b", "start_a", "start_b", "span_len")
  }

  /** The REMOVAL half of exact substring dedup (Lee et al. 2022 cut
    * duplicated spans out of the corpus, not just report them): for
    * every span [[exactSubstringSpans]] finds, the HIGHER-id document
    * of the pair loses its copy — its spans are merged (overlapping or
    * touching intervals coalesce) and cut, and every document comes
    * back with its cleaned text plus removal accounting. Documents in
    * no pair pass through byte-identical.
    *
    * Returns (id, n_cut, removed_chars, clean_len, clean_md5) — the
    * md5 stands in for the cleaned text so the result stays
    * fixed-width however large the documents are (and the DuckDB
    * oracle can rebuild the identical value from segment arithmetic).
    *
    * REMOVAL SKIPS THE PAIR JOIN ENTIRELY — the keeper formulation.
    * The cut set of a document is the union of its losing-side span
    * intervals, and that union equals the union of [p, p+L) over every
    * anchor position p whose L-gram has a lexicographically EARLIER
    * occurrence (lower doc id; same doc + earlier pos when
    * includeSelf): a maximal span of length M is exactly the union of
    * its M-L+1 consecutive anchor windows, and conversely every such
    * anchor lies inside the maximal span through its earlier partner —
    * so the two unions coincide interval-for-interval after the merge.
    * That turns the per-gram cost from the pair join's O(freq²) into
    * one min(struct(id, pos)) aggregate + one co-partitioned join
    * back, both riding the g-exchange with zero new shuffles: O(freq)
    * per gram, linear in corpus size. Measured at the sf10 tier
    * (500 K docs, 141 M postings, minLen=15 both planes): 177 s via
    * the pair machinery → 27 s here, and the 6.5×-per-decade growth
    * row collapses to the posting family's ~2× (BASELINE.md). The
    * [[exactSubstringSpans]] pair path still exists for span
    * REPORTING, whose output genuinely names pairs; equivalence of
    * the two removal routes is property-tested on adversarial
    * periodic corpora (DedupPropertySpec).
    *
    * maxGramFreq keeps the identical recall contract: grams outside
    * [2, maxGramFreq] anchor nothing in either formulation, so both
    * drop the same intervals.
    *
    * Scale shape: covered anchors flow through one groupBy(id) whose
    * state is the document's own interval list (bounded by doc
    * length); the merge-and-cut is a single deterministic JVM pass per
    * doc; the final join back to the corpus is an equi-join on the doc
    * id. No stage sees more than O(postings + docs) rows.
    */
  def removeDuplicateSpans(docs: DataFrame, idCol: String, textCol: String,
                           minLen: Int, maxGramFreq: Int = 1000,
                           hashGrams: Boolean = false,
                           bloomPrune: Boolean = false,
                           includeSelf: Boolean = false): DataFrame = {
    require(minLen >= 2, s"minLen must be >= 2, got $minLen")
    require(maxGramFreq >= 2, s"maxGramFreq must be >= 2, got $maxGramFreq")
    // keeper formulation (scaladoc): an anchor is CUT iff its gram has
    // an earlier occurrence. One aggregate finds each eligible gram's
    // frequency and lexicographically-first occurrence; the join back
    // is g-keyed on the same partitioning (no exchange), and the
    // struct comparison below is Spark's native lexicographic struct
    // ordering. includeSelf widens "earlier" from lower-doc-only to
    // the full (id, pos) order — a self repeat's later copy lands on
    // the same cut path as a cross span's higher-id copy.
    val gramed = gramPostings(docs, idCol, textCol, minLen, hashGrams, bloomPrune)
    val firstOcc = gramed.groupBy("g")
      .agg(count(lit(1)).as("__f"),
        min(struct(col("id"), col("pos"))).as("__mo"))
      .filter(col("__f").between(2, maxGramFreq))
      .select("g", "__mo")
    val cutAnchor =
      if (includeSelf) struct(col("id"), col("pos")) > col("__mo")
      else col("id") > col("__mo").getField("id")
    val ivs = gramed.join(firstOcc, "g")
      .filter(cutAnchor)
      .select(col("id"), col("pos").as("s"),
        (col("pos") + lit(minLen.toLong)).as("e")) // [s, e) 1-based
      .groupBy("id")
      .agg(sort_array(collect_list(struct(col("s"), col("e")))).as("ivs"))
    // one deterministic pass: merge sorted intervals (s <= prevE
    // coalesces overlap AND touch — the same rule as the oracle's
    // s > max(prev e) island break), then emit kept segments
    val cutUdf = udf { (text: String, sorted: Seq[org.apache.spark.sql.Row]) =>
      val merged = scala.collection.mutable.ArrayBuffer.empty[(Long, Long)]
      sorted.foreach { r =>
        val (s, e) = (r.getLong(0), r.getLong(1))
        if (merged.nonEmpty && s <= merged.last._2)
          merged(merged.length - 1) = (merged.last._1, math.max(merged.last._2, e))
        else merged += ((s, e))
      }
      val sb = new StringBuilder
      var from = 1L
      merged.foreach { case (s, e) =>
        sb.append(text.substring(from.toInt - 1, s.toInt - 1)); from = e
      }
      sb.append(text.substring(from.toInt - 1))
      val removed = merged.map { case (s, e) => e - s }.sum
      (merged.length.toLong, removed, sb.result())
    }
    val base = docs.select(col(idCol).cast("long").as("id"), col(textCol).as("t"))
    base.join(ivs, Seq("id"), "left")
      .withColumn("cut", when(col("ivs").isNotNull, cutUdf(col("t"), col("ivs")))
        .otherwise(struct(lit(0L).as("_1"), lit(0L).as("_2"), col("t").as("_3"))))
      .select(col("id"), col("cut._1").as("n_cut"),
        col("cut._2").as("removed_chars"),
        length(col("cut._3")).cast("long").as("clean_len"),
        md5(col("cut._3")).as("clean_md5"))
  }

  /** Incremental exact-fingerprint dedup with a BLOOM prefilter — the
    * ingest-time shape: a standing corpus is summarized ONCE into a
    * bloom filter over its fingerprints (here: the first `prefixLen`
    * chars, the boilerplate-prefix signature q125 shows this corpus is
    * full of), and each arriving batch is filtered by `might_contain`
    * BEFORE any join — batch rows whose fingerprint is definitely
    * absent from the corpus never shuffle at all. Survivors (true
    * matches + the filter's false-positive rate) are verified by an
    * exact equi-join, so the OUTPUT is exact: blooms have no false
    * negatives, and false positives die in the join. Returns
    * (batch_id, corpus_id) fingerprint-duplicate pairs.
    *
    * Scale shape: the corpus is scanned twice (bloom build — an
    * aggregate to ONE `numBits/8`-byte row — and the verify join); the
    * driver holds only the bloom itself (bounded by `expectedItems`,
    * never data rows — the same O(1)-collect class as the k-means
    * centroids); the verify join broadcasts the PRUNED batch, which is
    * `|batch| * (dup_rate + fpp)` — the quantity incremental ingest
    * assumes small. Built on Spark's native BloomFilterAggregate /
    * BloomFilterMightContain (the expressions behind runtime join
    * filters), lifted via the same shim as `DotProduct`.
    */
  def bloomIncrementalExact(corpus: DataFrame, batch: DataFrame,
                            idCol: String, textCol: String, prefixLen: Int,
                            expectedItems: Long = 1L << 20): DataFrame = {
    require(prefixLen >= 1, s"prefixLen must be >= 1, got $prefixLen")
    require(expectedItems >= 1, s"expectedItems must be >= 1, got $expectedItems")
    import org.apache.spark.sql.GraftSqlShim
    import org.apache.spark.sql.catalyst.expressions.{BloomFilterMightContain, Literal => CatLit}
    import org.apache.spark.sql.catalyst.expressions.aggregate.BloomFilterAggregate
    def keyed(df: DataFrame, outId: String) = df
      .filter(length(col(textCol)) >= prefixLen)
      .select(col(idCol).cast("long").as(outId),
        substring(col(textCol), 1, prefixLen).as("k"))
    val c = keyed(corpus, "corpus_id")
    val b = keyed(batch, "batch_id")
    val numBits = math.max(64L, expectedItems * 10) // ~1% fpp at capacity
    val bloomCol = GraftSqlShim.column(
      new BloomFilterAggregate(
        GraftSqlShim.expression(xxhash64(col("k"))),
        CatLit(expectedItems), CatLit(numBits)).toAggregateExpression())
    val bloom = c.agg(bloomCol.as("bf")).head.getAs[Array[Byte]]("bf")
    // an empty corpus aggregates to a null bloom: no possible duplicate
    val pruned =
      if (bloom == null) b.limit(0)
      else b.filter(GraftSqlShim.column(BloomFilterMightContain(
        CatLit.create(bloom, org.apache.spark.sql.types.BinaryType),
        GraftSqlShim.expression(xxhash64(col("k"))))))
    c.join(broadcast(pruned), "k").select("batch_id", "corpus_id")
  }

  /** (id, s, k) rows: each string keyed by itself plus each 1-deletion. */
  private def deletionKeyed(df: DataFrame, idCol: String, strCol: String): DataFrame = {
    val delUdf = udf { s: String =>
      if (s == null) Array.empty[String]
      else (s +: Array.tabulate(s.length)(i =>
        s.substring(0, i) + s.substring(i + 1))).distinct
    }
    // NO Shape.spread: the ER family is stage-count-bound and the extra
    // exchange loses on every caller (measured with it at sf0.1: q203
    // 1.30→2.05 s, q121 1.05→1.22 s)
    df.select(col(idCol).cast("long").as("id"), col(strCol).as("s"))
      .select(col("id"), col("s"), explode(delUdf(col("s"))).as("k"))
  }

  /** PPJoin's pair-level POSITIONAL filter (Xiao et al. WWW'08 §3.1),
    * applied GROUP-wise over the prefix-collision rows of one candidate
    * pair. Input: (id_a, id_b, pos_a, pos_b, sz_a, sz_b) — one row per
    * shared PREFIX token, with each side's 1-based rank of that token
    * in the shared rare-first total order and the side's full set size.
    * Output: the distinct (id_a, id_b) pairs that can still reach
    * J ≥ t, i.e. the subset the verify stage must touch.
    *
    * Soundness (no false negatives): J(x,y) ≥ t ⟺ overlap O ≥
    * α = ⌈t·(|x|+|y|)/(1+t)⌉. Let w be the globally FIRST common token
    * of x and y. Every other common token follows w in BOTH orderings,
    * so O ≤ 1 + min(|x| − i_w, |y| − j_w). For a qualifying pair w is
    * guaranteed to be a prefix-prefix collision (the first common
    * token's position in x is ≤ |x| − O + 1 ≤ |x| − ⌈t|x|⌉ + 1, the
    * prefix bound — symmetrically for y), and among the collision rows
    * w is exactly the one minimizing pos_a (equivalently pos_b: the
    * shared total order ranks the collided tokens consistently on both
    * sides, so both minima come from the same token). Hence pruning
    * pairs with 1 + min(sz_a − min pos_a, sz_b − min pos_b) < α drops
    * no qualifying pair — only verify work. The groupBy replaces the
    * pair `.distinct()` the un-positional form needed anyway, so the
    * filter adds no exchange of its own. All arithmetic is
    * integer-exact in ppm (α computed by ceiling division over the
    * 1e6-scaled threshold).
    */
  private def positionalFilter(collisions: DataFrame, tPpm: Long): DataFrame = {
    val denom = 1000000L + tPpm
    collisions
      .groupBy("id_a", "id_b", "sz_a", "sz_b")
      .agg(min(col("pos_a")).as("pa"), min(col("pos_b")).as("pb"))
      .filter(lit(1L) +
        least(col("sz_a") - col("pa"), col("sz_b") - col("pb")) >=
        expr(s"(($tPpm * (sz_a + sz_b)) + ${denom - 1}) div $denom"))
      .select("id_a", "id_b")
  }

  /** (id, sh): one row per distinct word 3-shingle of each doc — the
    * input of every PPJoin form.
    */
  private def ppShingles(docs: DataFrame, idCol: String, textCol: String): DataFrame =
    docs.select(col(idCol).cast("long").as("id"),
      explode(shingles(col(textCol), 3)).as("sh"))

  /** (id, sh, pos, sz): each doc's PREFIX shingles under the rare-first
    * total order (df asc, sh asc) keyed by `dfreq` — pos is the
    * shingle's 1-based rank in that order, sz the doc's set size, and
    * the prefix is pos ≤ sz − ⌈t·sz⌉ + 1. A corpus build ranks under its
    * own dfreq (inner join: every shingle has a df); a `frozen` ranking
    * is a batch's under a standing index's dfreq, where a shingle the
    * corpus never saw takes df = 0 and sorts first. Every PPJoin form
    * ranks here, so the prefixes of a build, a fold-in and a probe can
    * never drift apart.
    */
  private def prefixPostings(sh: DataFrame, dfreq: DataFrame, tPpm: Long,
                             frozen: Boolean): DataFrame = {
    val ranked =
      if (frozen) sh.join(dfreq, Seq("sh"), "left")
        .select(col("id"), col("sh"), coalesce(col("df"), lit(0L)).as("df"))
      else sh.join(dfreq, Seq("sh"))
    ranked
      .select(col("id"), col("sh"),
        row_number().over(Window.partitionBy("id")
          .orderBy(col("df").asc, col("sh").asc)).as("pos"),
        count(lit(1)).over(Window.partitionBy("id")).as("sz"))
      .filter(col("pos") <= col("sz") -
        expr(s"(($tPpm * sz) + 999999) div 1000000") + 1)
      .select("id", "sh", "pos", "sz")
  }

  /** (id, sset, n): each doc's sorted full shingle set and its size —
    * the exact verify's input, joined for candidate ids only.
    */
  private def shingleSets(sh: DataFrame): DataFrame =
    sh.groupBy("id")
      .agg(sort_array(collect_list("sh")).as("sset"), count(lit(1)).as("n"))

  /** EXACT set-similarity self-join via prefix filtering (PPJoin-lite,
    * Bayardo et al. WWW'07 / Xiao et al. WWW'08): every pair of
    * documents whose 3-shingle Jaccard ≥ tPpm/1e6 — no
    * LSH/minhash recall loss, yet never all-pairs. The filter: order
    * shingles globally RARE-FIRST (df asc, shingle asc); if
    * J(a,b) ≥ t then overlap ≥ ceil(t·|x|) for each side, so two
    * similar docs MUST share a shingle inside their first
    * |x| − ceil(t·|x|) + 1 shingles. Candidates therefore come from a
    * self-join of PREFIX postings only; the verify step computes exact
    * integer Jaccard on the candidates' full shingle arrays.
    *
    * Scale: the global order makes hot shingles land at the END of
    * every doc's ordering — a stop-shingle posting list never enters a
    * prefix unless a doc is nearly all stop-shingles, so prefix posting
    * lists stay short without any recall-losing cap (this is the
    * published point of the technique). Work = one df agg + one
    * rank window + prefix self-join (shuffle bounded by prefix posting
    * volume) + a candidates-only verify join that ships full arrays for
    * |candidates| rows, not the corpus. The pair-level POSITIONAL
    * filter (Xiao et al. WWW'08 §3.1, PPJoin proper) then prunes
    * candidates the prefix filter admits BEFORE any full array ships:
    * see [[positionalFilter]]. Returns
    * (id_a, id_b, inter, jac_ppm) with jac_ppm ≥ tPpm.
    */
  def ppJoinShingles(docs: DataFrame, idCol: String, textCol: String,
                     tPpm: Long,
                     pinnedPartitions: Option[Int] = None): DataFrame = {
    require(tPpm > 0 && tPpm <= 1000000L, s"tPpm in (0, 1e6], got $tPpm")
    // [[Shape.spread]]: `sh` is consumed three times (dfreq agg, rank
    // join, sets agg) and each consumer re-runs the tokenize+shingle
    // UDF on the narrow scan stage
    val sh = ppShingles(Shape.spread(docs, col(idCol)), idCol, textCol)
    val prefix0 = prefixPostings(sh, sh.groupBy("sh").agg(count(lit(1)).as("df")),
      tPpm, frozen = false)
    // pinnedPartitions: a caller whose input is BOUNDED by construction
    // (q240's fixed-size eval sample) pins the prefix self-join and the
    // verify join at a fixed width — AQE's byte-based coalescing runs
    // those CPU-dense stages on 3-4 tasks (2.4 s of measured verify CPU
    // at sf0.1). Corpus-scale callers (q182/q218 and the index
    // maintenance probes) keep the default None and AQE's sf10-proven
    // shape, because a fixed pin would SHRINK the exchange AQE widens
    // at that scale.
    val prefix = pinnedPartitions match {
      case Some(n) => prefix0.repartition(n, col("sh"))
      case None => prefix0
    }
    // size filter (Arasu et al. VLDB'06): J(a,b) >= t forces
    // t·|b| <= |a| (and symmetrically) — a length-mismatched pair can
    // never verify, so it is dropped BEFORE the group/verify stages
    val cand0 = positionalFilter(
      prefix.as("a")
        .join(prefix.as("b"),
          col("a.sh") === col("b.sh") && col("a.id") < col("b.id") &&
            col("a.sz") * 1000000L >= lit(tPpm) * col("b.sz") &&
            col("b.sz") * 1000000L >= lit(tPpm) * col("a.sz"))
        .select(col("a.id").as("id_a"), col("b.id").as("id_b"),
          col("a.pos").as("pos_a"), col("b.pos").as("pos_b"),
          col("a.sz").as("sz_a"), col("b.sz").as("sz_b")),
      tPpm)
    val cand = pinnedPartitions match {
      case Some(n) => cand0.repartition(n, col("id_a"))
      case None => cand0
    }
    val sets = shingleSets(sh)
    cand
      .join(sets.select(col("id").as("id_a"), col("sset").as("sa"),
        col("n").as("na")), Seq("id_a"))
      .join(sets.select(col("id").as("id_b"), col("sset").as("sb"),
        col("n").as("nb")), Seq("id_b"))
      .withColumn("inter", size(array_intersect(col("sa"), col("sb"))).cast("long"))
      .withColumn("jac_ppm", expr("inter * 1000000 div (na + nb - inter)"))
      .filter(col("jac_ppm") >= tPpm)
      .select(col("id_a"), col("id_b"), col("inter"), col("jac_ppm"))
  }

  /** The STANDING half of [[ppJoinShingles]] split for ingest-time
    * reuse (the persisted-index pattern applied to exact set
    * similarity): from the corpus, ONE shingle pass yields
    *  - dfreq (sh, df): the global rarity order's key — the batch must
    *    rank its shingles in the SAME total order (df asc, sh asc) or
    *    the prefix theorem breaks;
    *  - postings (sh, id, pos, sz): the corpus's PREFIX postings only
    *    (position ≤ |set| − ⌈t·|set|⌉ + 1 in that order, position
    *    retained for the probe-time positional filter) — the join
    *    side, far smaller than the full shingle volume;
    *  - sets (id, sset, n): sorted full shingle arrays for the exact
    *    verify, equi-joined for CANDIDATE ids only.
    * All three parquet-persist losslessly (strings/longs/arrays).
    */
  def ppJoinIndex(corpus: DataFrame, idCol: String, textCol: String,
                  tPpm: Long): (DataFrame, DataFrame, DataFrame) = {
    require(tPpm > 0 && tPpm <= 1000000L, s"tPpm in (0, 1e6], got $tPpm")
    val sh = ppShingles(corpus, idCol, textCol)
    val dfreq = sh.groupBy("sh").agg(count(lit(1)).as("df"))
    (dfreq, prefixPostings(sh, dfreq, tPpm, frozen = false).select("sh", "id", "pos", "sz"),
      shingleSets(sh))
  }

  /** Index MAINTENANCE for the standing PPJoin index: the rows an
    * accepted `batch` APPENDS to a persisted [[ppJoinIndex]] — its
    * prefix postings and its full shingle sets, both computed under the
    * index's FROZEN (df asc, sh asc) total order. Batch ids must be new
    * to the index (append semantics, q219's shape; a re-ingest of an
    * existing id is a tombstone + append). Upserting the corpus itself
    * under its own dfreq reproduces [[ppJoinIndex]]'s postings and sets
    * bit-exactly (both rank in [[prefixPostings]]).
    *
    * Why frozen-order fold-in stays EXACT: the prefix theorem
    * (Chaudhuri/Bayardo — a qualifying pair must collide within the
    * two prefixes taken under one COMMON total order) needs a shared
    * order, not the true-rarity order; rarity only makes prefixes
    * selective. The index's dfreq is that frozen order's key: folded
    * batches and future probes ALL rank under it (unseen shingles take
    * df = 0 and sort first — deterministic, shared, harmless), so
    * every pair — probe × corpus, probe × folded batch, and folded ×
    * folded — collides under the one order and the positional filter's
    * first-common-token argument holds unchanged. NO recall loss, ever,
    * regardless of how many batches fold in; proven against brute
    * force in DedupAnnSpec, along with fold-in's batch-order
    * independence (upsert(upsert(I,B1),B2) == upsert(I,B1∪B2),
    * frame-bit-exact — postings and sets are pure per-doc functions of
    * the frozen dfreq).
    *
    * What DOES drift is prefix SELECTIVITY, not correctness: a shingle
    * that was rare at build time but common in folded batches keeps
    * its low frozen df, keeps landing early in prefixes, and its
    * posting list grows — candidate volume creeps up while results
    * stay exact. The REBUILD-THRESHOLD contract: re-rank (rebuild the
    * index, refreshing dfreq to true dfs) once folded volume exceeds
    * ~10-20% of the indexed corpus, or earlier if the probe's
    * prefix-collision rows per indexed doc (the [[positionalFilter]]
    * input) grow faster than the corpus does. A standing index that is
    * mostly folds is an index whose order describes a corpus it no
    * longer contains.
    *
    * Cost/plan shape: only the batch shingles and ranks (two windows
    * over batch rows); the standing index is not read at all — the
    * caller appends the returned frames (parquet append of new files;
    * untouched files untouched). Returns (postings', sets') in the
    * index's own schemas: (sh, id, pos, sz) and (id, sset, n).
    */
  def ppJoinIndexUpsert(dfreq: DataFrame, batch: DataFrame,
                        idCol: String, textCol: String,
                        tPpm: Long): (DataFrame, DataFrame) = {
    require(tPpm > 0 && tPpm <= 1000000L, s"tPpm in (0, 1e6], got $tPpm")
    val sh = ppShingles(batch, idCol, textCol)
    (prefixPostings(sh, dfreq, tPpm, frozen = true).select("sh", "id", "pos", "sz"),
      shingleSets(sh))
  }

  /** Batch-vs-standing-corpus EXACT set-similarity join — the ingest
    * form of [[ppJoinShingles]], probing a persisted [[ppJoinIndex]]:
    * every (new doc, corpus doc) pair with 3-shingle Jaccard ≥ tPpm,
    * NO recall loss. The batch ranks its shingles by the INDEX's
    * (df, sh) order — shingles the corpus has never seen take df = 0
    * (they sort first, harmlessly: no corpus posting can match them,
    * and any SHARED total order keeps the Chaudhuri/Bayardo prefix
    * theorem exact — a qualifying pair must collide within the two
    * prefixes taken under one common order). Candidates carry the
    * Arasu size filter on both sides; the exact verify joins full
    * arrays for candidate ids only. Only the BATCH is shingled here —
    * the corpus contributes pre-computed postings and sets.
    * Returns (new_id, corpus_id, inter, jac_ppm).
    */
  def ppJoinAgainstPostings(batch: DataFrame, dfreq: DataFrame,
                            postings: DataFrame, corpusSets: DataFrame,
                            idCol: String, textCol: String,
                            tPpm: Long): DataFrame = {
    require(tPpm > 0 && tPpm <= 1000000L, s"tPpm in (0, 1e6], got $tPpm")
    val sh = ppShingles(batch, idCol, textCol)
    val prefix = prefixPostings(sh, dfreq, tPpm, frozen = true)
      .select(col("id").as("new_id"), col("sh"),
        col("pos").as("pos_a"), col("sz").as("sza"))
    // positional filter holds across batch × corpus too: both sides
    // rank under the INDEX's (df, sh) total order (unseen batch
    // shingles take df = 0 and can never be common tokens), so the
    // first common token of a qualifying pair is a prefix-prefix
    // collision minimizing both positions — see positionalFilter.
    val cand = positionalFilter(
      prefix
        .join(postings.select(col("sh"), col("id").as("corpus_id"),
            col("pos").as("pos_b"), col("sz").as("szb")),
          Seq("sh"))
        .filter(col("sza") * 1000000L >= lit(tPpm) * col("szb") &&
          col("szb") * 1000000L >= lit(tPpm) * col("sza"))
        .select(col("new_id").as("id_a"), col("corpus_id").as("id_b"),
          col("pos_a"), col("pos_b"),
          col("sza").as("sz_a"), col("szb").as("sz_b")),
      tPpm)
      .select(col("id_a").as("new_id"), col("id_b").as("corpus_id"))
    cand
      .join(shingleSets(sh).select(col("id").as("new_id"), col("sset").as("sa"),
        col("n").as("na")), Seq("new_id"))
      .join(corpusSets.select(col("id").as("corpus_id"),
        col("sset").as("sb"), col("n").as("nb")), Seq("corpus_id"))
      .withColumn("inter", size(array_intersect(col("sa"), col("sb"))).cast("long"))
      .withColumn("jac_ppm", expr("inter * 1000000 div (na + nb - inter)"))
      .filter(col("jac_ppm") >= tPpm)
      .select(col("new_id"), col("corpus_id"), col("inter"), col("jac_ppm"))
  }

  /** Sorted-neighborhood candidate pairs (SNM, Hernández & Stolfo
    * 1995 — the sort-based blocking alternative to [[editDistance1Join]]'s
    * deletion keys): rows sort by `keyCol` globally and every pair
    * within `window` positions becomes a candidate — O(n·window)
    * candidates total, whatever the key distribution (the method's
    * published trade: recall is bounded by what sorts nearby).
    *
    * The GLOBAL rank never runs as a single-partition window: it is
    * the distributed prefix-sum shape (range repartition by the sort
    * key + per-partition local positions + one row-per-partition
    * driver base — Chunking.orderedOffsets' doctrine, generalized to a
    * string sort key), and the neighborhood join is an EQUI-join on
    * pos_b = pos_a + delta with delta exploded 1..window−1 — shuffle
    * bounded by n·(window−1). The (key, id) sort pair makes the rank
    * total even on duplicate keys. Returns (id_a, id_b, pos_a, pos_b)
    * with pos in global sort order; callers verify candidates with
    * their own exact matcher.
    */
  def sortedNeighborhoodPairs(df: DataFrame, idCol: String, keyCol: String,
                              window: Int,
                              numPartitions: Int = 32): DataFrame = {
    require(window >= 2, s"window must be >= 2, got $window")
    val spark = df.sparkSession
    import spark.implicits._
    val local = df
      .select(col(keyCol).cast("string").as("k"), col(idCol).cast("long").as("id"))
      .as[(String, Long)]
      .repartitionByRange(numPartitions, col("k"), col("id"))
      .sortWithinPartitions("k", "id")
      .mapPartitions { it =>
        val pid = org.apache.spark.TaskContext.getPartitionId()
        var i = 0L
        it.map { case (k, id) => val p = i; i += 1; (pid, k, id, p) }
      }
      .toDF("pid", "k", "id", "local_pos")
      .materialized
    val counts = local.groupBy("pid").agg(count(lit(1)).as("n"))
      .collect().map(r => (r.getInt(0), r.getLong(1))).sortBy(_._1)
    var base = 0L
    val bases = counts.map { case (pid, n) => val b = base; base += n; (pid, b) }
    val ranked = local
      .join(broadcast(bases.toSeq.toDF("pid", "base")), Seq("pid"))
      .select(col("id"), (col("base") + col("local_pos")).as("pos"))
    val probes = ranked
      .select(col("id").as("id_a"), col("pos").as("pos_a"),
        explode(sequence(lit(1), lit(window - 1))).as("delta"))
      .select(col("id_a"), col("pos_a"),
        (col("pos_a") + col("delta")).as("pos"))
    probes.join(ranked.select(col("id").as("id_b"), col("pos")), Seq("pos"))
      .select(col("id_a"), col("id_b"), col("pos_a"),
        col("pos").as("pos_b"))
  }
}
