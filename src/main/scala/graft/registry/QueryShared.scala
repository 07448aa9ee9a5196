package graft

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.engine.Tables._
import graft.functions.TextFunctions._
import graft.multimodal.Multimodal
import graft.operators.{Dedup, Sketches}

/** Shared constants, fixtures and DuckDB SQL fragments used by the
  * per-family query registries (split from SparkEntry round 12; the
  * driver contract object merely concatenates the family maps).
  */
private[graft] object QueryShared {

  /** Per-row money→cents: round(x*100) as exact integer. IEEE double
    * product and round are bit-identical across engines; integer sums
    * are order-independent — this removes ALL float-accumulation
    * divergence from oracle comparison.
    */
  private[graft] def cents(c: Column): Column = round(c * 100).cast("long")

  private[graft] def fmtTs(c: Column): Column = date_format(c, "yyyy-MM-dd HH:mm:ss")


  // ---------------------------------------------------------------- //
  // Shared DuckDB SQL fragments (kept adjacent to the Spark twins).  //
  // ---------------------------------------------------------------- //

  /** DuckDB twin of TextFunctions.tokens. */
  private[graft] val TOKS =
    "CASE WHEN length(trim(text))=0 THEN []::VARCHAR[] ELSE string_split_regex(trim(text),'\\s+') END"

  /** DuckDB twin of TextFunctions.tokenHash32 / tokenHash64. */
  private[graft] def duckHash(expr: String, hexChars: Int): String =
    s"CAST(concat('0x', substr(md5($expr),1,$hexChars)) AS BIGINT)"

  /** q52's SimHash width, shared by the Spark query and its oracle SQL.
    * 60 = the full tokenHash64 width: Hamming<=2 bands are then 20 bits
    * wide, which keeps bucket occupancy ~constant as the corpus grows
    * (measured at sf1: 2.83 s vs 8.56 s for the old 32-bit width, whose
    * ~11-bit bands went quadratic — 7.4x growth per data decade).
    */
  private[graft] val SimHashBitsQ52 = 60

  /** q137's KMV size: rsd ≈ 1/sqrt(k-2) ≈ 12.7%. Shared with the oracle
    * SQL (same k in the row_number cutoff and the (k-1)·2^60 estimator).
    */
  private[graft] val KmvK = 64

  /** q138's count-min geometry and fixed probe list, shared by the Spark
    * query and its oracle SQL. `zzz_absent` exercises the missing-cell
    * (never-seen token) path: count-min still answers, overestimate-only.
    */
  private[graft] val CmsDepth = 4
  private[graft] val CmsWidth = 1024
  private[graft] val CmsProbeWords = Seq("a", "batch", "fast", "hash", "key",
    "merge", "row", "scan", "slow", "sort", "spark", "table", "the",
    "value", "window", "zzz_absent")

  /** q223/q224's log-bucket quantile sketch geometry: 5 sub-bucket bits
    * ⇒ relative error < 2^-5 ≈ 3.1%, state ≤ 64·32 = 2048 cells per
    * group forever. Shared with the oracle SQL (same bit arithmetic)
    * and the quantile targets (ppm, integer rank rule).
    */
  private[graft] val LbSubBits = 5
  private[graft] val LbQPpms = Seq(500000L, 900000L, 990000L)

  /** The shared WITH-chain of the q223/q224 oracles: recompute the
    * log-bucket sketch (pure bit arithmetic — deterministic in any
    * engine), apply the integer rank rule, decode the selected bucket's
    * lower bound + width, and compute the exact discrete quantile under
    * the SAME rank rule from the raw value histogram.
    */
  private[graft] lazy val logBucketOracleCore: String = {
    val s = LbSubBits
    val w = 1L << s
    val qs = LbQPpms.mkString(", ")
    s"""WITH v AS (SELECT o_orderpriority AS grp,
       |  CAST(round(o_totalprice * 100) AS BIGINT) AS v FROM orders),
       |cells AS (SELECT grp,
       |  CAST(length(bin(v)) - 1 AS BIGINT) * $w
       |    + (v >> GREATEST(length(bin(v)) - 1 - $s, 0))
       |    - (CAST(1 AS BIGINT) << ((length(bin(v)) - 1)
       |        - GREATEST(length(bin(v)) - 1 - $s, 0))) AS k,
       |  COUNT(*) AS cnt
       | FROM v GROUP BY 1, 2),
       |n AS (SELECT grp, CAST(SUM(cnt) AS BIGINT) AS n_total
       | FROM cells GROUP BY 1),
       |q AS (SELECT CAST(unnest([$qs]) AS BIGINT) AS q_ppm),
       |r AS (SELECT grp, n_total, q_ppm,
       |  GREATEST((n_total * q_ppm + 999999) // 1000000, 1) AS rnk
       | FROM n CROSS JOIN q),
       |cum AS (SELECT grp, k,
       |  SUM(cnt) OVER (PARTITION BY grp ORDER BY k) AS c FROM cells),
       |sel AS (SELECT r.grp, q_ppm, n_total,
       |  MIN(CASE WHEN c >= rnk THEN k END) AS kb
       | FROM r JOIN cum ON r.grp = cum.grp GROUP BY 1, 2, 3),
       |est AS (SELECT grp, q_ppm, n_total,
       |  ((kb % $w) + (CAST(1 AS BIGINT)
       |     << (CAST(kb // $w AS INT) - GREATEST(CAST(kb // $w AS INT) - $s, 0))))
       |    << GREATEST(CAST(kb // $w AS INT) - $s, 0) AS est,
       |  CAST(1 AS BIGINT) << GREATEST(CAST(kb // $w AS INT) - $s, 0) AS width
       | FROM sel),
       |ex AS (SELECT grp, v, COUNT(*) AS cnt FROM v GROUP BY 1, 2),
       |excum AS (SELECT grp, v,
       |  SUM(cnt) OVER (PARTITION BY grp ORDER BY v) AS c FROM ex),
       |exact AS (SELECT r.grp, q_ppm, MIN(CASE WHEN c >= rnk THEN v END) AS exact
       | FROM r JOIN excum ON r.grp = excum.grp GROUP BY 1, 2)""".stripMargin
  }

  /** q226's phrase denylist, shared with the oracle SQL. Chosen to
    * exercise the automaton: mid-word hits (`ash` inside `hash`),
    * cross-word-boundary phrases (`order s`, `scan merge`), a pattern
    * nested inside another's matches (`an me` inside `scan merge`), and
    * a never-matching entry (absent patterns simply emit no rows).
    */
  private[graft] val BlockPatterns = Seq("an me", "ash", "hash", "order s",
    "scan merge", "slow", "zz_absent")

  /** The shared WITH-chain of the q232/q233 HLL oracles: recompute the
    * md5 registers (bucket = low 6 bits, rho = 55 − bit_length of the
    * rest, MAX per bucket) and the integer raw estimator.
    */
  private[graft] lazy val hllOracleCore: String = {
    val m = Sketches.HllBuckets
    val rmax = Sketches.HllRhoMax
    s"""WITH hh AS (SELECT event_type,
       |  ${duckHash("concat('hll_', CAST(user_id AS VARCHAR))", 15)} AS h
       | FROM events WHERE user_id IS NOT NULL),
       |rr AS (SELECT event_type, h % $m AS bucket,
       |  CASE WHEN h // $m = 0 THEN $rmax
       |   ELSE $rmax - length(bin(h // $m)) END AS rho
       | FROM hh),
       |regs AS (SELECT event_type, bucket, MAX(rho) AS reg
       | FROM rr GROUP BY 1, 2),
       |agg AS (SELECT event_type, CAST(COUNT(*) AS BIGINT) AS n_present,
       |  CAST(SUM(CAST(1 AS BIGINT) << ($rmax - reg))
       |    + ($m - COUNT(*)) * ${1L << 55} AS BIGINT) AS s_scaled
       | FROM regs GROUP BY 1),
       |fin AS (SELECT event_type, n_present, s_scaled,
       |  CAST((${Sketches.HllAlphaPpm}::HUGEINT * ${m * m} * ${1L << 55})
       |    // (CAST(s_scaled AS HUGEINT) * 1000000) AS BIGINT) AS est_hll
       | FROM agg)""".stripMargin
  }

  /** q240's exact-Jaccard ground-truth threshold (0.5 — decorrelated
    * from q182's 0.7 so the eval exercises a different operating
    * point). Shared with the oracle SQL.
    */
  private[graft] val DedupEvalTPpm = 500000L

  /** q240's evaluation-sample size: the eval runs on the md5-bottom-N
    * docs, a FIXED-size deterministic sample, so ground-truth cost is
    * sf-invariant above N docs (the unsampled form measured
    * 13.3×/decade into sf10 — an eval must sample, not brute-force
    * the corpus). Shared with the oracle SQL.
    */
  private[graft] val DedupEvalSampleN = 4000

  /** q272's alignment-batch size: mutual-NN mining runs a FIXED-size
    * md5-bottom-N batch of the even-label side against the odd-label
    * corpus (alignment batches are bounded by construction — the q240
    * sampling doctrine). Shared with the oracle SQL.
    */
  private[graft] val MutualNnBatchN = 32

  /** q241's ordered funnel definition, shared with the oracle SQL:
    * the strictly time-increasing subsequence a user must traverse.
    */
  private[graft] val FunnelStages = Seq("signup", "view", "click", "purchase")

  /** q248's minimum pair support (orders containing both brands),
    * shared with the oracle SQL.
    */
  private[graft] val BasketMinSup = 50L

  /** q257's conversion deadline (7 days in microseconds), shared with
    * the oracle SQL.
    */
  private[graft] val FunnelWindowUs = 7L * 86400L * 1000000L

  /** q227's parent-snapshot cutoff (orders span 1995..2001 in the
    * testdata): lineitems referencing orders on/after it are the
    * late-arriving orphans the audit must count. Shared with the
    * oracle SQL.
    */
  private[graft] val RefIntCutoff = "1999-01-01"

  /** q139's hashed-feature space (DSIR): the weight table is bounded at
    * this many rows regardless of corpus size — the paper's own trick
    * for web scale. Shared with the oracle SQL's % modulus.
    */
  private[graft] val DsirBuckets = 1024

  /** q152's fixed query-term set, shared with the oracle SQL. */
  private[graft] val Bm25Terms = Seq("hash", "window", "spark")

  /** q156's rendezvous-sharding fleet sizes + hash salt, shared with the
    * oracle SQL (the movement bound being measured is 12 -> 16 shards).
    */
  private[graft] val HrwSalt = "hrw"
  private[graft] val HrwOldShards = 12
  private[graft] val HrwNewShards = 16

  /** q158's perceptron hyperparameters, shared with the oracle SQL
    * (labels 0..posMax are the +1 class; one unrolled oracle CTE pair
    * per epoch).
    */
  private[graft] val PerceptronPosMax = 4
  private[graft] val PerceptronEpochs = 3

  /** q161's BFS hop cap and q162's sample rate, shared with the oracle
    * SQL (the recursive CTE's depth guard / the md5-coin modulus).
    */
  private[graft] val BfsMaxHops = 4
  private[graft] val QsampOneIn = 4L

  /** q163's coreset size, shared with the oracle SQL (one unrolled
    * farthest-first CTE round per center past the seed).
    */
  private[graft] val KCenterK = 6

  /** q166's search phrase, shared with the oracle SQL. */
  private[graft] val PhraseQ166 = Seq("value", "table")

  /** q171's hybrid-retrieval geometry, shared with the oracle SQL:
    * query docs = ids below RrfQueryMax, per-list depth, the RRF
    * damping constant (Cormack et al. 2009's k=60), fused top-k.
    */
  private[graft] val RrfQueryMax = 5L
  private[graft] val RrfListK = 20
  private[graft] val RrfDamp = 60
  private[graft] val RrfTopK = 10

  /** q172's corpus-scaled Gopher-rule stop list, shared with the oracle
    * SQL (thresholds live in Curation.gopherRules' defaults; the oracle
    * inlines the same literals).
    */
  private[graft] val GopherStop = Seq("the", "a", "of", "and", "to")

  /** q182's Jaccard threshold (0.7 in ppm) and q183's activity-window
    * length, shared with the oracle SQL.
    */
  private[graft] val PpJoinTPpm = 700000L
  private[graft] val IntervalSessionSec = 1800L

  /** q184's core order and peel-round bound (the oracle unrolls exactly
    * this many rounds; the engine asserts fixpoint within them — the
    * two MUST move together), q185's noise floor + list depth, q186's
    * minimum series length — all shared with the oracle SQL.
    */
  private[graft] val KCoreK = 2
  private[graft] val KCoreMaxRounds = 12
  private[graft] val CooccurMinBoth = 2L
  private[graft] val CooccurTopK = 3
  private[graft] val ChangepointMinDays = 8

  /** q187's DBSCAN geometry over the customer RFM plane (x = 25·orders,
    * y = spend div 10⁶ cents — the ×25 balances the two ranges so the
    * eps ball is round), q188's TextRank geometry — all shared with the
    * oracle SQL.
    */
  private[graft] val DbscanEps = 25L
  private[graft] val DbscanMinPts = 8
  private[graft] val TextRankMinCount = 3L
  private[graft] val TextRankIters = 3
  private[graft] val TextRankTopK = 20

  /** q192's product-quantization geometry (8 subspaces × 16 codes over
    * the 64-dim embeddings, 2 Lloyd rounds per subspace, 5 query
    * vectors, top-5) — shared with the generated oracle SQL.
    */
  private[graft] val PqM = 8
  private[graft] val PqCodes = 16
  private[graft] val PqQueryMax = 5L
  private[graft] val PqK = 5

  /** The standing IVF index geometry of q207, q222 and q230: 8 coarse
    * lists, and 2 Lloyd rounds for the coarse book and q230's PQ books
    * alike (they train together, [[ivfPqIndexFixture]]).
    */
  private[graft] val IvfLists = 8
  private[graft] val IvfIters = 2

  /** q193's sorted-neighborhood window and q194's join-size salt —
    * shared with the oracle SQL (q194 reuses the q138 CMS geometry).
    */
  private[graft] val SnmWindow = 4
  private[graft] val JoinSizeSalt = "js_"

  /** q191/q197's shared ER labeling: SymSpell ed<=1 pairs, nation
    * blocking, star CC, singletons self-labeled. Checkpointed BEFORE
    * the star loop: dupClustersStar materializes nodes and edges as
    * two separate actions and each CC round is its own lineage root —
    * without this the whole posting pipeline re-executes per consumer
    * (measured 49 s -> ~16 s at sf1). Returns (cust_id, label).
    */
  private[graft] def erClusterLabels(s: SparkSession, d: String): DataFrame =
    erLabelsOf(customer(s, d))

  /** Same-nation blocking for candidate pairs over a customer-shaped
    * frame (id_a, id_b vs c_custkey/c_nationkey) — shared by the
    * from-scratch (q191/q197) and incremental (q201) ER paths.
    */
  private[graft] def erNationBlocked(pairs: DataFrame, c: DataFrame): DataFrame = {
    val nat = c.select(col("c_custkey"), col("c_nationkey"))
    pairs
      .join(nat.select(col("c_custkey").as("id_a"),
        col("c_nationkey").as("na")), Seq("id_a"))
      .join(nat.select(col("c_custkey").as("id_b"),
        col("c_nationkey").as("nb")), Seq("id_b"))
      .filter(col("na") === col("nb"))
      .select("id_a", "id_b")
  }

  /** q201/q203's ingest split: the deterministic md5-coin that sends
    * 20% of customers to the ingest batch (true) and 80% to the
    * standing corpus (false).
    */
  private[graft] def erBatchCoin: Column =
    pmod(tokenHash64(
      concat(lit("erb_"), col("c_custkey").cast("string"))), lit(5L)) === 0

  /** q242's batch coin: an md5 bit on event_id partitions events into
    * a standing corpus (~90%) and an arriving batch (~10%) — the same
    * ingest split the q203/q222/q238 maintenance queries use, on the
    * HLL family.
    */
  private[graft] def hllBatchCoin = pmod(tokenHash64(concat(lit("hbatch_"),
    col("event_id").cast("string"))), lit(10L)) === 0L

  /** The id-keyed ingest split of the document, vector and media
    * indexes: ids with `id % 10 == 0` are the arriving batch, the rest
    * the standing corpus the persisted indexes hold. The oracle SQL
    * spells the same split as `id % 10 = 0` / `<> 0`.
    */
  private[graft] def isBatch(idCol: String): Column =
    pmod(col(idCol), lit(10L)) === 0L

  private[graft] def isCorpus(idCol: String): Column =
    pmod(col(idCol), lit(10L)) =!= 0L

  /** Fixture location for dataset dir `d`: keyed on the CANONICAL
    * dataset path's hash, not just its basename, so two roots sharing
    * a basename (/a/sf0.1 vs /b/sf0.1) never collide and a moved
    * dataset never inherits another's cache (ADVICE r9).
    */
  private[graft] def fixturePath(d: String, name: String): String = {
    val f = new java.io.File(d)
    val canonical = try f.getCanonicalPath catch { case _: java.io.IOException => f.getAbsolutePath }
    val digest = java.security.MessageDigest.getInstance("MD5")
      .digest(canonical.getBytes("UTF-8"))
      .take(5).map(b => f"$b%02x").mkString
    s"/tmp/graft-fixtures/${f.getName}-$digest/$name"
  }

  /** A standing index: `build` written once per dataset as parquet
    * fixture `name` under [[fixturePath]], then read back on every call.
    *
    * The ingest queries probe an index a warehouse maintains across
    * ingests, so their measured time is the per-batch cost, not an index
    * rebuild; the index build runs once, on first use. Contents are
    * deterministic, so a rebuild is value-identical and the cache never
    * needs coherence — only a change to what a fixture holds does, and
    * that must rename the file (the `_v2`, `erb5`, `cap1000` tags), since
    * the name is the only key.
    *
    * The publish is atomic: `build` is written into a process-private tmp
    * dir which is then RENAMED into place, so a concurrent bench process
    * never reads a half-written fixture. If the rename loses the race
    * (destination appeared), the tmp copy is discarded and the winner's
    * is used. A build that throws leaves no tmp dir behind, so the next
    * call builds from scratch. The lock keeps one JVM's concurrent
    * queries from building the same fixture twice.
    *
    * `partitionBy` lays the fixture out by that column, so a probe's
    * join or literal filter on it prunes to the touched directories;
    * partition-column type inference reads the column back as INT, so
    * it is cast back to the long the probe side compares against.
    */
  private[graft] def persisted(s: SparkSession, d: String, name: String,
                               partitionBy: Option[String] = None)
                              (build: => DataFrame): DataFrame = synchronized {
    val path = fixturePath(d, name)
    val dest = new java.io.File(path)
    if (!new java.io.File(dest, "_SUCCESS").exists()) {
      val tmp = new java.io.File(
        dest.getParentFile,
        s".tmp-${dest.getName}-${java.lang.ProcessHandle.current().pid()}")
      try {
        val w = build.write.mode("overwrite")
        partitionBy.fold(w)(k => w.partitionBy(k)).parquet(tmp.getPath)
      } catch { case e: Throwable =>
        deleteRecursively(tmp)
        throw e
      }
      if (!tmp.renameTo(dest)) {
        // lost the publish race (or stale dest without _SUCCESS): clear a
        // broken dest once, retry, else defer to the winner
        if (!new java.io.File(dest, "_SUCCESS").exists()) {
          deleteRecursively(dest)
          if (!tmp.renameTo(dest) && !new java.io.File(dest, "_SUCCESS").exists())
            throw new java.io.IOException(s"cannot publish fixture $path")
        }
        deleteRecursively(tmp)
      }
    }
    val read = engine.Tables.parquet(s, path)
    partitionBy.fold(read)(k => read.withColumn(k, col(k).cast("long")))
  }

  private[graft] def deleteRecursively(f: java.io.File): Unit = {
    val kids = f.listFiles()
    if (kids != null) kids.foreach(deleteRecursively)
    f.delete(): Unit
  }

  /** q203's standing ER corpus: the 80% of customers off the batch coin. */
  private def erStandingCorpus(s: SparkSession, d: String): DataFrame =
    customer(s, d)
      .select(col("c_custkey"), col("c_name"), col("c_nationkey"))
      .filter(!erBatchCoin)

  // The ER fixture names carry what their contents depend on: `erb5` is
  // the batch coin (tokenHash64("erb_" ...) % 5 == 0), `cap1000` the
  // deletionKeyPostings maxKeyFreq.

  /** q203's standing (node, label) clustering of the ER corpus, labeled
    * once by the q191 pipeline: "yesterday's labels".
    */
  private[graft] def erStandingLabels(s: SparkSession, d: String): DataFrame =
    persisted(s, d, "er_standing_labels_erb5.parquet") {
      erLabelsOf(erStandingCorpus(s, d)).withColumnRenamed("cust_id", "node")
    }

  /** The ER corpus's SymSpell deletion-key postings, probed by q203 and
    * q299.
    */
  private[graft] def erStandingPostings(s: SparkSession, d: String): DataFrame =
    persisted(s, d, "er_standing_postings_erb5_cap1000.parquet") {
      operators.Dedup.deletionKeyPostings(erStandingCorpus(s, d),
        "c_custkey", "c_name", maxKeyFreq = 1000)
    }

  /** Persisted media fixture: a real pipeline's blobs arrive as a
    * BINARY column scanned from storage — "multimodal columns are
    * opaque binary + typed metadata" (SURVEY §2b) — not synthesized
    * inside the measured query; the deterministic PNG/WAV/AVI
    * generators are test scaffolding. Reading each media table back
    * makes every multimodal query measure scan + decode — where a
    * production job starts — instead of encode + decode. One fixture
    * per [[Multimodal.MediaKind]], named after it, built by
    * [[Multimodal.media]] over the dataset's documents.
    */
  private[graft] def mediaFixture(s: SparkSession, d: String, kind: Multimodal.MediaKind)
      : org.apache.spark.sql.Dataset[Multimodal.MediaRow] = {
    import s.implicits._
    // The read is NOT spread: a fixture-wide Shape.spread costs every
    // cheap decode an exchange it cannot repay (measured at sf0.1: q117
    // 0.24→0.58 s, q132 0.24→0.57, q189 0.15→0.41, q238 0.28→0.69);
    // only q165's full AVI decode pays for one, at its query site
    persisted(s, d, s"media_${kind.name}.parquet")(
      Multimodal.media(documents(s, d), kind).toDF()).as[Multimodal.MediaRow]
  }

  /** q238's image-fingerprint band index: the corpus media's aHashes
    * banded into the Hamming≤2 pigeonhole postings (no size floor —
    * singleton buckets must match arriving batch images).
    */
  private[graft] def imageFpPostingsFixture(
      s: SparkSession, d: String,
      media: => org.apache.spark.sql.Dataset[Multimodal.MediaRow]): DataFrame =
    persisted(s, d, "imgfp_postings.parquet") {
      Dedup.hammingBandPostings(
          Multimodal.imageAHash(media.filter(isCorpus("media_id"))).toDF(),
          "media_id", "ahash", nBits = 64, maxHamming = 2)
    }

  /** q242's standing HLL sketch: the corpus events' per-type registers
    * (64 longs per group forever), the only corpus state q242 reads.
    */
  private[graft] def hllStandingFixture(s: SparkSession, d: String): DataFrame =
    persisted(s, d, "hll_standing_regs.parquet") {
      Sketches.hllRegisters(events(s, d).filter(!hllBatchCoin),
          "event_type", col("user_id"), "hll_")
    }

  /** The from-scratch ER labeling over any customer-shaped frame. */
  private[graft] def erLabelsOf(c: DataFrame): DataFrame =
    erLabelsOfPairs(c,
      operators.Dedup.editDistance1Join(c, "c_custkey", "c_name"))

  /** [[erLabelsOf]] with the SymSpell candidate pairs supplied by the
    * caller — q201 builds the corpus deletion-key postings ONCE and
    * derives both its self-join pairs (editDistance1SelfJoinPostings)
    * and its batch-vs-corpus pairs from them, so the standing-label
    * half must accept the shared pair frame instead of re-running the
    * corpus explode + posting agg inside editDistance1Join.
    */
  private[graft] def erLabelsOfPairs(c: DataFrame, pairs: DataFrame): DataFrame = {
    // no .materialized here (r16): dupClustersStar now checkpoints its
    // pair projection exactly once, so the blocked pipeline executes
    // once either way and a second eager checkpoint of the same rows
    // was pure overhead
    val blocked = erNationBlocked(pairs, c)
    val labels = operators.Dedup.dupClustersStar(blocked, "id_a", "id_b")
    c.select(col("c_custkey").as("cust_id"))
      .join(labels.withColumnRenamed("node", "cust_id"), Seq("cust_id"),
        "left")
      .select(col("cust_id"),
        coalesce(col("label"), col("cust_id")).as("label"))
  }

  /** The shared ER output assembly (q191/q201/q203): every customer
    * labeled (left join + self-label coalesce) with its cluster size.
    * csize is ONE window count over the label partition — the
    * previous groupBy(label) + join-back computed the identical value
    * with one extra exchange plus a join, and (with the frames
    * localCheckpointed to keep the join-back from re-running lineage)
    * one extra checkpoint action (r16, guide §2.4: two operations
    * keyed the same way share one exchange). Values identical: count
    * over a partition == count grouped by the same key.
    */
  private[graft] def erLabeledWithSizes(c: DataFrame, labels: DataFrame): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    c.select(col("c_custkey").as("cust_id"))
      .join(labels.withColumnRenamed("node", "cust_id"), Seq("cust_id"), "left")
      .select(col("cust_id"),
        coalesce(col("label"), col("cust_id")).as("label"))
      .withColumn("csize", count(lit(1)).over(Window.partitionBy("label")))
      .select(col("cust_id"), col("label").cast("long").as("label"),
        col("csize").cast("long").as("csize"))
      .orderBy("cust_id")
  }

  /** q167's MMR geometry (candidate pool, picks), shared with the
    * oracle SQL's unrolled greedy rounds. λ = 7/10 is hard-coded in
    * both score expressions (7·rel − 3·maxsim).
    */
  private[graft] val MmrCandC = 24
  private[graft] val MmrK = 8

  /** q170's Benford expectations: round(log10(1+1/d)·1e6) for d=1..9,
    * fixed literals shared with the oracle SQL (no float log at query
    * time on either engine).
    */
  private[graft] val BenfordPpm = Seq(301030L, 176091L, 124939L, 96910L,
    79181L, 66947L, 57992L, 51153L, 45757L)

  /** The full-recompute ER oracle, shared by q191 (from-scratch
    * labeling) and q201 (incremental maintenance, which must equal the
    * recompute bit-for-bit).
    */
  private[graft] lazy val erFullRecomputeOracle: String =
    """WITH RECURSIVE pr AS (SELECT a.c_custkey ia, b.c_custkey ib
      | FROM customer a JOIN customer b
      | ON a.c_custkey < b.c_custkey AND a.c_nationkey = b.c_nationkey
      | WHERE levenshtein(a.c_name, b.c_name) <= 1),
      |e AS (SELECT ia u, ib v FROM pr UNION ALL SELECT ib, ia FROM pr),
      |reach AS (SELECT u AS node, u AS label FROM e
      | UNION SELECT e.u, r.label FROM e JOIN reach r ON e.v = r.node),
      |lab AS (SELECT node, MIN(label) lbl FROM reach GROUP BY 1),
      |allc AS (SELECT c_custkey AS cust_id,
      |  COALESCE(lab.lbl, c_custkey) AS label
      | FROM customer LEFT JOIN lab ON customer.c_custkey = lab.node),
      |sz AS (SELECT label, CAST(COUNT(*) AS BIGINT) AS csize
      | FROM allc GROUP BY 1)
      |SELECT cust_id, CAST(label AS BIGINT) AS label, csize
      |FROM allc JOIN sz USING (label) ORDER BY cust_id""".stripMargin

  /** The analytic video-fingerprint-dedup oracle (VideoCodec.dup*
    * formulas: uniform-gray window-constant frames, exact
    * 64-frame-multiple durations => dims/counts cancel and bit k is
    * gray_k*64 > sum(gray); no container ever parsed), shared by q134
    * (dense decode) and q204 (every-2nd-frame decode, which sees one
    * frame per 2-wide constant window => identical fingerprint).
    * 'v' prefix decorrelates the group pattern from q132's; candidates
    * via the same 3-chunk pigeonhole as q117/q132.
    */
  private[graft] lazy val videoFpDedupOracle: String =
    """WITH dim AS (SELECT doc_id AS id, doc_id // 10 AS gid,
      |  ((doc_id % 10) * 11) % 64 AS fw
      | FROM documents WHERE doc_id % 2 = 1),
      |hsh AS (SELECT id, fw,
      |  CAST(concat('0x', substr(md5(concat('v', CAST(gid AS VARCHAR))),1,15)) AS BIGINT) AS hp
      | FROM dim),
      |lum AS (SELECT id, k,
      |  CASE WHEN (((hp >> (k % 60)) & 1) = 1) != (k = fw)
      |       THEN 220 ELSE 30 END AS a
      | FROM hsh, LATERAL (SELECT unnest(generate_series(0, 63)) AS k) t),
      |tot AS (SELECT id, SUM(a) AS ta FROM lum GROUP BY 1),
      |bits AS (SELECT lum.id, k,
      |  CASE WHEN a*64 > ta THEN '1' ELSE '0' END AS b
      | FROM lum JOIN tot ON lum.id = tot.id),
      |bs AS (SELECT id, string_agg(b, '' ORDER BY k) AS s FROM bits GROUP BY 1),
      |cand AS (SELECT a.id AS id_a, b.id AS id_b, a.s AS sa, b.s AS sb
      | FROM bs a JOIN bs b ON a.id < b.id AND (
      |   substr(a.s, 1, 22) = substr(b.s, 1, 22) OR
      |   substr(a.s, 23, 21) = substr(b.s, 23, 21) OR
      |   substr(a.s, 44, 21) = substr(b.s, 44, 21))),
      |ham AS (SELECT id_a, id_b, CAST(list_sum(list_transform(
      |   generate_series(1, 64),
      |   i -> CASE WHEN substr(sa, i, 1) <> substr(sb, i, 1) THEN 1 ELSE 0 END)) AS BIGINT) AS hamming
      | FROM cand)
      |SELECT id_a, id_b, hamming FROM ham WHERE hamming <= 2
      |ORDER BY id_a, id_b""".stripMargin

  /** The whole-corpus KMV oracle, shared by q137 (direct sketch) and
    * q168 (merged half-sketches, which must equal it bit-for-bit).
    */
  private[graft] lazy val kmvWholeCorpusOracle: String =
    s"""WITH h AS (SELECT DISTINCT event_type,
       |  ${duckHash("concat('kmv_', CAST(user_id AS VARCHAR))", 15)} AS h
       | FROM events),
       |r AS (SELECT event_type, h,
       |  row_number() OVER (PARTITION BY event_type ORDER BY h) AS rn FROM h),
       |b AS (SELECT event_type, CAST(COUNT(*) AS BIGINT) AS n_kept,
       |  MAX(h) AS kth_min FROM r WHERE rn <= $KmvK GROUP BY 1)
       |SELECT event_type, n_kept, kth_min,
       | CASE WHEN n_kept < $KmvK THEN n_kept
       |  ELSE CAST((CAST(${KmvK - 1} AS HUGEINT) * ${Sketches.HashDomain})
       |    // GREATEST(kth_min, 1) AS BIGINT) END AS est_distinct
       |FROM b ORDER BY event_type""".stripMargin

  /** The whole-corpus count-min probe oracle, shared by q138 (direct
    * sketch) and q178 (merged half-sketches — CMS is a linear sketch,
    * so the merge must equal this bit-for-bit, the q168 property for
    * frequencies instead of distincts).
    */
  private[graft] lazy val cmsWholeCorpusOracle: String = {
    val probes = CmsProbeWords.map(w => s"'$w'").mkString(", ")
    s"""WITH tok AS (SELECT unnest($TOKS) AS w FROM documents),
       |rr AS (SELECT unnest(generate_series(0, ${CmsDepth - 1})) AS r),
       |cell AS (SELECT r,
       |  (${duckHash("concat('cms', w)", 15)} >> (15 * r)) % $CmsWidth AS c,
       |  COUNT(*) AS cnt
       | FROM tok CROSS JOIN rr GROUP BY 1, 2),
       |probe AS (SELECT unnest([$probes]) AS word),
       |pc AS (SELECT word, r,
       |  (${duckHash("concat('cms', word)", 15)} >> (15 * r)) % $CmsWidth AS c
       | FROM probe CROSS JOIN rr)
       |SELECT word, CAST(MIN(COALESCE(cell.cnt, 0)) AS BIGINT) AS est_count
       |FROM pc LEFT JOIN cell USING (r, c)
       |GROUP BY 1 ORDER BY 1""".stripMargin
  }

  /** 4×4 determinant as a SQL expression — the 24-term permutation
    * expansion over entry expressions `m(i)(j)`. Generated, not
    * hand-written, so q155's oracle cannot drop a term; signs from
    * inversion parity (the same loop the Scala solve uses).
    */
  private[graft] def det4Sql(m: Array[Array[String]]): String =
    (0 to 3).permutations.map { p =>
      val inv = p.zipWithIndex.map { case (v, i) => p.drop(i + 1).count(_ < v) }.sum
      val sign = if (inv % 2 == 0) "+" else "-"
      s"$sign (${(0 to 3).map(i => m(i)(p(i))).mkString(" * ")})"
    }.mkString(" ")

  /** q119's cluster sizing, shared by the Spark query and its oracle
    * SQL (the oracle computes the same formula in its LIMIT). SemDeDup's
    * per-cluster pair join is O(|cluster|²), so the cluster COUNT must
    * grow with the corpus to keep |cluster| ~constant — the paper runs
    * 50k clusters at web scale for exactly this reason. A fixed
    * nLists=8 measured 56x per data decade at sf10 (7.75 s -> 436 s,
    * the pair join quadratic in corpus size). Cluster size 625 makes
    * the nLists ∝ n regime start AT sf0.1 (n=5000 → the 8-list floor
    * exactly; n=20000 → 32 lists; sf10 → 320), keeping |cluster| — and
    * with it per-cluster pair volume — CONSTANT from sf0.1 upward: the
    * round-11 sweep had measured 13.8× for the sf0.1→sf1 tier under
    * the old 2500 constant, which was exactly the one-tier quadratic
    * transition while the floor still bound (pair volume 16× for 4×
    * vectors); with 625 the tier re-measures at ~4× for 4× data.
    * Every SF at or below sf0.1 is bit-identical (floor unchanged).
    */
  private[graft] val SemDedupMinLists = 8
  private[graft] val SemDedupClusterSize = 625L
  private[graft] def semDedupNLists(n: Long): Int =
    math.max(SemDedupMinLists, (n / SemDedupClusterSize).toInt)

  /** DuckDB twin of Dedup.shingles (k=3, distinct word 3-shingles). */
  private[graft] val SHINGLES3 =
    s"""SELECT DISTINCT doc_id AS id, unnest(
       |  CASE WHEN len(t) < 3 THEN [array_to_string(t,' ')]
       |       ELSE list_transform(generate_series(1, len(t)-2), i -> array_to_string(t[i:i+2],' ')) END) AS sh
       |FROM (SELECT doc_id, $TOKS AS t FROM documents)""".stripMargin

  /** DuckDB twin of QueriesSketchesStats.permPairedDiffs: q283's
    * paired per-customer spend (1996 vs 1997, both present) with
    * segment/nation attached — (id, d_c, seg, nat).
    */
  private[graft] val PermPairsSql =
    """SELECT t.o_custkey AS id, t.b_c - t.a_c AS d_c,
      |  c.c_mktsegment AS seg, c.c_nationkey AS nat
      | FROM (SELECT o_custkey,
      |   SUM(CASE WHEN year(o_orderdate)=1996
      |     THEN CAST(round(o_totalprice*100,0) AS BIGINT) ELSE 0 END) AS a_c,
      |   SUM(CASE WHEN year(o_orderdate)=1997
      |     THEN CAST(round(o_totalprice*100,0) AS BIGINT) ELSE 0 END) AS b_c,
      |   MAX(CASE WHEN year(o_orderdate)=1996 THEN 1 ELSE 0 END) AS ha,
      |   MAX(CASE WHEN year(o_orderdate)=1997 THEN 1 ELSE 0 END) AS hb
      |  FROM orders WHERE year(o_orderdate) IN (1996, 1997) GROUP BY 1) t
      | JOIN customer c ON t.o_custkey = c.c_custkey
      | WHERE t.ha = 1 AND t.hb = 1""".stripMargin

  /** DuckDB twin of TextFunctions.signFlips for pair id `id` and
    * resample `r`: +1 iff hex char (r mod 32) of
    * md5(prefix||id||'_'||r//32) has even nibble value.
    */
  private[graft] def permSignSql(prefix: String): String =
    s"""CASE WHEN (strpos('0123456789abcdef',
       |  substr(md5('$prefix' || CAST(id AS VARCHAR) || '_' ||
       |    CAST(r // 32 AS VARCHAR)), (r % 32) + 1, 1)) - 1) % 2 = 0
       | THEN 1 ELSE -1 END""".stripMargin

  /** GPT-2-style BPE pre-tokenizer pattern, simplified to the subset
    * Java regex and RE2 (DuckDB) interpret identically: optional leading
    * space + letter run / digit run / punctuation run. No lookarounds
    * (RE2 has none). The SAME string is passed to both engines.
    */
  private[graft] val BpePattern =
    " ?[A-Za-z]+| ?[0-9]+| ?[^A-Za-z0-9 \\t\\r\\n]+"

  /** q61's ANSI SQL — one text, two engines (Spark executes it, DuckDB
    * oracles it verbatim).
    */
  private[graft] val SqlApiQuery =
    """SELECT n.n_name, COUNT(*) AS n_orders,
      | CAST(SUM(CAST(round(o.o_totalprice*100, 0) AS BIGINT)) AS BIGINT) AS rev_c
      |FROM orders o
      |JOIN customer c ON o.o_custkey = c.c_custkey
      |JOIN nation n ON c.c_nationkey = n.n_nationkey
      |GROUP BY n.n_name ORDER BY n.n_name""".stripMargin

  /** q90's ANSI SQL — correlated EXISTS / NOT EXISTS, one text, two
    * engines (Spark executes it; DuckDB oracles it verbatim). Exercises
    * Catalyst's subquery decorrelation (RewritePredicateSubquery → semi/
    * anti joins) rather than hand-built semi-joins (q05/q06).
    */
  private[graft] val ExistsSubqueryQuery =
    """SELECT c.c_custkey, c.c_name
      |FROM customer c
      |WHERE EXISTS (SELECT 1 FROM orders o
      |              WHERE o.o_custkey = c.c_custkey AND o.o_totalprice > 400000)
      |  AND NOT EXISTS (SELECT 1 FROM orders o2
      |                  WHERE o2.o_custkey = c.c_custkey
      |                    AND o2.o_orderstatus = 'F')
      |ORDER BY c.c_custkey""".stripMargin

  /** q91's ANSI SQL — correlated SCALAR subquery (per-customer average),
    * decorrelated by Catalyst into an aggregate + join. Money goes
    * through the cents trick; the average of exact integers is the same
    * IEEE double on both engines (integer-valued summands < 2^53 sum
    * exactly in any order).
    */
  private[graft] val ScalarSubqueryQuery =
    """SELECT o.o_orderkey, CAST(round(o.o_totalprice*100, 0) AS BIGINT) AS total_c
      |FROM orders o
      |WHERE CAST(round(o.o_totalprice*100, 0) AS BIGINT) >
      |  2 * (SELECT avg(CAST(round(o2.o_totalprice*100, 0) AS BIGINT))
      |       FROM orders o2 WHERE o2.o_custkey = o.o_custkey)
      |ORDER BY o.o_orderkey""".stripMargin

  /** DuckDB twin of VectorFunctions.planeComponent(p, j). */
  private[graft] def duckPlane(p: String, j: String): String =
    s"((${duckHash(s"concat($p,'_',$j)", 7)} % 2001) - 1000)/1000.0"

  /** DuckDB cosine over DOUBLE[] lists (same fold shape as
    * VectorFunctions.cosine; differences are sub-ulp and vanish at
    * round(...,4)).
    */
  private[graft] def duckCos(a: String, b: String): String =
    s"""(CASE WHEN sqrt(list_dot_product($a,$a))*sqrt(list_dot_product($b,$b)) > 0
       | THEN list_dot_product($a,$b)/(sqrt(list_dot_product($a,$a))*sqrt(list_dot_product($b,$b)))
       | ELSE 0.0 END)""".stripMargin

  // ---------------------------------------------------------------- //
  // Queries                                                          //
  // ---------------------------------------------------------------- //




  /** q210's deterministic raw-URL derivation (shared with its oracle by
    * construction): doc_id mods pick the surface variation — scheme
    * case / www. prefix, an explicit default port, a trailing slash,
    * tracking-param placement and param order, a fragment — while
    * (source, lang, doc_id mod 250) pins the canonical page.
    */
  private[graft] def rawUrl(id: Column, source: Column, lang: Column): Column = {
    val base = (id % 250L).cast("string")
    val scheme = when(id % 4L === 0L, "https://")
      .when(id % 4L === 1L, "HTTPS://")
      .when(id % 4L === 2L, "https://WWW.")
      .otherwise("HTTPS://www.")
    val port = when(id % 2L === 0L, ":443").otherwise("")
    val slash = when(id % 5L === 0L, "/").otherwise("")
    val query = when(id % 3L === 0L,
        concat(lit("?id="), base, lit("&lang="), lang,
          lit("&utm_source=feed")))
      .when(id % 3L === 1L,
        concat(lit("?lang="), lang, lit("&id="), base))
      .otherwise(concat(lit("?utm_campaign=x&id="), base,
        lit("&lang="), lang, lit("#top")))
    concat(scheme, source, lit(".Example.COM"), port,
      lit("/Articles/"), base, slash, query)
  }

  // The _v2 suffix on the three LSH fixture names versions them past
  // the round-12 MinHash-family fix (field-sized multipliers — see
  // Dedup.minHashSignature): a cached fixture built with the old
  // family would silently mismatch the oracle's recomputation.

  /** The corpus's MinHash (band, band_key, postings) table: capped at
    * 10000 per bucket for q206's probe, or `full` (uncapped) for the
    * q219/q221 maintenance queries — an index you UPSERT must keep full
    * buckets, since a capped store loses members unrecoverably.
    */
  private[graft] def lshPostingsFixture(s: SparkSession, d: String,
                                 docs: DataFrame, full: Boolean = false): DataFrame =
    persisted(s, d,
        s"lsh_band_postings_${if (full) "full_" else ""}v2.parquet") {
      operators.Dedup.minHashBandPostings(docs.filter(isCorpus("doc_id")),
          "doc_id", "text", k = 3, bands = 4, rowsPerBand = 4,
          maxBucketSize = if (full) Int.MaxValue else 10000)
    }

  /** q209's hyperplane-LSH index: every vector's bucket at q36/q53's
    * parameters, partitioned by bucket.
    */
  private[graft] def lshIndexFixture(s: SparkSession, d: String,
                              e: DataFrame): DataFrame =
    persisted(s, d, "lsh_buckets_v2.parquet", Some("bucket")) {
      operators.Ann.lshBucketAssignments(e, "vec_id", "embedding", nBits = 4)
    }

  /** q208's SimHash multi-index: the corpus's capped (tbl, key, postings)
    * table at q82's parameters.
    */
  private[graft] def simHashPostingsFixture(s: SparkSession, d: String,
                                     docs: DataFrame): DataFrame =
    persisted(s, d, "simhash_postings.parquet") {
      operators.Dedup.simHashMultiIndexPostings(docs.filter(isCorpus("doc_id")),
          "doc_id", "text", nBits = 32, maxHamming = 3, nBlocks = 6,
          maxBucketSize = 10000)
    }

  /** q213's term-shard count, shared by the index build and the probe's
    * plan-time bucket literals.
    */
  private[graft] val Bm25IndexBuckets = 64

  /** q213's inverted index (`Indexing.bm25Index`): the (wb, w, id, tf)
    * postings partitioned by term shard wb, the (id, dl) doclen table
    * and the 1-row corpus stats.
    */
  private[graft] def bm25IndexFixture(s: SparkSession, d: String)
      : (DataFrame, DataFrame, DataFrame) = {
    lazy val built = operators.Indexing.bm25Index(
      documents(s, d), "doc_id", "text", buckets = Bm25IndexBuckets)
    (persisted(s, d, "bm25_postings.parquet", Some("wb"))(built._1),
     persisted(s, d, "bm25_doclen.parquet")(built._2),
     persisted(s, d, "bm25_stats.parquet")(built._3))
  }

  /** q220's substring-gram index (`Dedup.substringGramIndex`): the
    * corpus's per-position 40-gram postings and their frequency table.
    */
  private[graft] def substringIndexFixture(s: SparkSession, d: String)
      : (DataFrame, DataFrame) = {
    lazy val built = operators.Dedup.substringGramIndex(
      documents(s, d).filter(isCorpus("doc_id")), "doc_id", "text", minLen = 40)
    (persisted(s, d, "substring_postings.parquet")(built._1),
     persisted(s, d, "substring_gramdf.parquet")(built._2))
  }

  /** q218's PPJoin index (`Dedup.ppJoinIndex`): the corpus's shingle
    * rarity table, its prefix postings at q182's threshold (v2: with the
    * `pos` column of the positional filter) and its sorted shingle sets.
    */
  private[graft] def ppJoinIndexFixture(s: SparkSession, d: String)
      : (DataFrame, DataFrame, DataFrame) = {
    lazy val built = operators.Dedup.ppJoinIndex(
      documents(s, d).filter(isCorpus("doc_id")), "doc_id", "text", PpJoinTPpm)
    (persisted(s, d, "ppjoin_dfreq.parquet")(built._1),
     persisted(s, d, "ppjoin_postings_v2.parquet")(built._2),
     persisted(s, d, "ppjoin_sets.parquet")(built._3))
  }

  /** An IVF index over `e`: q54's deterministic k-means centroids plus
    * the inverted-list assignments, partitioned by cid so a probe reads
    * only its nProbe lists' files. q207 indexes the full table (`ivf`);
    * q222 the standing corpus (`ivfc`), whose centroids stay frozen
    * while batches fold into their lists.
    */
  private[graft] def ivfIndexFixture(s: SparkSession, d: String,
                              e: DataFrame, tag: String = "ivf"): (DataFrame, DataFrame) = {
    val cents = persisted(s, d, s"${tag}_centroids.parquet") {
      operators.Ann.kmeansCentroids(e, "vec_id", "embedding",
        nLists = IvfLists, iters = IvfIters)
    }
    (cents, persisted(s, d, s"${tag}_lists.parquet", Some("cid")) {
      operators.Ann.ivfListAssignments(e, "vec_id", "embedding", cents)
    })
  }

  /** q230's IVF-PQ index: q207's coarse centroids, q192's per-subspace
    * PQ codebooks and the coded (cid, neighbor_id, codes) lists,
    * partitioned by cid — a probe reads only its nProbe lists, m codes
    * per vector instead of floats. Returns
    * (centroids, codebooks, codedLists).
    *
    * One Lloyd pass per round trains the coarse book and the m PQ books
    * together ([[operators.Ann.kmeansBooksLocal]]); that one lazy value
    * feeds whichever of `ivf_centroids` and `ivfpq_books` is missing, and
    * the coarse book is bit-identical to q207's one-book build, so the
    * shared `ivf_centroids` fixture is the same whichever query builds it
    * first. The coded lists are one map-only pass over `e` against the
    * persisted centroids and books ([[operators.Ann.ivfPqListAssignments]]);
    * q207's `ivf_lists` is not built.
    */
  private[graft] def ivfPqIndexFixture(s: SparkSession, d: String,
                                e: DataFrame): (DataFrame, DataFrame, DataFrame) = {
    import s.implicits._
    lazy val trained = operators.Ann.kmeansBooksLocal(e, "vec_id", "embedding",
      Seq((1, IvfLists), (PqM, PqCodes)), iters = IvfIters)
    val cents = persisted(s, d, "ivf_centroids.parquet") {
      trained.head.toSeq.toDF("cid", "cv")
    }
    val books = persisted(s, d, "ivfpq_books.parquet") {
      operators.Ann.codebooksFrame(s, trained.tail)
    }
    (cents, books, persisted(s, d, "ivfpq_lists.parquet", Some("cid")) {
      operators.Ann.ivfPqListAssignments(e, "vec_id", "embedding", cents,
        books, PqM)
    })
  }

  // ---------------------------------------------------------------- //
  // DuckDB oracles                                                   //
  // ---------------------------------------------------------------- //


  /** q115/q206's shared incremental-LSH oracle: batch band keys vs the
    * corpus's capped band postings, estimate from full signatures.
    */
  private[graft] lazy val lshIncrementalOracle: String =
      s"""WITH sh AS ($SHINGLES3),
         |h AS (SELECT id, ${duckHash("sh", 7)} AS h FROM sh),
         |mh AS (SELECT id, i AS hash_idx,
         |  min((h*((i*2654435761) % 2147483647 + 1) + i*40503 + 7) % 2147483647) AS min_hash
         | FROM h CROSS JOIN (SELECT unnest(generate_series(0,15)) AS i) GROUP BY 1,2),
         |bk0 AS (SELECT id, hash_idx // 4 AS band,
         |  md5(string_agg(CAST(min_hash AS VARCHAR), ',' ORDER BY hash_idx)) AS band_key
         | FROM mh GROUP BY 1,2),
         |bkN AS (SELECT * FROM bk0 WHERE id % 10 = 0),
         |bkC0 AS (SELECT * FROM bk0 WHERE id % 10 <> 0),
         |bsz AS (SELECT band AS b2, band_key AS k2, COUNT(*) AS n FROM bkC0 GROUP BY 1,2),
         |bkC AS (SELECT bkC0.* FROM bkC0 JOIN bsz ON band = b2 AND band_key = k2
         | WHERE n <= 10000),
         |cand AS (SELECT DISTINCT n.id AS new_id, c.id AS corpus_id
         | FROM bkN n JOIN bkC c ON n.band = c.band AND n.band_key = c.band_key),
         |est AS (SELECT cd.new_id, cd.corpus_id,
         |  round(avg(CASE WHEN ma.min_hash = mb.min_hash THEN CAST(1 AS DOUBLE) ELSE CAST(0 AS DOUBLE) END), 4) AS est_jaccard
         | FROM cand cd
         |  JOIN mh ma ON ma.id = cd.new_id
         |  JOIN mh mb ON mb.id = cd.corpus_id AND mb.hash_idx = ma.hash_idx
         | GROUP BY 1,2)
         |SELECT new_id, corpus_id, est_jaccard FROM est
         |WHERE est_jaccard >= 0.25 ORDER BY new_id, corpus_id""".stripMargin

  /** q53/q209's shared multi-probe LSH oracle: 4 seeded hyperplanes,
    * bucket per vector, each query probes its own bucket plus bits 0/1
    * flipped, exact cosine top-5 within the probed buckets.
    */
  /** q152/q213's shared integer BM25 oracle: bits idf, milli-scaled
    * saturation, one canonical division order — parameterized over the
    * corpus body so the q303/q304 index-maintenance rows replay the
    * SAME scorer over the post-maintenance corpus (upsert: batch text
    * applied; delete: tombstoned ids gone), which is exactly the
    * maintenance contract the green row proves.
    */
  private[graft] def bm25LiteOracleOver(corpus: String): String = {
    val terms = Bm25Terms.map(t => s"'$t'").mkString(", ")
    s"""WITH corpus AS ($corpus),
       |tok AS (SELECT doc_id AS id, unnest($TOKS) AS w FROM corpus),
       |dl AS (SELECT id, CAST(COUNT(*) AS BIGINT) AS dl FROM tok GROUP BY 1),
       |st AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_docs,
       |  CAST(SUM(dl) AS BIGINT) AS n_tokens FROM dl),
       |hits AS (SELECT id, w, CAST(COUNT(*) AS BIGINT) AS tf
       | FROM tok WHERE w IN ($terms) GROUP BY 1, 2),
       |dfr AS (SELECT w, CAST(COUNT(*) AS BIGINT) AS df FROM hits GROUP BY 1),
       |idf AS (SELECT w,
       |  CAST(length(bin(st.n_docs // df)) - 1 AS BIGINT) AS idf_bits
       | FROM dfr, st),
       |sc AS (SELECT hits.id, idf.idf_bits, hits.tf, dl.dl,
       |  (st.n_tokens * 1000) // st.n_docs AS avgdl_m
       | FROM hits JOIN idf USING (w) JOIN dl USING (id) CROSS JOIN st),
       |p AS (SELECT id, idf_bits, tf,
       |  (dl * 1000000) // avgdl_m AS dln_m FROM sc),
       |p2 AS (SELECT id, idf_bits, tf,
       |  (1200 * (250 + (750 * dln_m) // 1000)) // 1000 AS k_m FROM p),
       |a AS (SELECT id, CAST(COUNT(*) AS BIGINT) AS n_terms_hit,
       |  CAST(SUM(idf_bits * ((tf * 2200 * 1000) // (tf * 1000 + k_m))) AS BIGINT) AS score_milli
       | FROM p2 GROUP BY 1)
       |SELECT id, n_terms_hit, score_milli FROM a
       |ORDER BY score_milli DESC, id LIMIT 20""".stripMargin
  }

  private[graft] lazy val bm25LiteOracle: String =
    bm25LiteOracleOver("SELECT doc_id, text FROM documents")

  /** q303's deterministic re-ingest edit: the upsert batch (doc_id%10=0)
    * re-arrives with the three probe terms appended, so the post-upsert
    * top-20 MUST reflect the replacement path (a silent append-only or
    * no-op upsert would hash-mismatch). Shared with the oracle SQL.
    */
  private[graft] val Bm25UpsertSuffix = " spark window hash"

  private[graft] lazy val lshMultiprobeOracle: String = {
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
       |qb AS (SELECT vec_id, v,
       |  unnest([bucket, xor(bucket, 1::BIGINT), xor(bucket, 2::BIGINT)]) AS bucket
       | FROM ev WHERE vec_id < 5),
       |s AS (SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
       |  round(${duckCos("q.v", "c.v")}, 4) AS cos
       | FROM ev c JOIN qb q ON c.bucket = q.bucket
       | WHERE c.vec_id <> q.vec_id),
       |r AS (SELECT query_id, neighbor_id, cos,
       |  CAST(row_number() OVER (PARTITION BY query_id ORDER BY cos DESC, neighbor_id) AS BIGINT) AS rnk
       | FROM s)
       |SELECT query_id, neighbor_id, cos, rnk FROM r WHERE rnk <= 5
       |ORDER BY query_id, rnk""".stripMargin
  }

  /** q54/q207's shared IVF-kmeans oracle: deterministic seeded k-means
    * (2 Lloyd rounds, 6dp-rounded means/distances), full assignment,
    * nProbe=2 probe, exact cosine top-5 within the probed lists.
    */
  /** q222's oracle: q54's k-means CTEs trained on the CORPUS split
    * (vec_id%10 != 0) — seeds and both Lloyd rounds see corpus vectors
    * only — then ALL vectors assigned to the frozen result, restricted
    * to the lists containing a batch vector.
    */
  private[graft] lazy val ivfUpsertOracle: String = {
    def iter(prev: String, a: String, c: String) =
      s"""$a AS (SELECT sid, v, cid FROM (
         |  SELECT ec.vec_id AS sid, ec.v, $prev.cid,
         |   row_number() OVER (PARTITION BY ec.vec_id
         |     ORDER BY round(ec.vv - 2.0*list_dot_product(ec.v, $prev.cv)
         |       + list_dot_product($prev.cv, $prev.cv), 6), $prev.cid) AS rn
         |  FROM ec CROSS JOIN $prev) t WHERE rn = 1),
         |$c AS (SELECT cid, list(m ORDER BY pos) AS cv FROM (
         |  SELECT cid, pos, round(avg(x), 6) AS m FROM (
         |   SELECT cid, unnest(v) AS x, generate_subscripts(v, 1) AS pos FROM $a) u
         |  GROUP BY 1, 2) g GROUP BY 1)""".stripMargin
    s"""WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v,
       |  list_dot_product(embedding::DOUBLE[], embedding::DOUBLE[]) AS vv FROM embeddings),
       |ec AS (SELECT * FROM e WHERE vec_id % 10 <> 0),
       |seed AS (SELECT CAST(row_number() OVER (ORDER BY h, sid) AS BIGINT) AS cid, v AS cv
       | FROM (SELECT vec_id AS sid, v,
       |   ${duckHash("concat('ivf_', CAST(vec_id AS VARCHAR))", 15)} AS h
       |  FROM ec ORDER BY h, sid LIMIT 8) t),
       |${iter("seed", "a1", "c1")},
       |${iter("c1", "a2", "c2")},
       |ad AS (SELECT e.vec_id, c2.cid,
       |  round(e.vv - 2.0*list_dot_product(e.v, c2.cv)
       |    + list_dot_product(c2.cv, c2.cv), 6) AS d
       | FROM e CROSS JOIN c2),
       |asgn AS (SELECT vec_id, cid FROM (
       |  SELECT *, row_number() OVER (PARTITION BY vec_id ORDER BY d, cid) AS rn FROM ad)
       | WHERE rn = 1),
       |touched AS (SELECT DISTINCT cid FROM asgn WHERE vec_id % 10 = 0)
       |SELECT CAST(asgn.cid AS BIGINT) AS cid,
       | CAST(COUNT(*) AS BIGINT) AS n,
       | string_agg(CAST(vec_id AS VARCHAR), ',' ORDER BY vec_id) AS ids
       |FROM asgn JOIN touched USING (cid)
       |GROUP BY 1 ORDER BY 1""".stripMargin
  }

  private[graft] lazy val ivfKmeansOracle: String = {
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
       |  FROM e ORDER BY h, sid LIMIT 8) t),
       |${iter("seed", "a1", "c1")},
       |${iter("c1", "a2", "c2")},
       |ad AS (SELECT e.vec_id AS neighbor_id, e.v, c2.cid, $dist AS d
       | FROM e CROSS JOIN c2),
       |asgn AS (SELECT neighbor_id, v, cid FROM (
       |  SELECT *, row_number() OVER (PARTITION BY neighbor_id ORDER BY d, cid) AS rn FROM ad)
       | WHERE rn = 1),
       |pd AS (SELECT e.vec_id AS query_id, e.v AS qv, c2.cid, $dist AS d
       | FROM e CROSS JOIN c2 WHERE e.vec_id < 5),
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
  }

  /** The oracle map's tail (split only so [[lshIncrementalOracle]] can
    * sit between the two literals without a forward reference).
    */
}
