package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.engine.Shape.MaterializeOps

import graft.functions.TextFunctions.{tokenHash64, tokenHash64Jvm, tokens}

/** Deterministic corpus-curation operators: weighted source mixing and
  * fixed-size carve-outs. Everything is keyed by md5-derived hashes of
  * the document id — NO rand(): the same doc lands in the same
  * mix/sample on every run, every engine, every partition count, which
  * is what makes training-data builds reproducible (and these queries
  * DuckDB-oracle-checkable). The reference has no sampling surface; this
  * extends its scan→filter shape (usr_functions.c:153-186) with
  * hash-derived predicates.
  *
  * Scale: both operators are a map-side filter / one bounded window —
  * no extra shuffle beyond what the caller already has (sourceMix is
  * pipelined into the scan; hashSamplePerGroup is one exchange on the
  * group key with WindowGroupLimit pre-pruning to k per partition).
  */
object Curation {

  // distinct prefixes per operator: if sampling shared the mix key, the
  // per-group "uniform" sample would be exactly the head of the mix
  // survival order — maximally correlated, never representative of
  // mixed-out docs
  private def hashKey(prefix: String, idCol: String) =
    pmod(tokenHash64(concat(lit(prefix), col(idCol).cast("string"))), lit(1000000L))

  /** Deterministic training-order shuffle + sharding: every doc gets a
    * 60-bit md5-derived sort key, a shard (`key mod nShards`), and its
    * exact position within the shard (ordered by key, then id). The
    * standard "global shuffle" a training pipeline runs before writing
    * example files — reproducible (no rand()), and restartable because
    * position is a pure function of the corpus. Scale: one exchange on
    * the shard id; the per-shard position window partitions by shard,
    * whose SIZE is the operator's knob — at corpus scale nShards tracks
    * the output file count (thousands+), so a window partition is one
    * output file's worth of rows, never a constant fraction of the
    * corpus. Writing the shuffled corpus itself needs no positions at
    * all: `repartitionByRange(nShards, key) + sortWithinPartitions`.
    */
  def shuffleShards(docs: DataFrame, idCol: String, nShards: Int): DataFrame = {
    require(nShards >= 1, s"nShards must be >= 1, got $nShards")
    val w = Window.partitionBy("shard").orderBy(col("__h").asc, col(idCol).asc)
    docs
      .withColumn("__h",
        tokenHash64(concat(lit("shuffle_"), col(idCol).cast("string"))))
      .withColumn("shard", pmod(col("__h"), lit(nShards.toLong)).cast("long"))
      .withColumn("pos", row_number().over(w).cast("long"))
      .drop("__h")
  }

  /** Rendezvous (highest-random-weight) shard assignment: each row goes
    * to the shard with the LARGEST md5-derived score
    * h(salt, shard, id) — Thaler & Ravishankar 1998, the consistent
    * placement scheme behind distributed caches and crawl sharding.
    * The property that matters for a 100 TB corpus: growing the fleet
    * from n to n+k shards moves ONLY the rows whose new argmax lands on
    * a NEW shard (expected k/(n+k) of the corpus); a mod-N scheme would
    * reshuffle almost everything. q156 measures exactly that: re-assign
    * under both fleet sizes and count movers per shard — every mover
    * must sit on a shard id >= the old fleet size.
    *
    * Scale: map-only — the argmax folds `nShards` codegen'd md5 scores
    * per row inside one projection; no shuffle, no state, no join
    * against a shard table. Cost is O(nShards) hashes per row, the
    * known HRW trade (fine to ~10³ shards; past that, nest two HRW
    * levels — shard groups then members — for O(√n) hashes, same
    * movement bound).
    *
    * Tie-break (astronomically rare 60-bit ties): larger shard id, via
    * the struct ordering of greatest((h, shard)). A NULL id hashes to
    * NULL for every shard, so all scores tie and the row lands
    * (deterministically) on the largest shard id — filter null ids
    * upstream if they should not shard at all.
    */
  def rendezvousAssign(df: DataFrame, idCol: String, nShards: Int,
                       salt: String, outCol: String = "shard"): DataFrame = {
    require(nShards >= 1, s"nShards must be >= 1, got $nShards")
    val scores = (0 until nShards).map { sId =>
      struct(
        tokenHash64(concat(lit(salt), lit(sId.toString), lit("_"),
          col(idCol).cast("string"))).as("h"),
        lit(sId.toLong).as("s"))
    }
    val best =
      if (scores.size == 1) scores.head else greatest(scores: _*)
    df.withColumn(outCol, best.getField("s"))
  }

  /** Stratified sample with EXACT per-group quotas: selects precisely
    * ceil(frac * |group|) docs per group, the ones with the smallest
    * md5-derived sample keys (ties broken by id) — a deterministic
    * uniform sample whose size is exact, not Bernoulli-approximate like
    * [[sourceMix]]. Scale-safe selection without ranking whole groups:
    * the sample key lives in a bounded 1e6 domain, so a per-(group, key)
    * [[Relational.valueRanks]] table (bounded by the key domain, never
    * |rows|) yields each group's boundary key `k*`; rows below `k*` are
    * a map-side filter against the broadcast thresholds, and only the
    * handful of rows AT `k*` (expected |group|/1e6) are ranked by id to
    * fill the remainder — the same histogram-threshold doctrine as
    * `Relational.topFractionByValue`, with boundary refinement making
    * the quota exact.
    */
  def stratifiedSample(docs: DataFrame, groupCol: String, idCol: String,
                       frac: Double): DataFrame = {
    require(frac > 0 && frac <= 1, s"frac in (0,1], got $frac")
    val keyed = docs.withColumn("__k", hashKey("strat_", idCol))
    // boundary row = the key whose rank interval holds the quota;
    // `below` counts the rows strictly under it
    val thr = Relational.valueRanks(keyed, Seq(groupCol), "__k")
      .withColumn("__quota", ceil(lit(frac) * col("n")).cast("long"))
      .filter(Relational.valueAtRank(col("__quota")))
      .select(col(groupCol), col("__k").as("__kstar"),
        col("below").as("__below"), col("__quota"))
    val joined = keyed.join(broadcast(thr), Seq(groupCol))
    val wB = Window.partitionBy(groupCol).orderBy(col(idCol).asc)
    val boundary = joined.filter(col("__k") === col("__kstar"))
      .withColumn("__rb", row_number().over(wB))
      .filter(col("__rb") <= col("__quota") - col("__below"))
      .drop("__rb")
    joined.filter(col("__k") < col("__kstar"))
      .unionByName(boundary)
      .drop("__k", "__kstar", "__below", "__quota")
  }

  /** Weighted source mixing: keep each row of source s with probability
    * weights(s) (default `defaultWeight`), decided by the doc's hash —
    * a deterministic Bernoulli per document. Weights are exact to 1e-6.
    */
  def sourceMix(docs: DataFrame, sourceCol: String, idCol: String,
                weights: Map[String, Double],
                defaultWeight: Double = 1.0): DataFrame = {
    require((weights.values.toSeq :+ defaultWeight).forall(w => w >= 0 && w <= 1),
      "weights must be in [0, 1]")
    // round, don't truncate: 0.29 * 1e6 = 289999.99999999994 in doubles —
    // toLong would shift the threshold by 1e-6 and drift from an oracle
    // that writes the natural `key < 290000`
    val threshold = weights.foldLeft(lit(math.round(defaultWeight * 1000000.0))) {
      case (acc, (s, w)) =>
        when(col(sourceCol) === s, lit(math.round(w * 1000000.0))).otherwise(acc)
    }
    docs.filter(hashKey("mix_", idCol) < threshold)
  }

  /** Train/eval contamination check: which eval docs share >= `minShared`
    * winnowing fingerprints with some training doc — the benchmark-leak
    * scan every training-data pipeline runs before shipping an eval set.
    * The eval side is small by construction (a carve-out), so its
    * fingerprints broadcast: the train corpus is scanned once, never
    * shuffled. Returns (eval_id, train_id, n_shared).
    */
  def contaminationCheck(train: DataFrame, eval_ : DataFrame,
                         idCol: String, textCol: String,
                         k: Int, w: Int, minShared: Int): DataFrame = {
    require(minShared >= 1, s"minShared must be >= 1, got $minShared")
    val tf = Dedup.winnowFingerprints(train, idCol, textCol, k, w)
    val ef = Dedup.winnowFingerprints(eval_, idCol, textCol, k, w)
      .withColumnRenamed("id", "eval_id")
    tf.join(broadcast(ef), Seq("fp"))
      .groupBy(col("eval_id"), col("id").as("train_id"))
      .agg(count(lit(1)).as("n_shared"))
      .filter(col("n_shared") >= minShared)
  }

  /** PII patterns, restricted to the Java-regex ∩ RE2 common subset (no
    * lookarounds, no \b) so the DuckDB oracle can apply the IDENTICAL
    * pattern strings. Simple by design — production pipelines layer
    * validators on top; the operator shape (codegen'd regexp chain,
    * map-only at any scale) is what matters here.
    */
  val EmailPattern = "[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}"
  val PhonePattern = "[0-9]{3}-[0-9]{3}-[0-9]{4}"
  val Ipv4Pattern = "[0-9]{1,3}\\.[0-9]{1,3}\\.[0-9]{1,3}\\.[0-9]{1,3}"

  /** PII redaction: emails, NNN-NNN-NNNN phones and IPv4 addresses
    * replaced by typed placeholder tokens, in that order (emails first —
    * an email's host part may itself be an IPv4). Pure expression work
    * (codegen'd regexp_replace chain): map-only, pipelined into the
    * scan.
    */
  def redactPii(text: Column): Column =
    regexp_replace(
      regexp_replace(
        regexp_replace(text, EmailPattern, "<EMAIL>"),
        PhonePattern, "<PHONE>"),
      Ipv4Pattern, "<IP>")

  /** Per-type PII match counts, each counted on the text as the previous
    * redaction left it (an email's embedded IPv4 is counted as email,
    * not both) — mirror the CTE chain in the oracle SQL.
    */
  def piiCounts(text: Column): Column = {
    val afterEmail = regexp_replace(text, EmailPattern, "<EMAIL>")
    val afterPhone = regexp_replace(afterEmail, PhonePattern, "<PHONE>")
    struct(
      size(regexp_extract_all(text, lit(EmailPattern), lit(0))).cast("long").as("n_emails"),
      size(regexp_extract_all(afterEmail, lit(PhonePattern), lit(0))).cast("long").as("n_phones"),
      size(regexp_extract_all(afterPhone, lit(Ipv4Pattern), lit(0))).cast("long").as("n_ips"))
  }

  /** Per-document boilerplate ratio: the fraction of a doc's positional
    * token k-grams that are corpus-wide boilerplate (shared by >=
    * `minDocFreq` distinct docs) — the C4-style "repeated span" signal
    * that catches navigation chrome / license headers which per-pair
    * dedup never surfaces. Three bounded shuffles, single pass over the
    * gram UDF, one traversal of the corpus: (gram, doc) occurrence
    * counts; per-gram doc frequency as a groupBy aggregation equi-joined
    * back on the gram key; per-doc roll-up.
    * Skew note: doc frequency is a groupBy (map-side partial counts — a
    * universal gram like "of the" reduces to one long per map task), and
    * the join back on `g` is a plain equi-join AQE's skew-join can
    * split. The earlier window formulation
    * (`count().over(Window.partitionBy("g")))` buffered one row per
    * containing DOC in a single un-splittable window partition — a
    * one-task hot spot at corpus scale.
    */
  def boilerplateRatio(docs: DataFrame, idCol: String, textCol: String,
                       k: Int, minDocFreq: Int): DataFrame = {
    require(k >= 1 && minDocFreq >= 1,
      s"k and minDocFreq must be >= 1, got $k/$minDocFreq")
    // positional k-gram hashes INCLUDING repeats (repetition inside one
    // doc is the point); shorter-than-k docs contribute their whole text
    val gramUdf = udf { tk: Seq[String] =>
      if (tk == null) null
      else if (tk.size < k) Array(tokenHash64Jvm(tk.mkString(" ")))
      else Array.tabulate(tk.size - k + 1)(i =>
        tokenHash64Jvm(tk.slice(i, i + k).mkString(" ")))
    }.asNondeterministic()
    val occ = docs
      .select(col(idCol).as("id"), explode(gramUdf(tokens(col(textCol)))).as("g"))
      .groupBy("g", "id").agg(count(lit(1)).as("occ"))
    val docFreq = occ.groupBy("g").agg(count(lit(1)).as("doc_freq"))
    occ.join(docFreq, Seq("g"))
      .groupBy("id")
      .agg(sum(col("occ")).as("n_grams"),
        sum(when(col("doc_freq") >= minDocFreq, col("occ")).otherwise(lit(0L)))
          .as("n_boiler"))
      .select(col("id"), col("n_grams"), col("n_boiler"),
        round(col("n_boiler").cast("double") / col("n_grams").cast("double"), 4)
          .as("boiler_ratio"))
  }

  /** Linear quality-classifier scoring — the "apply a trained filter
    * model at corpus scale" step of a training-data build (fastText /
    * logistic-regression style, weights frozen at train time). ALL
    * arithmetic is integer: features are milli-scaled BIGINTs and the
    * score is a weighted integer sum, so the verdict is bit-reproducible
    * on every engine and partition count — no sigmoid, no doubles (the
    * monotone sigmoid never changes an argmax/threshold verdict, so
    * inference can stay in the linear domain). Map-only: one projection
    * over the scan, no shuffle, codegen'd end to end.
    *
    * Features (all >= 0, integer `div` semantics identical in Spark and
    * DuckDB's `//` for nonnegative operands):
    *   f_len   = least(n_tokens, 100)            — length, saturated
    *   f_stop  = 1000 * n_stop  div n_tokens     — stopword ratio, milli
    *   f_alpha = 1000 * n_alpha div n_chars      — alphabetic ratio, milli
    *   f_wlen  = n_chars div n_tokens            — mean token span, chars
    * score = wLen*f_len + wStop*f_stop + wAlpha*f_alpha + wWlen*f_wlen;
    * keep = score >= threshold.
    */
  def linearQualityScore(docs: DataFrame, idCol: String, textCol: String,
                         wLen: Long, wStop: Long, wAlpha: Long, wWlen: Long,
                         threshold: Long): DataFrame = {
    // one JVM pass per document: the HOF form (size(filter(tokens,
    // isInCollection)) + a regexp_replace rebuild of the string just to
    // count alpha chars) evaluates interpreted and knocks the whole
    // projection out of codegen — the same measured trade as q125's
    // gram loop (SURVEY §2c perf notes). Semantics replicated exactly
    // for this corpus: trim+split \s+ tokens, exact stopword match,
    // [A-Za-z] chars. Caveat: counts are UTF-16 code units (length/
    // charAt), where the builtin length()/regexp_replace counted
    // codepoints — identical on BMP text (all of /root/testdata), would
    // diverge on astral-plane characters. NULL text returns None so the
    // builtin null propagation (null score, row dropped at the
    // threshold filter) is preserved.
    val stopSet = graft.functions.TextFunctions.StopWords.toSet
    val statsUdf = udf { text: String =>
      if (text == null) Option.empty[(Long, Long, Long, Long)]
      else Some {
        val t = text.trim
        val toks = if (t.isEmpty) Array.empty[String] else t.split("\\s+")
        var nstop = 0L
        toks.foreach(w => if (stopSet(w)) nstop += 1)
        var nalpha = 0L
        var i = 0
        while (i < text.length) {
          val c = text.charAt(i)
          if ((c >= 'A' && c <= 'Z') || (c >= 'a' && c <= 'z')) nalpha += 1
          i += 1
        }
        (toks.length.toLong, nstop, nalpha, text.length.toLong)
      }
    }
    val counts = docs
      .select(col(idCol).as("id"), statsUdf(col(textCol)).as("st"))
      .select(col("id"), col("st._1").as("__ntok"), col("st._2").as("__nstop"),
        col("st._3").as("__nalpha"), col("st._4").as("__nchars"))
    // when-chains WITHOUT otherwise: a null stats struct (null text)
    // yields null features -> null score -> dropped at the threshold,
    // matching the builtins' null propagation. (least() skips nulls and
    // otherwise() would coerce them to 0, so both need the guard.)
    val feats = counts.select(col("id"),
      when(col("__ntok").isNotNull, least(col("__ntok"), lit(100L))).as("f_len"),
      when(col("__ntok") > 0, expr("1000 * __nstop div __ntok"))
        .when(col("__ntok").isNotNull, lit(0L)).as("f_stop"),
      when(col("__nchars") > 0, expr("1000 * __nalpha div __nchars"))
        .when(col("__nchars").isNotNull, lit(0L)).as("f_alpha"),
      when(col("__ntok") > 0, expr("__nchars div __ntok"))
        .when(col("__ntok").isNotNull, lit(0L)).as("f_wlen"))
    feats.withColumn("score",
        lit(wLen) * col("f_len") + lit(wStop) * col("f_stop") +
        lit(wAlpha) * col("f_alpha") + lit(wWlen) * col("f_wlen"))
      .withColumn("keep", col("score") >= lit(threshold))
  }

  /** Unigram-LM surprisal scoring — the "perplexity filter" of a
    * training-data build (CCNet/Gopher-style: score each document by
    * how surprising its tokens are under a corpus-level language model),
    * in ALL-INTEGER arithmetic so the score is bit-reproducible across
    * engines: a token with corpus count c out of N total costs
    * floor(log2(N div c)) bits — computed as length(bin(x)) - 1, which
    * Spark's `bin` and DuckDB's `bin` render identically — and the
    * per-doc score is the sum over token OCCURRENCES. High bits/token =
    * rare-vocabulary doc (or gibberish); low = boilerplate. A real
    * KL/float LM refines the ranking but breaks cross-engine hash
    * equality; the integer-log2 model preserves the filter's verdict
    * structure.
    *
    * Scale shape (the q89 template): ONE corpus scan builds per-doc
    * occurrence counts (`occ`, map-side partial agg); the vocabulary
    * table derives from `occ` (never a second scan); the cost join is
    * occ-vs-vocab on the token — plain equi-join, AQE-skew-splittable;
    * the 1-row total broadcasts. Join volume is distinct (doc, token)
    * pairs, not token occurrences.
    */
  def unigramSurprisal(docs: DataFrame, idCol: String, textCol: String): DataFrame = {
    val tok = docs.select(col(idCol).as("id"),
      explode(tokens(col(textCol))).as("w"))
    val occ = tok.groupBy("id", "w").agg(count(lit(1)).as("occ"))
    val vocab = occ.groupBy("w").agg(sum("occ").as("cnt"))
    val total = vocab.agg(sum("cnt").as("n"))
    val bits = (length(bin(expr("n div cnt"))) - 1).cast("long")
    occ.join(vocab, Seq("w"))
      .join(broadcast(total))
      .select(col("id"), col("occ"), bits.as("b"))
      .groupBy("id")
      .agg(sum(col("occ")).as("n_tokens"),
        sum(col("occ") * col("b")).as("surprisal_bits"))
      .withColumn("bits_per_1k", expr("(surprisal_bits * 1000) div n_tokens"))
  }

  /** Deterministic k-per-group sample: the k docs with the smallest
    * md5-derived keys in each group — a uniform-without-replacement
    * sample that is stable across runs (the standard trick for carving
    * fixed eval sets out of a moving corpus).
    */
  def hashSamplePerGroup(docs: DataFrame, groupCol: String, idCol: String,
                         k: Int): DataFrame = {
    require(k >= 1, s"k must be >= 1, got $k")
    val w = Window.partitionBy(groupCol)
      .orderBy(hashKey("sample_", idCol).asc, col(idCol).asc)
    docs.withColumn("__rn", row_number().over(w))
      .filter(col("__rn") <= k)
      .drop("__rn")
  }

  /** Probability-proportional-to-size Bernoulli sampling with
    * Horvitz-Thompson weights — the survey-sampling primitive behind
    * "sample big documents more often but reweight so corpus statistics
    * stay unbiased". Row i is kept iff
    * `hash_i mod 1e6 < p_num_i = min(1e6, size_i * ratePerMillion)`,
    * i.e. inclusion probability min(1, size_i·rate). The hash is the
    * md5-derived [[tokenHash64]] over `"pps_" + id`, so the sample is
    * deterministic, reproducible across engines/runs, and independent
    * of partitioning; the attached `ht_size = size·1e6 div p_num`
    * makes `sum(ht_size)` an (integer-floor) Horvitz-Thompson estimate
    * of the population size total. Everything is Long arithmetic —
    * no float in the inclusion rule or the weight, so the DuckDB
    * oracle reproduces the sample bit-exactly.
    *
    * Scale shape: one map-only pass (filter + projection, no shuffle,
    * no state); the decision needs only the row itself, so it
    * pipelines into whatever scan precedes it at any corpus size.
    */
  def ppsSample(df: DataFrame, idCol: String, sizeCol: String,
                ratePerMillion: Long): DataFrame = {
    require(ratePerMillion > 0, s"rate must be positive, got $ratePerMillion")
    df.withColumn("p_num",
        least(lit(1000000L), col(sizeCol).cast("long") * ratePerMillion))
      .withColumn("__h",
        pmod(tokenHash64(concat(lit("pps_"), col(idCol).cast("string"))),
          lit(1000000L)))
      .filter(col("__h") < col("p_num"))
      .withColumn("ht_size",
        expr(s"CAST($sizeCol AS BIGINT) * 1000000 DIV p_num"))
      .drop("__h")
  }

  /** Priority sampling (Duffield, Lund & Thorup, JACM 2007) — the
    * weighted bottom-k every "sample big documents proportionally"
    * request wants when [[ppsSample]]'s expected-rate form is the
    * wrong fit and an EXACT sample size k is required: each row draws
    * the deterministic 60-bit coin u = tokenHash64(salt‖id) and the
    * sample is the k smallest u div w (equivalent to the paper's
    * top-k by w∕u — positive w flips the order under reciprocal —
    * with the floor division and (key, id) tie-break making the
    * selection integer-exact and engine-replayable). Heavier rows
    * draw smaller keys in distribution, so inclusion probability
    * rises with weight; the same corpus yields the same sample on
    * every run and engine — reproducible training-data selection.
    *
    * Scale shape: map-only key computation + TakeOrdered(k) — no
    * shuffle, no global sort; the k-row result is the only thing that
    * ever leaves the executors. Returns (rank, idCol, weight, pkey).
    */
  def prioritySample(df: DataFrame, idCol: String, weightCol: String,
                     k: Int, salt: String = "ps_"): DataFrame = {
    require(k >= 1, s"k must be >= 1, got $k")
    df.select(col(idCol), col(weightCol).cast("long").as("weight"))
      .filter(col("weight") >= 1L)
      .withColumn("__u",
        tokenHash64(concat(lit(salt), col(idCol).cast("string"))))
      .withColumn("pkey", expr("__u div weight"))
      .orderBy(col("pkey").asc, col(idCol).asc)
      .limit(k)
      .withColumn("rank",
        row_number().over(Window.orderBy(col("pkey").asc, col(idCol).asc)))
      .select(col("rank").cast("long"), col(idCol), col("weight"), col("pkey"))
  }

  /** Token-budget corpus selection — the data-selection step of a
    * training build: rank documents by a score (descending, doc id
    * breaks ties) and keep the maximal prefix whose INCLUSIVE running
    * token total fits `budget`. Because the running total is monotone,
    * `cum_tokens <= budget` IS that prefix — no driver-side cursor, no
    * iterative trimming. Scores should be integers (the q114 linear
    * model is): integer comparison makes the order — and therefore the
    * selected set — bit-reproducible across engines, which is what lets
    * a DuckDB window cumsum oracle-check the result exactly.
    *
    * The global running sum is a DISTRIBUTED prefix sum, not a
    * single-partition window: rows range-partition by (score desc, id),
    * each partition computes its local running total in one pass, the
    * driver collects ONE ROW PER PARTITION (the bounded-collect class —
    * Chunking.orderedOffsets' precedent) to turn partition totals into
    * base offsets, and a broadcast join adds them back. A naive
    * `Window.orderBy(...)` with no partitionBy funnels the corpus
    * through one task — the shape that cannot survive scale-up.
    *
    * Returns (id, score, n_tokens, cum_tokens) for selected documents.
    */
  def budgetSelect(scored: DataFrame, idCol: String, scoreCol: String,
                   tokensCol: String, budget: Long,
                   numPartitions: Int = 32): DataFrame = {
    require(budget >= 0, s"budget must be >= 0, got $budget")
    require(numPartitions >= 1, s"numPartitions must be >= 1, got $numPartitions")
    val spark = scored.sparkSession
    import spark.implicits._
    val local = scored
      .select(col(idCol).cast("long"), col(scoreCol).cast("long"),
        col(tokensCol).cast("long"))
      .as[(Long, Long, Long)]
      .repartitionByRange(numPartitions, col(scoreCol).desc, col(idCol).asc)
      .sortWithinPartitions(col(scoreCol).desc, col(idCol).asc)
      .mapPartitions { it =>
        val pid = org.apache.spark.TaskContext.getPartitionId()
        var running = 0L
        it.map { case (id, s, n) =>
          val before = running
          running += n
          (pid, id, s, n, before)
        }
      }
      .toDF("pid", "id", "score", "n_tokens", "local_before")
      // pin the partition pass: the totals collect and the offset join
      // must see the SAME computation (and partition ids), not re-runs
      .materialized
    val totals = local.groupBy("pid")
      .agg(max(col("local_before") + col("n_tokens")).as("total"))
      .collect()
      .map(r => (r.getInt(0), r.getLong(1)))
      .sortBy(_._1)
    var base = 0L
    val bases = totals.map { case (pid, total) =>
      val b = base; base += total; (pid, b)
    }
    local
      .join(broadcast(bases.toSeq.toDF("pid", "base")), Seq("pid"))
      .select(col("id"), col("score"), col("n_tokens"),
        (col("base") + col("local_before") + col("n_tokens")).as("cum_tokens"))
      .filter(col("cum_tokens") <= budget)
  }

  /** floor(log2(x)) for x >= 1 (0 for x = 0) — the all-integer
    * surprisal bit count shared with [[unigramSurprisal]]; identical in
    * DuckDB as length(bin(x)) - 1.
    */
  private def bits(x: Column): Column = (length(bin(x)) - 1).cast("long")

  /** DSIR-style data selection (Xie et al., arXiv:2302.03169): score
    * every document by an importance weight between a TARGET
    * distribution (e.g. one language or a curated domain) and the RAW
    * corpus, over hashed bigram features, and keep the top `topM`.
    *
    * DSIR's weight is log p_target(f) - log p_raw(f) per feature
    * occurrence; here both log-probabilities are floor-log2 integer
    * bits (add-one smoothed), so scores are exact Longs and the
    * selected set is bit-reproducible across engines. Feature space is
    * hashed to `nBuckets` buckets — the weight table is BOUNDED at
    * nBuckets rows no matter the corpus, which is the paper's own trick
    * for web scale and what makes the scoring join a broadcast: two
    * hash aggs over a bounded key domain, one broadcast join back to
    * the feature stream, one per-doc agg, TakeOrdered for the top-M.
    * Docs with < 2 tokens have no features and are not scored.
    * Returns (id, n_feat, score), score descending, id tiebreak.
    */
  def dsirSelect(docs: DataFrame, idCol: String, textCol: String,
                 isTarget: Column, nBuckets: Int, topM: Int): DataFrame = {
    require(nBuckets >= 2, s"nBuckets must be >= 2, got $nBuckets")
    val bucket = udf { (toks: Seq[String]) =>
      if (toks == null || toks.size < 2) Array.empty[Long]
      else Array.tabulate(toks.size - 1)(i =>
        tokenHash64Jvm("dsir_" + toks(i) + " " + toks(i + 1)) % nBuckets)
    }
    val feat = docs.select(col(idCol).as("id"), isTarget.as("tgt"),
      explode(bucket(tokens(col(textCol)))).as("b"))
    // ONE agg yields both corpus and target counts per bucket
    val counts = feat.groupBy("b").agg(
      count(lit(1)).as("cnt_raw"),
      sum(when(col("tgt"), 1L).otherwise(0L)).as("cnt_tgt"))
    val totals = counts.agg(sum("cnt_raw").as("n_raw"), sum("cnt_tgt").as("n_tgt"))
    val weights = counts.join(broadcast(totals))
      .select(col("b"),
        (bits(expr("n_raw div (cnt_raw + 1)"))
          - bits(expr("n_tgt div (cnt_tgt + 1)"))).as("wt"))
    feat.join(broadcast(weights), Seq("b"))
      .groupBy("id")
      .agg(count(lit(1)).as("n_feat"), sum("wt").as("score"))
      .orderBy(col("score").desc, col("id"))
      .limit(topM)
  }

  /** Temperature-weighted group sampling (the multilingual p^alpha
    * rebalancing of Conneau & Lample's XLM, alpha = 0.5): group l gets
    * a sampling budget proportional to sqrt(n_l), flattening the head
    * groups so low-resource ones survive. Total kept ≈ total /
    * `budgetDivisor`.
    *
    * Rates are integers: s_l = floor(sqrt(n_l)·1000) (IEEE sqrt is
    * correctly rounded — identical in any engine), and the per-group
    * keep threshold is BigInt arithmetic on (T·s_l·10^6) / (S·n_l),
    * computed DRIVER-SIDE from the collected group histogram (bounded:
    * one row per group — the #langs/#sources class, like sourceMix's
    * weight map) and applied as a broadcast when-chain over the same
    * md5 coin every sampler here uses. Map-only over the corpus.
    * Returns kept docs (id, group, rate_ppm) ordered by id.
    */
  def temperatureSample(docs: DataFrame, idCol: String, groupCol: String,
                        budgetDivisor: Long = 2L): DataFrame = {
    require(budgetDivisor >= 1, s"budgetDivisor must be >= 1, got $budgetDivisor")
    val hist = docs.groupBy(groupCol).agg(count(lit(1)).as("n"))
      .collect().map(r => (r.getString(0), r.getLong(1)))
    val total = hist.map(_._2).sum
    val t = total / budgetDivisor
    val sl = hist.map { case (g, n) =>
      (g, n, math.floor(math.sqrt(n.toDouble) * 1000.0).toLong)
    }
    val s = sl.map(_._3).sum
    val rates: Map[String, Long] = sl.map { case (g, n, sv) =>
      g -> (BigInt(t) * sv * 1000000L / (BigInt(s) * n)).toLong.min(1000000L)
    }.toMap
    val rate = rates.foldLeft(lit(0L)) { case (acc, (g, r)) =>
      when(col(groupCol) === g, lit(r)).otherwise(acc)
    }
    docs.select(col(idCol).as("id"), col(groupCol), rate.as("rate_ppm"))
      .filter(hashKey("tmix_", "id") < col("rate_ppm"))
  }

  /** Per-document bigram surprisal with stupid backoff (Brants et al.
    * 2007, integer-bits form): the corpus md5-splits into a TRAIN half
    * (bigram + unigram LM counts) and an EVAL half (scored). A seen
    * bigram costs floor(log2(c(w1)/c(w1 w2))) bits; an unseen one backs
    * off to the unigram: `backoffBits` penalty + floor(log2(N/(c(w2)+1))).
    * All counts are train-side Longs, so the score is exact — the
    * cross-engine-safe stand-in for the float KN/KenLM perplexity
    * filters public pipelines use (CCNet buckets corpora by exactly
    * this kind of LM score).
    *
    * Scale: LM tables are hash aggs on token keys; scoring is two
    * shuffled equi-joins (bigram key, unigram key) — vocabulary-bounded
    * build sides, corpus-linear probe side. Eval docs with < 2 tokens
    * have no bigrams and are not scored. Returns
    * (id, n_bigrams, total_bits, bits_per_1k) for eval docs.
    */
  def bigramSurprisal(docs: DataFrame, idCol: String, textCol: String,
                      trainPpm: Long = 800000L,
                      backoffBits: Long = 3L): DataFrame = {
    val base = docs.select(col(idCol).as("id"),
      (hashKey("bglm_", idCol) < trainPpm).as("is_train"),
      tokens(col(textCol)).as("toks"))
    val pairUdf = udf { (toks: Seq[String]) =>
      if (toks == null || toks.size < 2) Array.empty[(String, String)]
      else Array.tabulate(toks.size - 1)(i => (toks(i), toks(i + 1)))
    }
    val pairs = base
      .select(col("id"), col("is_train"), explode(pairUdf(col("toks"))).as("p"))
      .select(col("id"), col("is_train"),
        col("p._1").as("w1"), col("p._2").as("w2"))
    val uni = base.filter(col("is_train"))
      .select(explode(col("toks")).as("w"))
      .groupBy("w").agg(count(lit(1)).as("cnt"))
    val n = uni.agg(sum("cnt").as("n"))
    val bi = pairs.filter(col("is_train"))
      .groupBy("w1", "w2").agg(count(lit(1)).as("cnt_bi"))
    val scored = pairs.filter(!col("is_train"))
      .join(bi, Seq("w1", "w2"), "left")
      .join(uni.select(col("w").as("w1"), col("cnt").as("cnt_w1")), Seq("w1"), "left")
      .join(uni.select(col("w").as("w2"), col("cnt").as("cnt_w2")), Seq("w2"), "left")
      .join(broadcast(n))
      .select(col("id"),
        when(col("cnt_bi").isNotNull, bits(expr("cnt_w1 div cnt_bi")))
          .otherwise(lit(backoffBits)
            + bits(expr("n div (coalesce(cnt_w2, 0) + 1)"))).as("cost"))
    scored.groupBy("id")
      .agg(count(lit(1)).as("n_bigrams"), sum("cost").as("total_bits"))
      .withColumn("bits_per_1k", expr("(total_bits * 1000) div n_bigrams"))
  }

  /** In-engine linear-model TRAINING via exact normal equations — the
    * trainer behind frozen-weight scorers like [[linearQualityScore]]:
    * one distributed aggregation computes the EXACT integer sufficient
    * statistics (X'X and X'y over [1, x1, x2, x3]), and Cramer's rule
    * in driver-side BigInt solves them as exact rationals, reported as
    * floor(det_j·10⁶/det) ppm weights. No float accumulates anywhere:
    * the weights are a deterministic function of the corpus, which is
    * what lets a DuckDB oracle re-derive them through a generated
    * 24-term determinant expansion in HUGEINT.
    *
    * Scale: the heavy half is ONE map-side-combined agg (14 Long sums —
    * products fit Long up to ~10⁸ docs at these feature magnitudes;
    * widen to DECIMAL(38,0) beyond); the solve is O(1) on 14 numbers —
    * the bounded-collect class. Returns the stats row; see
    * [[linearFitSolve]].
    */
  def linearFitStats(docs: DataFrame, textCol: String): DataFrame = {
    import graft.functions.TextFunctions.stopwordCount
    // a null text would count toward n but contribute null (ignored)
    // feature sums — inconsistent normal equations; drop the row on
    // BOTH engine and oracle sides
    val base = docs.filter(col(textCol).isNotNull).select(
      size(tokens(col(textCol))).cast("long").as("x1"),
      stopwordCount(col(textCol)).cast("long").as("x2"),
      length(regexp_replace(col(textCol), "[^A-Za-z]", "")).cast("long").as("x3"),
      length(col(textCol)).cast("long").as("y"))
    base.agg(
      count(lit(1)).as("n"),
      sum("x1").as("s1"), sum("x2").as("s2"), sum("x3").as("s3"),
      sum(expr("x1*x1")).as("s11"), sum(expr("x1*x2")).as("s12"),
      sum(expr("x1*x3")).as("s13"),
      sum(expr("x2*x2")).as("s22"), sum(expr("x2*x3")).as("s23"),
      sum(expr("x3*x3")).as("s33"),
      sum("y").as("sy"), sum(expr("x1*y")).as("s1y"),
      sum(expr("x2*y")).as("s2y"), sum(expr("x3*y")).as("s3y"))
  }

  /** Cramer solve of [[linearFitStats]]'s normal equations in exact
    * BigInt rationals; weight j = floor(det(M_j)·10⁶ / det(M)) where
    * M_j replaces column j with X'y (truncating division — the oracle's
    * HUGEINT `//` truncates identically). Requires det(M) != 0 (a
    * collinear feature set has no unique least-squares solution).
    */
  def linearFitSolve(stats: org.apache.spark.sql.Row): Seq[(String, Long)] = {
    def g(i: Int): BigInt = BigInt(stats.getLong(i))
    val (n, s1, s2, s3) = (g(0), g(1), g(2), g(3))
    val (s11, s12, s13, s22, s23, s33) = (g(4), g(5), g(6), g(7), g(8), g(9))
    val (sy, s1y, s2y, s3y) = (g(10), g(11), g(12), g(13))
    val m = Array(
      Array(n, s1, s2, s3),
      Array(s1, s11, s12, s13),
      Array(s2, s12, s22, s23),
      Array(s3, s13, s23, s33))
    val b = Array(sy, s1y, s2y, s3y)
    def det(a: Array[Array[BigInt]]): BigInt =
      (0 to 3).permutations.map { p =>
        val sign = BigInt(p.zipWithIndex.map { case (v, i) =>
          p.drop(i + 1).count(_ < v)
        }.sum match { case inv => if (inv % 2 == 0) 1 else -1 })
        sign * (0 to 3).map(i => a(i)(p(i))).product
      }.sum
    val d = det(m)
    require(d != 0, "collinear features: det(X'X) = 0")
    Seq("intercept", "w_ntok", "w_nstop", "w_nalpha").zipWithIndex.map {
      case (name, j) =>
        val mj = m.map(_.clone())
        (0 to 3).foreach(i => mj(i)(j) = b(i))
        name -> ((det(mj) * 1000000) / d).toLong
    }
  }

  /** CCNet-style perplexity bucketing (Wenzek et al. 2020): score every
    * document with the integer-bits unigram LM ([[unigramSurprisal]]),
    * cut the corpus into head/middle/tail TERCILES of bits-per-1k-tokens
    * (lower surprisal = head, the bucket CCNet keeps), and report the
    * per-source bucket mix — the composition dashboard for an LM-filtered
    * corpus build.
    *
    * Tercile thresholds are the integer bits_per_1k values at ranks
    * ceil(n/3) and ceil(2n/3): selected from the VALUE-DOMAIN
    * [[Relational.valueRanks]] table into a 1-row frame and applied as
    * a broadcast when-chain, so building the plan runs only the
    * `scored` checkpoint and no global sort of the corpus happens
    * anywhere. Returns
    * (src, bucket, n_docs, mean_bits_milli) ordered by (src, bucket).
    */
  def perplexityBuckets(docs: DataFrame, idCol: String, textCol: String,
                        groupCol: String): DataFrame = {
    val scored = unigramSurprisal(docs, idCol, textCol)
      .select(col("id"), col("bits_per_1k"))
      .materialized // read by the threshold scan AND the output agg
    def atRank(rank: String, out: String) = max(when(
      Relational.valueAtRank(expr(rank)), col("bits_per_1k"))).as(out)
    val thresholds = Relational.valueRanks(scored, Nil, "bits_per_1k",
        guard = Some(Relational.RankGuard("perplexityBuckets",
          "coarsen bits_per_1k to a bounded domain first")))
      .agg(atRank("(n + 2) div 3", "__t1"), atRank("(2 * n + 2) div 3", "__t2"))
    val bucket = when(col("bits_per_1k") <= col("__t1"), "head")
      .when(col("bits_per_1k") <= col("__t2"), "middle")
      .otherwise("tail")
    scored.crossJoin(broadcast(thresholds))
      .join(docs.select(col(idCol).as("id"), col(groupCol).as("src")), Seq("id"))
      .select(col("src"), bucket.as("bucket"), col("bits_per_1k"))
      .groupBy("src", "bucket")
      .agg(count(lit(1)).as("n_docs"), sum("bits_per_1k").as("__sum"))
      .withColumn("mean_bits_milli", expr("(__sum * 1000) div n_docs"))
      .drop("__sum")
  }

  /** Per-source token-frequency CONCENTRATION (Gini over the token
    * count distribution): how much of a source's volume sits in few
    * tokens — the Zipf-skew dial a corpus monitor tracks (a template-
    * generated source concentrates; a diverse one flattens). Exact
    * integer ppm via the rank-sum identity G = (2·Σᵢ i·xᵢ − (n+1)·Σx)
    * / (n·Σx) with xᵢ ascending: within a block of TIED values the
    * rank-set is fixed, so Σ i·xᵢ per block = v·(m·cum_prev +
    * m(m+1)/2) — no tie-ordering decision exists, which is what makes
    * the statistic hash-comparable. State: the per-source
    * [[Relational.valueRanks]] table of token counts (cnt = m,
    * below = cum_prev), one bounded ordered window.
    * Returns (src, n_tokens, n_vocab, gini_ppm) — 0 = uniform,
    * →1e6 = one token dominates.
    */
  def tokenGini(docs: DataFrame, idCol: String, textCol: String,
                groupCol: String): DataFrame = {
    val counts = docs
      .select(col(groupCol).as("src"), explode(tokens(col(textCol))).as("w"))
      .groupBy("src", "w").agg(count(lit(1)).as("c"))
    // per count value c: cnt = its multiplicity m, below = the tokens
    // with a smaller count
    val s = Relational.valueRanks(counts, Seq("src"), "c")
      .groupBy("src")
      .agg(sum(col("c") * col("cnt")).as("n_tokens"),
        sum(col("cnt")).as("n_vocab"),
        sum(col("c") * (col("cnt") * col("below")
          + expr("(cnt * (cnt + 1)) div 2"))).as("__ranksum"))
    s.select(col("src"), col("n_tokens"), col("n_vocab"),
      expr("((2 * __ranksum - (n_vocab + 1) * n_tokens) * 1000000)" +
        " div (n_vocab * n_tokens)").as("gini_ppm"))
  }

  /** Per-source distribution drift: how far each source's token
    * distribution sits from the corpus-wide one, as the gap between
    * cross-entropy (source tokens coded with the GLOBAL distribution)
    * and self-entropy (coded with the source's own) — the integer-bits
    * KL-divergence proxy. The mixture-health monitor a training build
    * runs per ingest: a source whose drift jumps changed its content.
    *
    * Everything is exact Long arithmetic on the [[bits]] code lengths,
    * so per-1k-token rates hash-compare across engines. (Unlike true
    * KL it can go slightly negative on near-identical distributions —
    * floor-log2 quantization; the SIGNAL is the per-source ordering.)
    * Scale: one (source, token) hash agg, a token-keyed derivation of
    * the global table from it (no second corpus scan), a vocabulary-
    * bounded join, one per-source agg.
    * Returns (source, n_tokens, self_bits_per_1k, cross_bits_per_1k,
    * drift_per_1k) ordered by source.
    */
  def sourceDrift(docs: DataFrame, idCol: String, textCol: String,
                  groupCol: String): DataFrame = {
    val sc = docs
      .select(col(groupCol).as("src"), explode(tokens(col(textCol))).as("w"))
      .groupBy("src", "w").agg(count(lit(1)).as("cnt_s"))
    val ns = sc.groupBy("src").agg(sum("cnt_s").as("n_s"))
    val gc = sc.groupBy("w").agg(sum("cnt_s").as("cnt_g"))
    val n = gc.agg(sum("cnt_g").as("n"))
    sc.join(broadcast(ns), Seq("src"))
      .join(gc, Seq("w"))
      .join(broadcast(n))
      .groupBy("src")
      .agg(
        max(col("n_s")).as("n_tokens"),
        sum(col("cnt_s") * bits(expr("n_s div cnt_s"))).as("self_bits"),
        sum(col("cnt_s") * bits(expr("n div cnt_g"))).as("cross_bits"))
      .select(col("src"), col("n_tokens"),
        expr("(self_bits * 1000) div n_tokens").as("self_bits_per_1k"),
        expr("(cross_bits * 1000) div n_tokens").as("cross_bits_per_1k"),
        expr("((cross_bits - self_bits) * 1000) div n_tokens").as("drift_per_1k"))
  }

  /** Multinomial Naive Bayes text classifier trained AND evaluated
    * in-engine, with log2-QUANTIZED likelihoods so the whole train→
    * predict→confusion round trip is integer-exact and DuckDB-oracle-
    * checkable: cost(d, c) = prior_bits(c) + Σ_w n_w(d) ·
    * floor_log2((tot_c + V) div (cnt_{w,c} + 1)) — the add-one-smoothed
    * inverse probability in bits (the q152 idf-bits trick applied to
    * class-conditional likelihoods). Predicted class = argmin cost,
    * ties to the lexicographically first class. Docs md5-split into
    * train/eval like [[bigramSurprisal]]; zero-token eval docs have no
    * evidence and are excluded (none exist in this corpus).
    *
    * Scale: the model is one (class, token) hash agg over the train
    * half — vocabulary-bounded, the same shape as [[sourceDrift]]; the
    * class table (priors, totals, V) is a handful of rows and
    * broadcast. Scoring joins each eval token ONCE per class (|classes|
    * is a small constant), so the eval-side shuffle is |eval tokens| ×
    * |classes| — linear in the corpus. Returns the confusion matrix
    * (actual, predicted, n_docs).
    */
  def naiveBayesConfusion(docs: DataFrame, idCol: String, textCol: String,
                          classCol: String, trainPpm: Long = 800000L)
      : DataFrame = {
    val w = Window.partitionBy("id").orderBy(col("cost").asc, col("cls").asc)
    naiveBayesScores(docs, idCol, textCol, classCol, trainPpm)
      .withColumn("rn", row_number().over(w)).filter(col("rn") === 1)
      .groupBy(col("actual"), col("cls").as("predicted"))
      .agg(count(lit(1)).cast("long").as("n_docs"))
  }

  /** Confidence calibration for [[naiveBayesConfusion]]'s classifier:
    * does a wider decision margin actually mean a more accurate
    * prediction? Per eval doc, margin = cost(runner-up) − cost(argmin)
    * in quantized bits (≥ 0, integer by construction); docs are banded
    * on floor_log2(margin) (band 0 = tied costs) and each band reports
    * n_docs, n_correct and accuracy in exact ppm — the table that
    * decides whether the margin is usable as an acceptance threshold.
    *
    * Scale: the scoring plan is [[naiveBayesConfusion]]'s verbatim;
    * the margin adds one lead() inside the same per-doc window (state
    * = |classes| rows per doc), and the report is a ≤64-row band agg.
    */
  def naiveBayesCalibration(docs: DataFrame, idCol: String, textCol: String,
                            classCol: String, trainPpm: Long = 800000L)
      : DataFrame = {
    val w = Window.partitionBy("id").orderBy(col("cost").asc, col("cls").asc)
    naiveBayesScores(docs, idCol, textCol, classCol, trainPpm)
      .withColumn("rn", row_number().over(w))
      .withColumn("next_cost", lead(col("cost"), 1).over(w))
      .filter(col("rn") === 1 && col("next_cost").isNotNull)
      .withColumn("margin", col("next_cost") - col("cost"))
      .withColumn("band",
        when(col("margin") <= 0L, lit(0L))
          .otherwise(length(bin(col("margin"))).cast("long")))
      .groupBy("band")
      .agg(count(lit(1)).as("n_docs"),
        sum(when(col("cls") === col("actual"), 1L).otherwise(0L))
          .as("n_correct"))
      .select(col("band"), col("n_docs").cast("long").as("n_docs"),
        col("n_correct").cast("long").as("n_correct"),
        expr("n_correct * 1000000 div n_docs").as("acc_ppm"))
      .orderBy("band")
  }

  /** Shared scoring frame for [[naiveBayesConfusion]] /
    * [[naiveBayesCalibration]]: (id, actual, cls, cost) for every
    * eval doc × class.
    */
  private def naiveBayesScores(docs: DataFrame, idCol: String,
                               textCol: String, classCol: String,
                               trainPpm: Long): DataFrame = {
    val base = docs.select(col(idCol).cast("long").as("id"),
      col(classCol).as("actual"),
      (hashKey("nb_", idCol) < trainPpm).as("is_train"),
      tokens(col(textCol)).as("toks"))
    val cnt = base.filter(col("is_train"))
      .select(col("actual").as("cls"), explode(col("toks")).as("w"))
      .groupBy("cls", "w").agg(count(lit(1)).as("cnt"))
    val vocab = cnt.select("w").distinct().agg(count(lit(1)).as("v"))
    val totc = cnt.groupBy("cls").agg(sum("cnt").as("tot_c"))
    val ndoc = base.filter(col("is_train"))
      .groupBy(col("actual").as("cls")).agg(count(lit(1)).as("nd_c"))
    val stats = ndoc.agg(count(lit(1)).as("k_cls"), sum("nd_c").as("n_train"))
    val classes = totc.join(ndoc, Seq("cls"))
      .crossJoin(vocab).crossJoin(stats)
      .select(col("cls"), col("tot_c"), col("v"),
        bits(expr("(n_train + k_cls) div (nd_c + 1)")).as("prior_bits"))
    val evalTok = base.filter(!col("is_train"))
      .select(col("id"), col("actual"), explode(col("toks")).as("w"))
      .groupBy("id", "actual", "w").agg(count(lit(1)).as("n_w"))
    evalTok.crossJoin(broadcast(classes))
      .join(cnt, Seq("cls", "w"), "left")
      .groupBy("id", "actual", "cls")
      .agg((max(col("prior_bits")) +
        sum(col("n_w") * bits(expr("(tot_c + v) div (coalesce(cnt, 0) + 1)"))))
        .as("cost"))
  }

  /** Gopher-style rule filter (Rae et al. 2021 §A1.1), thresholds scaled
    * to this corpus's [a-z ] word distribution: a document is dropped if
    * any rule fires — word count outside [minWords, maxWords], mean word
    * length (exact milli-chars, integer div) outside [minMwl, maxMwl],
    * any word longer than maxWordLen, unique-word ratio below
    * minUniqueMilli (the repetition rule), or fewer than minStopDistinct
    * DISTINCT stop words present (the "is this natural prose" rule —
    * on this corpus it keys on the English function words, so it doubles
    * as a weak language screen). All arithmetic is integer, so the
    * per-source report hash-matches the oracle exactly.
    *
    * Scale: one token explode + per-doc hash agg (map-side combined),
    * a left join back to the doc table (docs with zero tokens keep a
    * row and fail the word-count rule, not vanish), then a per-source
    * hash agg. Nothing is quadratic; the explode's shuffle is bounded
    * by token volume, same as every other text-analysis operator here.
    *
    * Returns per source: n_docs, per-rule flag counts, n_pass,
    * pass_ppm — the corpus-quality dashboard a curation run reads
    * before choosing mixing weights.
    */
  def gopherRules(docs: DataFrame, idCol: String, textCol: String,
                  sourceCol: String,
                  minWords: Int = 25, maxWords: Int = 100,
                  minMwlMilli: Long = 4200L, maxMwlMilli: Long = 4900L,
                  maxWordLen: Int = 10, minUniqueMilli: Long = 350L,
                  minStopDistinct: Int = 2,
                  stopWords: Seq[String] = Seq("the", "a", "of", "and", "to"))
      : DataFrame = {
    val tok = docs.select(col(idCol).cast("long").as("id"),
      explode(tokens(col(textCol))).as("w"))
    val perDoc = tok.groupBy("id").agg(
      count(lit(1)).as("n"),
      sum(length(col("w"))).as("sl"),
      max(length(col("w"))).as("mx"),
      countDistinct(col("w")).as("nd"),
      countDistinct(when(col("w").isin(stopWords: _*), col("w"))).as("stp"))
    val flagged = docs.select(col(idCol).cast("long").as("id"),
        col(sourceCol).as("src"))
      .join(perDoc, Seq("id"), "left")
      .select(col("src"),
        when(coalesce(col("n"), lit(0L)) < minWords ||
             coalesce(col("n"), lit(0L)) > maxWords, 1L).otherwise(0L)
          .as("f_words"),
        when(col("n").isNull ||
             expr("sl * 1000 div n") < minMwlMilli ||
             expr("sl * 1000 div n") > maxMwlMilli, 1L).otherwise(0L)
          .as("f_mwl"),
        when(coalesce(col("mx"), lit(0L)) > maxWordLen, 1L).otherwise(0L)
          .as("f_longword"),
        when(col("n").isNull ||
             expr("nd * 1000 div n") < minUniqueMilli, 1L).otherwise(0L)
          .as("f_unique"),
        when(coalesce(col("stp"), lit(0L)) < minStopDistinct, 1L).otherwise(0L)
          .as("f_stop"))
    flagged.groupBy("src").agg(
        count(lit(1)).cast("long").as("n_docs"),
        sum("f_words").cast("long").as("f_words"),
        sum("f_mwl").cast("long").as("f_mwl"),
        sum("f_longword").cast("long").as("f_longword"),
        sum("f_unique").cast("long").as("f_unique"),
        sum("f_stop").cast("long").as("f_stop"),
        sum(when(col("f_words") + col("f_mwl") + col("f_longword") +
                 col("f_unique") + col("f_stop") === 0, 1L).otherwise(0L))
          .cast("long").as("n_pass"))
      .withColumn("pass_ppm", expr("n_pass * 1000000 div n_docs"))
  }

  /** Canonical URL — the web-crawl dedup key (CCNet / C4 lineage: a
    * crawl sees the same page under many surface forms, and URL-level
    * dedup runs BEFORE any content hash because it needs no fetch).
    * Normalization rules, each a deliberate crawl-dedup convention:
    * scheme and host lowercased; a leading `www.` stripped; the
    * scheme's default port (`:443` https, `:80` http) dropped, any
    * other port kept; the fragment dropped (never sent to the server);
    * duplicate path slashes collapsed and a trailing slash stripped
    * (empty path → `/`); tracking parameters (`utm_*`, `gclid`,
    * `fbclid`, `ref`) removed and the surviving query parameters
    * sorted so parameter order cannot split a group. Everything is
    * built from codegen'd string/array functions — one map-side
    * expression, no UDF, no shuffle of its own — so at crawl scale the
    * canonical key is computed inside the scan stage.
    */
  def canonicalizeUrl(url: Column): Column = {
    val u = regexp_replace(url, "#.*", "")
    val scheme = lower(regexp_extract(u, "^([A-Za-z][A-Za-z0-9+.-]*)://", 1))
    val hostport =
      lower(regexp_extract(u, "^[A-Za-z][A-Za-z0-9+.-]*://([^/?#]*)", 1))
    val host = regexp_replace(
      regexp_replace(hostport, ":[0-9]+$", ""), "^www\\.", "")
    val port = regexp_extract(hostport, ":([0-9]+)$", 1)
    val defPort = when(scheme === "https", "443")
      .when(scheme === "http", "80").otherwise("")
    val portSeg = when(port === "" || port === defPort, "")
      .otherwise(concat(lit(":"), port))
    val path0 = regexp_extract(
      u, "^[A-Za-z][A-Za-z0-9+.-]*://[^/?#]*([^?#]*)", 1)
    val path1 = regexp_replace(regexp_replace(path0, "/{2,}", "/"), "/$", "")
    val path = when(path1 === "", "/").otherwise(path1)
    val qstr = regexp_extract(u, "\\?(.*)$", 1)
    val params = array_sort(filter(split(qstr, "&"), p =>
      p =!= "" && !lower(p).rlike("^(utm_[^=]*|gclid|fbclid|ref)=")))
    val q2 = array_join(params, "&")
    concat(scheme, lit("://"), host, portSeg, path,
      when(q2 === "", "").otherwise(concat(lit("?"), q2)))
  }

  /** URL-level dedup: group raw URLs by [[canonicalizeUrl]] and report,
    * per canonical page, how many raw rows and distinct surface forms
    * collapsed into it plus the kept representative (min id — the
    * deterministic keeper every dedup family here uses). One map-side
    * canonicalization + one hash agg on the canonical key: the same
    * shape (and scale budget) as exact content dedup (q29), but
    * runnable on a crawl manifest before a single page body is fetched.
    */
  def urlDedup(df: DataFrame, idCol: String, urlCol: String): DataFrame =
    df.select(col(idCol), col(urlCol),
        canonicalizeUrl(col(urlCol)).as("canonical_url"))
      .groupBy("canonical_url")
      .agg(count(lit(1)).cast("long").as("n_urls"),
        countDistinct(col(urlCol)).cast("long").as("n_raw_forms"),
        min(col(idCol)).cast("long").as("keeper_id"))

  /** Aho-Corasick multi-pattern automaton (Aho & Corasick, CACM 1975):
    * one pass over the text finds EVERY occurrence of every pattern —
    * including overlapping ones — in O(|text| + matches), independent
    * of pattern count. Built once per JVM per pattern set (the
    * automaton is a pure function of the patterns) and reached through
    * a process-level cache, so the UDF closure ships only the pattern
    * strings. `out` is pre-merged through the fail links in BFS order
    * (fail targets are shallower, hence already final), so a node visit
    * reports every pattern ending at that text position.
    */
  private final class AcAutomaton(patterns: Array[String])
      extends Serializable {
    import scala.collection.mutable
    private val next = mutable.ArrayBuffer(mutable.HashMap.empty[Char, Int])
    private val fail = mutable.ArrayBuffer(0)
    private val out = mutable.ArrayBuffer(List.empty[Int])
    patterns.zipWithIndex.foreach { case (p, pi) =>
      var n = 0
      p.foreach { c =>
        n = next(n).getOrElseUpdate(c, {
          next += mutable.HashMap.empty[Char, Int]
          fail += 0; out += Nil; next.length - 1
        })
      }
      out(n) = pi :: out(n)
    }
    locally {
      val q = mutable.Queue.empty[Int]
      next(0).valuesIterator.foreach { v => fail(v) = 0; q += v }
      while (q.nonEmpty) {
        val u = q.dequeue()
        next(u).foreach { case (c, v) =>
          var f = fail(u)
          while (f != 0 && !next(f).contains(c)) f = fail(f)
          val t = next(f).getOrElse(c, 0)
          fail(v) = if (t != v) t else 0
          out(v) = out(v) ::: out(fail(v))
          q += v
        }
      }
    }
    /** Total occurrence count per pattern index (overlaps counted). */
    def countMatches(text: String): Array[Long] = {
      val counts = new Array[Long](patterns.length)
      var n = 0; var i = 0
      while (i < text.length) {
        val c = text.charAt(i)
        while (n != 0 && !next(n).contains(c)) n = fail(n)
        n = next(n).getOrElse(c, 0)
        var os = out(n)
        while (os.nonEmpty) { counts(os.head) += 1; os = os.tail }
        i += 1
      }
      counts
    }
  }

  /** Per-JVM automaton cache, BOUNDED: a small synchronized
    * access-order LRU (capacity 8) so a long-lived executor that sees
    * many distinct pattern sets (ad-hoc screens, per-tenant blocklists)
    * cannot leak an automaton per set for the process lifetime —
    * automata over large pattern sets are multi-MB tries. Eight slots
    * cover the realistic case (a handful of standing blocklists reused
    * across every task) while capping worst-case growth.
    */
  private val acCache =
    java.util.Collections.synchronizedMap(
      new java.util.LinkedHashMap[java.util.List[String], AcAutomaton](
          16, 0.75f, true) {
        override def removeEldestEntry(
            e: java.util.Map.Entry[java.util.List[String], AcAutomaton]) =
          size() > 8
      })
  private def acFor(pats: Array[String]): AcAutomaton = {
    val key = java.util.Arrays.asList(pats: _*)
    acCache.synchronized {
      var a = acCache.get(key)
      if (a == null) { a = new AcAutomaton(pats); acCache.put(key, a) }
      a
    }
  }

  /** Test hook: current automaton-cache occupancy (the LRU bound is a
    * permanent regression contract — VERDICT r12 #9 asked for a spec
    * on the r11 advisory fix, and the bound is unobservable through
    * the public surface).
    */
  private[graft] def acCacheSize: Int = acCache.synchronized(acCache.size())

  /** Deterministic negative-pair sampling — the contrastive-training
    * data op (every dual-encoder/embedding trainer needs k negatives
    * per anchor): documents are ranked on an md5 RING (rank by
    * (md5-hash, id) — pseudo-random order, decorrelated from content
    * and insertion order), and each doc pairs with the docs at fixed
    * ring offsets, wrapping modulo N. Hash-derived and coin-free, so
    * the same corpus yields the same negatives on every run/engine —
    * reproducible training data (the md5-mixing doctrine applied to
    * pair generation).
    *
    * Scale: the global rank is the DISTRIBUTED prefix-sum shape
    * (range repartition + per-partition positions + one-row-per-
    * partition driver bases — [[graft.operators.Dedup.sortedNeighborhoodPairs]]'
    * machinery, never a single-partition window); pairing is an
    * EQUI-join on (pos + offset) mod N, |docs|·|offsets| candidates at
    * any distribution. Self-pairs (offset ≡ 0 mod N) drop. Returns
    * (id_a, id_b, off).
    */
  def negativePairs(df: DataFrame, idCol: String, offsets: Seq[Int],
                    saltPrefix: String, numPartitions: Int = 32): DataFrame = {
    require(offsets.nonEmpty && offsets.forall(_ >= 1), "offsets must be >= 1")
    val spark = df.sparkSession
    import spark.implicits._
    val local = df
      .select(tokenHash64(concat(lit(saltPrefix),
          col(idCol).cast("string"))).as("h"),
        col(idCol).cast("long").as("id"))
      .as[(Long, Long)]
      .repartitionByRange(numPartitions, col("h"), col("id"))
      .sortWithinPartitions("h", "id")
      .mapPartitions { it =>
        val pid = org.apache.spark.TaskContext.getPartitionId()
        var i = 0L
        it.map { case (_, id) => val p = i; i += 1; (pid, id, p) }
      }
      .toDF("pid", "id", "local_pos")
      .materialized
    val counts = local.groupBy("pid").agg(count(lit(1)).as("n"))
      .collect().map(r => (r.getInt(0), r.getLong(1))).sortBy(_._1)
    var b = 0L
    val bases = counts.map { case (pid, n) => val x = b; b += n; (pid, x) }
    val nTotal = b
    val ranked = local
      .join(broadcast(bases.toSeq.toDF("pid", "base")), Seq("pid"))
      .select(col("id"), (col("base") + col("local_pos")).as("pos"))
    val probes = ranked
      .select(col("id").as("id_a"), col("pos").as("pos_a"),
        explode(array(offsets.map(o => lit(o.toLong)): _*)).as("off"))
      .select(col("id_a"), col("off"),
        pmod(col("pos_a") + col("off"), lit(nTotal)).as("pos"))
    probes.join(ranked.select(col("id").as("id_b"), col("pos")), Seq("pos"))
      .filter(col("id_a") =!= col("id_b"))
      .select(col("id_a"), col("id_b"), col("off"))
  }

  /** Integer water-filling allocation — the fair-division step of a
    * token-budget mixing plan: given per-source token supplies and a
    * total budget, allocate each source min(its supply, its fair share
    * of what remains), visiting sources in ASCENDING supply order
    * (ties by name) so under-supplied sources are satisfied in full
    * before the cap binds — the classic water-filling level, in exact
    * integer arithmetic (a = min(s, rem div m); the two standard
    * formulations s·m ≤ rem and s ≤ rem div m coincide on integers).
    * Deterministic, and the fold is a driver-side pass over the
    * BOUNDED per-source table (the q141 bounded-collect class);
    * leftover from integer division stays unallocated (≤ |sources|−1
    * tokens). Returns (source, allocated) in input order of the sorted
    * walk.
    */
  def waterFill(supplies: Seq[(String, Long)], budget: Long): Seq[(String, Long)] = {
    require(budget >= 0, s"budget must be >= 0, got $budget")
    require(supplies.forall(_._2 >= 0), "supplies must be >= 0")
    var rem = budget
    var m = supplies.size
    supplies.sortBy(t => (t._2, t._1)).map { case (src, s) =>
      val a = math.min(s, rem / m)
      rem -= a
      m -= 1
      (src, a)
    }
  }

  /** Blocklist screening — the substring form of content filtering a
    * curation pipeline runs against a phrase denylist (slurs, template
    * boilerplate, licence markers) where token-level matching misses
    * multi-word and mid-word hits. MAP-ONLY: the automaton (KBs) rides
    * the closure, each document is scanned once, and only (id, pattern,
    * count) rows for actual hits survive — no shuffle until whatever
    * aggregation the caller adds. Occurrences are counted at every end
    * position (overlapping matches included), the semantics the oracle
    * replays positionally. Returns (id, pat, cnt) with cnt ≥ 1.
    */
  def blocklistScreen(docs: DataFrame, idCol: String, textCol: String,
                      patterns: Seq[String]): DataFrame = {
    require(patterns.nonEmpty && patterns.forall(_.nonEmpty),
      "patterns must be non-empty strings")
    require(patterns.distinct.size == patterns.size, "duplicate pattern")
    val pats = patterns.toArray
    val countsUdf = udf { (text: String) =>
      if (text == null) Map.empty[String, Long]
      else {
        val c = acFor(pats).countMatches(text)
        pats.indices.iterator.filter(c(_) > 0L)
          .map(i => pats(i) -> c(i)).toMap
      }
    }
    docs.select(col(idCol).as("id"),
        explode(countsUdf(col(textCol))).as(Seq("pat", "cnt")))
  }

  /** Per-group unigram-distribution drift against the pooled corpus:
    * total-variation distance on the ppm-ROUNDED distributions (both
    * engines floor the same integers, so the statistic is exact) — the
    * training-mix monitor that flags a source whose token mix has
    * wandered from the blend it feeds. Input is the exploded
    * (group, token) frame; returns (group, n_tokens, vocab, tvd_ppm)
    * where vocab counts the group's distinct tokens.
    *
    * Scale: TVD = ½(Σ_present |p_g − q| + (Q − Σ_present q)) — the
    * missing-token mass is folded in via the broadcast scalar
    * Q = Σ_vocab q, so the plan is two vocab-bounded hash aggs + one
    * vocab-keyed join, NEVER a group×vocab cross; the corpus total
    * comes from the tiny per-group frame, not a third corpus scan.
    */
  def unigramDrift(tokens: DataFrame, groupCol: String,
                   tokCol: String): DataFrame = {
    val t = tokens.select(col(groupCol).as("g"), col(tokCol).as("w"))
    val gw = t.groupBy("g", "w").agg(count(lit(1)).as("n_gw"))
    val ng = gw.groupBy("g").agg(sum("n_gw").as("n_g"))
    val qw = t.groupBy("w").agg(count(lit(1)).as("n_w"))
      .crossJoin(broadcast(ng.agg(sum("n_g").as("n_corpus"))))
      .select(col("w"), expr("n_w * 1000000 div n_corpus").as("q"))
    gw.join(broadcast(ng), Seq("g"))
      .join(qw, Seq("w"))
      .withColumn("p", expr("n_gw * 1000000 div n_g"))
      .groupBy("g")
      .agg(max("n_g").as("n_tokens"),
        count(lit(1)).as("vocab"),
        sum(abs(col("p") - col("q"))).as("present_diff"),
        sum("q").as("q_present"))
      .crossJoin(broadcast(qw.agg(sum("q").as("q_total"))))
      .select(col("g").as(groupCol),
        col("n_tokens").cast("long").as("n_tokens"),
        col("vocab").cast("long").as("vocab"),
        expr("(present_diff + (q_total - q_present)) div 2")
          .cast("long").as("tvd_ppm"))
  }
}
