package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.engine.Tables._
import graft.functions.TextFunctions._
import graft.operators.{Ann, Curation, Relational, Sketches}

import graft.QueryShared._

/** SketchesStats query registry — KMV/CMS/MG/HLL/log-bucket sketches, robust stats, sampling, audits.
  * Split verbatim from SparkEntry (round 12): every entry is the
  * original closure/SQL, unchanged; SparkEntry concatenates the
  * family maps back into the driver contract.
  */
private[graft] object QueriesSketchesStats {

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(

    "q39_approx_distinct" -> ((s, d) => {
      // HLL++ sketch as an oracle-checked ACCURACY CONTRACT: the raw
      // estimate differs from DuckDB's approx_distinct by design, so
      // the checked columns are the exact counts (both engines compute
      // them) plus a boolean "sketch within 5% of exact" — the oracle
      // asserts TRUE, so a drifting sketch turns this row red instead
      // of hiding behind a rows-only check. rsd 0.02, not the 0.05
      // default: rsd is a STANDARD deviation and the default measured
      // 7.8% off at sf1's 1.5M-key cardinality; 0.02 holds the 5%
      // contract everywhere for ~2.7K registers. (Accuracy also
      // regression-guarded per-SF in SketchAccuracySpec.)
      // each column pre-distincts ONCE (map-side partial distinct),
      // then exact count and HLL run over the distinct set — HLL is a
      // function of the distinct SET, so the estimate is identical to
      // running it on the multiset, and the plan avoids the 4x Expand
      // Spark needs for two countDistinct + two HLL in one aggregate
      // (measured 3.6 s -> the two-shuffle form at sf0.1)
      val li = lineitem(s, d)
      def side(c: String, exactName: String, okName: String) =
        li.select(col(c)).distinct().agg(
            count(lit(1)).as(exactName),
            approx_count_distinct(col(c), 0.02).as("__a"))
          .select(col(exactName),
            (abs(col("__a") - col(exactName)) <=
              col(exactName) * 0.05).cast("long").as(okName))
      side("l_partkey", "exact_parts", "parts_ok")
        .crossJoin(side("l_orderkey", "exact_orders", "orders_ok"))
        .select(col("exact_parts"), col("exact_orders"),
          col("parts_ok"), col("orders_ok"))
    }),

    "q95_heavy_hitters" -> ((s, d) => {
      // exact corpus-level heavy hitters (tokens above 1/200 of all
      // occurrences): ONE scan of documents, one shuffle on the token
      // (partial agg map-side); the corpus total re-aggregates the
      // already-reduced counts frame — not the corpus — into a
      // broadcast 1-row frame. Sketches (Misra-Gries) only matter when
      // the DISTINCT token count itself cannot be aggregated.
      val tok = documents(s, d).select(explode(tokens(col("text"))).as("word"))
      val counts = tok.groupBy("word").agg(count(lit(1)).as("cnt"))
      val total = counts.agg(sum(col("cnt")).as("total"))
      counts.join(broadcast(total))
        .filter(col("cnt") * 200 > col("total"))
        .select(col("word"), col("cnt"),
          round(col("cnt").cast("double") / col("total").cast("double"), 6)
            .as("freq"))
        .orderBy(col("cnt").desc, col("word"))
    }),

    "q97_histogram" -> ((s, d) =>
      // equi-width histogram via width_bucket over exact cents (integer
      // arithmetic => bucket boundaries cannot float-flip cross-engine)
      orders(s, d)
        .select(width_bucket(cents(col("o_totalprice")),
          lit(0L), lit(50000000L), lit(20)).as("bucket"))
        .groupBy("bucket")
        .agg(count(lit(1)).as("n"))
        .orderBy("bucket")),

    "q101_histogram_percentile" -> ((s, d) => {
      // exact interpolated quartiles WITHOUT the per-group multiset
      // buffer Spark's percentile() holds (scale twin of q51): value
      // histogram + cumulative counts over the bounded cents domain
      // (Relational.histogramPercentiles); same (n-1)*p rule, so the
      // two must agree bit-for-bit
      Relational.histogramPercentiles(
          orders(s, d).select(col("o_orderstatus"),
            cents(col("o_totalprice")).as("c")),
          "o_orderstatus", "c",
          Seq("median_c" -> 0.5, "q1_c" -> 0.25, "q3_c" -> 0.75))
        .select(col("o_orderstatus"), round(col("median_c"), 2).as("median_c"),
          round(col("q1_c"), 2).as("q1_c"), round(col("q3_c"), 2).as("q3_c"))
        .orderBy("o_orderstatus")
    }),

    "q137_kmv_distinct" -> ((s, d) =>
      // KMV distinct-count sketch, the DETERMINISTIC alternative to
      // q39's HLL: the k smallest md5 hashes are a pure function of the
      // data, so DuckDB recomputes the sketch itself and the estimate
      // hash-compares exactly (Sketches.KmvAgg scaladoc). Per-group
      // state = 64 longs, map-side combined — shuffle is |groups|×64
      // longs at any corpus size.
      Sketches.kmvDistinct(events(s, d), "event_type", col("user_id"),
          k = KmvK, saltPrefix = "kmv_")
        .orderBy("event_type")),

    "q138_cms_heavy" -> ((s, d) => {
      // Count-min sketch frequency probe: the whole sketch is d·w=4096
      // cells from ONE bounded-domain hash agg; the probe list and
      // cells both broadcast, so probing adds no shuffle
      // (Sketches.cmsBuild scaladoc). Overestimate-only guarantee
      // asserted vs exact counts in SketchesSpec.
      val cells = Sketches.cmsBuild(documents(s, d), "text",
        d = CmsDepth, w = CmsWidth, saltPrefix = "cms")
      Sketches.cmsProbe(s, cells, CmsProbeWords,
          d = CmsDepth, w = CmsWidth, saltPrefix = "cms")
        .orderBy("word")
    }),

    "q144_kmv_jaccard" -> ((s, d) =>
      // Pairwise customer-set overlap between order statuses from the
      // per-group KMV sketches alone — the theta-sketch trick: the raw
      // sets are never compared, so the pair stage costs |G|^2 * k at
      // any corpus size (Sketches.kmvJaccard scaladoc).
      Sketches.kmvJaccard(orders(s, d), "o_orderstatus", col("o_custkey"),
          k = KmvK, saltPrefix = "kj_")
        .orderBy("g_a", "g_b")),

    "q154_table_profile" -> ((s, d) =>
      // One-pass ingest audit: per-column nulls + KMV distinct
      // estimates from a SINGLE aggregation over one scan — the
      // Deequ-class delivery check (Sketches.profileTable scaladoc).
      // value canonicalizes to cents so both engines hash the same
      // string.
      Sketches.profileTable(events(s, d), Seq(
          "event_id" -> col("event_id"),
          "event_type" -> col("event_type"),
          "props" -> col("props"),
          "user_id" -> col("user_id"),
          "value_cents" -> cents(col("value"))),
          k = KmvK, saltPrefix = "prof_")
        .orderBy("column")),

    "q155_linreg_train" -> ((s, d) => {
      // In-engine model TRAINING: exact integer sufficient statistics
      // (one map-side-combined agg) + exact BigInt Cramer solve — the
      // trainer behind q114's frozen-weight scorer; weights are a
      // deterministic function of the corpus, oracle re-derives them
      // through a generated 24-term determinant expansion in HUGEINT
      // (Curation.linearFitStats/linearFitSolve scaladoc).
      val w = Curation.linearFitSolve(
        Curation.linearFitStats(documents(s, d), "text").head())
      import s.implicits._
      w.toDF("feature", "weight_ppm").orderBy("feature")
    }),

    "q158_perceptron_train" -> ((s, d) =>
      // In-engine CLASSIFIER training: batch perceptron on int8-quantized
      // embeddings (y = label <= 4), exact integer trajectory — one
      // bounded aggregation per epoch, weights never leave the driver
      // (Ann.perceptronTrain scaladoc). The oracle replays all three
      // epochs in unrolled CTEs.
      Ann.perceptronTrain(embeddings(s, d), "vec_id", "embedding",
          "label", posMax = PerceptronPosMax, epochs = PerceptronEpochs)
        .orderBy("epoch")),

    "q162_hashsample_quantile" -> ((s, d) => {
      // Deterministic approximate quantiles: a 1-in-4 md5-coin sample
      // (reproducible, engine-neutral — the q137-for-q39 move applied
      // to q70's opaque percentile sketch) feeding the bounded-state
      // histogram percentile machinery; error vs the exact q101
      // medians is regression-guarded in SketchAccuracySpec.
      val sampled = orders(s, d).filter(
        pmod(tokenHash64(concat(lit("qsamp_"), col("o_orderkey").cast("string"))),
          lit(QsampOneIn)) === 0)
      Relational.histogramPercentiles(
          sampled.select(col("o_orderstatus"), cents(col("o_totalprice")).as("price_c")),
          "o_orderstatus", "price_c",
          Seq("est_median_c" -> 0.5, "est_p90_c" -> 0.9))
        .select(col("o_orderstatus"),
          round(col("est_median_c"), 2).as("est_median_c"),
          round(col("est_p90_c"), 2).as("est_p90_c"))
        .orderBy("o_orderstatus")
    }),

    "q168_kmv_merge" -> ((s, d) => {
      // Sketch MERGEABILITY, proven: sketch each md5-half of events
      // separately, merge the bounded sketch tables, and the result
      // must be BIT-IDENTICAL to the whole-corpus sketch — the oracle
      // is q137's whole-corpus SQL verbatim. This is the property that
      // lets incremental/partitioned ingest maintain distinct counts
      // without ever rescanning history (Sketches.kmvMergeEstimate
      // scaladoc).
      val ev = events(s, d)
      val coin = pmod(tokenHash64(concat(lit("half_"),
        col("event_id").cast("string"))), lit(2L))
      def half(m: Int) = Sketches.kmvSketches(ev.filter(coin === m),
        "event_type", col("user_id"), k = KmvK, saltPrefix = "kmv_")
      Sketches.kmvMergeEstimate(half(0), half(1), "event_type", k = KmvK)
        .orderBy("event_type")
    }),

    "q169_equidepth_buckets" -> ((s, d) => {
      // Equi-depth (quartile) binning of order value — the feature
      // discretization step: boundaries from the bounded-state
      // histogram percentiles (a 1-row frame of 3 doubles, broadcast
      // back, so building the plan runs no job), assignment a map-side
      // comparison, stats one agg.
      val o = orders(s, d).select(cents(col("o_totalprice")).as("price_c"))
        .withColumn("__g", lit(1))
      val b = Relational.histogramPercentiles(o, "__g", "price_c",
        Seq("b1" -> 0.25, "b2" -> 0.5, "b3" -> 0.75))
      o.crossJoin(broadcast(b.drop("__g")))
        .withColumn("bucket",
          (lit(1L) + when(col("price_c") > col("b1"), 1L).otherwise(0L)
            + when(col("price_c") > col("b2"), 1L).otherwise(0L)
            + when(col("price_c") > col("b3"), 1L).otherwise(0L)))
        .groupBy("bucket")
        .agg(count(lit(1)).as("n"), min("price_c").as("min_c"),
          max("price_c").as("max_c"), sum("price_c").as("sum_c"))
        .orderBy("bucket")
    }),

    "q170_benford_audit" -> ((s, d) => {
      // Benford first-digit audit of prices (fraud/synthetic-data
      // screen for numeric columns): observed vs expected leading-digit
      // mix in exact integer ppm; expectations are fixed log10(1+1/d)
      // literals shared with the oracle. One map-side-combinable
      // 9-key agg.
      // leading digit by integer range dispatch, not substring(cast):
      // the string path materializes 60M Long.toString calls at sf10 —
      // measured 13.2 s vs 9.2 s for this all-integer when-chain (both
      // engines agree on the VALUE; the oracle keeps its string form)
      val leadDigit = {
        val c = col("c")
        (1 to 18).foldLeft(when(lit(false), 0L)) { (acc, k) =>
          val lo = math.pow(10, k - 1).toLong
          val hi = if (k == 18) Long.MaxValue else math.pow(10, k).toLong
          acc.when(c >= lo && c < hi, expr(s"c div ${lo}L"))
        }
      }
      // ONE corpus scan collapses to <= 9 rows; the ppm arithmetic
      // happens on the collected rows (the q141 bounded-collect class —
      // a broadcast-total formulation re-executed the scan subtree for
      // the total, measured 2x the scan cost at sf10)
      val byDigit = lineitem(s, d)
        .select(cents(col("l_extendedprice")).as("c"))
        .filter(col("c") > 0)
        .withColumn("digit", leadDigit.cast("long"))
        .groupBy("digit")
        .agg(count(lit(1)).as("n_obs"))
        .collect().map(r => (r.getLong(0), r.getLong(1)))
      val n = byDigit.map(_._2).sum
      import s.implicits._
      byDigit.toSeq.map { case (digit, obs) =>
        val obsPpm = obs * 1000000L / n
        val exp = BenfordPpm(digit.toInt - 1)
        (digit, obs, obsPpm, exp, obsPpm - exp)
      }.toDF("digit", "n_obs", "obs_ppm", "exp_ppm", "dev_ppm")
        .orderBy("digit")
    }),

    "q173_nb_confusion" -> ((s, d) =>
      // In-engine Naive Bayes language classifier: log2-quantized
      // add-one likelihoods (integer-exact train -> predict ->
      // confusion; Curation.naiveBayesConfusion scaladoc). The model is
      // one vocabulary-bounded (class, token) agg; scoring joins each
      // eval token once per class.
      Curation.naiveBayesConfusion(documents(s, d), "doc_id", "text", "lang")
        .orderBy("actual", "predicted")),

    "q178_cms_merge" -> ((s, d) => {
      // CMS MERGEABILITY, proven: sketch each md5-half of documents
      // separately, merge cellwise, probe — must be BIT-IDENTICAL to
      // the q138 whole-corpus sketch (CMS is linear; the q168 property
      // for frequencies). The oracle is q138's SQL verbatim.
      val docs = documents(s, d)
      val coin = pmod(tokenHash64(concat(lit("half_"),
        col("doc_id").cast("string"))), lit(2L))
      def half(m: Int) = Sketches.cmsBuild(docs.filter(coin === m), "text",
        d = CmsDepth, w = CmsWidth, saltPrefix = "cms")
      Sketches.cmsProbe(s, Sketches.cmsMerge(Seq(half(0), half(1))),
          CmsProbeWords, d = CmsDepth, w = CmsWidth, saltPrefix = "cms")
        .orderBy("word")
    }),

    "q190_theilsen_trend" -> ((s, d) => {
      // Robust revenue trend per return flag: exact Theil-Sen over the
      // daily series — median-of-slopes is immune to the outlier days
      // that tilt q155's least-squares fit (Relational.theilSenSlope
      // scaladoc; pair fan-out bounded by the day domain, never the
      // corpus).
      val daily = lineitem(s, d).groupBy(col("l_returnflag"),
          to_date(col("l_shipdate")).as("day"))
        .agg(sum(cents(col("l_extendedprice"))).as("rev_c"))
        .select(col("l_returnflag"),
          datediff(col("day"), lit("1970-01-01")).cast("long").as("x"),
          col("rev_c").as("y"))
      Relational.theilSenSlope(daily, "l_returnflag", "x", "y")
        .select(col("grp").as("l_returnflag"), col("n_pairs"),
          col("slope_milli"))
        .orderBy("l_returnflag")
    }),

    "q194_cms_joinsize" -> ((s, d) => {
      // Join-size estimation from two count-min sketches (the
      // count-min inner-product estimator): overestimate-only sizing
      // of |events ⋈ orders on customer| from d·w cells per side —
      // the sketch algebra a join planner consults without reading
      // either table (Sketches.cmsJoinSizeEstimate scaladoc).
      val ev = events(s, d).select(col("user_id").as("k"))
      val od = orders(s, d).select(col("o_custkey").as("k"))
      val est = Sketches.cmsJoinSizeEstimate(
        Sketches.cmsBuildKeys(ev, "k", CmsDepth, CmsWidth, JoinSizeSalt),
        Sketches.cmsBuildKeys(od, "k", CmsDepth, CmsWidth, JoinSizeSalt))
      val exact = ev.groupBy("k").agg(count(lit(1)).as("na"))
        .join(od.groupBy("k").agg(count(lit(1)).as("nb")), Seq("k"))
        .agg(coalesce(sum(col("na") * col("nb")), lit(0L)).cast("long")
          .as("exact_join_size"))
      est.crossJoin(exact)
        .select(col("est_join_size"), col("exact_join_size"),
          // explicit NULL on exact=0 (disjoint key sets) — mirrors the
          // oracle's guarded CASE; Spark's div yields null there anyway
          // but the contract should be stated, not incidental
          when(col("exact_join_size") > 0,
            expr("est_join_size * 1000000 div exact_join_size"))
            .as("over_ppm"))
    }),

    "q198_kmv_window_rollup" -> ((s, d) => {
      // Trailing-7-day distinct-user rollup from MERGED per-day KMV
      // sketches — days sketch once, windows merge buffers, raw rows
      // never re-read per window (Sketches.kmvWindowRollup scaladoc;
      // exactness of the merge is q168's proven property). The oracle
      // recomputes each window's sketch from scratch — merge must
      // equal it bit-for-bit.
      val ev = events(s, d).select(
        datediff(to_date(col("ts")), lit("1970-01-01")).cast("long")
          .as("day_num"),
        col("user_id"))
      Sketches.kmvWindowRollup(ev, "day_num", col("user_id"), k = KmvK,
          windowDays = 7, saltPrefix = "kmvw_")
        .select(col("wday").as("day_num"), col("n_kept"), col("kth_min"),
          col("est_distinct"))
        .orderBy("day_num")
    }),

    "q214_heavy_hitters" -> ((s, d) => {
      // Misra-Gries heavy hitters with the PODS-mergeable merge rule:
      // the summary is <= k-1 counters per task at ANY corpus size, and
      // the output is the q39-style accuracy contract — every exact
      // heavy hitter (count*k > n) must be retained, never overcounted,
      // and undercounted by at most n/k (Sketches.mgHeavyHitters
      // scaladoc; guarantees proven property-style in SketchesSpec).
      Sketches.mgHeavyHitters(
          documents(s, d).select(explode(tokens(col("text"))).as("w")),
          col("w"), k = 100)
        .select(col("w"), col("exact_cnt"),
          col("found").cast("long").as("found"),
          col("no_over").cast("long").as("no_over"),
          col("within_bound").cast("long").as("within_bound"))
        .orderBy("w")
    }),

    "q223_logbucket_quantiles" -> ((s, d) => {
      // Log-bucket quantile sketch (HdrHistogram bucketing / DDSketch
      // with gamma = 2^-5): p50/p90/p99 of order value per priority
      // class from a sketch whose state is <= 64*2^5 cells per group
      // FOREVER — one map-side-combined agg, no corpus sort (the
      // latency/price dashboard quantile at 100 TB). est = selected
      // bucket's lower bound; the exact discrete quantile (same integer
      // rank rule over q92's value-domain histogram) rides along, and
      // the two contract booleans assert the structural guarantee
      // est <= exact < est + width (relative error < 2^-5). The oracle
      // recomputes sketch AND exact, so every column hash-compares
      // (Sketches.logBucketCells scaladoc).
      val o = orders(s, d).select(col("o_orderpriority").as("grp"),
        cents(col("o_totalprice")).as("v"))
      val cells = Sketches.logBucketCells(o, "grp", col("v"), LbSubBits)
      val est = Sketches.logBucketQuantiles(cells, LbQPpms, LbSubBits)
      val exact = Sketches.exactDiscQuantiles(o, "grp", col("v"), LbQPpms)
      est.join(exact.select("grp", "q_ppm", "exact"), Seq("grp", "q_ppm"))
        .select(col("grp"), col("q_ppm"), col("n_total"), col("est"),
          col("exact"),
          (col("est") <= col("exact")).cast("long").as("le_exact"),
          (col("exact") < col("est") + col("width")).cast("long").as("lt_ub"))
        .orderBy("grp", "q_ppm")
    }),

    "q224_logbucket_merge" -> ((s, d) => {
      // Sketch LINEARITY proven for quantiles (the q168/q178 property
      // on the log-bucket sketch): sketch each md5-half of orders
      // separately, merge cellwise, and the quantile rows must equal
      // the whole-corpus sketch's — the oracle is q223's est side
      // verbatim. This is what lets a warehouse keep per-day/partition
      // quantile-sketch columns and answer global percentiles without
      // re-reading history (Sketches.logBucketMerge scaladoc).
      val o = orders(s, d).select(col("o_orderkey"),
        col("o_orderpriority").as("grp"), cents(col("o_totalprice")).as("v"))
      val coin = pmod(tokenHash64(concat(lit("lbq_"),
        col("o_orderkey").cast("string"))), lit(2L))
      def half(m: Int) = Sketches.logBucketCells(
        o.filter(coin === m), "grp", col("v"), LbSubBits)
      Sketches.logBucketQuantiles(
          Sketches.logBucketMerge(Seq(half(0), half(1))), LbQPpms, LbSubBits)
        .drop("width")
        .orderBy("grp", "q_ppm")
    }),

    "q232_hll_distinct" -> ((s, d) => {
      // Deterministic HyperLogLog (md5-register form): unlike q39's
      // engine-private native HLL (whose binary state forced an
      // accuracy-contract oracle), these registers are a pure function
      // of the key set — bucket/rho from the shared 60-bit md5, MAX
      // per bucket — so the DuckDB oracle recomputes the SKETCH and
      // the integer raw estimator hash-compares exactly, with the
      // exact count and its error riding along in the row. State: 64
      // registers per group forever; ONE map-side-combined hash agg
      // (Sketches.hllRegisters scaladoc). The KMV counterpart at the
      // same (group, key) domain is q137.
      val ev = events(s, d)
      val est = Sketches.hllEstimate(
        Sketches.hllRegisters(ev, "event_type", col("user_id"), "hll_"))
      val exact = ev.filter(col("user_id").isNotNull)
        .groupBy(col("event_type").as("grp"))
        .agg(countDistinct(col("user_id")).as("exact_distinct"))
      est.join(exact, Seq("grp"))
        .withColumn("err_ppm", expr(
          "(abs(est_hll - exact_distinct) * 1000000L) div exact_distinct"))
        .withColumnRenamed("grp", "event_type")
        .orderBy("event_type")
    }),

    "q233_hll_merge" -> ((s, d) => {
      // HLL MERGEABILITY proven (the q168/q178/q224 property on the
      // max-semilattice sketch): registers of each md5-half merged by
      // groupwise MAX must reproduce the whole-corpus registers
      // bit-for-bit — the oracle is q232's est side verbatim. MAX
      // merge is also IDEMPOTENT (re-merging a sketch is a no-op),
      // the property that makes HLL columns safe under at-least-once
      // ingest (Sketches.hllMerge scaladoc).
      val ev = events(s, d)
      val coin = pmod(tokenHash64(concat(lit("hhalf_"),
        col("event_id").cast("string"))), lit(2L))
      def half(m: Int) = Sketches.hllRegisters(ev.filter(coin === m),
        "event_type", col("user_id"), "hll_")
      Sketches.hllEstimate(Sketches.hllMerge(Seq(half(0), half(1))))
        .withColumnRenamed("grp", "event_type")
        .orderBy("event_type")
    }),

    "q235_quantile_rollup" -> ((s, d) =>
      // Trailing-7-day p50/p99 of event value from MERGED per-day
      // log-bucket sketches (the q198 sketch-OLAP pattern for
      // QUANTILES): days sketch once, windows merge bounded cell
      // tables — raw rows never re-read per window; the oracle
      // recomputes every window FROM SCRATCH, so the hash match proves
      // merge == direct (Sketches.logBucketWindowRollup scaladoc).
      // Zero-value events are excluded on BOTH sides: the log-bucket
      // sketch is defined on v >= 1 (enforced at runtime since round
      // 12 — the sf0.1 fixture has a handful of zero-cent events,
      // which previously landed silently in bucket -1).
      Sketches.logBucketWindowRollup(
          events(s, d).select(
            datediff(to_date(col("ts")), lit("1970-01-01").cast("date"))
              .cast("long").as("day"),
            cents(col("value")).as("v"))
            .filter(col("v") >= 1L),
          "day", col("v"), LbSubBits, windowDays = 7,
          qPpms = Seq(500000L, 990000L))
        .orderBy("wday", "q_ppm")),

    "q242_hll_ingest" -> ((s, d) => {
      // HLL sketch INGEST against the persisted register table — the
      // q203/q222/q238 standing-state pattern on the cardinality
      // family: the corpus's per-type registers live in a write-once
      // fixture (64 longs per group forever), an arriving batch
      // (md5 coin on event_id, ~10%) hashes only ITSELF, and the
      // groupwise-MAX merge touches sketch rows, never corpus events.
      // Because MAX-merge == whole-corpus recompute bit-for-bit
      // (q233's proven property), the oracle is the full-corpus
      // sketch recomputation — the green row PROVES ingest == rebuild.
      val standing = hllStandingFixture(s, d)
      val batch = Sketches.hllRegisters(events(s, d).filter(hllBatchCoin),
        "event_type", col("user_id"), "hll_")
      Sketches.hllEstimate(Sketches.hllMerge(Seq(standing, batch)))
        .withColumnRenamed("grp", "event_type")
        .orderBy("event_type")
    }),

    "q247_daily_anomaly" -> ((s, d) => {
      // Robust outlier flags on the daily revenue series — the
      // monitoring alarm a pipeline hangs on its output tables: a day
      // is anomalous when its |total − median| exceeds 3× the median
      // absolute deviation, with LOWER medians (rank ⌈n/2⌉) so every
      // quantity is an exact integer and no interpolation crosses
      // engines. The series is date-domain bounded (one agg row per
      // day), so the rank windows run over ≤ a few thousand rows at
      // any SF — the q101/q124 bounded-window doctrine.
      val daily = events(s, d).filter(col("event_type") === "purchase")
        .groupBy(to_date(col("ts")).as("day"))
        .agg(sum(cents(col("value"))).as("total_c"))
      Relational.madOutlierFlags(daily, "total_c", kTimes = 3L)
        .select(date_format(col("day"), "yyyy-MM-dd").as("day"),
          col("total_c"), col("med_c"), col("mad_c"), col("dev_c"),
          col("is_anomaly"))
        .orderBy("day")
    }),

    "q262_benford_audit" -> ((s, d) => {
      // Benford first-digit audit — the classic fabricated-data
      // screen: the leading significant digit of each order total
      // (in cents — leading digit is scale-invariant) against the
      // canonical Benford mass log10(1+1/d), carried as the 9
      // hard-coded ppm constants so no engine computes a log. One
      // map-side digit extraction + a 9-key agg; deviation in ppm.
      val benford = Seq(1 -> 301030L, 2 -> 176091L, 3 -> 124939L,
        4 -> 96910L, 5 -> 79181L, 6 -> 66947L, 7 -> 57992L,
        8 -> 51153L, 9 -> 45757L)
      import s.implicits._
      val exp = broadcast(benford.toDF("digit", "benford_ppm"))
      orders(s, d)
        .select(cents(col("o_totalprice")).as("v"))
        .filter(col("v") > 0L)
        .withColumn("digit",
          substring(col("v").cast("string"), 1, 1).cast("int"))
        .groupBy("digit").agg(count(lit(1)).as("n"))
        .crossJoin(broadcast(
          orders(s, d).filter(cents(col("o_totalprice")) > 0L)
            .agg(count(lit(1)).as("total"))))
        .withColumn("observed_ppm", expr("n * 1000000 div total"))
        .join(exp, Seq("digit"))
        .withColumn("abs_diff_ppm",
          abs(col("observed_ppm") - col("benford_ppm")))
        .select(col("digit"), col("n"), col("observed_ppm"),
          col("benford_ppm"), col("abs_diff_ppm"))
        .orderBy("digit")
    }),

    "q264_mann_whitney" -> ((s, d) => {
      // Nonparametric A/B effect test on per-user revenue — the
      // readout a platform runs when the metric is skewed and q258's
      // means mislead: tie-corrected Mann-Whitney U in exact integers
      // (2×-scaled average ranks) with the rank-biserial effect in
      // ppm. Ranks come from the value HISTOGRAM (one bounded window),
      // never a global row sort (Relational.mannWhitney scaladoc).
      val users = events(s, d)
        .groupBy(col("user_id"))
        .agg(sum(when(col("event_type") === "purchase",
          cents(col("value"))).otherwise(0L)).as("value_c"))
        .withColumn("arm",
          when(pmod(tokenHash64(concat(lit("ab_"),
            col("user_id").cast("string"))), lit(2L)) === 0L, "control")
            .otherwise("treatment"))
      Relational.mannWhitney(users, "arm", "value_c")
    }),

    "q265_independence_lift" -> ((s, d) =>
      // Contingency-table independence audit (event type × weekday):
      // observed vs independence-expected counts and the
      // observed/expected lift in exact ppm — the "is the mix
      // shifting" screen. Three hash aggs; margins broadcast
      // (category-domain bounded); overflow-safe division order.
      Relational.independenceLift(
        events(s, d).select(col("event_type"),
          dayofweek(col("ts")).cast("long").as("weekday")),
        "event_type", "weekday")),

    "q271_kendall_tau" -> ((s, d) => {
      // Rank-correlation audit between two curation signals WITHOUT a
      // global sort: Kendall tau-b between the quality decile (q259's
      // integer band) and the log2 length band (q255's bit trick),
      // computed entirely from the bounded 2D histogram — concordant/
      // discordant mass via a broadcast self-join of ≤10×64 cells, tie
      // terms from the marginals, one final IEEE double (the q177
      // discipline). A 100 TB corpus contributes |cells|² = O(1) pair
      // terms, never n² row pairs; ties make tau-b the right variant
      // on banded data.
      val b = documents(s, d)
        .select(qualityScore(col("text")).as("q"), col("n_chars"))
        .select(
          least(expr("cast(floor(q * 10000 + 0.5d) as bigint) div 1000"),
            lit(9L)).as("qb"),
          when(col("n_chars") <= 0L, lit(0L))
            .otherwise(length(bin(col("n_chars"))).cast("long")).as("lb"))
      Relational.kendallTauBands(b, "qb", "lb")
    }),

    "q275_nb_calibration" -> ((s, d) =>
      // Confidence calibration of the q173 NB classifier: per
      // log2(margin) band (margin = runner-up cost − best cost in
      // quantized bits), n_docs / n_correct / accuracy ppm — the table
      // that decides whether the margin works as an acceptance
      // threshold. Scoring plan identical to q173; + one lead() in the
      // same per-doc window and a ≤64-row band agg
      // (Curation.naiveBayesCalibration scaladoc).
      Curation.naiveBayesCalibration(documents(s, d), "doc_id", "text",
        "lang")),

    "q279_ks_drift" -> ((s, d) => {
      // Two-sample Kolmogorov-Smirnov drift between two market
      // segments' order-value DISTRIBUTIONS — the shape test that
      // fires when q264's location test and q273's banded TVD both
      // sleep. Values quantize to whole dollars (price-DOMAIN-bounded,
      // not corpus-bounded, so the ECDF window never grows with the
      // data); D and its arg-value in exact ppm integers
      // (Relational.ksTwoSample scaladoc).
      val t = orders(s, d)
        .join(customer(s, d), col("o_custkey") === col("c_custkey"))
        .filter(col("c_mktsegment").isin("BUILDING", "MACHINERY"))
        .withColumn("__v_c", cents(col("o_totalprice")))
        .withColumn("dollars", expr("__v_c div 100"))
        .select(col("c_mktsegment").as("arm"), col("dollars"))
      Relational.ksTwoSample(t, "arm", "dollars", "BUILDING", "MACHINERY")
    }),

    "q280_spearman_corr" -> ((s, d) => {
      // Spearman rank correlation between a customer's account balance
      // and their lifetime spend — monotone-association readout with
      // DETERMINISTIC id-broken ranks so the classic no-tie identity
      // runs in exact integers end-to-end; ranks build from the value
      // histogram in two stages, never a global single-partition row
      // window (Relational.spearmanRho scaladoc; equality to the
      // row_number-over-(v,id) definition proven in
      // StatsFoldPropertySpec).
      val spend = orders(s, d).groupBy(col("o_custkey"))
        .agg(sum(cents(col("o_totalprice"))).as("__spend"))
      val t = customer(s, d)
        .join(spend, col("c_custkey") === col("o_custkey"), "left")
        .select(col("c_custkey").as("id"),
          cents(col("c_acctbal")).as("x"),
          coalesce(col("__spend"), lit(0L)).as("y"))
      Relational.spearmanRho(t, "id", "x", "y")
    }),

    "q281_cusum_daily" -> ((s, d) => {
      // CUSUM drift alarms on the daily purchase-revenue series — the
      // sustained-shift monitor q247's per-day MAD flags can't express
      // (ten days each 1 MAD high never trip a point test; their
      // cumulative sum trips this one). The max(0, ·) recursion runs
      // as two cumulative windows via the exact prefix-min identity
      // (Relational.cusumAlerts scaladoc; identity proven in
      // StatsFoldPropertySpec). Day-domain-bounded windows; the
      // corpus-sized work is the one daily aggregation.
      val daily = events(s, d).filter(col("event_type") === "purchase")
        .groupBy(to_date(col("ts")).as("day"))
        .agg(sum(cents(col("value"))).as("x_c"))
      Relational.cusumAlerts(daily, "day", "x_c")
        .select(date_format(col("ord"), "yyyy-MM-dd").as("day"),
          col("x").as("x_c"), col("cusum").as("cusum_c"), col("alarm"))
        .orderBy("day")
    }),

    "q283_wilcoxon_pairs" -> ((s, d) => {
      // Wilcoxon signed-rank on paired per-customer spend, 1996 vs
      // 1997 (customers active in BOTH years) — the matched-pairs
      // "did the same population move" test, robust where a paired
      // t-test is wrecked by spend skew. Differences stay in cents;
      // tie-averaged magnitude ranks via the exact 2× integer trick
      // (Relational.wilcoxonSignedRank scaladoc; W⁺/W⁻ vs the O(n log
      // n) driver model in StatsFoldPropertySpec).
      val y96 = sum(when(year(col("o_orderdate")) === 1996,
        cents(col("o_totalprice"))).otherwise(0L))
      val y97 = sum(when(year(col("o_orderdate")) === 1997,
        cents(col("o_totalprice"))).otherwise(0L))
      val t = orders(s, d)
        .filter(year(col("o_orderdate")).isin(1996, 1997))
        .groupBy(col("o_custkey"))
        .agg(y96.as("a_c"), y97.as("b_c"),
          max(when(year(col("o_orderdate")) === 1996, 1L)
            .otherwise(0L)).as("__ha"),
          max(when(year(col("o_orderdate")) === 1997, 1L)
            .otherwise(0L)).as("__hb"))
        .filter(col("__ha") === 1L && col("__hb") === 1L)
        .select((col("b_c") - col("a_c")).as("d_c"))
      Relational.wilcoxonSignedRank(t, "d_c")
    }),

    "q285_seg_trend_ols" -> ((s, d) => {
      // Per-segment OLS revenue trend over the monthly series — the
      // parametric companion to q190's Theil-Sen (exact moment sums,
      // ONE map-side-combinable agg, no pair loop): slope in cents per
      // month under the truncating division both engines share
      // (Spark div == DuckDB integer //, both toward zero), intercept
      // re-derived under the truncated slope
      // (Relational.groupOlsTrend scaladoc). Month index is
      // calendar-domain bounded; the sufficient statistics are the
      // entire shuffle.
      val monthly = orders(s, d)
        .join(customer(s, d), col("o_custkey") === col("c_custkey"))
        .groupBy(col("c_mktsegment").as("seg"),
          ((year(col("o_orderdate")) - 1995) * 12
            + month(col("o_orderdate")) - 1).cast("long").as("mx"))
        .agg(sum(cents(col("o_totalprice"))).as("y_c"))
      Relational.groupOlsTrend(monthly, "seg", "mx", "y_c")
        .withColumnRenamed("grp", "seg")
        .orderBy("seg")
    }),

    "q286_fano_burstiness" -> ((s, d) => {
      // Burstiness screen per event type: the Fano factor (index of
      // dispersion, var/mean) of the DAILY count series in ppm — 10⁶
      // for a Poisson-flat stream, far above for bursty types; the
      // signal that tells a capacity planner which event families
      // spike vs trickle. Exact integer moments with the n·Σx² ≤ 9e12
      // Long bound ENFORCED at runtime (Relational.fanoPpm scaladoc;
      // holds to ~sf10 on this fixture, coarsen to weekly counts
      // beyond — the guard names that remedy). Observed days only: a
      // type absent all day contributes no row, stated contract.
      val daily = events(s, d)
        .groupBy(col("event_type"), to_date(col("ts")).as("__day"))
        .agg(count(lit(1)).as("x"))
      Relational.fanoPpm(daily, "event_type", "x")
        .select(col("grp").as("event_type"), col("n_pts").as("n_days"),
          col("sum_x"), col("fano_ppm"))
        .orderBy("event_type")
    }),

    "q290_isotonic_calibration" -> ((s, d) => {
      // Isotonic (monotone) calibration of the duplicate rate as a
      // function of the quality decile — "can the quality score be
      // read as a dup-risk probability": weighted PAV computed by the
      // closed-form minimax identity over the ≤10-band table, exact
      // ppm integers end to end (Relational.isotonicFitPpm scaladoc;
      // equality to the literal PAV fold in StatsFoldPropertySpec).
      // Dup rate falls as quality rises, so the fit runs ANTITONIC
      // via band reversal (rb = 9 − qb) and reads back in qb order.
      // Corpus-sized work: one quality scan + one md5-group dup agg;
      // everything after is the 10-row band table.
      val docs = documents(s, d)
        .select(col("doc_id"), col("text"),
          qualityScore(col("text")).as("q"))
        .withColumn("qb",
          least(expr("cast(floor(q * 10000 + 0.5d) as bigint) div 1000"),
            lit(9L)))
        .withColumn("__h", md5(col("text")))
      val dupc = documents(s, d).groupBy(md5(col("text")).as("__h"))
        .agg(count(lit(1)).as("__c"))
      val bands = docs.join(dupc, Seq("__h"))
        .select(col("qb"),
          when(col("__c") > 1L, 1L).otherwise(0L).as("is_dup"))
        .groupBy("qb")
        .agg(sum("is_dup").as("s"), count(lit(1)).as("n"))
        .withColumn("rb", lit(9L) - col("qb"))
      Relational.isotonicFitPpm(bands, "rb", "s", "n")
        .withColumn("qb", lit(9L) - col("rb"))
        .select(col("qb"), col("n"), col("s"), col("rate_ppm"),
          col("iso_fit_ppm"))
        .orderBy("qb")
    }),

    "q296_permutation_test" -> ((s, d) => {
      // (shared pair construction: permPairedDiffs below the maps)
      // Exact sign-flip permutation test per market segment on q283's
      // paired per-customer spend (1996 vs 1997): the REAL p-value a
      // multiple-testing step can consume, with the null replayed by
      // 199 md5-derived ±1 reassignments so both engines draw
      // identical resamples and p hash-compares exactly
      // (Relational.permutationTestPpm scaladoc). The 199× fan-out is
      // map-only behind a pinned pre-explode exchange (the q295
      // bootstrap ledger).
      Relational.permutationTestPpm(
          permPairedDiffs(s, d).select(col("c_mktsegment").as("seg"),
            col("o_custkey"), col("d_c")),
          "seg", "o_custkey", "d_c")
        .select(col("grp").as("seg"), col("n_pairs"), col("sum_obs"),
          col("p_ppm"))
        .orderBy("seg")
    }),

    "q297_bh_fdr" -> ((s, d) => {
      // Benjamini-Hochberg step-up over PER-NATION permutation
      // p-values (q296's machinery at 25 hypotheses) at three FDR
      // levels — the control a platform applies before announcing
      // "these nations moved"; selection is exact integer ppm
      // (Relational.bhStepUp scaladoc). The p-value table is the only
      // input: m = 25 rows, so every BH window is domain-bounded.
      val pvals = Relational.permutationTestPpm(
        permPairedDiffs(s, d).select(col("c_nationkey").cast("long")
            .as("nat"), col("o_custkey"), col("d_c")),
        "nat", "o_custkey", "d_c", prefix = "ptn_")
      Relational.bhStepUp(pvals, "grp", "p_ppm",
          alphasPpm = Seq(10000L, 50000L, 100000L))
        .select(col("alpha_ppm"), col("key").as("nat"), col("p_ppm"),
          col("rnk"), col("selected").cast("long").as("selected"))
        .orderBy("alpha_ppm", "rnk")
    }),

    "q298_benford" -> ((s, d) =>
      // First-digit Benford screen per nation over order totals in
      // cents — the forensics readout for fabricated or unit-mangled
      // money columns; Benford masses are exact ppm constants summing
      // to 10⁶, so no runtime logarithm exists anywhere
      // (Relational.benfordDeviation scaladoc). One 9-cell-per-group
      // agg over the corpus.
      Relational.benfordDeviation(
          orders(s, d).join(customer(s, d),
            col("o_custkey") === col("c_custkey"))
            .select(col("c_nationkey").cast("long").as("nat"),
              col("o_totalprice")),
          "nat", cents(col("o_totalprice")))
        .select(col("grp").as("nat"), col("n"), col("tvd_ppm"),
          col("worst_digit"), col("worst_dev_ppm"))
        .orderBy("nat")),

    "q300_mann_kendall" -> ((s, d) => {
      // Mann-Kendall monotone-trend test on the daily purchase-revenue
      // series — the trend companion to q281's CUSUM level-shift
      // monitor: S = Σ sgn over all C(n,2) day pairs, τ-a in ppm
      // (Relational.mannKendall scaladoc). The series is day-domain
      // bounded, so the pair join is a broadcast self-join forever;
      // the corpus-sized work is the daily aggregation.
      val daily = events(s, d)
        .filter(col("event_type") === "purchase")
        .groupBy(date_format(col("ts"), "yyyy-MM-dd").as("day"))
        .agg(sum(cents(col("value"))).as("x_c"))
      Relational.mannKendall(daily, "day", "x_c")
    }),

    "q301_mcnemar" -> ((s, d) => {
      // McNemar's test on paired binary CONVERSION — did the same
      // customer place an URGENT-priority order in 1996 vs 1997
      // (customers active in both years, q283's pairing): only the
      // discordant pairs carry signal, χ² = (b−c)²/(b+c) in exact
      // ppm (Relational.mcnemarPpm scaladoc; driver-fold property
      // spec). One map-side-combinable agg end-to-end.
      val y = (yr: Int) => max(when(year(col("o_orderdate")) === yr &&
        col("o_orderpriority") === "1-URGENT", 1L).otherwise(0L))
      val t = orders(s, d)
        .filter(year(col("o_orderdate")).isin(1996, 1997))
        .groupBy(col("o_custkey"))
        .agg(y(1996).as("a"), y(1997).as("b"),
          max(when(year(col("o_orderdate")) === 1996, 1L)
            .otherwise(0L)).as("__ha"),
          max(when(year(col("o_orderdate")) === 1997, 1L)
            .otherwise(0L)).as("__hb"))
        .filter(col("__ha") === 1L && col("__hb") === 1L)
        .select((col("a") === 1L).as("y96"), (col("b") === 1L).as("y97"))
      Relational.mcnemarPpm(t, "y96", "y97")
    }),
  )

  val oracleSql: Map[String, String] = Map(

    // accuracy-contract oracles (the q39/q70 sketches): the oracle
    // recomputes the EXACT statistic both engines agree on and asserts
    // the engine's within-tolerance flags are 1 — a drifting sketch
    // flips a flag to 0 and the row hash-mismatches
    "q39_approx_distinct" ->
      """SELECT CAST(COUNT(DISTINCT l_partkey) AS BIGINT) AS exact_parts,
        | CAST(COUNT(DISTINCT l_orderkey) AS BIGINT) AS exact_orders,
        | CAST(1 AS BIGINT) AS parts_ok,
        | CAST(1 AS BIGINT) AS orders_ok
        |FROM lineitem""".stripMargin,

    // the EXACT heavy-hitter set (count*k > n, k=100) with the three
    // contract booleans claimed true — retention, no overcount, and
    // undercount <= n/k are GUARANTEED by Misra-Gries theory, so the
    // hash match proves the guarantees held on this corpus
    "q214_heavy_hitters" ->
      s"""WITH tok AS (SELECT unnest($TOKS) AS w FROM documents),
         |n AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_total FROM tok),
         |e AS (SELECT w, CAST(COUNT(*) AS BIGINT) AS exact_cnt
         | FROM tok GROUP BY 1)
         |SELECT w, exact_cnt, CAST(1 AS BIGINT) AS found,
         | CAST(1 AS BIGINT) AS no_over,
         | CAST(1 AS BIGINT) AS within_bound
         |FROM e, n WHERE exact_cnt * 100 > n_total ORDER BY w""".stripMargin,

    "q95_heavy_hitters" ->
      s"""WITH tok AS (SELECT unnest($TOKS) AS word FROM documents),
         |c AS (SELECT word, COUNT(*) AS cnt FROM tok GROUP BY 1),
         |t AS (SELECT COUNT(*) AS total FROM tok)
         |SELECT word, cnt, round(CAST(cnt AS DOUBLE)/total, 6) AS freq
         |FROM c, t WHERE cnt*200 > total
         |ORDER BY cnt DESC, word""".stripMargin,

    // the width_bucket DEFINITION spelled out (like percentile_disc):
    // both engines must satisfy the semantics, not share an implementation
    "q97_histogram" ->
      """WITH b AS (SELECT CAST(CASE WHEN c < 0 THEN 0
        |    WHEN c >= 50000000 THEN 21
        |    ELSE c // 2500000 + 1 END AS BIGINT) AS bucket
        | FROM (SELECT CAST(round(o_totalprice*100, 0) AS BIGINT) AS c FROM orders))
        |SELECT bucket, COUNT(*) AS n FROM b GROUP BY 1 ORDER BY 1""".stripMargin,

    // same oracle as q51: the histogram formulation must reproduce the
    // buffered exact percentile bit-for-bit
    "q101_histogram_percentile" ->
      """SELECT o_orderstatus,
        | round(quantile_cont(CAST(round(o_totalprice*100,0) AS BIGINT), 0.5), 2) AS median_c,
        | round(quantile_cont(CAST(round(o_totalprice*100,0) AS BIGINT), 0.25), 2) AS q1_c,
        | round(quantile_cont(CAST(round(o_totalprice*100,0) AS BIGINT), 0.75), 2) AS q3_c
        |FROM orders GROUP BY 1 ORDER BY 1""".stripMargin,

    // The oracle recomputes the KMV sketch itself (distinct salted
    // hashes -> k smallest via row_number) and the (k-1)·2^60/h_k
    // estimator in HUGEINT — the estimate hash-compares exactly, unlike
    // q39's engine-private HLL state
    "q137_kmv_distinct" -> kmvWholeCorpusOracle,

    // q168's merged half-sketches must equal the WHOLE-corpus sketch
    // bit-for-bit — mergeability IS the claim, so the oracle is q137's
    // whole-corpus SQL verbatim
    "q168_kmv_merge" -> kmvWholeCorpusOracle,

    // the sketch cells are a pure function of the corpus: row r's hash
    // is bits [15r, 15r+15) of ONE 60-bit md5 hash (Sketches.cmsBuild
    // scaladoc), so the oracle rebuilds the identical d x w cell table
    // and takes the same min over rows per probe word
    "q138_cms_heavy" -> cmsWholeCorpusOracle,

    // the oracle rebuilds both KMV sketches (k smallest distinct salted
    // hashes), takes the k smallest of their union and counts common
    // membership — the same integers the Spark UDF computes
    "q144_kmv_jaccard" ->
      s"""WITH h AS (SELECT DISTINCT o_orderstatus AS g,
         |  ${duckHash("concat('kj_', CAST(o_custkey AS VARCHAR))", 15)} AS h FROM orders),
         |r AS (SELECT g, h, row_number() OVER (PARTITION BY g ORDER BY h) AS rn FROM h),
         |sk AS (SELECT g, list(h ORDER BY h) AS buf FROM r WHERE rn <= $KmvK GROUP BY 1),
         |p AS (SELECT a.g AS g_a, b.g AS g_b, a.buf AS ba, b.buf AS bb
         | FROM sk a JOIN sk b ON a.g < b.g),
         |m AS (SELECT g_a, g_b, ba, bb,
         |  list_sort(list_distinct(list_concat(ba, bb)))[1:$KmvK] AS mu FROM p),
         |c AS (SELECT g_a, g_b,
         |  CAST(len(list_filter(mu, x -> list_contains(ba, x) AND list_contains(bb, x))) AS BIGINT) AS n_common,
         |  CAST(len(mu) AS BIGINT) AS m_size FROM m)
         |SELECT g_a, g_b, n_common, m_size,
         | (n_common * 1000000) // m_size AS jaccard_ppm
         |FROM c ORDER BY g_a, g_b""".stripMargin,

    // per-column KMV blocks over the canonicalized source, unioned —
    // the same estimator as q137 in HUGEINT
    "q154_table_profile" -> {
      val cols = Seq("event_id", "event_type", "props", "user_id", "value_cents")
      val blocks = cols.map { c =>
        s"""SELECT '$c' AS "column",
           | (SELECT CAST(COUNT(*) AS BIGINT) FROM src) AS n_rows,
           | (SELECT CAST(SUM(CASE WHEN $c IS NULL THEN 1 ELSE 0 END) AS BIGINT) FROM src) AS n_null,
           | (SELECT CASE WHEN CAST(COUNT(*) AS BIGINT) < $KmvK THEN CAST(COUNT(*) AS BIGINT)
           |   ELSE CAST((CAST(${KmvK - 1} AS HUGEINT) * ${Sketches.HashDomain})
           |     // GREATEST(MAX(h), 1) AS BIGINT) END
           |  FROM (SELECT h, row_number() OVER (ORDER BY h) AS rn FROM
           |    (SELECT DISTINCT ${duckHash(s"concat('prof_', CAST($c AS VARCHAR))", 15)} AS h
           |     FROM src WHERE $c IS NOT NULL))
           |  WHERE rn <= $KmvK) AS est_distinct""".stripMargin
      }
      s"""WITH src AS (SELECT event_id, event_type, props, user_id,
         |  CAST(round(value*100, 0) AS BIGINT) AS value_cents FROM events)
         |""".stripMargin + blocks.mkString("\nUNION ALL\n") +
        "\nORDER BY \"column\""
    },

    // the same sufficient statistics in HUGEINT and the same Cramer
    // rule through the GENERATED 24-term determinant expansion;
    // HUGEINT holds det magnitudes up to ~sf0.1 corpus sums (bound in
    // the linearFitStats scaladoc)
    "q155_linreg_train" -> {
      def h(c: String) = s"CAST($c AS HUGEINT)"
      val m = Array(
        Array(h("n"), h("s1"), h("s2"), h("s3")),
        Array(h("s1"), h("s11"), h("s12"), h("s13")),
        Array(h("s2"), h("s12"), h("s22"), h("s23")),
        Array(h("s3"), h("s13"), h("s23"), h("s33")))
      val b = Array(h("sy"), h("s1y"), h("s2y"), h("s3y"))
      val names = Seq("intercept", "w_ntok", "w_nstop", "w_nalpha")
      val sw = StopWords.map(w => s"'$w'").mkString(", ")
      val weightRows = names.zipWithIndex.map { case (name, j) =>
        val mj = m.map(_.clone())
        (0 to 3).foreach(i => mj(i)(j) = b(i))
        s"""SELECT '$name' AS feature,
           | CAST(((${det4Sql(mj)}) * 1000000) // (${det4Sql(m)}) AS BIGINT) AS weight_ppm
           |FROM st""".stripMargin
      }
      s"""WITH f AS (SELECT
         |  CAST(len($TOKS) AS BIGINT) AS x1,
         |  CAST(len(list_filter($TOKS, t -> t IN ($sw))) AS BIGINT) AS x2,
         |  CAST(length(regexp_replace(text, '[^A-Za-z]', '', 'g')) AS BIGINT) AS x3,
         |  CAST(length(text) AS BIGINT) AS y FROM documents
         | WHERE text IS NOT NULL),
         |st AS (SELECT CAST(COUNT(*) AS BIGINT) AS n,
         |  CAST(SUM(x1) AS BIGINT) AS s1, CAST(SUM(x2) AS BIGINT) AS s2,
         |  CAST(SUM(x3) AS BIGINT) AS s3,
         |  CAST(SUM(x1*x1) AS BIGINT) AS s11, CAST(SUM(x1*x2) AS BIGINT) AS s12,
         |  CAST(SUM(x1*x3) AS BIGINT) AS s13,
         |  CAST(SUM(x2*x2) AS BIGINT) AS s22, CAST(SUM(x2*x3) AS BIGINT) AS s23,
         |  CAST(SUM(x3*x3) AS BIGINT) AS s33,
         |  CAST(SUM(y) AS BIGINT) AS sy, CAST(SUM(x1*y) AS BIGINT) AS s1y,
         |  CAST(SUM(x2*y) AS BIGINT) AS s2y, CAST(SUM(x3*y) AS BIGINT) AS s3y
         | FROM f)
         |""".stripMargin + weightRows.mkString("\nUNION ALL\n") +
        "\nORDER BY feature"
    },

    // replays the exact integer trajectory: quantize once, then one
    // (misclassify -> per-dim delta -> new weights) CTE pair per epoch;
    // integer products stay far below 2^53 so list_dot_product's double
    // accumulation is exact
    "q158_perceptron_train" -> {
      def iter(prevW: String, e: Int) =
        s"""m$e AS (SELECT q.y, q.xq,
           |  CASE WHEN q.y * list_dot_product(q.xq::DOUBLE[], $prevW.w::DOUBLE[]) <= 0
           |   THEN 1 ELSE 0 END AS wrong FROM q, $prevW),
           |d$e AS (SELECT pos, CAST(SUM(CASE WHEN wrong = 1 THEN y * x ELSE 0 END) AS BIGINT) AS dv
           | FROM (SELECT y, wrong, unnest(xq) AS x, generate_subscripts(xq, 1) AS pos FROM m$e) u
           | GROUP BY pos),
           |w$e AS (SELECT list(we.wv + COALESCE(d$e.dv, 0) ORDER BY we.pos) AS w
           | FROM (SELECT unnest(w) AS wv, generate_subscripts(w, 1) AS pos FROM $prevW) we
           | LEFT JOIN d$e USING (pos)),
           |s$e AS (SELECT CAST($e AS BIGINT) AS epoch,
           |  (SELECT CAST(SUM(wrong) AS BIGINT) FROM m$e) AS n_wrong,
           |  (SELECT CAST(SUM(abs(wv)) AS BIGINT)
           |    FROM (SELECT unnest(w) AS wv FROM w$e) x) AS w_l1)""".stripMargin
      val iters = (1 to PerceptronEpochs)
        .map(e => iter(if (e == 1) "w0" else s"w${e - 1}", e))
      val sel = (1 to PerceptronEpochs)
        .map(e => s"SELECT epoch, n_wrong, w_l1 FROM s$e")
      s"""WITH e AS (SELECT embedding::DOUBLE[] AS v,
         |  CASE WHEN label <= $PerceptronPosMax THEN 1 ELSE -1 END AS y
         | FROM embeddings WHERE embedding IS NOT NULL),
         |st AS (SELECT MAX(abs(x)) AS m FROM (SELECT unnest(v) AS x FROM e)),
         |q AS (SELECT y, list_append(list_transform(v, x ->
         |   CASE WHEN st.m <= 0 THEN 0 ELSE CAST(floor(x * 127.0 / st.m) AS BIGINT) END),
         |   127) AS xq FROM e, st),
         |dim AS (SELECT len(xq) AS d FROM q LIMIT 1),
         |w0 AS (SELECT list_transform(generate_series(1, dim.d), i -> CAST(0 AS BIGINT)) AS w
         | FROM dim),
         |${iters.mkString(",\n")}
         |${sel.mkString("\nUNION ALL\n")}
         |ORDER BY epoch""".stripMargin
    },

    // identical md5 coin, then quantile_cont with q101's rounding
    "q162_hashsample_quantile" ->
      s"""WITH s AS (SELECT o_orderstatus,
         |  CAST(round(o_totalprice*100,0) AS BIGINT) AS price_c FROM orders
         | WHERE ${duckHash("concat('qsamp_', CAST(o_orderkey AS VARCHAR))", 15)} % $QsampOneIn = 0)
         |SELECT o_orderstatus,
         | round(quantile_cont(price_c, 0.5), 2) AS est_median_c,
         | round(quantile_cont(price_c, 0.9), 2) AS est_p90_c
         |FROM s GROUP BY 1 ORDER BY 1""".stripMargin,

    // quantile_cont boundaries (bit-equal to histogramPercentiles per
    // the q101 parity) + the same three broadcast comparisons
    "q169_equidepth_buckets" ->
      """WITH o AS (SELECT CAST(round(o_totalprice*100,0) AS BIGINT) AS price_c FROM orders),
        |b AS (SELECT quantile_cont(price_c, 0.25) AS b1,
        |  quantile_cont(price_c, 0.5) AS b2,
        |  quantile_cont(price_c, 0.75) AS b3 FROM o)
        |SELECT CAST(1 + CAST(price_c > b.b1 AS INT) + CAST(price_c > b.b2 AS INT)
        |   + CAST(price_c > b.b3 AS INT) AS BIGINT) AS bucket,
        | CAST(COUNT(*) AS BIGINT) AS n, MIN(price_c) AS min_c,
        | MAX(price_c) AS max_c, CAST(SUM(price_c) AS BIGINT) AS sum_c
        |FROM o, b GROUP BY 1 ORDER BY 1""".stripMargin,

    // fixed expectation literals; leading digit via the string cast of
    // a positive BIGINT, identical on both engines
    "q170_benford_audit" -> {
      val vals = BenfordPpm.zipWithIndex
        .map { case (p, i) => s"(${i + 1}, $p)" }.mkString(", ")
      s"""WITH c AS (SELECT CAST(round(l_extendedprice*100,0) AS BIGINT) AS c
         | FROM lineitem WHERE round(l_extendedprice*100,0) > 0),
         |n AS (SELECT CAST(COUNT(*) AS BIGINT) AS n FROM c),
         |e AS (SELECT * FROM (VALUES $vals) AS t(digit, exp_ppm)),
         |d AS (SELECT CAST(substr(CAST(c AS VARCHAR),1,1) AS BIGINT) AS digit,
         |  COUNT(*) AS n_obs FROM c GROUP BY 1)
         |SELECT d.digit, CAST(d.n_obs AS BIGINT) AS n_obs,
         | CAST(d.n_obs*1000000 // n.n AS BIGINT) AS obs_ppm,
         | CAST(e.exp_ppm AS BIGINT) AS exp_ppm,
         | CAST(d.n_obs*1000000 // n.n - e.exp_ppm AS BIGINT) AS dev_ppm
         |FROM d JOIN e ON d.digit = e.digit, n ORDER BY d.digit""".stripMargin
    },

    // same md5 split, same floor-log2 add-one likelihood bits, same
    // argmin-with-class-tiebreak
    "q173_nb_confusion" ->
      s"""WITH t AS (SELECT doc_id AS id, lang AS actual,
         |  ${duckHash("concat('nb_', CAST(doc_id AS VARCHAR))", 15)} % 1000000 < 800000 AS is_train,
         |  $TOKS AS toks FROM documents),
         |cnt AS (SELECT actual AS cls, w, CAST(COUNT(*) AS BIGINT) AS cnt
         | FROM (SELECT actual, unnest(toks) AS w FROM t WHERE is_train) GROUP BY 1, 2),
         |voc AS (SELECT CAST(COUNT(DISTINCT w) AS BIGINT) AS v FROM cnt),
         |totc AS (SELECT cls, CAST(SUM(cnt) AS BIGINT) AS tot_c FROM cnt GROUP BY 1),
         |nd AS (SELECT actual AS cls, CAST(COUNT(*) AS BIGINT) AS nd_c
         | FROM t WHERE is_train GROUP BY 1),
         |st AS (SELECT CAST(COUNT(*) AS BIGINT) AS k_cls,
         |  CAST(SUM(nd_c) AS BIGINT) AS n_train FROM nd),
         |cl AS (SELECT cls, tot_c, v,
         |  length(bin((n_train + k_cls) // (nd_c + 1))) - 1 AS prior_bits
         | FROM totc JOIN nd USING (cls) CROSS JOIN voc CROSS JOIN st),
         |ev AS (SELECT id, actual, w, CAST(COUNT(*) AS BIGINT) AS n_w
         | FROM (SELECT id, actual, unnest(toks) AS w FROM t WHERE NOT is_train)
         | GROUP BY 1, 2, 3),
         |sc AS (SELECT ev.id, ev.actual, cl.cls,
         |  MAX(cl.prior_bits) + SUM(ev.n_w *
         |    (length(bin((cl.tot_c + cl.v) // (COALESCE(cnt.cnt, 0) + 1))) - 1)) AS cost
         | FROM ev CROSS JOIN cl
         | LEFT JOIN cnt ON cnt.cls = cl.cls AND cnt.w = ev.w
         | GROUP BY 1, 2, 3),
         |pr AS (SELECT id, actual, cls,
         |  row_number() OVER (PARTITION BY id ORDER BY cost, cls) AS rn FROM sc)
         |SELECT actual, cls AS predicted, CAST(COUNT(*) AS BIGINT) AS n_docs
         |FROM pr WHERE rn = 1 GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin,

    // q173's scoring CTEs verbatim, then the margin via lead() in the
    // same per-doc window and the log2 band agg
    "q275_nb_calibration" ->
      s"""WITH t AS (SELECT doc_id AS id, lang AS actual,
         |  ${duckHash("concat('nb_', CAST(doc_id AS VARCHAR))", 15)} % 1000000 < 800000 AS is_train,
         |  $TOKS AS toks FROM documents),
         |cnt AS (SELECT actual AS cls, w, CAST(COUNT(*) AS BIGINT) AS cnt
         | FROM (SELECT actual, unnest(toks) AS w FROM t WHERE is_train) GROUP BY 1, 2),
         |voc AS (SELECT CAST(COUNT(DISTINCT w) AS BIGINT) AS v FROM cnt),
         |totc AS (SELECT cls, CAST(SUM(cnt) AS BIGINT) AS tot_c FROM cnt GROUP BY 1),
         |nd AS (SELECT actual AS cls, CAST(COUNT(*) AS BIGINT) AS nd_c
         | FROM t WHERE is_train GROUP BY 1),
         |st AS (SELECT CAST(COUNT(*) AS BIGINT) AS k_cls,
         |  CAST(SUM(nd_c) AS BIGINT) AS n_train FROM nd),
         |cl AS (SELECT cls, tot_c, v,
         |  length(bin((n_train + k_cls) // (nd_c + 1))) - 1 AS prior_bits
         | FROM totc JOIN nd USING (cls) CROSS JOIN voc CROSS JOIN st),
         |ev AS (SELECT id, actual, w, CAST(COUNT(*) AS BIGINT) AS n_w
         | FROM (SELECT id, actual, unnest(toks) AS w FROM t WHERE NOT is_train)
         | GROUP BY 1, 2, 3),
         |sc AS (SELECT ev.id, ev.actual, cl.cls,
         |  MAX(cl.prior_bits) + SUM(ev.n_w *
         |    (length(bin((cl.tot_c + cl.v) // (COALESCE(cnt.cnt, 0) + 1))) - 1)) AS cost
         | FROM ev CROSS JOIN cl
         | LEFT JOIN cnt ON cnt.cls = cl.cls AND cnt.w = ev.w
         | GROUP BY 1, 2, 3),
         |pr AS (SELECT id, actual, cls, cost,
         |  row_number() OVER (PARTITION BY id ORDER BY cost, cls) AS rn,
         |  lead(cost) OVER (PARTITION BY id ORDER BY cost, cls) AS next_cost
         | FROM sc),
         |m AS (SELECT actual, cls, CAST(next_cost - cost AS BIGINT) AS margin
         | FROM pr WHERE rn = 1 AND next_cost IS NOT NULL),
         |b AS (SELECT
         |  CAST(CASE WHEN margin <= 0 THEN 0 ELSE length(bin(margin)) END AS BIGINT) AS band,
         |  CASE WHEN cls = actual THEN 1 ELSE 0 END AS ok FROM m)
         |SELECT band, CAST(COUNT(*) AS BIGINT) AS n_docs,
         | CAST(SUM(ok) AS BIGINT) AS n_correct,
         | CAST(SUM(ok) * 1000000 // COUNT(*) AS BIGINT) AS acc_ppm
         |FROM b GROUP BY 1 ORDER BY 1""".stripMargin,

    // the whole-corpus probe verbatim — the merged half-sketches must
    // reproduce it bit-for-bit
    "q178_cms_merge" -> cmsWholeCorpusOracle,

    // pairwise slopes brute force; // floors like the engine's
    // (dy - pmod) div spelling; lower median via the q150 rule
    "q190_theilsen_trend" ->
      """WITH daily AS (SELECT l_returnflag, CAST(l_shipdate AS DATE) AS day,
        |  CAST(SUM(CAST(round(l_extendedprice*100,0) AS BIGINT)) AS BIGINT) AS y
        | FROM lineitem GROUP BY 1, 2),
        |d2 AS (SELECT l_returnflag,
        |  CAST(day - DATE '1970-01-01' AS BIGINT) AS x, y FROM daily),
        |pr AS (SELECT a.l_returnflag AS g,
        |  ((b.y - a.y) * 1000) // (b.x - a.x) AS s
        | FROM d2 a JOIN d2 b ON a.l_returnflag = b.l_returnflag AND a.x < b.x),
        |h AS (SELECT g, s, CAST(COUNT(*) AS BIGINT) AS wv FROM pr GROUP BY 1, 2),
        |c AS (SELECT g, s, wv,
        |  SUM(wv) OVER (PARTITION BY g ORDER BY s
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum,
        |  SUM(wv) OVER (PARTITION BY g) AS tot FROM h)
        |SELECT g AS l_returnflag, CAST(MAX(tot) AS BIGINT) AS n_pairs,
        | CAST(MIN(s) AS BIGINT) AS slope_milli
        |FROM c WHERE cum * 2 >= tot GROUP BY 1 ORDER BY 1""".stripMargin,

    // both sketches rebuilt cellwise, inner product per row, min over
    // rows; exact side is the key-count product sum
    "q194_cms_joinsize" ->
      s"""WITH rr AS (SELECT unnest(generate_series(0, ${CmsDepth - 1})) AS r),
         |ta AS (SELECT CAST(user_id AS VARCHAR) AS w, COUNT(*) AS cnt
         | FROM events GROUP BY 1),
         |cellsa AS (SELECT r,
         |  (${duckHash(s"concat('$JoinSizeSalt', w)", 15)} >> (15 * r)) % $CmsWidth AS c,
         |  SUM(cnt) AS cnt
         | FROM ta CROSS JOIN rr GROUP BY 1, 2),
         |tb AS (SELECT CAST(o_custkey AS VARCHAR) AS w, COUNT(*) AS cnt
         | FROM orders GROUP BY 1),
         |cellsb AS (SELECT r,
         |  (${duckHash(s"concat('$JoinSizeSalt', w)", 15)} >> (15 * r)) % $CmsWidth AS c,
         |  SUM(cnt) AS cnt
         | FROM tb CROSS JOIN rr GROUP BY 1, 2),
         |ip AS (SELECT COALESCE(a.r, b.r) AS r,
         |  SUM(COALESCE(a.cnt, 0) * COALESCE(b.cnt, 0)) AS ip
         | FROM cellsa a FULL OUTER JOIN cellsb b
         |   ON a.r = b.r AND a.c = b.c GROUP BY 1),
         |est AS (SELECT CAST(MIN(ip) AS BIGINT) AS est_join_size FROM ip),
         |ex AS (SELECT CAST(COALESCE(SUM(x.cnt * y.cnt), 0) AS BIGINT) AS exact_join_size
         | FROM ta x JOIN tb y USING (w))
         |SELECT est_join_size, exact_join_size,
         | CASE WHEN exact_join_size = 0 THEN NULL
         |  ELSE CAST(est_join_size * 1000000 // exact_join_size AS BIGINT)
         | END AS over_ppm
         |FROM est, ex""".stripMargin,

    // each window's sketch recomputed FROM SCRATCH (distinct hashes in
    // the window, k smallest, q137's estimator) — the engine's per-day
    // merge must reproduce it exactly
    "q198_kmv_window_rollup" ->
      s"""WITH h AS (SELECT DISTINCT
         |  CAST(CAST(ts AS DATE) - DATE '1970-01-01' AS BIGINT) AS day,
         |  ${duckHash("concat('kmvw_', CAST(user_id AS VARCHAR))", 15)} AS h
         | FROM events),
         |days AS (SELECT DISTINCT day FROM h),
         |wm AS (SELECT d.day AS wday, h.h FROM days d
         |  JOIN h ON h.day BETWEEN d.day - 6 AND d.day),
         |dh AS (SELECT DISTINCT wday, h FROM wm),
         |r AS (SELECT wday, h,
         |  row_number() OVER (PARTITION BY wday ORDER BY h) AS rn FROM dh),
         |b AS (SELECT wday, CAST(COUNT(*) AS BIGINT) AS n_kept,
         |  MAX(h) AS kth_min FROM r WHERE rn <= $KmvK GROUP BY 1)
         |SELECT wday AS day_num, n_kept, kth_min,
         | CASE WHEN n_kept < $KmvK THEN n_kept
         |  ELSE CAST((CAST(${KmvK - 1} AS HUGEINT) * ${Sketches.HashDomain})
         |    // GREATEST(kth_min, 1) AS BIGINT) END AS est_distinct
         |FROM b ORDER BY 1""".stripMargin,

    // the full contract row: sketch estimate + exact discrete quantile
    // (shared integer rank rule) + the two structural-guarantee booleans
    "q223_logbucket_quantiles" ->
      s"""$logBucketOracleCore
         |SELECT e.grp, e.q_ppm, e.n_total, e.est, x.exact,
         |  CAST(e.est <= x.exact AS BIGINT) AS le_exact,
         |  CAST(x.exact < e.est + e.width AS BIGINT) AS lt_ub
         |FROM est e JOIN exact x ON e.grp = x.grp AND e.q_ppm = x.q_ppm
         |ORDER BY e.grp, e.q_ppm""".stripMargin,

    // merged half-sketches must reproduce the WHOLE-corpus sketch's
    // quantile rows exactly (the sketch is linear) — est side of q223
    "q224_logbucket_merge" ->
      s"""$logBucketOracleCore
         |SELECT grp, q_ppm, n_total, est FROM est
         |ORDER BY grp, q_ppm""".stripMargin,

    // the register table and integer estimator recomputed in full; the
    // exact count and its error ride the row
    "q232_hll_distinct" ->
      s"""$hllOracleCore,
         |ex AS (SELECT event_type,
         |  CAST(COUNT(DISTINCT user_id) AS BIGINT) AS exact_distinct
         | FROM events WHERE user_id IS NOT NULL GROUP BY 1)
         |SELECT f.event_type, n_present, s_scaled, est_hll, exact_distinct,
         | CAST((abs(est_hll - exact_distinct) * 1000000) // exact_distinct
         |   AS BIGINT) AS err_ppm
         |FROM fin f JOIN ex USING (event_type)
         |ORDER BY event_type""".stripMargin,

    // merged half-registers must reproduce the whole-corpus registers
    // (MAX distributes over union) — est side of q232
    "q233_hll_merge" ->
      s"""$hllOracleCore
         |SELECT event_type, n_present, s_scaled, est_hll FROM fin
         |ORDER BY event_type""".stripMargin,

    // every trailing window recomputed FROM SCRATCH (values re-binned
    // per window) — the engine's per-day cell merge must reproduce it
    "q235_quantile_rollup" -> {
      val s = LbSubBits
      val w = 1L << s
      val idx = s"""CAST(length(bin(v)) - 1 AS BIGINT) * $w
        + (v >> GREATEST(length(bin(v)) - 1 - $s, 0))
        - (CAST(1 AS BIGINT) << ((length(bin(v)) - 1)
            - GREATEST(length(bin(v)) - 1 - $s, 0)))"""
      val e = s"CAST(kb // $w AS INT)"
      s"""WITH v0 AS (SELECT
         |  CAST(CAST(ts AS DATE) - DATE '1970-01-01' AS BIGINT) AS day,
         |  CAST(round(value * 100) AS BIGINT) AS v FROM events),
         |v AS (SELECT day, v FROM v0 WHERE v >= 1),
         |days AS (SELECT DISTINCT day FROM v),
         |wm AS (SELECT d.day AS wday, v.v FROM days d
         |  JOIN v ON v.day BETWEEN d.day - 6 AND d.day),
         |cells AS (SELECT wday, $idx AS k, COUNT(*) AS cnt
         | FROM wm GROUP BY 1, 2),
         |n AS (SELECT wday, CAST(SUM(cnt) AS BIGINT) AS n_total
         | FROM cells GROUP BY 1),
         |q AS (SELECT CAST(unnest([500000, 990000]) AS BIGINT) AS q_ppm),
         |r AS (SELECT wday, n_total, q_ppm,
         |  GREATEST((n_total * q_ppm + 999999) // 1000000, 1) AS rnk
         | FROM n CROSS JOIN q),
         |cum AS (SELECT wday, k,
         |  SUM(cnt) OVER (PARTITION BY wday ORDER BY k) AS c FROM cells),
         |sel AS (SELECT r.wday, q_ppm, n_total,
         |  MIN(CASE WHEN c >= rnk THEN k END) AS kb
         | FROM r JOIN cum ON r.wday = cum.wday GROUP BY 1, 2, 3)
         |SELECT wday, q_ppm, n_total,
         | CAST(((kb % $w) + (CAST(1 AS BIGINT)
         |    << ($e - GREATEST($e - $s, 0)))) << GREATEST($e - $s, 0)
         |  AS BIGINT) AS est
         |FROM sel ORDER BY wday, q_ppm""".stripMargin
    },

    // standing-sketch merge == whole-corpus recompute (MAX distributes
    // over union, q233) — so the oracle IS the full rebuild, est side
    // of q232
    "q242_hll_ingest" ->
      s"""$hllOracleCore
         |SELECT event_type, n_present, s_scaled, est_hll FROM fin
         |ORDER BY event_type""".stripMargin,

    // lower medians at rank ceil(n/2) — exact integers, no
    // interpolation to disagree on; 3xMAD rule replayed verbatim
    "q247_daily_anomaly" ->
      """WITH daily AS (SELECT CAST(ts AS DATE) AS day,
        |  CAST(SUM(CAST(round(value * 100) AS BIGINT)) AS BIGINT) AS total_c
        | FROM events WHERE event_type = 'purchase' GROUP BY 1),
        |m AS (SELECT total_c AS med FROM (
        |  SELECT total_c, row_number() OVER (ORDER BY total_c) AS rn,
        |   COUNT(*) OVER () AS n FROM daily) WHERE rn = (n + 1) // 2),
        |md AS (SELECT dev AS mad FROM (
        |  SELECT dev, row_number() OVER (ORDER BY dev) AS rn,
        |   COUNT(*) OVER () AS n
        |  FROM (SELECT abs(total_c - (SELECT med FROM m)) AS dev FROM daily))
        | WHERE rn = (n + 1) // 2)
        |SELECT strftime(day, '%Y-%m-%d') AS day, total_c,
        | CAST((SELECT med FROM m) AS BIGINT) AS med_c,
        | CAST((SELECT mad FROM md) AS BIGINT) AS mad_c,
        | CAST(abs(total_c - (SELECT med FROM m)) AS BIGINT) AS dev_c,
        | CAST(CASE WHEN abs(total_c - (SELECT med FROM m))
        |   > 3 * (SELECT mad FROM md) THEN 1 ELSE 0 END AS BIGINT) AS is_anomaly
        |FROM daily ORDER BY 1""".stripMargin,

    // same cents first digit, same hard-coded Benford ppm constants
    "q262_benford_audit" ->
      """WITH v AS (SELECT CAST(round(o_totalprice * 100) AS BIGINT) AS v
        | FROM orders WHERE CAST(round(o_totalprice * 100) AS BIGINT) > 0),
        |g AS (SELECT CAST(substr(CAST(v AS VARCHAR), 1, 1) AS INTEGER) AS digit,
        |  CAST(COUNT(*) AS BIGINT) AS n FROM v GROUP BY 1),
        |t AS (SELECT CAST(COUNT(*) AS BIGINT) AS total FROM v),
        |e AS (SELECT * FROM (VALUES (1, 301030), (2, 176091), (3, 124939),
        |  (4, 96910), (5, 79181), (6, 66947), (7, 57992), (8, 51153),
        |  (9, 45757)) AS b(digit, benford_ppm))
        |SELECT g.digit, g.n,
        | CAST(g.n * 1000000 // (SELECT total FROM t) AS BIGINT) AS observed_ppm,
        | CAST(e.benford_ppm AS BIGINT) AS benford_ppm,
        | CAST(abs(g.n * 1000000 // (SELECT total FROM t) - e.benford_ppm)
        |   AS BIGINT) AS abs_diff_ppm
        |FROM g JOIN e ON e.digit = g.digit
        |ORDER BY 1""".stripMargin,

    // same md5 arm coin as q258; 2×-rank arithmetic from the value
    // histogram, the identical floor-division order for rb_ppm
    "q264_mann_whitney" -> {
      val coin = duckHash("concat('ab_', CAST(user_id AS VARCHAR))", 15)
      s"""WITH u AS (SELECT user_id,
        |  SUM(CASE WHEN event_type = 'purchase'
        |    THEN CAST(round(value * 100) AS BIGINT) ELSE 0 END) AS value_c
        | FROM events GROUP BY 1),
        |a AS (SELECT CASE WHEN $coin % 2 = 0 THEN 'control'
        |  ELSE 'treatment' END AS arm, value_c FROM u),
        |h AS (SELECT value_c, CAST(COUNT(*) AS BIGINT) AS cnt
        |  FROM a GROUP BY 1),
        |r AS (SELECT value_c,
        |  2 * (CAST(SUM(cnt) OVER (ORDER BY value_c) AS BIGINT) - cnt)
        |    + cnt + 1 AS rank2 FROM h),
        |s AS (SELECT arm, CAST(COUNT(*) AS BIGINT) AS n_users,
        |   CAST(SUM(r.rank2) AS BIGINT) AS rank2_sum
        |  FROM a JOIN r USING (value_c) GROUP BY 1),
        |t AS (SELECT s.*,
        |  s.rank2_sum - s.n_users * (s.n_users + 1) AS u2 FROM s)
        |SELECT t.arm, t.n_users, t.rank2_sum, CAST(t.u2 AS BIGINT) AS u2,
        | CAST(t.u2 // GREATEST((t.n_users * o.n_users) // 1000000, 1)
        |   - 1000000 AS BIGINT) AS rb_ppm
        |FROM t JOIN t o ON t.arm <> o.arm
        |ORDER BY t.arm""".stripMargin
    },

    // DuckDB dayofweek is 0=Sunday..6; Spark's is 1..7 — shift by one
    "q265_independence_lift" ->
      """WITH e AS (SELECT event_type,
        |  CAST(dayofweek(ts) + 1 AS BIGINT) AS weekday FROM events),
        |c AS (SELECT event_type, weekday, CAST(COUNT(*) AS BIGINT) AS n_obs
        |  FROM e GROUP BY 1, 2),
        |r AS (SELECT event_type, CAST(COUNT(*) AS BIGINT) AS rt
        |  FROM e GROUP BY 1),
        |co AS (SELECT weekday, CAST(COUNT(*) AS BIGINT) AS ct
        |  FROM e GROUP BY 1),
        |n AS (SELECT CAST(COUNT(*) AS BIGINT) AS nt FROM e)
        |SELECT c.event_type, c.weekday, c.n_obs,
        | CAST((r.rt * co.ct) // n.nt AS BIGINT) AS n_exp,
        | CAST((c.n_obs * 1000000) // GREATEST((r.rt * co.ct) // n.nt, 1)
        |   AS BIGINT) AS lift_ppm
        |FROM c JOIN r USING (event_type) JOIN co USING (weekday)
        |CROSS JOIN n
        |ORDER BY 1, 2""".stripMargin,

    // q259's quality decile + q255's log2 band, then tau-b entirely
    // from the bounded 2D histogram; tie terms from the marginals
    "q271_kendall_tau" -> {
      val sw = StopWords.map(w => s"'$w'").mkString(", ")
      s"""WITH t AS (SELECT doc_id, text, n_chars, $TOKS AS toks FROM documents),
         |s AS (SELECT doc_id, text, n_chars,
         |  CAST(len(toks) AS BIGINT) AS n_tokens,
         |  CAST(len(list_filter(toks, x -> x IN ($sw))) AS BIGINT) AS n_stop FROM t),
         |q AS (SELECT n_chars,
         |  floor((least(CAST(n_tokens AS DOUBLE)/50.0, 1.0)*0.4
         |   + least((CASE WHEN n_tokens > 0 THEN CAST(n_stop AS DOUBLE)/n_tokens ELSE 0.0 END)*4.0, 1.0)*0.3
         |   + (CASE WHEN length(text) > 0
         |      THEN CAST(length(regexp_replace(text,'[^A-Za-z]','','g')) AS DOUBLE)/length(text)
         |      ELSE 0.0 END)*0.3)*10000 + 0.5)/10000.0 AS quality
         | FROM s),
         |b AS (SELECT
         |  least(CAST(floor(quality * 10000 + 0.5) AS BIGINT) // 1000, 9) AS qb,
         |  CAST(CASE WHEN n_chars <= 0 THEN 0 ELSE length(bin(n_chars)) END AS BIGINT) AS lb
         | FROM q),
         |cells AS (SELECT qb, lb, CAST(COUNT(*) AS BIGINT) AS c FROM b GROUP BY 1, 2),
         |cd AS (SELECT
         |  CAST(COALESCE(SUM(CASE WHEN a.lb < b2.lb THEN a.c * b2.c ELSE 0 END), 0) AS BIGINT) AS conc,
         |  CAST(COALESCE(SUM(CASE WHEN a.lb > b2.lb THEN a.c * b2.c ELSE 0 END), 0) AS BIGINT) AS disc
         | FROM cells a JOIN cells b2 ON a.qb < b2.qb),
         |nn AS (SELECT CAST(SUM(c) AS BIGINT) AS n FROM cells),
         |tq AS (SELECT CAST(SUM(t*(t-1)//2) AS BIGINT) AS tie_q
         | FROM (SELECT CAST(SUM(c) AS BIGINT) AS t FROM cells GROUP BY qb)),
         |tl AS (SELECT CAST(SUM(t*(t-1)//2) AS BIGINT) AS tie_l
         | FROM (SELECT CAST(SUM(c) AS BIGINT) AS t FROM cells GROUP BY lb))
         |SELECT nn.n AS n_docs, cd.conc AS concordant, cd.disc AS discordant,
         | round(CASE WHEN (nn.n*(nn.n-1)//2 - tq.tie_q) > 0
         |   AND (nn.n*(nn.n-1)//2 - tl.tie_l) > 0
         |  THEN CAST(cd.conc - cd.disc AS DOUBLE) /
         |   (sqrt(CAST(nn.n*(nn.n-1)//2 - tq.tie_q AS DOUBLE)) *
         |    sqrt(CAST(nn.n*(nn.n-1)//2 - tl.tie_l AS DOUBLE)))
         |  ELSE 0.0 END, 6) AS tau_b6
         |FROM cd, nn, tq, tl""".stripMargin
    },

    // the same dollar quantization, ECDF windows, ppm floor divisions
    // and smallest-argmax tiebreak
    "q279_ks_drift" ->
      """WITH t AS (SELECT c.c_mktsegment AS arm,
        |  CAST(round(o.o_totalprice*100,0) AS BIGINT) // 100 AS v
        | FROM orders o JOIN customer c ON o.o_custkey = c.c_custkey
        | WHERE c.c_mktsegment IN ('BUILDING','MACHINERY')),
        |h AS (SELECT v,
        |  CAST(SUM(CASE WHEN arm='BUILDING' THEN 1 ELSE 0 END) AS BIGINT) AS ca,
        |  CAST(SUM(CASE WHEN arm='MACHINERY' THEN 1 ELSE 0 END) AS BIGINT) AS cb
        | FROM t GROUP BY v),
        |c AS (SELECT v, SUM(ca) OVER (ORDER BY v) AS cuma,
        |  SUM(cb) OVER (ORDER BY v) AS cumb FROM h),
        |n AS (SELECT CAST(SUM(ca) AS BIGINT) AS n_a,
        |  CAST(SUM(cb) AS BIGINT) AS n_b FROM h),
        |d AS (SELECT n.n_a, n.n_b,
        |  CAST(abs((cuma*1000000) // greatest(n.n_a,1)
        |    - (cumb*1000000) // greatest(n.n_b,1)) AS BIGINT) AS ks_ppm,
        |  CAST(v AS BIGINT) AS at_v FROM c, n)
        |SELECT n_a, n_b, ks_ppm, at_v FROM d
        |ORDER BY ks_ppm DESC, at_v ASC LIMIT 1""".stripMargin,

    // the two-stage histogram ranks equal row_number over (value, id),
    // so the oracle uses the direct definition
    "q280_spearman_corr" ->
      """WITH sp AS (SELECT o_custkey,
        |  CAST(SUM(CAST(round(o_totalprice*100,0) AS BIGINT)) AS BIGINT) AS y
        | FROM orders GROUP BY 1),
        |t AS (SELECT c.c_custkey AS id,
        |  CAST(round(c.c_acctbal*100,0) AS BIGINT) AS x,
        |  COALESCE(sp.y, 0) AS y
        | FROM customer c LEFT JOIN sp ON c.c_custkey = sp.o_custkey),
        |r AS (SELECT row_number() OVER (ORDER BY x, id) AS rx,
        |  row_number() OVER (ORDER BY y, id) AS ry FROM t),
        |a AS (SELECT CAST(COUNT(*) AS BIGINT) AS n,
        |  CAST(SUM((rx-ry)*(rx-ry)) AS BIGINT) AS sum_d2 FROM r)
        |SELECT n, sum_d2,
        | CAST(1000000 - CASE WHEN n <= 16000
        |   THEN (6*sum_d2*1000000) // greatest(n*(n*n-1), 1)
        |   ELSE (6*sum_d2) // greatest((n*(n*n-1)) // 1000000, 1) END
        |   AS BIGINT) AS rho_ppm
        |FROM a""".stripMargin,

    // same self-calibrated target/slack floors, prefix-sum + prefix-min
    // identity and 4x-target alarm line
    "q281_cusum_daily" ->
      """WITH daily AS (SELECT strftime(ts, '%Y-%m-%d') AS day,
        |  CAST(SUM(CAST(round(value*100,0) AS BIGINT)) AS BIGINT) AS x_c
        | FROM events WHERE event_type = 'purchase' GROUP BY 1),
        |cal AS (SELECT SUM(x_c) // COUNT(*) AS target,
        |  (SUM(x_c) // COUNT(*)) // 20 AS slack FROM daily),
        |p AS (SELECT day, x_c, cal.target,
        |  SUM(x_c - cal.target - cal.slack) OVER (ORDER BY day) AS pp
        | FROM daily, cal),
        |s AS (SELECT day, x_c, target,
        |  pp - least(0, MIN(pp) OVER (ORDER BY day)) AS cusum_c FROM p)
        |SELECT day, x_c, CAST(cusum_c AS BIGINT) AS cusum_c,
        | (cusum_c > target*4) AS alarm
        |FROM s ORDER BY day""".stripMargin,

    // same 1996/1997 pairing, zero-diff drop, 2x-scaled average
    // magnitude ranks and nonnegative share division
    "q283_wilcoxon_pairs" ->
      """WITH t AS (SELECT o_custkey,
        |  SUM(CASE WHEN year(o_orderdate)=1996
        |    THEN CAST(round(o_totalprice*100,0) AS BIGINT) ELSE 0 END) AS a_c,
        |  SUM(CASE WHEN year(o_orderdate)=1997
        |    THEN CAST(round(o_totalprice*100,0) AS BIGINT) ELSE 0 END) AS b_c,
        |  MAX(CASE WHEN year(o_orderdate)=1996 THEN 1 ELSE 0 END) AS ha,
        |  MAX(CASE WHEN year(o_orderdate)=1997 THEN 1 ELSE 0 END) AS hb
        | FROM orders WHERE year(o_orderdate) IN (1996, 1997) GROUP BY 1),
        |d AS (SELECT b_c - a_c AS dv FROM t
        | WHERE ha = 1 AND hb = 1 AND b_c - a_c <> 0),
        |h AS (SELECT abs(dv) AS a, CAST(COUNT(*) AS BIGINT) AS cnt
        | FROM d GROUP BY 1),
        |r AS (SELECT a,
        |  2*(SUM(cnt) OVER (ORDER BY a) - cnt) + cnt + 1 AS rank2 FROM h),
        |sgn AS (SELECT abs(dv) AS a, dv > 0 AS pos,
        |  CAST(COUNT(*) AS BIGINT) AS n FROM d GROUP BY 1, 2),
        |w AS (SELECT CAST(SUM(n) AS BIGINT) AS n_pairs,
        |  CAST(SUM(CASE WHEN pos THEN n*rank2 ELSE 0 END) AS BIGINT) AS w2_plus,
        |  CAST(SUM(CASE WHEN NOT pos THEN n*rank2 ELSE 0 END) AS BIGINT) AS w2_minus
        | FROM sgn JOIN r USING (a))
        |SELECT n_pairs, w2_plus, w2_minus,
        | CAST(CASE WHEN w2_plus + w2_minus <= 9000000000000
        |   THEN (w2_plus * 1000000) // greatest(w2_plus + w2_minus, 1)
        |   ELSE w2_plus // ((w2_plus + w2_minus) // 1000000) END
        |   AS BIGINT) AS wplus_share_ppm
        |FROM w""".stripMargin,

    // DuckDB integer // truncates toward zero exactly like Spark div,
    // so a negative slope numerator divides identically
    "q285_seg_trend_ols" ->
      """WITH m AS (SELECT c.c_mktsegment AS seg,
        |  CAST((year(o_orderdate)-1995)*12 + month(o_orderdate)-1 AS BIGINT) AS x,
        |  CAST(SUM(CAST(round(o_totalprice*100,0) AS BIGINT)) AS BIGINT) AS y
        | FROM orders o JOIN customer c ON o.o_custkey = c.c_custkey
        | GROUP BY 1, 2),
        |a AS (SELECT seg, CAST(COUNT(*) AS BIGINT) AS n,
        |  CAST(SUM(x) AS BIGINT) AS sx, CAST(SUM(y) AS BIGINT) AS sy,
        |  CAST(SUM(x*y) AS BIGINT) AS sxy, CAST(SUM(x*x) AS BIGINT) AS sxx
        | FROM m GROUP BY 1),
        |b AS (SELECT seg, n, sx, sy,
        |  n*sxy - sx*sy AS slope_num, n*sxx - sx*sx AS slope_den
        | FROM a WHERE n*sxx - sx*sx > 0),
        |c2 AS (SELECT seg, n, slope_num, slope_den,
        |  slope_num // slope_den AS slope, sx, sy FROM b)
        |SELECT seg, n, CAST(slope_num AS BIGINT) AS slope_num,
        | CAST(slope_den AS BIGINT) AS slope_den,
        | CAST(slope AS BIGINT) AS slope,
        | CAST((sy - slope*sx) // n AS BIGINT) AS intercept
        |FROM c2 ORDER BY seg""".stripMargin,

    // same daily-count moments and fused var/mean ppm division
    "q286_fano_burstiness" ->
      """WITH daily AS (SELECT event_type, strftime(ts, '%Y-%m-%d') AS day,
        |  CAST(COUNT(*) AS BIGINT) AS x
        | FROM events GROUP BY 1, 2),
        |a AS (SELECT event_type, CAST(COUNT(*) AS BIGINT) AS n_days,
        |  CAST(SUM(x) AS BIGINT) AS sum_x,
        |  CAST(SUM(x*x) AS BIGINT) AS sxx
        | FROM daily GROUP BY 1)
        |SELECT event_type, n_days, sum_x,
        | CAST(((n_days*sxx - sum_x*sum_x) * 1000000)
        |   // greatest(n_days*sum_x, 1) AS BIGINT) AS fano_ppm
        |FROM a ORDER BY event_type""".stripMargin,

    // q271's quality CTE, the md5 dup-group flag, then the minimax
    // identity over reversed bands (floor commutes with max/min, so
    // floored pairwise averages give the floored exact fit)
    "q290_isotonic_calibration" -> {
      val sw = StopWords.map(w => s"'$w'").mkString(", ")
      s"""WITH t AS (SELECT doc_id, text, $TOKS AS toks FROM documents),
         |s AS (SELECT doc_id, text,
         |  CAST(len(toks) AS BIGINT) AS n_tokens,
         |  CAST(len(list_filter(toks, x -> x IN ($sw))) AS BIGINT) AS n_stop FROM t),
         |q AS (SELECT doc_id,
         |  floor((least(CAST(n_tokens AS DOUBLE)/50.0, 1.0)*0.4
         |   + least((CASE WHEN n_tokens > 0 THEN CAST(n_stop AS DOUBLE)/n_tokens ELSE 0.0 END)*4.0, 1.0)*0.3
         |   + (CASE WHEN length(text) > 0
         |      THEN CAST(length(regexp_replace(text,'[^A-Za-z]','','g')) AS DOUBLE)/length(text)
         |      ELSE 0.0 END)*0.3)*10000 + 0.5)/10000.0 AS quality
         | FROM s),
         |qb AS (SELECT doc_id,
         |  least(CAST(floor(quality * 10000 + 0.5) AS BIGINT) // 1000, 9) AS qb
         | FROM q),
         |hh AS (SELECT doc_id, md5(text) AS h FROM documents),
         |hc AS (SELECT h, CAST(COUNT(*) AS BIGINT) AS c FROM hh GROUP BY 1),
         |fl AS (SELECT qb.qb,
         |  CASE WHEN hc.c > 1 THEN 1 ELSE 0 END AS is_dup
         | FROM qb JOIN hh USING (doc_id) JOIN hc USING (h)),
         |bd AS (SELECT CAST(9 - qb AS BIGINT) AS rb,
         |  CAST(SUM(is_dup) AS BIGINT) AS s,
         |  CAST(COUNT(*) AS BIGINT) AS n FROM fl GROUP BY 1),
         |pf AS (SELECT rb, s, n, SUM(s) OVER (ORDER BY rb) AS cs,
         |  SUM(n) OVER (ORDER BY rb) AS cn FROM bd),
         |pr AS (SELECT a.rb AS i, b2.rb AS j,
         |  ((b2.cs - (a.cs - a.s)) * 1000000) // (b2.cn - (a.cn - a.n)) AS avg_ppm
         | FROM pf a JOIN pf b2 ON a.rb <= b2.rb),
         |inn AS (SELECT pr.i, pf.rb AS b, MIN(pr.avg_ppm) AS m
         | FROM pr JOIN pf ON pr.i <= pf.rb AND pf.rb <= pr.j GROUP BY 1, 2),
         |ft AS (SELECT b AS rb, CAST(MAX(m) AS BIGINT) AS iso_fit_ppm
         | FROM inn GROUP BY 1)
         |SELECT CAST(9 - pf.rb AS BIGINT) AS qb, pf.n, pf.s,
         | CAST((pf.s * 1000000) // pf.n AS BIGINT) AS rate_ppm,
         | ft.iso_fit_ppm
         |FROM pf JOIN ft USING (rb) ORDER BY qb""".stripMargin
    },

    // q283's paired-diff CTE + the md5 hex-parity sign replay (the
    // signFlips contract: sign r of id = parity of hex char (r mod 32)
    // of md5(prefix||id||'_'||r//32)) + the add-one permutation p
    "q296_permutation_test" ->
      s"""WITH t AS ($PermPairsSql),
         |obs AS (SELECT seg, CAST(COUNT(*) AS BIGINT) AS n_pairs,
         |  CAST(SUM(d_c) AS BIGINT) AS sum_obs FROM t GROUP BY 1),
         |rs AS (SELECT seg, r,
         |  SUM((${permSignSql("pt_")}) * d_c) AS sr
         | FROM t CROSS JOIN (SELECT unnest(generate_series(0,198)) AS r)
         | GROUP BY 1, 2),
         |p AS (SELECT rs.seg,
         |  SUM(CASE WHEN abs(rs.sr) >= abs(obs.sum_obs) THEN 1 ELSE 0 END) AS ge
         | FROM rs JOIN obs ON rs.seg = obs.seg GROUP BY 1)
         |SELECT obs.seg, obs.n_pairs, obs.sum_obs,
         | CAST(((1 + p.ge) * 1000000) // 200 AS BIGINT) AS p_ppm
         |FROM obs JOIN p ON obs.seg = p.seg ORDER BY obs.seg""".stripMargin,

    // per-nation p-values (same replay, 'ptn_' prefix) + BH step-up:
    // rank p ascending (string-key tie-break, matching the engine's
    // cast), select rank <= max{k : p*m <= k*alpha}
    "q297_bh_fdr" ->
      s"""WITH t AS ($PermPairsSql),
         |obs AS (SELECT nat, CAST(SUM(d_c) AS BIGINT) AS sum_obs
         | FROM t GROUP BY 1),
         |rs AS (SELECT nat, r,
         |  SUM((${permSignSql("ptn_")}) * d_c) AS sr
         | FROM t CROSS JOIN (SELECT unnest(generate_series(0,198)) AS r)
         | GROUP BY 1, 2),
         |pv AS (SELECT CAST(rs.nat AS VARCHAR) AS nat,
         |  CAST(((1 + SUM(CASE WHEN abs(rs.sr) >= abs(obs.sum_obs)
         |    THEN 1 ELSE 0 END)) * 1000000) // 200 AS BIGINT) AS p_ppm
         | FROM rs JOIN obs ON rs.nat = obs.nat GROUP BY 1),
         |sel AS (SELECT alpha_ppm, nat, p_ppm,
         |  row_number() OVER (PARTITION BY alpha_ppm
         |    ORDER BY p_ppm, nat) AS rnk,
         |  COUNT(*) OVER (PARTITION BY alpha_ppm) AS m
         | FROM pv CROSS JOIN (SELECT CAST(unnest([10000, 50000, 100000])
         |   AS BIGINT) AS alpha_ppm)),
         |k AS (SELECT alpha_ppm, MAX(CASE WHEN p_ppm * m <= rnk * alpha_ppm
         |   THEN rnk END) AS kstar
         | FROM sel GROUP BY 1)
         |SELECT sel.alpha_ppm, sel.nat, sel.p_ppm,
         | CAST(sel.rnk AS BIGINT) AS rnk,
         | CAST(CASE WHEN k.kstar IS NOT NULL AND sel.rnk <= k.kstar
         |   THEN 1 ELSE 0 END AS BIGINT) AS selected
         |FROM sel JOIN k USING (alpha_ppm)
         |ORDER BY alpha_ppm, rnk""".stripMargin,

    // exact Benford ppm constants (they sum to 1e6); floored shares;
    // missing digits keep their full Benford mass via the spine
    "q298_benford" ->
      """WITH v AS (SELECT c.c_nationkey AS nat,
        |  CAST(round(o.o_totalprice*100,0) AS BIGINT) AS vc
        | FROM orders o JOIN customer c ON o.o_custkey = c.c_custkey),
        |cnt AS (SELECT nat,
        |  CAST(substr(CAST(vc AS VARCHAR),1,1) AS BIGINT) AS digit,
        |  CAST(COUNT(*) AS BIGINT) AS cnt FROM v GROUP BY 1, 2),
        |n AS (SELECT nat, SUM(cnt) AS n FROM cnt GROUP BY 1),
        |spine AS (SELECT unnest([1,2,3,4,5,6,7,8,9]) AS digit,
        |  unnest([301030,176091,124939,96910,79181,66947,57992,51153,45757])
        |    AS bppm),
        |cells AS (SELECT n.nat, n.n, s.digit, s.bppm,
        |  COALESCE(c.cnt, 0) AS cnt
        | FROM n CROSS JOIN spine s
        | LEFT JOIN cnt c ON c.nat = n.nat AND c.digit = s.digit),
        |dev AS (SELECT nat, n, digit,
        |  abs((cnt*1000000)//n - bppm) AS dev FROM cells),
        |w AS (SELECT nat, n, digit, dev, row_number() OVER
        |  (PARTITION BY nat ORDER BY dev DESC, digit) AS rw FROM dev)
        |SELECT CAST(nat AS BIGINT) AS nat, CAST(n AS BIGINT) AS n,
        | CAST(SUM(dev) // 2 AS BIGINT) AS tvd_ppm,
        | CAST(MAX(CASE WHEN rw=1 THEN digit END) AS BIGINT) AS worst_digit,
        | CAST(MAX(CASE WHEN rw=1 THEN dev END) AS BIGINT) AS worst_dev_ppm
        |FROM w GROUP BY 1, 2 ORDER BY nat""".stripMargin,

    // q281's daily CTE, then the literal C(n,2) sgn sum (the series is
    // day-domain bounded, so the quadratic join is the oracle's to pay)
    "q300_mann_kendall" ->
      """WITH daily AS (SELECT strftime(ts, '%Y-%m-%d') AS day,
        |  CAST(SUM(CAST(round(value*100,0) AS BIGINT)) AS BIGINT) AS x_c
        | FROM events WHERE event_type = 'purchase' GROUP BY 1),
        |p AS (SELECT COUNT(*) AS npairs,
        |  SUM(CASE WHEN b.x_c > a.x_c THEN 1
        |      WHEN b.x_c < a.x_c THEN -1 ELSE 0 END) AS s
        | FROM daily a JOIN daily b ON a.day < b.day)
        |SELECT (SELECT CAST(COUNT(*) AS BIGINT) FROM daily) AS n_pts,
        | CAST(p.s AS BIGINT) AS s_stat,
        | CAST((p.s * 1000000) // greatest(p.npairs, 1) AS BIGINT) AS tau_ppm
        |FROM p""".stripMargin,

    // the same paired-years CTE shape as q283/q296, binary outcome =
    // "placed an URGENT order that year", then (b-c)^2/(b+c) in ppm
    "q301_mcnemar" ->
      """WITH t AS (SELECT o_custkey,
        |  MAX(CASE WHEN year(o_orderdate)=1996
        |    AND o_orderpriority='1-URGENT' THEN 1 ELSE 0 END) AS a,
        |  MAX(CASE WHEN year(o_orderdate)=1997
        |    AND o_orderpriority='1-URGENT' THEN 1 ELSE 0 END) AS b,
        |  MAX(CASE WHEN year(o_orderdate)=1996 THEN 1 ELSE 0 END) AS ha,
        |  MAX(CASE WHEN year(o_orderdate)=1997 THEN 1 ELSE 0 END) AS hb
        | FROM orders WHERE year(o_orderdate) IN (1996, 1997) GROUP BY 1),
        |p AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_pairs,
        |  CAST(SUM(CASE WHEN a=1 AND b=0 THEN 1 ELSE 0 END) AS BIGINT) AS n_b,
        |  CAST(SUM(CASE WHEN a=0 AND b=1 THEN 1 ELSE 0 END) AS BIGINT) AS n_c
        | FROM t WHERE ha = 1 AND hb = 1)
        |SELECT n_pairs, n_b, n_c,
        | CAST(((n_b - n_c) * (n_b - n_c) * 1000000)
        |   // greatest(n_b + n_c, 1) AS BIGINT) AS chi2_ppm
        |FROM p""".stripMargin,
  )

  /** q283's paired per-customer spend (1996 vs 1997, both years
    * present) with the customer's segment/nation attached — the shared
    * input of the q296/q297 permutation tests. Zero diffs stay in
    * (they contribute 0 to every resample sum; only the rank-based
    * q283 drops them).
    */
  private def permPairedDiffs(s: SparkSession, d: String): DataFrame = {
    val y96 = sum(when(year(col("o_orderdate")) === 1996,
      cents(col("o_totalprice"))).otherwise(0L))
    val y97 = sum(when(year(col("o_orderdate")) === 1997,
      cents(col("o_totalprice"))).otherwise(0L))
    orders(s, d)
      .filter(year(col("o_orderdate")).isin(1996, 1997))
      .groupBy(col("o_custkey"))
      .agg(y96.as("a_c"), y97.as("b_c"),
        max(when(year(col("o_orderdate")) === 1996, 1L)
          .otherwise(0L)).as("__ha"),
        max(when(year(col("o_orderdate")) === 1997, 1L)
          .otherwise(0L)).as("__hb"))
      .filter(col("__ha") === 1L && col("__hb") === 1L)
      .join(customer(s, d), col("o_custkey") === col("c_custkey"))
      .select(col("o_custkey"), (col("b_c") - col("a_c")).as("d_c"),
        col("c_mktsegment"), col("c_nationkey"))
  }
}
