package graft.streaming

import org.apache.spark.sql.{DataFrame, Dataset, Encoder, Encoders, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode, StreamingQuery}
import org.apache.spark.sql.types._

/** Structured-Streaming surface over the `events` table shape
  * (event_id, ts, user_id, event_type, value, props). The reference has
  * no streaming (SURVEY.md §1.1); these extend its scan→agg shape to
  * unbounded input. Batch twins of these queries live in SparkEntry so
  * the DuckDB oracle can check the same semantics; the streaming
  * variants here are exercised by StreamingSpec and, under induced
  * kills, by `graft.tools.StreamSoak`.
  *
  * Every keyed twin runs on one kernel, [[keyedFold]]: per-key state
  * after any prefix of the stream equals the batch result over that
  * prefix. The windowed aggregations carry a watermark, so their state
  * is bounded by (watermark horizon × key cardinality), not by stream
  * length; the keyed twins' state is one fixed-size record per key.
  */
object EventStreams {

  val eventSchema: StructType = StructType(Seq(
    StructField("event_id", LongType),
    StructField("ts", TimestampType),
    StructField("user_id", LongType),
    StructField("event_type", StringType),
    StructField("value", DoubleType),
    StructField("props", StringType)))

  /** File-source stream over a directory of parquet event files. */
  def readEventStream(spark: SparkSession, dir: String): DataFrame =
    spark.readStream.schema(eventSchema).parquet(dir)

  /** Tumbling-window counts/sums per event type with late-data drop. */
  def tumblingCounts(events: DataFrame, window_ : String, watermark: String): DataFrame =
    events
      .withWatermark("ts", watermark)
      .groupBy(window(col("ts"), window_), col("event_type"))
      .agg(count(lit(1)).as("n"), round(sum(col("value")), 2).as("total_value"))
      .select(col("window.start").as("window_start"),
        col("window.end").as("window_end"), col("event_type"),
        col("n"), col("total_value"))

  /** Sliding-window event rates. */
  def slidingCounts(events: DataFrame, window_ : String, slide: String,
                    watermark: String): DataFrame =
    events
      .withWatermark("ts", watermark)
      .groupBy(window(col("ts"), window_, slide), col("event_type"))
      .agg(count(lit(1)).as("n"))
      .select(col("window.start").as("window_start"), col("event_type"), col("n"))

  /** Session windows per user (gap-based), the streaming twin of
    * Relational.sessionize: state is merged per user and emitted when the
    * watermark passes the session close.
    */
  def sessionCounts(events: DataFrame, gap: String, watermark: String): DataFrame =
    events
      .withWatermark("ts", watermark)
      .groupBy(session_window(col("ts"), gap), col("user_id"))
      .agg(count(lit(1)).as("n_events"))
      .select(col("session_window.start").as("session_start"),
        col("session_window.end").as("session_end"),
        col("user_id"), col("n_events"))

  /** Stream-stream interval join: each left event joins right events of
    * the same user within [left.ts, left.ts + windowSpec]. BOTH sides
    * carry watermarks plus the time-bound join condition, so each side's
    * buffered state is evicted once the other side's watermark passes
    * the interval — without the bound, stream-stream join state grows
    * unboundedly. The equi-key (user_id) is the shuffle key at scale.
    */
  def intervalJoin(left: DataFrame, right: DataFrame,
                   watermark: String, within: String): DataFrame = {
    val l = left.withWatermark("ts", watermark)
      .select(col("user_id"), col("ts").as("l_ts"),
        col("event_id").as("l_event_id"))
    val r = right.withWatermark("ts", watermark)
      .select(col("user_id").as("r_user_id"), col("ts").as("r_ts"),
        col("event_id").as("r_event_id"))
    l.join(r,
      col("user_id") === col("r_user_id") &&
      col("r_ts") >= col("l_ts") &&
      col("r_ts") <= col("l_ts") + expr(s"INTERVAL $within"))
      .select(col("user_id"), col("l_event_id"), col("r_event_id"),
        col("l_ts"), col("r_ts"))
  }

  /** Streaming exact dedup: the streaming twin of Dedup.exact for
    * at-least-once sources. dropDuplicatesWithinWatermark keeps one
    * state entry per key only within the watermark horizon, so state is
    * bounded by (horizon × arrival rate) — a plain dropDuplicates would
    * grow state with stream length, which cannot run unbounded at scale.
    */
  def dedupEvents(events: DataFrame, watermark: String): DataFrame =
    events
      .withWatermark("ts", watermark)
      .dropDuplicatesWithinWatermark("event_id")

  /** The one keyed-state kernel: per key, the state after a micro-batch
    * is `step` folded over the batch's rows, starting from the state the
    * previous micro-batch left — the reference reduce worker's per-key
    * buffer, carried across micro-batches. Where a batch Aggregator
    * exists, `init` and `step` ARE its `zero` and `reduce`, so the
    * streaming state after any prefix equals the batch buffer of that
    * prefix and the two paths cannot drift.
    *
    * `step` may yield rows through its third argument (a transition, a
    * completed trigram); `emit` yields the key's per-batch state row. A
    * state equal to `init` is removed. Rows fold in arrival order unless
    * `order` sorts the key's rows of one micro-batch. `init` is evaluated
    * per key, so a mutable buffer (MgAgg's) is never shared.
    */
  def keyedFold[T, K: Encoder, S: Encoder, U: Encoder](
      ds: Dataset[T], key: T => K, order: Option[Ordering[T]] = None,
      mode: OutputMode = OutputMode.Update)(
      init: => S, step: (S, T, U => Unit) => S,
      emit: (K, S) => Option[U]): Dataset[U] =
    ds.groupByKey(key).flatMapGroupsWithState(mode, GroupStateTimeout.NoTimeout)(
      (k: K, rows: Iterator[T], state: GroupState[S]) => {
        val out = scala.collection.mutable.ArrayBuffer.empty[U]
        val put: U => Unit = u => { out += u; () }
        val in = order.fold(rows)(o => rows.toVector.sorted(o).iterator)
        val s = in.foldLeft(state.getOption.getOrElse(init))(step(_, _, put))
        if (s == init) state.remove() else state.update(s)
        out.iterator ++ emit(k, s)
      })

  /** The one linear cell sum, on [[keyedFold]]: `cells` holds one row per
    * (record, cell) contribution — every column but `__delta` is the
    * cell key — and per-cell state is (Σ delta, n rows). A linear sketch
    * (CMS, log-bucket, the permutation ledger) is a sum of per-row
    * contributions, so its streaming state after any prefix equals the
    * batch sketch of that prefix. Returns the key columns + `__sum`,
    * `__n`; each twin renames through a final `select`.
    */
  private def cellSums(cells: DataFrame): DataFrame = {
    val keys = cells.columns.filter(_ != "__delta").toSeq
    val keySchema = StructType(keys.map(cells.schema(_)))
    keyedFold[Row, Row, (Long, Long), Row](
        cells.select(struct(keys.map(col): _*), col("__delta").cast("long")),
        _.getStruct(0))(
      (0L, 0L), (s, r, _) => (s._1 + r.getLong(1), s._2 + 1L),
      (k, s) => Some(Row.fromSeq(k.toSeq :+ s._1 :+ s._2)))(
      Encoders.row(keySchema), Encoders.tuple(Encoders.scalaLong, Encoders.scalaLong),
      Encoders.row(keySchema.add("__sum", LongType).add("__n", LongType)))
  }

  /** The replay-idempotent foreachBatch sink: micro-batch n's `f(batch)`
    * OVERWRITES `outDir/batch_id=n`, so a batch replayed after a failure
    * lands content-identically — effectively-once output on top of
    * foreachBatch's at-least-once contract. `mode` must match the
    * stream's stateful operator (`append` for a stateless stream).
    */
  def batchIdSink(stream: DataFrame, outDir: String, checkpointDir: String,
                  mode: String = "append")
                 (f: DataFrame => DataFrame = identity): StreamingQuery =
    stream.writeStream.outputMode(mode)
      .option("checkpointLocation", checkpointDir)
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        f(batch).write.mode("overwrite").parquet(s"$outDir/batch_id=$batchId")
        ()
      }
      .start()

  case class TriPrefix(t1: String, t2: String)
  case class TriDelta(s1: String, s2: String, s3: String, n: Long)

  /** Streaming twin of q268's trigram path mining: per-user keyed
    * state = the LAST TWO event types (two strings per user forever),
    * so each micro-batch emits exactly the trigram occurrences its
    * events complete, including the ones that straddle batch
    * boundaries — one (s1, s2, s3, 1) delta each. Events fold in
    * (ts, event_id) order within each batch; for a ts-ordered stream
    * (the ingest contract [[streamingFunnel]] carries) the deltas
    * grouped by trigram equal the batch window's counts after any
    * prefix — counts are additive, so no replay or reconciliation is
    * ever needed downstream.
    */
  def streamingPathTrigrams(events: DataFrame): Dataset[TriDelta] = {
    val spark = events.sparkSession
    import spark.implicits._
    keyedFold[(Long, Long, Long, String), Long, TriPrefix, TriDelta](
        events.selectExpr("user_id", "unix_micros(ts)", "event_id", "event_type")
          .as[(Long, Long, Long, String)],
        _._1, order = Some(Ordering.by((e: (Long, Long, Long, String)) => (e._2, e._3))))(
      TriPrefix(null, null),
      (st, e, out) => {
        if (st.t1 != null) out(TriDelta(st.t1, st.t2, e._4, 1L))
        TriPrefix(st.t2, e._4)
      },
      (_, _) => None)
  }

  case class FunnelState(depth: Int, lastTsUs: Long)
  case class FunnelUpdate(user_id: Long, depth: Int)

  /** Streaming twin of [[graft.operators.Relational.funnelStages]]
    * (q241): per-user greedy funnel progress as keyed state — (stage
    * depth, chosen ts), TWO fixed-size fields per user forever. Events
    * fold in ts order within each micro-batch; ties on ts cannot
    * advance two stages (strictly-after contract), so the ts sort alone
    * reproduces the batch greedy. For a ts-ordered stream (the usual
    * ingest contract) the state after any prefix equals the batch
    * funnel of that prefix — greedy earliest-advance is exactly the
    * min-per-stage recursion, applied incrementally. Emits the user's
    * depth each micro-batch; a user still at depth 0 holds no state.
    */
  def streamingFunnel(events: DataFrame, stages: Seq[String]): Dataset[FunnelUpdate] = {
    require(stages.nonEmpty, "streamingFunnel needs at least one stage")
    val spark = events.sparkSession
    import spark.implicits._
    keyedFold[(Long, Long, String), Long, FunnelState, FunnelUpdate](
        events.selectExpr("user_id", "unix_micros(ts)", "event_type").as[(Long, Long, String)],
        _._1, order = Some(Ordering.by((e: (Long, Long, String)) => e._2)))(
      FunnelState(0, Long.MinValue),
      (st, e, _) =>
        if (st.depth < stages.size && e._3 == stages(st.depth) &&
            (st.depth == 0 || e._2 > st.lastTsUs)) FunnelState(st.depth + 1, e._2)
        else st,
      (uid, st) => Some(FunnelUpdate(uid, st.depth)))
  }

  case class UserEvent(user_id: Long, value: Double)
  case class UserState(n_events: Long, total_value: Double)
  case class UserUpdate(user_id: Long, n_events: Long, total_value: Double)

  /** Per-user running event count + value total, emitted as an update
    * per micro-batch. State is one fixed-size record per user — bounded
    * by key cardinality, not stream length.
    */
  def runningUserTotals(events: DataFrame): Dataset[UserUpdate] = {
    val spark = events.sparkSession
    import spark.implicits._
    keyedFold[UserEvent, Long, UserState, UserUpdate](
        events.selectExpr("user_id", "value").as[UserEvent], _.user_id)(
      UserState(0L, 0.0),
      (s, e, _) => UserState(s.n_events + 1, s.total_value + e.value),
      (uid, s) => Some(UserUpdate(uid, s.n_events, s.total_value)))
  }

  case class KmvUpdate(group: String, n_kept: Long, kth_min: Long,
                       est_distinct: Long)

  /** Streaming KMV distinct sketch per key — the ingest-time twin of
    * the batch [[graft.operators.Sketches.kmvDistinct]] (q137): state
    * is the batch Aggregator's own sorted k-smallest-distinct-hash
    * buffer, emitting the updated estimate per micro-batch. Because the
    * buffer is a pure function of the hash SET, the streaming state
    * after any prefix equals the batch sketch of that prefix. State
    * stays k longs per group forever: a distinct counter a stream can
    * run for months without growing.
    */
  def streamingKmvDistinct(events: DataFrame, groupCol: String,
                           keyCol: String, k: Int, saltPrefix: String)
      : Dataset[KmvUpdate] = {
    import graft.operators.Sketches
    val agg = new Sketches.KmvAgg(k)
    val spark = events.sparkSession
    import spark.implicits._
    keyedFold[(String, Long), String, Array[Long], KmvUpdate](
        events.select(col(groupCol).cast("string"),
          graft.functions.TextFunctions.tokenHash64(
            concat(lit(saltPrefix), col(keyCol).cast("string")))).as[(String, Long)],
        _._1)(
      agg.zero, (b, e, _) => agg.reduce(b, e._2),
      (g, b) => Some(KmvUpdate(g, b.length.toLong, if (b.isEmpty) 0L else b.last,
        if (b.length < k) b.length.toLong
        else ((BigInt(k - 1) * BigInt(Sketches.HashDomain)) / BigInt(b.last max 1L)).toLong)))
  }

  case class MgUpdate(group: String, n_counters: Long, items: Map[String, Long])

  /** Streaming Misra-Gries heavy-hitter summary per key — the
    * ingest-time twin of the batch [[graft.operators.Sketches.MgAgg]]
    * (q214): per-group state is the batch Aggregator's own ≤ capacity
    * counter map, emitting the current summary per micro-batch. MG is
    * NOT a linear sketch — the summary's contents depend on arrival
    * order — but the q214 guarantees (every item with count >
    * n/(capacity+1) retained, estimates only undercount, undercount ≤
    * n/(capacity+1)) hold for ANY order, and the streaming fold IS some
    * order of the same multiset. State is ≤ capacity counters per group
    * FOREVER — a trending-items monitor that runs unbounded.
    */
  def streamingMgSummary(records: DataFrame, groupCol: String,
                         itemCol: String, capacity: Int): Dataset[MgUpdate] = {
    val agg = new graft.operators.Sketches.MgAgg(capacity)
    val spark = records.sparkSession
    import spark.implicits._
    keyedFold[(String, String), String,
        scala.collection.mutable.HashMap[String, Long], MgUpdate](
        records.select(col(groupCol).cast("string"), col(itemCol).cast("string"))
          .as[(String, String)], _._1)(
      agg.zero, (b, e, _) => agg.reduce(b, e._2),
      (g, b) => Some(MgUpdate(g, b.size.toLong, b.toMap)))
  }

  case class UpsertOp(k: Long, v: Long, op: String)
  case class ChangeRow(k: Long, change_type: String, old_v: Option[Long],
                       new_v: Option[Long])

  /** Streaming CDC upsert — the ingest-time twin of the batch
    * snapshotDiff → applyChangelog pair (q123/q159): a keyed stream of
    * put/del records maintained as per-key state, emitting the SAME
    * change_type vocabulary snapshotDiff produces (insert / update /
    * delete; idempotent puts and deletes of absent keys emit nothing,
    * matching the diff of identical snapshots). After any prefix of the
    * stream, the state IS the upserted table.
    *
    * Scale: state = one Long per live key (a delete removes it); each
    * micro-batch touches only its keys. Per-key multiple records in one
    * batch fold in arrival order, emitting one change per transition —
    * the same per-key linearization a changelog-compacting sink
    * performs. The changes are appended, never updated.
    */
  def streamingUpsert(records: Dataset[UpsertOp]): Dataset[ChangeRow] = {
    val spark = records.sparkSession
    import spark.implicits._
    keyedFold[UpsertOp, Long, Option[Long], ChangeRow](records, _.k,
        mode = OutputMode.Append)(
      None,
      (cur, r, out) => (r.op, cur) match {
        case ("put", Some(old)) if old == r.v => cur // idempotent put
        case ("put", _) =>
          out(ChangeRow(r.k, if (cur.isEmpty) "insert" else "update", cur, Some(r.v)))
          Some(r.v)
        case ("del", Some(_)) => out(ChangeRow(r.k, "delete", cur, None)); None
        case ("del", None) => cur // deleting an absent key: no-op
        case (other, _) => throw new IllegalArgumentException(s"unknown op '$other'")
      },
      (_, _) => None)
  }

  /** Streaming LSH ingest — q206's standing-index near-dup check run
    * CONTINUOUSLY: each micro-batch of new documents is minhash-signed,
    * band-keyed, and equi-joined against the STATIC persisted
    * [[graft.operators.Dedup.minHashBandPostings]] index, writing
    * (new_id, corpus_id, est_jaccard) through [[batchIdSink]].
    * Signatures are a pure per-doc function and the index is static,
    * so the computation is micro-batch DECOMPOSABLE: the union of all
    * batch outputs equals the one-shot batch join — no state store, no
    * watermark. foreachBatch rather than a direct streaming plan
    * because signature building aggregates per doc, which the
    * streaming planner would treat as a cross-batch stateful
    * aggregation; per micro-batch it is exactly q206's plan.
    */
  def streamingLshIngest(docStream: DataFrame, postings: DataFrame,
                         outDir: String, checkpointDir: String,
                         idCol: String, textCol: String,
                         k: Int, bands: Int, rowsPerBand: Int,
                         minEstJaccard: Double): StreamingQuery =
    batchIdSink(docStream, outDir, checkpointDir)(
      graft.operators.Dedup.minHashLshJoinPostings(_, postings,
        idCol, textCol, k, bands, rowsPerBand, minEstJaccard))

  case class CmsCellUpdate(r: Long, c: Long, cnt: Long)

  /** Streaming count-min sketch — the ingest twin of the batch
    * `Sketches.cmsBuildKeys` (q138/q178/q194 machinery): each record
    * fans out to its d cells map-side and [[cellSums]] counts them. CMS
    * is LINEAR (the q178 merge property, realized incrementally). State
    * is bounded at d·w cells FOREVER, whatever the stream volume: the
    * reason a frequency monitor can run on an unbounded ingest.
    */
  def streamingCmsCells(records: DataFrame, keyCol: String, d: Int, w: Int,
                        saltPrefix: String): Dataset[CmsCellUpdate] = {
    val spark = records.sparkSession
    import spark.implicits._
    val h = graft.functions.TextFunctions.tokenHash64(
      concat(lit(saltPrefix), col(keyCol).cast("string")))
    val rows = (0 until d).map(r => pmod(shiftright(h, 15 * r), lit(w.toLong)))
    cellSums(records
        .select(posexplode(array(rows: _*)).as(Seq("r", "c")))
        .select(col("r").cast("long").as("r"), col("c").cast("long").as("c"),
          lit(1L).as("__delta")))
      .select(col("r"), col("c"), col("__n").as("cnt")).as[CmsCellUpdate]
  }

  case class PermCellUpdate(grp: String, r: Long, sumSd: Long, nRows: Long)

  /** STREAMING sign-flip permutation ledger — the ingest twin of
    * [[graft.operators.Relational.permutationTestPpm]]: per pair row the
    * R md5-derived ±1 signs are a PURE function of the resample key
    * ([[graft.functions.TextFunctions.signFlips]] — the identical draws
    * as the batch form), so the per-(group, r) partial sums Σ sᵣ·d are
    * LINEAR in the rows and accumulate through [[cellSums]] exactly like
    * CMS cells; the r = −1 cell carries the OBSERVED ledger (s ≡ +1),
    * giving (n_pairs, sum_obs) from the same state. State is bounded at
    * |groups|·(R+1) cells FOREVER, and any moment's cells feed
    * [[permutationFromCells]], whose readout on a prefix equals the
    * batch permutationTestPpm of that prefix.
    *
    * Resample ids must be NON-NULL, and the precondition is enforced: a
    * null id has no sign draws, so its NULL sign array would make
    * posexplode drop the row from EVERY cell — the r = −1 observed
    * ledger included — and n_pairs/sum_obs would silently diverge from
    * the batch permutationTestPpm, which counts the row. A null id
    * raises with the remedy named instead.
    */
  def streamingPermCells(pairs: DataFrame, grpCol: String, idCol: String,
                         dCol: String, r: Int = 199,
                         prefix: String = "pt_"): Dataset[PermCellUpdate] = {
    val spark = pairs.sparkSession
    import spark.implicits._
    cellSums(pairs
        .select(col(grpCol).cast("string").as("grp"),
          col(dCol).cast("long").as("__d"),
          // the observed cell's +1 doubles as the null-id guard
          posexplode(concat(array(
            when(col(idCol).isNull,
              raise_error(lit("streamingPermCells: resample id is NULL — " +
                "the batch permutationTestPpm counts this row but no sign " +
                "draws exist for it; assign a non-null resample key " +
                "upstream (or filter null-keyed rows on BOTH forms)"))
                .cast("long"))
              .otherwise(lit(1L))),
            graft.functions.TextFunctions.signFlips(
              col(idCol).cast("long"), r, prefix))))
        .select(col("grp"), (col("pos") - 1L).cast("long").as("r"),
          (col("col") * col("__d")).as("__delta")))
      .select(col("grp"), col("r"), col("__sum").as("sumSd"), col("__n").as("nRows"))
      .as[PermCellUpdate]
  }

  /** Batch readout over the latest [[streamingPermCells]] state:
    * column-for-column and value-for-value the
    * [[graft.operators.Relational.permutationTestPpm]] result over the
    * rows the cells have absorbed — (grp, n_pairs, sum_obs, p_ppm)
    * with the same add-one permutation p in ppm. `cells` must hold ONE
    * row per (grp, r) — the latest update per cell.
    */
  def permutationFromCells(cells: DataFrame, r: Int = 199): DataFrame = {
    // the obs side renames its join key: both branches of this
    // self-join come from the SAME (possibly memory-sink) frame, and
    // Spark's self-join dedup cannot rewrite a MemoryPlan view's
    // conflicting attributes
    val obs = cells.filter(col("r") === -1L)
      .select(col("grp").as("__g"), col("nRows").as("n_pairs"),
        col("sumSd").as("sum_obs"))
    cells.filter(col("r") >= 0L)
      .join(obs, col("grp") === col("__g"))
      .drop("__g")
      .groupBy(col("grp"), col("n_pairs"), col("sum_obs"))
      .agg(sum(when(abs(col("sumSd")) >= abs(col("sum_obs")), 1L)
        .otherwise(0L)).as("__ge"))
      .withColumn("p_ppm", expr(s"((1 + __ge) * 1000000) div ${r + 1}"))
      .select(col("grp"), col("n_pairs"), col("sum_obs"), col("p_ppm"))
  }

  case class LbCellUpdate(grp: String, bucket: Long, cnt: Long)

  /** STREAMING log-bucket quantile sketch (the ingest twin of
    * q223/q224): each record maps map-side to its (group, bucket) cell
    * — the same bit arithmetic as the batch sketch
    * ([[graft.operators.Sketches.logBucketIdxSql]]) — and [[cellSums]]
    * counts them. The sketch is LINEAR (q224's merge property realized
    * incrementally). State is bounded at |groups|·64·2^subBits cells
    * FOREVER: a latency/price quantile monitor runs on an unbounded
    * ingest, and any moment's cells feed
    * [[graft.operators.Sketches.logBucketQuantiles]] directly.
    */
  def streamingLogBucketCells(records: DataFrame, grpCol: String,
                              vCents: org.apache.spark.sql.Column,
                              subBits: Int): Dataset[LbCellUpdate] = {
    val spark = records.sparkSession
    import spark.implicits._
    cellSums(records
        .select(col(grpCol).cast("string").as("grp"),
          graft.operators.Sketches.requirePositive(vCents.cast("long"),
            "streamingLogBucketCells").as("__v"))
        .select(col("grp"),
          expr(graft.operators.Sketches.logBucketIdxSql("__v", subBits))
            .cast("long").as("bucket"),
          lit(1L).as("__delta")))
      .select(col("grp"), col("bucket"), col("__n").as("cnt")).as[LbCellUpdate]
  }
}
