package graft.tools

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.StreamingQuery
import graft.operators.{Dedup, Relational, Sketches}
import graft.streaming.EventStreams

/** Streaming SOAK: each streaming twin runs over a continuously-fed file
  * source with a restart induced every `restartSeconds` (the query is
  * stopped mid-flight and a new one started on the same checkpoint)
  * while the feeder keeps writing — the failure pattern a production
  * ingest actually sees. The phases are one table; one loop runs every
  * row:
  *
  *  1. kill-restart the row's query for `seconds` on a live feed;
  *  2. drain the backlog on the soak checkpoint, then, per the row, a
  *     PROBE batch (one event for every user, so every key emits its
  *     recovered state) or a SENTINEL event (pushes the watermark past
  *     every real window and session so they all emit);
  *  3. fold the sink's outputs (latest row per key, sum per key, or
  *     union) and compare them, as multisets, with the batch twin over
  *     everything written: a lost batch or lost state is a missing row,
  *     a replayed batch counted twice is an extra row.
  *
  * State rows are sampled from every progress report and their maximum
  * checked against the row's bound, so sustained state growth — the
  * thing the semantic specs cannot see — is measured, not assumed. Two
  * sinks: the exactly-once parquet file sink (`tumbling`, `session`: its
  * manifest hiding an aborted batch's files is what those phases test)
  * and [[EventStreams.batchIdSink]] for the rest. Event time is
  * SYNTHETIC (feeder batch i is minute i), so the run is deterministic
  * in structure whatever the wall-clock scheduling; restarts land
  * wherever they land, which is the point.
  *
  * Usage: `StreamSoak [rootDir]` (default: a fresh temp dir). Prints one
  * JSON line {"tumbling":{...},...,"result":"PASS"|"FAIL"}. Env:
  * SOAK_SECONDS (per phase, default 60), SOAK_RESTART_SECONDS (default
  * 20).
  */
object StreamSoak {

  case class PhaseResult(events: Long, windows: Long, restarts: Int,
                         maxStateRows: Long, pass: Boolean) {
    def json: String =
      s"""{"events":$events,"windows":$windows,"restarts":$restarts,""" +
        s""""max_state_rows":$maxStateRows,"result":"${verdict(pass)}"}"""
  }

  private def verdict(pass: Boolean) = if (pass) "PASS" else "FAIL"

  /** Events per feeder batch. Upsert's fold model needs every user_id in
    * a batch distinct, so this must not exceed the user domain. */
  private val BatchEvents = 2000
  private val Users = 50000L
  private val ProbeFirstId = 1000000000000L // a multiple of Users
  private val base = java.sql.Timestamp.valueOf("2026-01-01 00:00:00").getTime

  /** Events `firstId until firstId + n`, all inside minute `minute`. */
  private def writeBatch(spark: SparkSession, src: String, minute: Int,
                         firstId: Long, n: Int): Unit =
    spark.range(firstId, firstId + n, 1, 1).select(
        col("id").as("event_id"),
        timestamp_millis(lit(base + minute * 60000L) +
          (col("id") - firstId) % 60L * 1000L).as("ts"),
        (col("id") % Users).as("user_id"),
        concat(lit("t"), col("id") % 5L).as("event_type"),
        (col("id") % 7L).cast("double").as("value"), lit("{}").as("props"))
      .write.mode("append").parquet(src)

  private sealed trait Drain
  private case object Plain extends Drain
  private case object Probe extends Drain
  private case object Sentinel extends Drain

  /** One soak phase. `start(src, out, ckpt)` starts the stream on the
    * feed; `batch` is the twin over everything written; `fold` reduces
    * the sink's outputs, and `readout(folded, everything)` maps them to
    * `batch`'s columns. `replay` forces a replay of the last batch. */
  private case class Phase(name: String,
                           start: (String, String, String) => StreamingQuery,
                           batch: DataFrame => DataFrame,
                           fold: DataFrame => DataFrame, drain: Drain,
                           stateBound: Long,
                           readout: (DataFrame, DataFrame) => DataFrame = (got, _) => got,
                           replay: Boolean = false)

  private def latest(keys: String*)(out: DataFrame): DataFrame =
    out.withColumn("__r", row_number().over(
        Window.partitionBy(keys.map(col): _*).orderBy(col("batch_id").desc)))
      .filter(col("__r") === 1).drop("__r", "batch_id")

  private def union(out: DataFrame): DataFrame = out.drop("batch_id")

  private def phases(spark: SparkSession, root: String): Seq[Phase] = {
    import spark.implicits._
    def feed(src: String, oneFilePerBatch: Boolean = false) = {
      val r = spark.readStream.schema(EventStreams.eventSchema)
      (if (oneFilePerBatch) r.option("maxFilesPerTrigger", 1) else r).parquet(src)
    }
    def toFiles(f: DataFrame => DataFrame)(src: String, out: String, ckpt: String) =
      f(feed(src)).writeStream.outputMode("append").format("parquet")
        .option("path", out).option("checkpointLocation", ckpt).start()
    def perBatch(f: DataFrame => DataFrame, mode: String = "update",
                 oneFilePerBatch: Boolean = false)(src: String, out: String, ckpt: String) =
      EventStreams.batchIdSink(f(feed(src, oneFilePerBatch)), out, ckpt, mode)()

    // mg: user_id % 3 == 0 collapses to one hot item per group (~33%
    // share, heavy at k = 8); everything else stays a cold tail
    val cap = 7
    def skewed(df: DataFrame) = df.withColumn("item",
      when(col("user_id") % 3L === 0L, lit("hot")).otherwise(concat(lit("u"), col("user_id"))))
    def heavy(all: DataFrame) = skewed(all)
      .groupBy(col("event_type").as("group"), col("item"))
      .agg(count(lit(1)).as("cnt"))
      .withColumn("n_g", sum("cnt").over(Window.partitionBy("group")))
      .filter(col("cnt") * (cap + 1) > col("n_g"))
    // lb: feed values include 0.0 and the sketch domain is v >= 1
    def vCents = round(col("value") * 100) + 1
    // funnel: event_type is constant per user, so the funnel type cycles
    // f0..f3 every 7 event ids, which each user's stream traverses
    val stages = Seq("f0", "f1", "f2", "f3")
    def withFtype(df: DataFrame) = df.withColumn("event_type",
      concat(lit("f"), pmod(expr("event_id div 7"), lit(4L))))
    // lsh: doc text is a pure function of event_id % 500, so streamed
    // docs repeatedly near-match a 300-doc static corpus
    def textOf(id: Column) = concat_ws(" ", (0 until 12).map(i =>
      concat(lit("w"), pmod(pmod(id, lit(500L)) * (31 + i) + i * i, lit(40)))): _*)
    def withDoc(df: DataFrame) =
      df.select(col("event_id").as("doc_id"), textOf(col("event_id")).as("text"))
    lazy val idx = {
      Dedup.minHashBandPostings(spark.range(300).select(col("id").as("doc_id"),
          textOf(col("id")).as("text")), "doc_id", "text", k = 3, bands = 4, rowsPerBand = 4)
        .write.parquet(s"$root/lsh/postings")
      spark.read.parquet(s"$root/lsh/postings")
    }
    // upsert: k = user_id (distinct within a feeder file, and the source
    // reads one file per micro-batch, so a key folds once per batch in
    // the feeder's order); del on event_id % 5 == 0, else put of
    // event_id; the probe puts -1 at every key, and its changes expose
    // the recovered state
    val isProbe = col("event_id") >= ProbeFirstId
    def opsOf(df: DataFrame) = df.select(col("user_id").as("k"),
        when(isProbe, lit(-1L)).otherwise(col("event_id")).as("v"),
        when(!isProbe && col("event_id") % 5L === 0L, lit("del")).otherwise(lit("put")).as("op"))
      .as[EventStreams.UpsertOp]
    // tri: a feed user arrives once per 25 batches, so the phase folds
    // users into 500 paths (4 events per path per batch) whose type
    // cycles t0..t4 along the path, making the fold order visible
    def paths(df: DataFrame) = df.select((col("user_id") % 500L).as("user_id"), col("ts"),
      col("event_id"), concat(lit("t"), expr("event_id div 500") % 5L).as("event_type"))
    val rN = 31
    def pairsOf(df: DataFrame) = df.select(col("event_type").as("grp"), col("event_id"),
      (expr("cast(round(value * 100) as bigint)") - 300L).as("d_c"))

    Seq(
      // state: <= (horizon/window + 2 open windows) x 5 types + provider rows
      Phase("tumbling", toFiles(EventStreams.tumblingCounts(_, "10 minutes", "5 minutes")),
        EventStreams.tumblingCounts(_, "10 minutes", "5 minutes"), union, Sentinel, 200L),
      // state: one k-long buffer per group (5)
      Phase("kmv", perBatch(EventStreams.streamingKmvDistinct(_, "event_type", "user_id",
          k = 64, saltPrefix = "soakkmv_").toDF()),
        Sketches.kmvDistinct(_, "event_type", col("user_id"), k = 64, saltPrefix = "soakkmv_")
          .withColumnRenamed("event_type", "group"),
        latest("group"), Probe, 64L),
      // state: 5 keys x d = 4 cells
      Phase("cms", perBatch(EventStreams.streamingCmsCells(_, "event_type", d = 4, w = 1024,
          saltPrefix = "soakcms_").toDF()),
        Sketches.cmsBuildKeys(_, "event_type", d = 4, w = 1024, saltPrefix = "soakcms_"),
        latest("r", "c"), Probe, 100L),
      // MG is order-dependent, so the twin is the q214 contract: every
      // heavy item retained, never overcounted, undercounted by at most
      // n_group/k, and at most `cap` counters per group
      Phase("mg", perBatch(df => EventStreams.streamingMgSummary(skewed(df), "event_type",
          "item", capacity = cap).toDF()),
        heavy(_).select("group", "item"), latest("group"), Probe, 10L,
        readout = (got, all) => got
          .select(col("group"), col("n_counters"), explode(col("items")).as(Seq("item", "est")))
          .join(heavy(all), Seq("group", "item"))
          .filter(col("est") <= col("cnt") && col("n_counters") <= cap &&
            (col("cnt") - col("est")) * (cap + 1) <= col("n_g"))
          .select("group", "item")),
      // state: 5 groups x 7 distinct feed values
      Phase("lb", perBatch(EventStreams.streamingLogBucketCells(_, "event_type", vCents,
          subBits = 5).toDF()),
        Sketches.logBucketCells(_, "event_type", vCents, subBits = 5),
        latest("grp", "bucket"), Probe, 64L),
      // state: one record per user past depth 0 (user domain)
      Phase("funnel", perBatch(df => EventStreams.streamingFunnel(withFtype(df), stages).toDF()),
        all => Relational.funnelStages(withFtype(all), "user_id", "ts", "event_type", stages)
          .filter(col("n_users") > 0).select("stage_idx", "n_users"),
        latest("user_id"), Probe, Users,
        readout = (got, _) => got.filter(col("depth") > 0)
          .select(explode(sequence(lit(1), col("depth"))).as("stage_idx"))
          .groupBy("stage_idx").agg(count(lit(1)).as("n_users"))),
      // stateless; a replay of the last batch must rewrite it identically
      Phase("lsh", (src, out, ckpt) => EventStreams.streamingLshIngest(withDoc(feed(src)),
          idx, out, ckpt, "doc_id", "text", k = 3, bands = 4, rowsPerBand = 4,
          minEstJaccard = 0.25),
        all => Dedup.minHashLshJoinPostings(withDoc(all), idx, "doc_id", "text",
          k = 3, bands = 4, rowsPerBand = 4, minEstJaccard = 0.25),
        union, Plain, 0L, replay = true),
      // additive deltas; state: two strings per path (500)
      Phase("tri", perBatch(df => EventStreams.streamingPathTrigrams(paths(df)).toDF()),
        all => {
          val w = Window.partitionBy("user_id").orderBy(col("ts"), col("event_id"))
          paths(all).select(col("event_type").as("s1"), lead(col("event_type"), 1).over(w).as("s2"),
              lead(col("event_type"), 2).over(w).as("s3"))
            .filter(col("s3").isNotNull).groupBy("s1", "s2", "s3").agg(count(lit(1)).as("n"))
        },
        _.groupBy("s1", "s2", "s3").agg(sum("n").as("n")), Probe, 500L),
      // MERGING state: the 30-minute gap exceeds each user's ~25-minute
      // re-arrival period, so every arrival extends an open session and
      // nothing emits before the sentinel; state: one open session per
      // user + the provider's in-merge scratch rows
      Phase("session", toFiles(EventStreams.sessionCounts(_, "30 minutes", "5 minutes")),
        Relational.sessionizeSW(_, "user_id", "ts", gapSeconds = 1800L), union, Sentinel,
        3 * Users),
      // expected probe changes: per key the max-event_id op decides (del
      // or never seen: the probe inserts; put: it updates that value)
      Phase("upsert", perBatch(df => EventStreams.streamingUpsert(opsOf(df)).toDF(), "append",
          oneFilePerBatch = true),
        all => spark.range(Users).select(col("id").as("k"))
          .join(all.filter(!isProbe).groupBy(col("user_id").as("k"))
            .agg(max("event_id").as("last")), Seq("k"), "left")
          .select(col("k"), when(col("last") % 5L =!= 0L, lit("update"))
            .otherwise(lit("insert")).as("change_type"),
            when(col("last") % 5L =!= 0L, col("last")).as("old_v")),
        union, Probe, 120000L,
        readout = (got, _) => got.filter(col("new_v") === -1L)
          .select("k", "change_type", "old_v")),
      // state: 5 types x (R+1) = 32 cells
      Phase("perm", perBatch(df => EventStreams.streamingPermCells(pairsOf(df), "grp",
          "event_id", "d_c", r = rN, prefix = "soakpt_").toDF()),
        all => Relational.permutationTestPpm(pairsOf(all), "grp", "event_id", "d_c",
          r = rN, prefix = "soakpt_"),
        latest("grp", "r"), Probe, 250L,
        readout = (got, _) => EventStreams.permutationFromCells(got, r = rN)))
  }

  /** Kill-restart `p` for `seconds`, drain, compare with its batch twin. */
  private def runPhase(spark: SparkSession, p: Phase, dir: String, seconds: Int,
                       restartSeconds: Int): PhaseResult = {
    require(!new java.io.File(dir).exists, s"StreamSoak: $dir already exists")
    val (src, out, ckpt) = (s"$dir/src", s"$dir/out", s"$dir/ckpt")
    new java.io.File(src).mkdirs()
    var maxState = 0L
    def sample(q: StreamingQuery): Unit =
      Option(q.lastProgress).flatMap(_.stateOperators.headOption)
        .foreach(s => maxState = math.max(maxState, s.numRowsTotal))
    def finish(): Unit = {
      val q = p.start(src, out, ckpt); q.processAllAvailable(); sample(q); q.stop()
    }

    @volatile var feeding = true
    @volatile var batches = 0
    val feeder = new Thread(() => while (feeding) {
      writeBatch(spark, src, batches, batches.toLong * BatchEvents, BatchEvents)
      batches += 1
      Thread.sleep(200)
    })
    feeder.setDaemon(true)
    feeder.start()
    var restarts = 0
    val deadline = System.nanoTime() + seconds * 1000000000L
    while (System.nanoTime() < deadline) {
      val q = p.start(src, out, ckpt)
      val stop = math.min(deadline, System.nanoTime() + restartSeconds * 1000000000L)
      while (System.nanoTime() < stop && q.isActive) { Thread.sleep(250); sample(q) }
      sample(q)
      q.stop() // induced failure: mid-flight, feeder still writing
      restarts += 1
    }
    feeding = false
    feeder.join()

    finish()
    p.drain match {
      case Probe => writeBatch(spark, src, batches, ProbeFirstId, Users.toInt); finish()
      case Sentinel =>
        spark.range(1).select(lit(Long.MaxValue).as("event_id"),
            timestamp_millis(lit(base + (batches + 2000) * 60000L)).as("ts"),
            lit(99999999L).as("user_id"), lit("sentinel").as("event_type"),
            lit(0.0).as("value"), lit("{}").as("props"))
          .write.mode("append").parquet(src)
        finish()
      case Plain =>
    }
    // forced replay: delete the last commit marker (and the local FS's
    // CRC sidecar, whose leftover fails the replayed commit's rename)
    // and restart — the offset log re-runs that batch into its slot
    val replayed = !p.replay || {
      val last = new java.io.File(s"$ckpt/commits").list()
        .filter(_.forall(_.isDigit)).map(_.toLong).max
      def slot() = spark.read.parquet(s"$out/batch_id=$last")
        .select(count(lit(1)), sum(hash(col("*")).cast("long"))).head()
      val before = slot()
      new java.io.File(s"$ckpt/commits/.$last.crc").delete()
      new java.io.File(s"$ckpt/commits/$last").delete() && {
        finish(); before.getLong(0) > 0 && slot() == before
      }
    }

    val all = spark.read.parquet(src).filter(col("event_type") =!= "sentinel")
    val expect = p.batch(all).persist()
    val got = p.readout(p.fold(spark.read.parquet(out)), all)
      .select(expect.columns.map(col): _*).persist()
    val (missing, extra) = (expect.exceptAll(got), got.exceptAll(expect))
    val nExpect = expect.count()
    val pass = nExpect > 0 && missing.isEmpty && extra.isEmpty && replayed &&
      maxState <= p.stateBound
    if (!pass)
      System.err.println(s"SOAK ${p.name} rows=$nExpect missing=" +
        s"${missing.take(5).mkString(" ")} extra=${extra.take(5).mkString(" ")} " +
        s"replayed=$replayed maxState=$maxState (bound ${p.stateBound})")
    expect.unpersist(); got.unpersist()
    PhaseResult(all.count(), nExpect, restarts, maxState, pass)
  }

  /** Runs every phase under `root/<phase>` (which must not exist). */
  def run(spark: SparkSession, root: String, seconds: Int,
          restartSeconds: Int): Seq[(String, PhaseResult)] =
    phases(spark, root).map(p =>
      p.name -> runPhase(spark, p, s"$root/${p.name}", seconds, restartSeconds))

  def main(args: Array[String]): Unit = {
    val root = args.headOption.getOrElse(
      java.nio.file.Files.createTempDirectory("graft-soak").toString)
    val seconds = sys.env.getOrElse("SOAK_SECONDS", "60").toInt
    val restartSeconds = sys.env.getOrElse("SOAK_RESTART_SECONDS", "20").toInt
    val spark = LocalSession.builder()
      .config("spark.sql.streaming.fileSource.log.compactInterval", 10)
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    val results = run(spark, root, seconds, restartSeconds)
    val pass = results.forall(_._2.pass)
    println(results.map { case (name, r) => s""""$name":${r.json}""" }
      .mkString("{", ",", s""","result":"${verdict(pass)}"}"""))
    spark.stop()
    if (!pass) sys.exit(1)
  }
}
