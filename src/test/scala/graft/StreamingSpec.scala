package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.streaming.EventStreams

/** Structured-Streaming smoke tests: a directory of parquet drives each
  * streaming query synchronously through the memory sink, and the result
  * is cross-checked against the equivalent batch aggregation.
  */
class StreamingSpec extends AnyFunSuite {
  lazy val spark = SparkTestSession.spark

  private def eventsDir: String = {
    // stream source needs a directory of files with a uniform schema;
    // re-write the ns-timestamp events table as µs parquet once
    val dir = "/tmp/graft-test-events"
    if (!new java.io.File(dir).exists()) {
      engine.Tables.events(spark, SparkTestSession.sfDir)
        .write.mode("overwrite").parquet(dir)
    }
    dir
  }

  private def runToMemory(df: org.apache.spark.sql.DataFrame, name: String,
                          mode: String): org.apache.spark.sql.DataFrame = {
    val q = df.writeStream.outputMode(mode).format("memory").queryName(name).start()
    q.processAllAvailable()
    q.stop()
    spark.table(name)
  }

  test("tumbling-window stream equals the batch twin") {
    val streamed = runToMemory(
      EventStreams.tumblingCounts(
        EventStreams.readEventStream(spark, eventsDir), "1 hour", "10 minutes"),
      "t_tumbling", "append")
    val batch = engine.Tables.events(spark, SparkTestSession.sfDir)
      .groupBy(window(col("ts"), "1 hour"), col("event_type"))
      .agg(count(lit(1)).as("n"), round(sum(col("value")), 2).as("total_value"))
      .select(col("window.start").as("window_start"), col("window.end").as("window_end"),
        col("event_type"), col("n"), col("total_value"))
    // watermark holds back only windows newer than max_ts - 10min; compare the common prefix
    val s = streamed.collect().map(_.toSeq).toSet
    val b = batch.collect().map(_.toSeq).toSet
    assert(s.subsetOf(b))
    assert(s.size >= b.size - 2) // at most the trailing windows are held back
  }

  test("sliding-window stream produces rows") {
    val streamed = runToMemory(
      EventStreams.slidingCounts(
        EventStreams.readEventStream(spark, eventsDir), "1 hour", "30 minutes", "10 minutes"),
      "t_sliding", "append")
    assert(streamed.count() > 0)
  }

  test("session-window stream matches batch sessionize session count per user") {
    val streamed = runToMemory(
      EventStreams.sessionCounts(
        EventStreams.readEventStream(spark, eventsDir), "30 minutes", "10 minutes"),
      "t_sessions", "append")
    val batch = operators.Relational.sessionize(
      engine.Tables.events(spark, SparkTestSession.sfDir), "user_id", "ts", 1800L)
    val sCount = streamed.groupBy("user_id").count()
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val bCount = batch.groupBy("user_id").count()
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    // session_window uses gap semantics identical to the batch lag/cumsum
    // formulation; the watermark may hold back each user's last session
    val agree = bCount.count { case (u, n) =>
      sCount.get(u).exists(s => s == n || s == n - 1) }
    assert(agree >= bCount.size * 9 / 10)
  }

  test("watermark drops events later than the horizon") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    import org.apache.spark.sql.functions._
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val src = MemoryStream[(java.sql.Timestamp, String)]
    def ts(min: Int) = java.sql.Timestamp.valueOf(f"2026-01-01 10:$min%02d:00")
    val stream = EventStreams.tumblingCounts(
      src.toDF().toDF("ts", "event_type").withColumn("value", lit(1.0)),
      "10 minutes", "5 minutes")
    val q = stream.writeStream.outputMode("append")
      .format("memory").queryName("t_late").start()
    src.addData((ts(0), "a"), (ts(1), "a"), (ts(30), "a")) // watermark -> 10:25
    q.processAllAvailable()
    src.addData((ts(2), "late")) // 10:02 < watermark horizon: dropped
    src.addData((ts(59), "a"))   // push watermark far past every window
    q.processAllAvailable()
    q.stop()
    val out = spark.table("t_late").collect()
      .map(r => (r.getAs[java.sql.Timestamp]("window_start").toString,
        r.getString(2), r.getLong(3)))
    // the 10:00 window closed with ONLY the two on-time events; the late
    // one never appears
    assert(out.exists { case (w, t, n) => w.startsWith("2026-01-01 10:00") && t == "a" && n == 2 })
    assert(!out.exists(_._2 == "late"))
  }

  test("checkpoint recovery: windowed file sink is exactly-once across restart") {
    import spark.implicits._
    val root = "/tmp/graft-test-ckpt"
    def rm(f: java.io.File): Unit = {
      if (f.isDirectory) f.listFiles.foreach(rm); f.delete(): Unit
    }
    rm(new java.io.File(root))
    val src = s"$root/src"; val sink = s"$root/sink"; val ckpt = s"$root/ckpt"
    def ts(h: Int, m: Int) = java.sql.Timestamp.valueOf(f"2026-01-01 $h%02d:$m%02d:00")
    def mkEvents(rows: Seq[(Long, java.sql.Timestamp)]) =
      rows.toDF("event_id", "ts").select(col("event_id"), col("ts"),
        lit(1L).as("user_id"), lit("a").as("event_type"),
        lit(1.0).as("value"), lit("{}").as("props"))
    def start() = EventStreams.tumblingCounts(
        EventStreams.readEventStream(spark, src), "10 minutes", "5 minutes")
      .writeStream.outputMode("append").format("parquet")
      .option("path", sink).option("checkpointLocation", ckpt).start()

    // phase 1: watermark reaches 10:15 -> only window [10:00,10:10) closes
    mkEvents(Seq((1L, ts(10, 2)), (2L, ts(10, 7)), (3L, ts(10, 12)),
      (4L, ts(10, 20)))).write.parquet(src)
    val q1 = start(); q1.processAllAvailable(); q1.stop()
    val p1 = spark.read.parquet(sink).collect()
    assert(p1.length == 1 && p1.head.getAs[Long]("n") == 2)

    // phase 2: a NEW query restarts from the checkpoint; one late-hour
    // event pushes the watermark so the two pending windows close. The
    // already-emitted window must NOT be re-emitted (exactly-once), and
    // the recovered state must still hold the pending windows' counts.
    mkEvents(Seq((5L, ts(11, 30)))).write.mode("append").parquet(src)
    val q2 = start(); q2.processAllAvailable(); q2.stop()
    val out = spark.read.parquet(sink).collect()
      .map(r => (r.getAs[java.sql.Timestamp]("window_start").toString.take(16),
        r.getAs[String]("event_type"), r.getAs[Long]("n"))).sorted.toSeq
    assert(out == Seq(
      ("2026-01-01 10:00", "a", 2L),  // phase 1, exactly once
      ("2026-01-01 10:10", "a", 1L),  // state recovered across restart
      ("2026-01-01 10:20", "a", 1L))) // 11:30's window stays open (held back)
  }

  test("stream-stream interval join matches the batch interval join") {
    val views = EventStreams.readEventStream(spark, eventsDir)
      .filter(col("event_type") === "view")
    val clicks = EventStreams.readEventStream(spark, eventsDir)
      .filter(col("event_type") === "click")
    val streamed = runToMemory(
      EventStreams.intervalJoin(views, clicks, "10 minutes", "30 minutes"),
      "t_ssjoin", "append")
    val bv = engine.Tables.events(spark, SparkTestSession.sfDir)
      .filter(col("event_type") === "view")
      .select(col("user_id"), col("ts").as("l_ts"), col("event_id").as("l_event_id"))
    val bc = engine.Tables.events(spark, SparkTestSession.sfDir)
      .filter(col("event_type") === "click")
      .select(col("user_id").as("r_user_id"), col("ts").as("r_ts"),
        col("event_id").as("r_event_id"))
    val batch = bv.join(bc,
        col("user_id") === col("r_user_id") &&
        col("r_ts") >= col("l_ts") &&
        col("r_ts") <= col("l_ts") + expr("INTERVAL 30 minutes"))
      .select("l_event_id", "r_event_id")
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val s = streamed.select("l_event_id", "r_event_id")
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    // inner interval join on bounded input: streamed pairs are exactly
    // the batch pairs (the final watermark can hold back nothing that
    // already matched; subset + near-complete guards trailing holdback)
    assert(s.subsetOf(batch))
    assert(s.size >= batch.size * 9 / 10 && s.nonEmpty)
  }

  test("foreachBatch upsert sink keeps the latest value per key") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    // the custom-sink surface: merge each micro-batch into keyed state
    // (the foreachBatch upsert pattern; a real target would be a Delta/
    // JDBC MERGE — the batch-id + dedup-within-batch logic is the same)
    val store = new scala.collection.concurrent.TrieMap[Long, (Double, Long)]()
    val src = MemoryStream[(Long, Double, Long)]
    val q = src.toDF().toDF("user_id", "value", "seq")
      .writeStream.outputMode("append")
      .foreachBatch { (batch: org.apache.spark.sql.DataFrame, _: Long) =>
        // within a batch, the highest seq wins; across batches, upsert
        batch.groupBy("user_id")
          .agg(max(struct(col("seq"), col("value"))).as("m"))
          .collect().foreach { r =>
            val m = r.getStruct(1)
            store.put(r.getLong(0), (m.getDouble(1), m.getLong(0)))
          }
      }
      .start()
    src.addData((1L, 10.0, 1L), (1L, 11.0, 2L), (2L, 20.0, 3L))
    q.processAllAvailable()
    src.addData((1L, 12.0, 4L), (3L, 30.0, 5L))
    q.processAllAvailable()
    q.stop()
    assert(store.toMap == Map(
      1L -> ((12.0, 4L)), 2L -> ((20.0, 3L)), 3L -> ((30.0, 5L))))
  }

  test("streaming dedup within watermark emits each event id exactly once") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val src = MemoryStream[(Long, java.sql.Timestamp)]
    def ts(min: Int) = java.sql.Timestamp.valueOf(f"2026-01-01 10:$min%02d:00")
    val q = EventStreams.dedupEvents(src.toDF().toDF("event_id", "ts"), "10 minutes")
      .writeStream.outputMode("append").format("memory").queryName("t_dedup").start()
    src.addData((1L, ts(0)), (1L, ts(1)), (2L, ts(2))) // intra-batch dup of 1
    q.processAllAvailable()
    src.addData((1L, ts(3)), (3L, ts(4)))              // cross-batch dup of 1
    q.processAllAvailable()
    q.stop()
    val ids = spark.table("t_dedup").collect().map(_.getLong(0)).toSeq
    assert(ids.sorted == Seq(1L, 2L, 3L)) // each id once, dups dropped
  }

  test("flatMapGroupsWithState running totals converge to the batch totals") {
    val updates = runToMemory(
      EventStreams.runningUserTotals(
        EventStreams.readEventStream(spark, eventsDir)).toDF(),
      "t_running", "update")
    // the LAST update per user must equal the batch aggregate; with one
    // input batch there is exactly one update per user
    val streamed = updates.groupBy("user_id")
      .agg(max("n_events").as("n"), max("total_value").as("tot"))
      .collect().map(r => r.getLong(0) -> ((r.getLong(1), r.getDouble(2)))).toMap
    val batch = engine.Tables.events(spark, SparkTestSession.sfDir)
      .groupBy("user_id")
      .agg(count(lit(1)).as("n"), sum("value").as("tot"))
      .collect().map(r => r.getLong(0) -> ((r.getLong(1), r.getDouble(2)))).toMap
    assert(streamed.keySet == batch.keySet)
    assert(batch.forall { case (u, (n, tot)) =>
      val (sn, stot) = streamed(u)
      sn == n && math.abs(stot - tot) < 1e-6
    })
  }

  test("streaming LSH ingest over a static standing index equals the batch join") {
    // q206's ingest shape run as a stream: the batch split replayed in
    // multiple micro-batches (maxFilesPerTrigger=1) against the SAME
    // static minHashBandPostings index must union to exactly the
    // one-shot batch join — per-doc signatures + a static side make
    // the computation micro-batch decomposable
    val docs = engine.Tables.documents(spark, SparkTestSession.sfDir)
    val batchDocs = docs.filter(pmod(col("doc_id"), lit(10L)) === 0L)
    val postings = operators.Dedup.minHashBandPostings(
      docs.filter(pmod(col("doc_id"), lit(10L)) =!= 0L),
      "doc_id", "text", k = 3, bands = 4, rowsPerBand = 4)
    val expected = operators.Dedup.minHashLshJoinPostings(batchDocs, postings,
        "doc_id", "text", k = 3, bands = 4, rowsPerBand = 4,
        minEstJaccard = 0.25)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    val base = java.nio.file.Files.createTempDirectory("lsh-stream").toString
    // several source files so the stream runs >1 micro-batch
    batchDocs.repartition(3).write.parquet(s"$base/in")
    val stream = spark.readStream
      .schema(batchDocs.schema)
      .option("maxFilesPerTrigger", 1)
      .parquet(s"$base/in")
    val q = EventStreams.streamingLshIngest(stream, postings,
      s"$base/out", s"$base/ckpt", "doc_id", "text",
      k = 3, bands = 4, rowsPerBand = 4, minEstJaccard = 0.25)
    q.processAllAvailable()
    q.stop()
    val got = spark.read.parquet(s"$base/out")
      .select("new_id", "corpus_id", "est_jaccard")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    assert(expected.nonEmpty)
    assert(got == expected, s"streamed=${got.size} batch=${expected.size}")
  }

  test("streaming KMV sketch converges to the batch q137 sketch exactly") {
    val updates = runToMemory(
      EventStreams.streamingKmvDistinct(
        EventStreams.readEventStream(spark, eventsDir),
        "event_type", "user_id", k = 64, saltPrefix = "kmv_").toDF(),
      "t_kmv", "update")
    // one input batch (like the totals test) -> exactly one update per
    // group, which IS the final sketch state
    assert(updates.groupBy("group").count().collect().forall(_.getLong(1) == 1L))
    val streamed = updates.collect().map(r => r.getAs[String]("group") ->
      ((r.getAs[Long]("n_kept"), r.getAs[Long]("kth_min"),
        r.getAs[Long]("est_distinct")))).toMap
    val batch = graft.operators.Sketches.kmvDistinct(
        engine.Tables.events(spark, SparkTestSession.sfDir),
        "event_type", col("user_id"), k = 64, saltPrefix = "kmv_")
      .collect().map(r => r.getString(0) ->
        ((r.getAs[Long]("n_kept"), r.getAs[Long]("kth_min"),
          r.getAs[Long]("est_distinct")))).toMap
    assert(streamed == batch, s"streamed $streamed != batch $batch")
  }

  test("streaming CMS cells converge to the batch cmsBuildKeys sketch exactly") {
    val updates = runToMemory(
      EventStreams.streamingCmsCells(
        EventStreams.readEventStream(spark, eventsDir),
        "event_type", d = 4, w = 1024, saltPrefix = "scms_").toDF(),
      "t_cms", "update")
    // one input batch -> one update per touched cell = the final state
    val streamed = updates.collect()
      .map(r => (r.getAs[Long]("r"), r.getAs[Long]("c")) -> r.getAs[Long]("cnt"))
      .toMap
    val batch = graft.operators.Sketches.cmsBuildKeys(
        engine.Tables.events(spark, SparkTestSession.sfDir),
        "event_type", d = 4, w = 1024, saltPrefix = "scms_")
      .collect().map(r => (r.getAs[Long]("r"), r.getAs[Long]("c")) ->
        r.getAs[Long]("cnt")).toMap
    assert(streamed == batch,
      s"streamed ${streamed.size} cells != batch ${batch.size}")
  }

  test("streaming permutation ledger readout equals batch permutationTestPpm") {
    // pairs derived from events: grp = event_type, resample key =
    // event_id, paired difference = cents value — the same frame fed
    // to both forms; R = 47 keeps the test fast (the draw machinery is
    // R-agnostic)
    def pairsOf(df: org.apache.spark.sql.DataFrame) = df.select(
      col("event_type").as("grp"), col("event_id"),
      (round(col("value") * 100) - 250L).cast("long").as("d_c"))
    val updates = runToMemory(
      EventStreams.streamingPermCells(
        pairsOf(EventStreams.readEventStream(spark, eventsDir)),
        "grp", "event_id", "d_c", r = 47, prefix = "spt_").toDF(),
      "t_perm", "update")
    // one input batch -> exactly one update per cell = the final state
    assert(updates.groupBy("grp", "r").count()
      .collect().forall(_.getLong(2) == 1L))
    val streamed = EventStreams.permutationFromCells(updates, r = 47)
      .collect().map(r => r.getString(0) ->
        ((r.getLong(1), r.getLong(2), r.getLong(3)))).toMap
    val batch = graft.operators.Relational.permutationTestPpm(
        pairsOf(engine.Tables.events(spark, SparkTestSession.sfDir)),
        "grp", "event_id", "d_c", r = 47, prefix = "spt_")
      .collect().map(r => r.getString(0) ->
        ((r.getLong(1), r.getLong(2), r.getLong(3)))).toMap
    assert(streamed == batch, s"streamed $streamed != batch $batch")
  }

  test("streaming permutation ledger raises on a NULL resample id") {
    // a null id's NULL sign array would make posexplode drop the row
    // from every cell INCLUDING the observed ledger — silently
    // diverging from batch permutationTestPpm, which counts the row
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val src = MemoryStream[(String, Option[Long], Long)]
    src.addData(("g", Some(1L), 10L), ("g", None, 20L))
    val df = EventStreams.streamingPermCells(
      src.toDF().toDF("grp", "rid", "d_c"), "grp", "rid", "d_c",
      r = 7, prefix = "nul_").toDF()
    val q = df.writeStream.outputMode("update")
      .format("memory").queryName("t_perm_null").start()
    val ex = intercept[Exception] { q.processAllAvailable() }
    q.stop()
    def chain(e: Throwable): String =
      if (e == null) "" else e.toString + "\n" + chain(e.getCause)
    assert(chain(ex).contains("resample id is NULL"), chain(ex))
  }

  test("streaming log-bucket cells converge to the batch sketch exactly") {
    import org.apache.spark.sql.functions.{col, round}
    val updates = runToMemory(
      EventStreams.streamingLogBucketCells(
        EventStreams.readEventStream(spark, eventsDir),
        "event_type", round(col("value") * 100), subBits = 5).toDF(),
      "t_lb", "update")
    val streamed = updates.collect()
      .map(r => (r.getAs[String]("grp"), r.getAs[Long]("bucket")) ->
        r.getAs[Long]("cnt")).toMap
    val batch = graft.operators.Sketches.logBucketCells(
        engine.Tables.events(spark, SparkTestSession.sfDir),
        "event_type", round(col("value") * 100), subBits = 5)
      .collect().map(r => (r.getAs[String]("grp"), r.getAs[Long]("bucket")) ->
        r.getAs[Long]("cnt")).toMap
    assert(streamed == batch,
      s"streamed ${streamed.size} cells != batch ${batch.size}")
  }

  test("streaming Misra-Gries summary satisfies the q214 contract over a multi-batch stream") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    // skewed per-group streams split across 3 micro-batches: MG state
    // must carry across batches and the q214 guarantees must hold on
    // the final summary, whatever the arrival order
    val items =
      (Seq.fill(300)("hot") ++ Seq.fill(90)("warm") ++
        (0 until 40).flatMap(i => Seq.fill(3)(s"cold_$i"))).map(("g1", _)) ++
      (Seq.fill(200)("only") ++ (0 until 30).map(i => s"x_$i")).map(("g2", _))
    val src = MemoryStream[(String, String)]
    val cap = 9 // k = 10
    val q = EventStreams.streamingMgSummary(
        src.toDF().toDF("g", "w"), "g", "w", capacity = cap)
      .toDF().writeStream.outputMode("update")
      .format("memory").queryName("t_mg").start()
    items.grouped(items.size / 3 + 1).foreach { chunk =>
      src.addData(chunk: _*); q.processAllAvailable()
    }
    q.stop()
    // LAST update per group is the final summary
    val finalSummaries = spark.table("t_mg").collect()
      .zipWithIndex.groupBy(_._1.getString(0))
      .map { case (g, rows) => g ->
        rows.maxBy(_._2)._1.getAs[Map[String, Long]]("items") }
    val exact = items.groupBy(identity).view.mapValues(_.size.toLong)
    val nPerGroup = items.groupBy(_._1).view.mapValues(_.size.toLong)
    for (((g, w), cnt) <- exact; if cnt * (cap + 1) > nPerGroup(g)) {
      val summary = finalSummaries(g)
      assert(summary.contains(w), s"heavy ($g,$w) cnt=$cnt missing: $summary")
      val est = summary(w)
      assert(est <= cnt, s"($g,$w) overcounted: est=$est exact=$cnt")
      assert((cnt - est) * (cap + 1) <= nPerGroup(g),
        s"($g,$w) undercount ${cnt - est} > n/k")
    }
    // state bound: never more than `cap` counters per group
    assert(finalSummaries.values.forall(_.size <= cap))
  }

  test("streamingUpsert changelog equals snapshotDiff; folded state equals the merge") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    import graft.streaming.EventStreams.{ChangeRow, UpsertOp}
    import graft.operators.Relational
    implicit val sc = spark.sqlContext
    import spark.implicits._
    val src = MemoryStream[UpsertOp]
    val q = graft.streaming.EventStreams.streamingUpsert(src.toDS())
      .toDF().writeStream.outputMode("append")
      .format("memory").queryName("t_upsert").start()
    // batch 1 builds v1 (with an idempotent re-put and a del of an
    // absent key — both must emit nothing)
    src.addData(UpsertOp(1L, 10L, "put"), UpsertOp(2L, 20L, "put"),
      UpsertOp(4L, 40L, "put"), UpsertOp(1L, 10L, "put"),
      UpsertOp(99L, 0L, "del"))
    q.processAllAvailable()
    val b1 = spark.table("t_upsert").as[ChangeRow].collect().toSet
    assert(b1 == Set(ChangeRow(1L, "insert", None, Some(10L)),
      ChangeRow(2L, "insert", None, Some(20L)),
      ChangeRow(4L, "insert", None, Some(40L))))
    // batch 2 realizes v2: 1 unchanged, 2 updated, 4 deleted, 6 inserted
    src.addData(UpsertOp(1L, 10L, "put"), UpsertOp(2L, 25L, "put"),
      UpsertOp(4L, 0L, "del"), UpsertOp(6L, 60L, "put"))
    q.processAllAvailable()
    q.stop()
    val all = spark.table("t_upsert").as[ChangeRow].collect().toSet
    val b2 = all -- b1
    // the second batch's emissions ARE snapshotDiff(v1, v2)'s changes
    val v1 = Seq((1L, 10L), (2L, 20L), (4L, 40L)).toDF("k", "v")
    val v2 = Seq((1L, 10L), (2L, 25L), (6L, 60L)).toDF("k", "v")
    val diff = Relational.snapshotDiff(v1, v2, Seq("k"))
      .filter(col("change_type") =!= "unchanged")
      .select(col("k"), col("change_type"), col("old_row.v").as("old_v"),
        col("new_row.v").as("new_v"))
      .as[ChangeRow].collect().toSet
    assert(b2 == diff, s"stream $b2 != diff $diff")
    // folding the emissions in batch order reproduces the merge (= v2);
    // each batch emits at most one change per key, so batch order is
    // the only ordering needed
    val folded = (b1.toSeq ++ b2.toSeq)
      .foldLeft(Map.empty[Long, Long]) { (m, ch) =>
        ch.new_v match {
          case Some(v) => m + (ch.k -> v)
          case None    => m - ch.k
        }
      }
    val merged = Relational.applyChangelog(v1,
        Relational.snapshotDiff(v1, v2, Seq("k")), Seq("k"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(folded == merged)
  }

  test("streaming funnel over a ts-ordered multi-batch stream equals the batch operator") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    import graft.operators.Relational
    implicit val sc = spark.sqlContext
    import spark.implicits._
    val stages = Seq("a", "b", "c")
    // deterministic per-user event streams incl. ts ties and skipped stages
    val rnd = new scala.util.Random(29)
    val rows = (for {
      u <- 1L to 60L
      i <- 1 to rnd.nextInt(9)
    } yield (u, (rnd.nextInt(12) * 1000000L), stages(rnd.nextInt(3)))).toSeq
    val batchDf = rows
      .map { case (u, tsUs, tp) => (u, new java.sql.Timestamp(tsUs / 1000), tp) }
      .toDF("user_id", "ts", "event_type")
    val expect = Relational.funnelStages(batchDf, "user_id", "ts",
        "event_type", stages)
      .orderBy("stage_idx").collect().map(_.getLong(2)).toSeq
    // stream the SAME events in ts order, split across 3 micro-batches
    val src = MemoryStream[(Long, Long, String)]
    val q = graft.streaming.EventStreams.streamingFunnel(
        src.toDF().toDF("user_id", "ts_us", "event_type")
          .selectExpr("user_id", "timestamp_micros(ts_us) AS ts", "event_type"),
        stages)
      .toDF().writeStream.outputMode("update")
      .format("memory").queryName("t_funnel").start()
    val ordered = rows.sortBy(_._2)
    ordered.grouped(ordered.size / 3 + 1).foreach { chunk =>
      src.addData(chunk: _*); q.processAllAvailable()
    }
    q.stop()
    // LAST update per user carries the final depth
    val finalDepth = spark.table("t_funnel").collect().zipWithIndex
      .groupBy(_._1.getLong(0))
      .map { case (u, rs) => u -> rs.maxBy(_._2)._1.getInt(1) }
    val streamedCounts = stages.indices.map { k =>
      finalDepth.values.count(_ >= k + 1).toLong
    }
    assert(streamedCounts == expect,
      s"streamed $streamedCounts != batch $expect")
  }

  test("streaming path trigrams over a ts-ordered multi-batch stream equal the batch window") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    implicit val sc = spark.sqlContext
    import spark.implicits._
    val types = Vector("view", "click", "cart", "purchase")
    val rnd = new scala.util.Random(268)
    // strictly increasing ts per user so the ingest contract holds
    // across any batch split; event_id is the global tiebreaker
    val rows = (for {
      u <- 1L to 40L
      i <- 0 until (2 + rnd.nextInt(8))
    } yield (u, i * 1000000L, types(rnd.nextInt(types.size))))
      .zipWithIndex
      .map { case ((u, tsUs, tp), eid) => (u, tsUs, eid.toLong, tp) }
    // batch model: per-user ordered trigrams
    val expect = rows.groupBy(_._1).toSeq.flatMap { case (_, evs) =>
      val ts = evs.sortBy(e => (e._2, e._3)).map(_._4)
      ts.sliding(3).filter(_.size == 3).map(w => (w(0), w(1), w(2)))
    }.groupBy(identity).map { case (k, g) => k -> g.size.toLong }
    // stream the SAME events in ts order, split across 4 micro-batches
    // (trigram windows straddle the splits — the state must bridge them)
    val src = MemoryStream[(Long, Long, Long, String)]
    val q = EventStreams.streamingPathTrigrams(
        src.toDF().toDF("user_id", "ts_us", "event_id", "event_type")
          .selectExpr("user_id", "timestamp_micros(ts_us) AS ts",
            "event_id", "event_type"))
      .toDF().writeStream.outputMode("update")
      .format("memory").queryName("t_trigrams").start()
    val ordered = rows.sortBy(e => (e._2, e._3))
    ordered.grouped(ordered.size / 4 + 1).foreach { chunk =>
      src.addData(chunk: _*); q.processAllAvailable()
    }
    q.stop()
    // deltas are additive: their trigram-grouped sum IS the count table
    val streamed = spark.table("t_trigrams").collect()
      .map(r => ((r.getString(0), r.getString(1), r.getString(2)),
        r.getLong(3)))
      .groupBy(_._1).map { case (k, g) => k -> g.map(_._2).sum }
    assert(streamed == expect, s"streamed $streamed != batch $expect")
  }
}
