package graft

import org.scalatest.funsuite.AnyFunSuite

import graft.multimodal.Multimodal

class EntrySpec extends AnyFunSuite {
  lazy val spark = SparkTestSession.spark
  import spark.implicits._

  test("entry (flagship multiway join) returns rows at sf0.001") {
    assert(SparkEntry.entry(spark).count() > 0)
  }

  test("every query has an oracle (q39/q70 now accuracy-contract checked)") {
    val noOracle = SparkEntry.queries.keySet -- SparkEntry.oracleSql.keySet
    assert(noOracle.isEmpty, s"queries without oracle coverage: $noOracle")
  }

  test("every oracleSql key has a matching queries entry") {
    val missing = SparkEntry.oracleSql.keySet -- SparkEntry.queries.keySet
    assert(missing.isEmpty, s"oracle without query: $missing")
  }

  test("query selection picks exact names and qNN ids, never a substring") {
    def pick(sel: String) = SparkEntry.queries.keySet.filter(SparkEntry.selects(sel))
    assert(pick("q70") == Set("q70_approx_percentile"))
    assert(pick("q1") == Set("q01_agg_pricing") && pick("q01") == pick("q1"))
    assert(pick("q170_benford_audit") == Set("q170_benford_audit"))
    assert(pick("q1,q170_benford_audit") == Set("q01_agg_pricing", "q170_benford_audit"))
    assert(pick("benford").isEmpty && pick("q").isEmpty)
  }

  test("no query plans a cartesian product (global plan invariant)") {
    // crossJoin is only ever used against a broadcast side (centroids,
    // probes, 25-row nation) => BroadcastNestedLoopJoin; a true
    // CartesianProduct anywhere is a scale bug
    for ((name, fn) <- SparkEntry.queries) {
      val plan = fn(spark, SparkTestSession.sfDir).queryExecution.executedPlan.toString
      assert(!plan.contains("CartesianProduct"), s"$name plans a cartesian product")
    }
  }

  test("all queries execute and return a readable schema at sf0.001") {
    for ((name, fn) <- SparkEntry.queries) {
      val df = fn(spark, SparkTestSession.sfDir)
      assert(df.schema.fields.nonEmpty, name)
      // the driver's pandas comparator hashes scalar cells only — an
      // Array/Map/Struct output column crashes it before any check
      // (q148 shipped red this way); Verify also rejects at dump time
      val complex = df.schema.fields.filterNot(f => Verify.isScalar(f.dataType))
      assert(complex.isEmpty,
        s"$name emits non-scalar column(s): ${complex.map(_.name).mkString(",")}")
      assert(df.count() >= 0, name) // forces full execution
    }
  }

  test("snapshotDiff: insert/update/delete/unchanged incl. null payloads") {
    import graft.operators.Relational
    import org.apache.spark.sql.functions.col
    val v1 = Seq((1L, Some(10L)), (2L, Some(20L)), (3L, None), (4L, Some(40L)))
      .toDF("k", "v")
    val v2 = Seq((1L, Some(10L)), (2L, Some(21L)), (3L, None), (5L, Some(50L)))
      .toDF("k", "v")
    val got = Relational.snapshotDiff(v1, v2, Seq("k"))
      .select(col("k"), col("change_type")).collect()
      .map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(got == Map(1L -> "unchanged", 2L -> "update",
      3L -> "unchanged", // null payload on both sides is NOT an update
      4L -> "delete", 5L -> "insert"))
  }

  test("incrementalSumCount equals full recompute, incl. group-moving update") {
    import graft.operators.Relational
    import org.apache.spark.sql.functions._
    // v1 -> v2: insert (6,B,60); delete (4,A,40); in-place update
    // (2,A,20->25); group-MOVING update (5, A->B, 50); group A's last
    // row deleted case exercised by a separate tiny pair below
    val v1 = Seq((1L, "A", 10L), (2L, "A", 20L), (4L, "A", 40L), (5L, "A", 50L),
      (7L, "B", 70L)).toDF("k", "g", "v")
    val v2 = Seq((1L, "A", 10L), (2L, "A", 25L), (5L, "B", 50L),
      (7L, "B", 70L), (6L, "B", 60L)).toDF("k", "g", "v")
    val v1agg = v1.groupBy("g").agg(sum("v").as("sum_v"), count(lit(1)).as("n"))
    val inc = Relational.incrementalSumCount(v1agg,
        Relational.snapshotDiff(v1, v2, Seq("k")), "g", "v")
      .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2))).toSet
    val full = v2.groupBy("g").agg(sum("v").as("sum_v"), count(lit(1)).as("n"))
      .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2))).toSet
    assert(inc == full)
    assert(inc == Set(("A", 35L, 2L), ("B", 180L, 3L)))
    // a group whose last row is deleted vanishes, as a recompute would
    val w1 = Seq((1L, "X", 5L), (2L, "Y", 7L)).toDF("k", "g", "v")
    val w2 = Seq((1L, "X", 5L)).toDF("k", "g", "v")
    val w1agg = w1.groupBy("g").agg(sum("v").as("sum_v"), count(lit(1)).as("n"))
    val wInc = Relational.incrementalSumCount(w1agg,
        Relational.snapshotDiff(w1, w2, Seq("k")), "g", "v")
      .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2))).toSet
    assert(wInc == Set(("X", 5L, 1L)))
  }

  test("incrementalSumCount: genuinely NULL group keys match full recompute") {
    import graft.operators.Relational
    import org.apache.spark.sql.functions._
    // NULL is a real group: v1 has two NULL-group rows; v2 inserts one
    // more, moves one out of NULL into A, and updates an A row INTO the
    // NULL group. The old filter(g.isNotNull) dropped every one of
    // these contributions and diverged from the recompute.
    val v1 = Seq((1L, Option.empty[String], 10L), (2L, None, 20L),
      (3L, Some("A"), 30L), (4L, Some("A"), 40L)).toDF("k", "g", "v")
    val v2 = Seq((1L, Option.empty[String], 10L), (2L, Some("A"), 20L),
      (3L, Option.empty[String], 30L), (4L, Some("A"), 40L),
      (5L, Option.empty[String], 50L)).toDF("k", "g", "v")
    val v1agg = v1.groupBy("g").agg(sum("v").as("sum_v"), count(lit(1)).as("n"))
    val inc = Relational.incrementalSumCount(v1agg,
        Relational.snapshotDiff(v1, v2, Seq("k")), "g", "v")
      .collect().map(r => (Option(r.getString(0)), r.getLong(1), r.getLong(2))).toSet
    val full = v2.groupBy("g").agg(sum("v").as("sum_v"), count(lit(1)).as("n"))
      .collect().map(r => (Option(r.getString(0)), r.getLong(1), r.getLong(2))).toSet
    assert(inc == full)
    assert(inc == Set((None, 90L, 3L), (Some("A"), 60L, 2L)))
    // NULL group vanishing entirely (last NULL row deleted)
    val w1 = Seq((1L, Option.empty[String], 5L), (2L, Some("B"), 7L)).toDF("k", "g", "v")
    val w2 = Seq((2L, Some("B"), 7L)).toDF("k", "g", "v")
    val w1agg = w1.groupBy("g").agg(sum("v").as("sum_v"), count(lit(1)).as("n"))
    val wInc = Relational.incrementalSumCount(w1agg,
        Relational.snapshotDiff(w1, w2, Seq("k")), "g", "v")
      .collect().map(r => (Option(r.getString(0)), r.getLong(1), r.getLong(2))).toSet
    assert(wInc == Set((Some("B"), 7L, 1L)))
  }

  test("applyChangelog round-trips snapshotDiff for any v1 -> v2, incl. null payloads") {
    import graft.operators.Relational
    import org.apache.spark.sql.functions._
    // v1 -> v2 exercises all three change types plus a null payload
    // appearing AND disappearing
    val v1 = Seq((1L, Some(10L)), (2L, Some(20L)), (4L, Option.empty[Long]),
      (5L, Some(50L))).toDF("k", "v")
    val v2 = Seq((1L, Some(10L)), (2L, Option.empty[Long]), (4L, Some(44L)),
      (6L, Some(60L))).toDF("k", "v")
    val merged = Relational.applyChangelog(v1,
        Relational.snapshotDiff(v1, v2, Seq("k")), Seq("k"))
      .collect().map(r => (r.getLong(0), Option(r.get(1)))).toSet
    val want = v2.collect().map(r => (r.getLong(0), Option(r.get(1)))).toSet
    assert(merged == want)
    // empty changelog: merge is the identity
    val id = Relational.applyChangelog(v1,
        Relational.snapshotDiff(v1, v1, Seq("k")), Seq("k"))
      .collect().map(r => (r.getLong(0), Option(r.get(1)))).toSet
    assert(id == v1.collect().map(r => (r.getLong(0), Option(r.get(1)))).toSet)
  }

  test("scd2History: hand-computed intervals, change-collapse, open current row") {
    import graft.operators.Relational
    import java.sql.Timestamp
    def ts(s: Int) = new Timestamp(1700000000000L + s * 1000L)
    // user 1: A@0 A@10 B@20 B@30 A@40  => [A 0-20) [B 20-40) [A 40-)
    // user 2: X@5                      => [X 5-)
    val ev = Seq(
      (1L, ts(0), "A", 100L), (1L, ts(10), "A", 101L), (1L, ts(20), "B", 102L),
      (1L, ts(30), "B", 103L), (1L, ts(40), "A", 104L),
      (2L, ts(5), "X", 105L)).toDF("u", "t", "a", "eid")
    val got = Relational.scd2History(ev, "u", "t", "a", "eid")
      .orderBy("u", "valid_from")
      .collect().map(r => (r.getLong(0), r.getString(1),
        r.getTimestamp(2), Option(r.getTimestamp(3)), r.getBoolean(4)))
    assert(got.toSeq == Seq(
      (1L, "A", ts(0), Some(ts(20)), false),
      (1L, "B", ts(20), Some(ts(40)), false),
      (1L, "A", ts(40), None, true),
      (2L, "X", ts(5), None, true)))
    // same-timestamp tie: eid orders deterministically; last one wins the interval
    val tie = Seq((3L, ts(0), "P", 1L), (3L, ts(0), "Q", 2L)).toDF("u", "t", "a", "eid")
    val gt = Relational.scd2History(tie, "u", "t", "a", "eid")
      .orderBy("valid_from", "a").collect()
      .map(r => (r.getString(1), r.getBoolean(4)))
    assert(gt.toSeq == Seq(("P", false), ("Q", true)))
  }

  test("videoSceneCuts: hand-built AVI — cut positions, cut-less video, corrupt frame") {
    import graft.multimodal.Multimodal
    import graft.multimodal.Multimodal.{MediaRow, PngCodec, VideoCodec}
    def avi(grays: Seq[Int], w: Int = 6, h: Int = 5) =
      VideoCodec.buildAvi(w, h, grays.map(g => PngCodec.encodeGray(w, h, g)), "MPNG")
    // grays 10,10,200,200,200,40 => cuts at frames 2 and 5
    val cutsVid = MediaRow(1L, "video", avi(Seq(10, 10, 200, 200, 200, 40)), 6, 5)
    // constant video => no cuts, first_cut -1
    val flatVid = MediaRow(2L, "video", avi(Seq(77, 77, 77)), 6, 5)
    // non-video rows drop
    val junk = MediaRow(3L, "audio", Array[Byte](1, 2, 3), 0, 0)
    // container frame 2 is an undecodable '00dc' chunk between decodable
    // gray frames 10 | 10 | junk | 200 | 200
    val gray = (g: Int) => PngCodec.encodeGray(6, 5, g)
    val corrupt = MediaRow(4L, "video", VideoCodec.buildAvi(6, 5,
      Seq(gray(10), gray(10), "not a frame".getBytes("UTF-8"), gray(200), gray(200)),
      "MPNG"), 6, 5)
    val ds = spark.createDataset(Seq(cutsVid, flatVid, junk, corrupt))(
      org.apache.spark.sql.Encoders.product[MediaRow])
    def cuts(every: Int) = Multimodal.videoSceneCuts(ds, every).collect()
      .map(r => r.media_id -> ((r.n_frames, r.n_cuts, r.first_cut))).toMap
    def frameIdx(every: Int) = Multimodal.videoFrameStats(ds, every).collect()
      .filter(_.media_id == 4L).map(_.frame_idx).sorted.toSeq
    // n_frames counts decoded frames; first_cut and frame_idx are
    // container indices (decode order would put the cut at 2)
    assert(cuts(1) == Map(1L -> ((6L, 2L, 2L)), 2L -> ((3L, 0L, -1L)),
      4L -> ((4L, 1L, 3L))))
    assert(frameIdx(1) == Seq(0L, 1L, 3L, 4L))
    // every=2 samples container frames 0, 2, 4; the junk sample drops and
    // the comparison continues with the next decodable sample
    assert(cuts(2)(4L) == ((2L, 1L, 4L)))
    assert(frameIdx(2) == Seq(0L, 4L))
  }

  test("videoSceneCuts every=2: cuts between samples, a gap-hidden cut cancels") {
    import graft.multimodal.Multimodal
    import graft.multimodal.Multimodal.{MediaRow, PngCodec, VideoCodec}
    def avi(grays: Seq[Int], w: Int = 6, h: Int = 5) =
      VideoCodec.buildAvi(w, h, grays.map(g => PngCodec.encodeGray(w, h, g)), "MPNG")
    val cutsVid = MediaRow(1L, "video", avi(Seq(10, 10, 200, 200, 200, 40)), 6, 5)
    val flatVid = MediaRow(2L, "video", avi(Seq(77, 77, 77)), 6, 5)
    // a cut inside a skipped gap attributes to the NEXT sample: grays
    // 5,90,5,5 at every=2 samples frames 0,2 (both gray 5) => no cut
    val hidden = MediaRow(3L, "video", avi(Seq(5, 90, 5, 5)), 6, 5)
    val ds = spark.createDataset(Seq(cutsVid, flatVid, hidden))(
      org.apache.spark.sql.Encoders.product[MediaRow])
    // every=2: vid1 samples frames 0,2,4 (grays 10,200,200) => one cut
    // seen at container frame 2; vid3's gap-hidden cut cancels
    val s2 = Multimodal.videoSceneCuts(ds, every = 2).collect()
      .map(r => r.media_id -> ((r.n_frames, r.n_cuts, r.first_cut))).toMap
    assert(s2 == Map(1L -> ((3L, 1L, 2L)), 2L -> ((2L, 0L, -1L)),
      3L -> ((2L, 0L, -1L))))
    assert(intercept[IllegalArgumentException](
      Multimodal.videoSceneCuts(ds, every = 0)).getMessage.contains("every"))
  }

  test("videoFrameStats every=2: the even-indexed frames at container indices") {
    import graft.multimodal.Multimodal
    val media = Multimodal.media(Seq(1L, 3L, 5L).toDF("doc_id"),
      Multimodal.MediaKind.VideoReal)
    def key(r: Multimodal.VideoFrameStats) =
      (r.media_id, r.frame_idx) -> ((r.width, r.height, r.sum_r, r.sum_g, r.sum_b))
    val full = Multimodal.videoFrameStats(media).collect().map(key).toMap
    val s2 = Multimodal.videoFrameStats(media, every = 2)
      .collect().map(key).toMap
    // exactly the even-indexed subset of the every-frame scan
    assert(s2 == full.filter { case ((_, fi), _) => fi % 2 == 0 })
    assert(s2.nonEmpty && s2.size < full.size)
  }

  test("videoFingerprint every=2 equals every=1 on the window-constant fixture") {
    import graft.multimodal.Multimodal
    val media = Multimodal.media(Seq(11L, 13L, 21L).toDF("doc_id"),
      Multimodal.MediaKind.VideoDup).collect()
    media.foreach { r =>
      val dense = Multimodal.videoFingerprint(r.content)
      assert(dense.isDefined)
      // dup fixture: 128 frames, 64 two-frame constant windows — one
      // sampled frame per window reproduces the every-frame fingerprint
      assert(Multimodal.videoFingerprint(r.content, every = 2) == dense)
    }
    // too few sampled frames => None, not a wrong hash
    assert(Multimodal.videoFingerprint(media.head.content, every = 4).isEmpty)
  }

  test("multimodal: stub decoder features match a manual computation") {
    val media = Multimodal.mediaFromDocuments(
      spark, Seq((2L, "AB")).toDF("doc_id", "text"))
    val f = Multimodal.extractFeatures(media).collect().head
    assert(f.media_id == 2L && f.kind == "image")
    assert(f.n_bytes == 2L)
    assert(f.byte_mean == (65 + 66) / 2.0)
    assert(f.histogram(4) == 2L) // 'A'=0x41,'B'=0x42 both in bin 4
    assert(f.histogram.sum == 2L)
  }

  test("real image decode: PNG roundtrip recovers the exact pixel pattern") {
    import graft.multimodal.Multimodal.ImageCodec
    // direct roundtrip, no Spark: decoded sums equal the analytic sums
    val (id, w, h) = (6L, 14, 14)
    val Some((dw, dh, sr, sg, sb)) = ImageCodec.decodeSums(ImageCodec.encodePng(id, w, h))
    var (er, eg, eb) = (0L, 0L, 0L)
    for (y <- 0 until h; x <- 0 until w) {
      val (r, g, b) = ImageCodec.channels(id, x, y)
      er += r; eg += g; eb += b
    }
    assert((dw, dh) == (w, h))
    assert((sr, sg, sb) == (er, eg, eb))
    // undecodable bytes are dropped, never faked
    assert(ImageCodec.decodeSums("not a png".getBytes("UTF-8")).isEmpty)
    // distributed path: imageStats over generated media matches per-row
    val docs = Seq((0L, "x"), (1L, "y"), (2L, "z"), (4L, "w")).toDF("doc_id", "text")
    val stats = Multimodal.imageStats(Multimodal.media(docs, Multimodal.MediaKind.ImgReal))
      .collect().map(s => s.media_id -> s).toMap
    assert(stats.keySet == Set(0L, 2L, 4L)) // odd ids are not images
    for ((mid, s) <- stats) {
      val (ww, hh) = ((mid % 16).toInt + 8, (mid % 12).toInt + 8)
      assert(s.width == ww && s.height == hh)
      var exp = 0L
      for (y <- 0 until hh; x <- 0 until ww) exp += ImageCodec.channels(mid, x, y)._1
      assert(s.sum_r == exp)
    }
  }

  test("real audio decode: WAV roundtrip recovers the exact sample pattern") {
    import graft.multimodal.Multimodal.AudioCodec
    // direct roundtrip, no Spark: decoded sums equal the analytic sums
    val id = 7L
    val n = AudioCodec.nSamples(id)
    val Some((dn, ds, dsq, dsa)) = AudioCodec.decodeStats(AudioCodec.encodeWav(id))
    var (es, esq, esa) = (0L, 0L, 0L)
    for (i <- 0 until n) {
      val s = AudioCodec.sampleAt(id, i).toLong
      es += s; esq += s * s; esa += math.abs(s)
    }
    assert(dn == n.toLong)
    assert((ds, dsq, dsa) == (es, esq, esa))
    // undecodable bytes are dropped, never faked
    assert(AudioCodec.decodeStats("not a wav".getBytes("UTF-8")).isEmpty)
    // distributed path: audioStats over generated media matches per-row
    val docs = Seq((1L, "x"), (2L, "y"), (3L, "z"), (401L, "w")).toDF("doc_id", "text")
    val stats = Multimodal.audioStats(Multimodal.media(docs, Multimodal.MediaKind.AudioReal))
      .collect().map(s => s.media_id -> s).toMap
    assert(stats.keySet == Set(1L, 3L, 401L)) // even ids are not audio
    for ((mid, s) <- stats) {
      assert(s.n_samples == AudioCodec.nSamples(mid).toLong)
      var exp = 0L
      for (i <- 0 until AudioCodec.nSamples(mid)) exp += AudioCodec.sampleAt(mid, i)
      assert(s.sum_s == exp)
    }
  }

  test("audio fingerprint: decode roundtrip equals the formula; dup pairs at Hamming 2") {
    import graft.multimodal.Multimodal.AudioCodec
    // direct roundtrip: fingerprint from decoded WAV bytes == fingerprint
    // from the amplitude formula (bit k = amp_k*64 > sum(amp), since
    // windows are equal-sized and window-constant)
    for (id <- Seq(1L, 13L, 27L)) {
      val n = AudioCodec.dupNSamples(id)
      val win = n / 64
      val wav = AudioCodec.encodePcm(
        Array.tabulate(n)(i => AudioCodec.dupAmp(id, i / win)))
      val amps = Array.tabulate(64)(k => AudioCodec.dupAmp(id, k).toLong)
      val ta = amps.sum
      var expected = 0L
      for (k <- 0 until 64) if (amps(k) * 64 > ta) expected |= 1L << k
      assert(Multimodal.audioFingerprint(wav).contains(expected), s"id=$id")
    }
    // too-short clips and garbage yield None, never a fake hash
    assert(Multimodal.audioFingerprint(
      AudioCodec.encodePcm(Array.fill(32)(100))).isEmpty)
    assert(Multimodal.audioFingerprint("junk".getBytes("UTF-8")).isEmpty)
    // distributed dedup: same-gid members differ by exactly their two
    // flipped windows (distinct per member), so every same-gid pair is
    // Hamming exactly 2 — durations differ, so WAV bytes never equal
    val docs = (10L to 20L).map(i => (i, "t")).toDF("doc_id", "text")
    val media = Multimodal.media(docs, Multimodal.MediaKind.AudioDup)
    val pairs = graft.operators.Dedup.hammingNearDup(
        Multimodal.audioFingerprints(media).toDF(), "media_id", "fhash",
        nBits = 64, maxHamming = 2)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    // odd ids 11..19 -> gids 1 (11..19) — all C(5,2)=10 pairs, Hamming 2
    val odd = (11L to 19L by 2).toSeq
    val expectedPairs = (for { a <- odd; b <- odd if a < b } yield (a, b)).toSet
    assert(pairs.map(p => (p._1, p._2)).toSet == expectedPairs)
    assert(pairs.forall(_._3 == 2L), pairs.mkString(","))
  }

  test("audio silence segments: planted runs, edges, corrupt blob drops") {
    import graft.multimodal.Multimodal.{AudioCodec, MediaRow}
    import spark.implicits._
    // 128 samples = 64 windows of 2; windows 0-9 silent (amp 10),
    // 10-39 loud (240), 40-63 silent — two segments, one touching the
    // start and one the end
    def amp(k: Int) = if (k < 10 || k >= 40) 10 else 240
    val wav = AudioCodec.encodePcm(Array.tabulate(128)(i => amp(i / 2)))
    val media = Seq(
      MediaRow(1L, "audio", wav, 128, 8000),
      MediaRow(2L, "audio", "junk".getBytes("UTF-8"), 0, 0)
    ).toDS()
    val got = Multimodal.audioSilenceSegments(media).collect()
      .map(s => (s.media_id, s.seg, s.start_win, s.end_win, s.n_win)).toSet
    assert(got == Set((1L, 0L, 0L, 9L, 10L), (1L, 1L, 40L, 63L, 24L)))
    // an all-loud clip yields zero segments, not an empty-run row
    val loud = AudioCodec.encodePcm(Array.fill(128)(240))
    assert(Multimodal.audioSilenceSegments(
      Seq(MediaRow(3L, "audio", loud, 128, 8000)).toDS()).count() == 0L)
  }

  test("PngCodec: gray roundtrip, ImageIO agreement, all five filters") {
    import graft.multimodal.Multimodal.PngCodec
    // uniform-gray writer: ImageIO and the narrow reader agree exactly
    for ((w, h, v) <- Seq((6, 7, 220), (1, 1, 30), (10, 6, 0), (8, 8, 255))) {
      val png = PngCodec.encodeGray(w, h, v)
      assert(PngCodec.decodeGraySum(png).contains((w, h, w.toLong * h * v)))
      val img = javax.imageio.ImageIO.read(new java.io.ByteArrayInputStream(png))
      assert(img.getWidth == w && img.getHeight == h)
      for (y <- 0 until h; x <- 0 until w)
        assert((img.getRGB(x, y) & 0xffffff) == ((v << 16) | (v << 8) | v))
    }
    // ImageIO-written truecolor PNG (whatever filters its encoder
    // picks): fast-path sum equals the BufferedImage-derived sum
    for (id <- Seq(3L, 9L, 14L)) {
      val (w, h) = (((id % 12) + 8).toInt, ((id % 10) + 8).toInt)
      val png = graft.multimodal.Multimodal.ImageCodec.encodePng(id, w, h)
      val img = javax.imageio.ImageIO.read(new java.io.ByteArrayInputStream(png))
      var exp = 0L
      for (y <- 0 until h; x <- 0 until w) {
        val p = img.getRGB(x, y)
        exp += (((p >> 16) & 0xff) + ((p >> 8) & 0xff) + (p & 0xff)) / 3
      }
      assert(PngCodec.decodeGraySum(png).contains((w, h, exp)), s"id=$id")
    }
    // hand-filtered grayscale streams: for every filter type, apply the
    // spec's forward transform to a patterned image and require the
    // reader to invert it exactly
    val (w, h) = (7, 5)
    val pixels = Array.tabulate(h, w)((y, x) => (x * 37 + y * 91 + 13) % 256)
    val expSum = pixels.flatten.map(_.toLong).sum
    for (ft <- 0 to 4) {
      val raw = new java.io.ByteArrayOutputStream()
      for (y <- 0 until h) {
        raw.write(ft)
        for (x <- 0 until w) {
          val cur = pixels(y)(x)
          val a = if (x > 0) pixels(y)(x - 1) else 0
          val b = if (y > 0) pixels(y - 1)(x) else 0
          val c = if (x > 0 && y > 0) pixels(y - 1)(x - 1) else 0
          val filt = ft match {
            case 0 => cur
            case 1 => cur - a
            case 2 => cur - b
            case 3 => cur - ((a + b) >> 1)
            case 4 =>
              val pp = a + b - c
              val pa = math.abs(pp - a); val pb = math.abs(pp - b)
              val pc = math.abs(pp - c)
              cur - (if (pa <= pb && pa <= pc) a else if (pb <= pc) b else c)
          }
          raw.write(filt & 0xff)
        }
      }
      val rb = raw.toByteArray
      val deflater = new java.util.zip.Deflater()
      deflater.setInput(rb); deflater.finish()
      val comp = new Array[Byte](rb.length + 64)
      val n = deflater.deflate(comp); deflater.end()
      // assemble: signature + IHDR(gray) + IDAT + IEND via the public
      // writer's chunk layout (reuse encodeGray for header bytes, then
      // splice our IDAT) — simplest: build chunks manually
      def be32(v: Int) = Array((v >>> 24).toByte, (v >>> 16).toByte,
        (v >>> 8).toByte, v.toByte)
      def chunk(t: String, body: Array[Byte]) = {
        val crc = new java.util.zip.CRC32()
        crc.update(t.getBytes("US-ASCII")); crc.update(body)
        be32(body.length) ++ t.getBytes("US-ASCII") ++ body ++
          be32(crc.getValue.toInt)
      }
      val ihdr = be32(w) ++ be32(h) ++ Array[Byte](8, 0, 0, 0, 0)
      val png = Array(0x89, 0x50, 0x4e, 0x47, 0x0d, 0x0a, 0x1a, 0x0a)
        .map(_.toByte) ++ chunk("IHDR", ihdr) ++
        chunk("IDAT", comp.take(n)) ++ chunk("IEND", Array.emptyByteArray)
      assert(PngCodec.decodeGraySum(png).contains((w, h, expSum)), s"filter=$ft")
      // structural cross-check against ImageIO (pixel VALUES are not
      // comparable on colortype-0: ImageIO applies a gray→sRGB
      // ColorConvertOp — the reason encodeGray emits truecolor)
      val img = javax.imageio.ImageIO.read(new java.io.ByteArrayInputStream(png))
      assert(img != null && img.getWidth == w && img.getHeight == h,
        s"filter=$ft")
    }
    // non-PNG and truncated input: None, never a throw
    assert(PngCodec.decodeGraySum("junk".getBytes("UTF-8")).isEmpty)
    assert(PngCodec.decodeGraySum(
      PngCodec.encodeGray(6, 6, 100).take(40)).isEmpty)
  }

  test("video fingerprint: decode roundtrip equals the formula; dup pairs at Hamming 2") {
    import graft.multimodal.Multimodal.VideoCodec
    // direct roundtrip: fingerprint from the parsed+decoded AVI ==
    // fingerprint from the gray formula (bit k = gray_k*64 > sum(gray),
    // since frames are uniform and windows equal-sized)
    for (id <- Seq(1L, 13L, 27L)) {
      val n = VideoCodec.dupNFrames(id)
      val win = n / 64
      val w = (id % 5).toInt + 6
      val h = (id % 4).toInt + 6
      val frames = (0 until n).map { i =>
        val v = VideoCodec.dupGray(id, i / win)
        val img = new java.awt.image.BufferedImage(
          w, h, java.awt.image.BufferedImage.TYPE_INT_RGB)
        for (y <- 0 until h; x <- 0 until w)
          img.setRGB(x, y, (v << 16) | (v << 8) | v)
        val bos = new java.io.ByteArrayOutputStream()
        javax.imageio.ImageIO.write(img, "png", bos)
        bos.toByteArray
      }
      val avi = VideoCodec.buildAvi(w, h, frames, "MPNG")
      val grays = Array.tabulate(64)(k => VideoCodec.dupGray(id, k).toLong)
      val ta = grays.sum
      var expected = 0L
      for (k <- 0 until 64) if (grays(k) * 64 > ta) expected |= 1L << k
      assert(Multimodal.videoFingerprint(avi).contains(expected), s"id=$id")
    }
    // too-short videos (q118's 2-5 frame fixtures) and garbage yield
    // None, never a fake hash
    assert(Multimodal.videoFingerprint(VideoCodec.encodeAvi(9L)).isEmpty)
    assert(Multimodal.videoFingerprint("junk".getBytes("UTF-8")).isEmpty)
    // distributed dedup: same-gid members differ by exactly their two
    // flipped windows — durations and frame dims differ, so neither the
    // AVI bytes nor any frame PNG can byte-match across members
    val docs = (10L to 20L).map(i => (i, "t")).toDF("doc_id", "text")
    val media = Multimodal.media(docs, Multimodal.MediaKind.VideoDup)
    val pairs = graft.operators.Dedup.hammingNearDup(
        Multimodal.videoFingerprints(media).toDF(), "media_id", "fhash",
        nBits = 64, maxHamming = 2)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    val odd = (11L to 19L by 2).toSeq
    val expectedPairs = (for { a <- odd; b <- odd if a < b } yield (a, b)).toSet
    assert(pairs.map(p => (p._1, p._2)).toSet == expectedPairs)
    assert(pairs.forall(_._3 == 2L), pairs.mkString(","))
  }

  test("real video decode: AVI container parse + per-frame pixel roundtrip") {
    import graft.multimodal.Multimodal.{ImageCodec, VideoCodec}
    // direct roundtrip, no Spark: every MPNG frame decodes to the
    // analytic pattern at its frame seed
    val id = 9L
    val (w, h) = VideoCodec.dims(id)
    val avi = VideoCodec.encodeAvi(id)
    // container structure: RIFF/'AVI ' outer, frame chunks in order
    assert(new String(avi, 0, 4, "US-ASCII") == "RIFF")
    assert(new String(avi, 8, 4, "US-ASCII") == "AVI ")
    def decodeFrames(b: Array[Byte]) = VideoCodec.frameChunks(b).flatMap(ImageCodec.read)
    val frames = decodeFrames(avi)
    assert(frames.size == VideoCodec.nFrames(id))
    for ((img, f) <- frames.zipWithIndex) {
      assert(img.getWidth == w && img.getHeight == h)
      val seed = VideoCodec.frameSeed(id, f)
      var ok = true
      for (y <- 0 until h; x <- 0 until w) {
        val (r, g, b) = ImageCodec.channels(seed, x, y)
        ok &= img.getRGB(x, y) == (0xff000000 | (r << 16) | (g << 8) | b)
      }
      assert(ok, s"frame $f pixels differ from the analytic pattern")
    }
    // MJPG rides the same path: JPEG frames decode structurally (lossy,
    // so only count + dimensions are asserted)
    val jpegFrames = (0 until 3).map { _ =>
      val img = new java.awt.image.BufferedImage(
        16, 12, java.awt.image.BufferedImage.TYPE_INT_RGB)
      val bos = new java.io.ByteArrayOutputStream()
      javax.imageio.ImageIO.write(img, "jpg", bos)
      bos.toByteArray
    }
    val mjpg = VideoCodec.buildAvi(16, 12, jpegFrames, "MJPG")
    val decodedJpeg = decodeFrames(mjpg)
    assert(decodedJpeg.size == 3)
    assert(decodedJpeg.forall(i => i.getWidth == 16 && i.getHeight == 12))
    // corrupt / non-AVI blobs yield no frames, never a throw
    assert(decodeFrames("not an avi".getBytes("UTF-8")).isEmpty)
    assert(decodeFrames(avi.take(20).toArray).isEmpty)
    // distributed path: videoFrameStats fans one media row out to
    // nFrames fixed-width rows with analytic channel sums
    val docs = Seq((1L, "x"), (2L, "y"), (7L, "z")).toDF("doc_id", "text")
    val stats = Multimodal.videoFrameStats(Multimodal.media(docs, Multimodal.MediaKind.VideoReal))
      .collect().groupBy(_.media_id)
    assert(stats.keySet == Set(1L, 7L)) // even ids are not videos
    for ((mid, rows) <- stats) {
      assert(rows.length == VideoCodec.nFrames(mid))
      val (ww, hh) = VideoCodec.dims(mid)
      for (r <- rows) {
        assert(r.width == ww.toLong && r.height == hh.toLong)
        var (er, eg, eb) = (0L, 0L, 0L)
        for (y <- 0 until hh; x <- 0 until ww) {
          val (cr, cg, cb) = ImageCodec.channels(
            VideoCodec.frameSeed(mid, r.frame_idx.toInt), x, y)
          er += cr; eg += cg; eb += cb
        }
        assert((r.sum_r, r.sum_g, r.sum_b) == (er, eg, eb))
      }
    }
  }

  test("session_window batch twin equals the lag/cumsum sessionize exactly") {
    import org.apache.spark.sql.functions.{col, expr}
    val ev = engine.Tables.events(spark, SparkTestSession.sfDir)
    val cols = Seq("user_id", "session_start", "session_end", "n_events")
    // sessionizeSW's end is last-event + gap; shift the lag form's end by
    // the gap and the two must agree row-for-row
    val lagAdj = operators.Relational.sessionize(ev, "user_id", "ts", 1800L)
      .select(col("user_id"), col("session_start"),
        (col("session_end") + expr("INTERVAL 1800 SECONDS")).as("session_end"),
        col("n_events"))
    val sw = operators.Relational.sessionizeSW(ev, "user_id", "ts", 1800L)
      .select(cols.map(col): _*)
    assert(lagAdj.except(sw).count() == 0)
    assert(sw.except(lagAdj).count() == 0)
    assert(sw.count() == lagAdj.count()) // except() dedups; counts pin multiplicity
  }

  test("multimodal resize yields fixed-size blobs; frame sampling is a narrow UDTF") {
    import graft.multimodal.Multimodal
    val media = Multimodal.mediaFromDocuments(spark,
      engine.Tables.documents(spark, SparkTestSession.sfDir).limit(20))
    val resized = Multimodal.resize(media, 8, 4).collect()
    assert(resized.forall(r => r.content.length == 32 && r.width == 8 && r.height == 4))
    val frames = Multimodal.sampleFrames(media, 5)
    val perMedia = frames.groupBy("media_id").count().collect()
    assert(perMedia.forall(_.getLong(1) == 5))
    // frame byte counts tile the blob exactly
    val total = frames.groupBy("media_id").sum("n_bytes").collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    val orig = media.collect().map(r => r.media_id -> r.content.length.toLong).toMap
    assert(total == orig)
  }

  test("dedup scale guards keep only the capped keys' pairs") {
    import graft.operators.Dedup
    val docs = engine.Tables.documents(spark, SparkTestSession.sfDir)
    val plain = Dedup.ngramJaccard(docs, "doc_id", "text", 3, 0.05)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    // generous cap: nothing dropped, identical result
    val capped = Dedup.ngramJaccard(docs, "doc_id", "text", 3, 0.05,
      maxDocFreq = 1000000).collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(capped == plain)
    // tight cap: a subset (Jaccard only ever shrinks)
    val tight = Dedup.ngramJaccard(docs, "doc_id", "text", 3, 0.05, maxDocFreq = 2)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(tight.subsetOf(plain))
    val lshPlain = Dedup.minHashLsh(docs, "doc_id", "text", 3, 4, 4, 0.25)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val lshCapped = Dedup.minHashLsh(docs, "doc_id", "text", 3, 4, 4, 0.25,
      maxBucketSize = 1000000).collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(lshCapped == lshPlain)
  }

  test("curation sampling is deterministic and respects weights/caps") {
    import org.apache.spark.sql.functions._
    import graft.operators.Curation
    val docs = engine.Tables.documents(spark, SparkTestSession.sfDir)
    def ids(df: org.apache.spark.sql.DataFrame) =
      df.select("doc_id").collect().map(_.getLong(0)).toSet
    // same mix on repeated runs and under different partitioning
    val m1 = ids(Curation.sourceMix(docs, "source", "doc_id", Map("src0" -> 0.5)))
    val m2 = ids(Curation.sourceMix(docs.repartition(7), "source", "doc_id",
      Map("src0" -> 0.5)))
    assert(m1 == m2 && m1.nonEmpty)
    // weight 0 drops the source entirely; weight 1 keeps everything else
    val dropped = Curation.sourceMix(docs, "source", "doc_id", Map("src0" -> 0.0))
    assert(dropped.filter(col("source") === "src0").count() == 0)
    assert(dropped.count() == docs.filter(col("source") =!= "src0").count())
    // per-group carve-out: exactly k per group, stable across runs
    val s1 = ids(Curation.hashSamplePerGroup(docs, "source", "doc_id", 3))
    val s2 = ids(Curation.hashSamplePerGroup(docs.repartition(5), "source", "doc_id", 3))
    assert(s1 == s2)
    val perGroup = Curation.hashSamplePerGroup(docs, "source", "doc_id", 3)
      .groupBy("source").count().collect().map(_.getLong(1))
    assert(perGroup.forall(_ == 3))
  }

  test("as-of join merge form equals the join+window form") {
    import org.apache.spark.sql.functions._
    import graft.operators.Relational
    val ev = engine.Tables.events(spark, SparkTestSession.sfDir)
    val purchases = ev.filter(col("event_type") === "purchase")
      .select(col("event_id"), col("user_id"), col("ts"))
    val errors = ev.filter(col("event_type") === "error")
      .select(col("event_id").as("err_event_id"),
        col("user_id").as("err_user_id"), col("ts").as("err_ts"))
    def pairs(df: org.apache.spark.sql.DataFrame) =
      df.select("event_id", "err_event_id").collect()
        .map(r => (r.getLong(0), r.getLong(1))).toSet
    val viaJoin = pairs(Relational.asOfJoin(purchases, errors,
      "user_id", "err_user_id", "ts", "err_ts", "event_id", "err_event_id"))
    // merge form, backward, no tolerance: the latest right at-or-before
    val viaMerge = pairs(Relational.asOfJoinMergeDirected(purchases, errors,
      "user_id", "err_user_id", "ts", "err_ts", "err_event_id",
      forward = false))
    assert(viaMerge == viaJoin && viaMerge.nonEmpty)
    // forward matches are at-or-after, and a 0-second tolerance only
    // keeps exact-timestamp coincidences (a subset of the untolerated)
    val fwd = Relational.asOfJoinMergeDirected(purchases, errors,
      "user_id", "err_user_id", "ts", "err_ts", "err_event_id",
      forward = true)
    assert(fwd.filter(col("err_ts") < col("ts")).isEmpty)
    val fwdTol = pairs(Relational.asOfJoinMergeDirected(purchases, errors,
      "user_id", "err_user_id", "ts", "err_ts", "err_event_id",
      forward = true, toleranceSeconds = 3600L))
    assert(fwdTol.subsetOf(pairs(fwd)))
  }

  test("interval overlap join equals the naive predicate join on a fixture") {
    import org.apache.spark.sql.functions._
    import graft.operators.Relational
    import spark.implicits._
    // deterministic intervals with varied lengths crossing bucket edges
    val iv = (0 until 300).map { i =>
      val s = (i * 37) % 1000L; (i.toLong, s, s + (i % 23))
    }
    val a = iv.toDF("id_a", "s_a", "e_a")
    val b = iv.toDF("id_b", "s_b", "e_b")
    for (bw <- Seq(1L, 8L, 64L)) {
      val got = Relational.intervalOverlapJoin(a, b, "s_a", "e_a", "s_b", "e_b", bw)
        .filter(col("id_a") < col("id_b"))
        .select("id_a", "id_b").as[(Long, Long)].collect().toSet
      val naive = (for {
        (i, si, ei) <- iv; (j, sj, ej) <- iv
        if i < j && si <= ej && sj <= ei
      } yield (i, j)).toSet
      assert(got == naive, s"bucketWidth=$bw mismatch")
    }
  }

  test("approx percentile is within 2% of the exact percentile") {
    import org.apache.spark.sql.functions._
    val li = engine.Tables.lineitem(spark, SparkTestSession.sfDir)
    val rows = li.agg(
      percentile_approx(col("l_extendedprice"), lit(0.5), lit(10000)).cast("double"),
      expr("percentile(l_extendedprice, 0.5)").cast("double")).head()
    val (approx, exact) = (rows.getDouble(0), rows.getDouble(1))
    assert(math.abs(approx - exact) / exact < 0.02)
  }

  test("approx_count_distinct is within 5% of exact on lineitem keys") {
    import org.apache.spark.sql.functions._
    val li = engine.Tables.lineitem(spark, SparkTestSession.sfDir)
    val Array(approx, exact) = li.agg(
      approx_count_distinct(col("l_partkey")).cast("double"),
      countDistinct(col("l_partkey")).cast("double")).head().toSeq
      .map(_.asInstanceOf[Double]).toArray
    assert(math.abs(approx - exact) / exact < 0.05)
  }

  test("image perceptual hash pairs rescaled duplicates byte-exact dedup misses") {
    import org.apache.spark.sql.functions._
    import spark.implicits._
    // ids 10,12,14 share gid 1 at three different sizes; id 30 is gid 3
    // (distinct gids = distinct md5 cell patterns, at any corpus size)
    val docs = Seq(10L, 12L, 14L, 30L).toDF("doc_id")
      .withColumn("text", lit("x"))
    val media = multimodal.Multimodal.media(docs,
      multimodal.Multimodal.MediaKind.ImgDup)
    // four DISTINCT blobs — exact byte-level dedup pairs nothing
    assert(media.collect().map(_.content.toSeq).distinct.length == 4)
    val pairs = operators.Dedup.hammingNearDup(
        multimodal.Multimodal.imageAHash(media).toDF(),
        "media_id", "ahash", nBits = 64, maxHamming = 2)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    val got = pairs.map(p => (p._1, p._2)).toSet
    // the two-level pattern is size-invariant -> same-gid pairs at Hamming 0
    assert(got == Set((10L, 12L), (10L, 14L), (12L, 14L)), got.toString)
    assert(pairs.forall(_._3 == 0L), pairs.mkString(","))
  }

  test("ewmaTrailing: fixed-point fold matches a hand computation, frame truncates") {
    import org.apache.spark.sql.functions._
    import spark.implicits._
    // key a: 100, 200, 300 with alpha=1/4, span=2:
    //   row1 seed 100; row2 (3*100+200) div 4 = 125;
    //   row3 frame=[200,300] (span truncates 100 away): (3*200+300) div 4 = 225
    // key b: single obs -> seed
    val df = Seq(("a", 1L, 100L), ("a", 2L, 200L), ("a", 3L, 300L),
        ("b", 1L, 50L))
      .toDF("k", "seq", "v")
    val got = operators.Relational
      .ewmaTrailing(df, "k", Seq(col("seq")), "v", 1L, 4L, span = 2)
      .orderBy("k", "seq").collect()
      .map(r => (r.getString(0), r.getLong(1), r.getAs[Long]("ewma")))
    assert(got.toSeq == Seq(("a", 1L, 100L), ("a", 2L, 125L),
      ("a", 3L, 225L), ("b", 1L, 50L)), got.toSeq.toString)
  }
}
