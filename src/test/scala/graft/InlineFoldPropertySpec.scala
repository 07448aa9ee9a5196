package graft

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.functions._
import graft.operators.Relational

/** Brute-force driver models for the three formerly-inline folds
  * (VERDICT r11 #8, the q190/q199 property pattern): Kaplan-Meier's
  * integer product fold, the MAD anomaly flags' double lower-median
  * selection, and time-in-state's additivity over the SCD2 collapse —
  * each checked against an independent straight-line model on small
  * seeded-random inputs, exact equality (every quantity is an integer
  * by design, so there is no tolerance anywhere).
  */
class InlineFoldPropertySpec extends AnyFunSuite {
  lazy val spark = SparkTestSession.spark
  import spark.implicits._

  test("kaplanMeier: product fold equals the driver model on random cohorts") {
    val rnd = new scala.util.Random(260)
    for (trial <- 1 to 30) {
      val n = 1 + rnd.nextInt(40)
      val subjects = Seq.fill(n)((rnd.nextInt(8).toLong,
        if (rnd.nextBoolean()) 1L else 0L))
      val got = Relational.kaplanMeier(
          subjects.toDF("t", "is_event"), "t", "is_event")
        .collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3),
          r.getLong(4)))
        .toSeq
      // model: risk set walks down the sorted duration axis; survival
      // is the running floor product in ppm, stepping only on events
      val byT = subjects.groupBy(_._1).toSeq.sortBy(_._1)
      var atRisk = n.toLong
      var surv = 1000000L
      val want = byT.map { case (t, subs) =>
        val d = subs.count(_._2 == 1L).toLong
        val c = subs.size - d
        val nr = atRisk
        if (d > 0 && nr > 0) surv = surv * (nr - d) / nr
        atRisk -= (d + c)
        (t, nr, d, c, surv)
      }
      assert(got == want, s"trial $trial: got $got want $want")
      // structural invariants: survival is non-increasing and the last
      // risk set drains to zero
      assert(got.map(_._5) == got.map(_._5).scanLeft(1000000L)(math.min).tail)
      assert(got.map(r => r._3 + r._4).sum == n.toLong)
    }
  }

  test("madOutlierFlags: flags equal the driver lower-median model on random series") {
    val rnd = new scala.util.Random(247)
    for (trial <- 1 to 30) {
      val n = 1 + rnd.nextInt(50)
      // heavy ties on purpose: lower-median rank selection is where a
      // midpoint-interpolating implementation would diverge
      val vs = Seq.fill(n)(rnd.nextInt(12).toLong * 10L +
        (if (rnd.nextInt(5) == 0) 500L else 0L))
      val df = vs.zipWithIndex.map { case (v, i) => (i.toLong, v) }
        .toDF("k", "total_c")
      // both medians are broadcast 1-row frames: building runs no job
      val (flags, jobs) = SparkTestSession.jobsDuring(
        Relational.madOutlierFlags(df, "total_c", kTimes = 3L))
      assert(jobs == 0, s"trial $trial: $jobs construction jobs")
      val got = flags
        .select("k", "total_c", "med_c", "mad_c", "dev_c", "is_anomaly")
        .collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3),
          r.getLong(4), r.getLong(5)))
        .sortBy(_._1).toSeq
      def lowerMedian(xs: Seq[Long]): Long = xs.sorted.apply((xs.size + 1) / 2 - 1)
      val med = lowerMedian(vs)
      val mad = lowerMedian(vs.map(v => math.abs(v - med)))
      val want = vs.zipWithIndex.map { case (v, i) =>
        val dev = math.abs(v - med)
        (i.toLong, v, med, mad, dev, if (dev > 3L * mad) 1L else 0L)
      }
      assert(got == want, s"trial $trial: got $got want $want")
    }
  }

  test("mannWhitney: tie-corrected U equals the driver rank model on random arms") {
    val rnd = new scala.util.Random(264)
    for (trial <- 1 to 25) {
      // heavy ties (values from a small domain) — the average-rank
      // correction is the part a naive dense-rank version gets wrong
      val n1 = 2 + rnd.nextInt(30)
      val n2 = 2 + rnd.nextInt(30)
      val vals = Seq.fill(n1)(("control", rnd.nextInt(9).toLong * 5L)) ++
        Seq.fill(n2)(("treatment", rnd.nextInt(9).toLong * 5L))
      val got = operators.Relational.mannWhitney(
          vals.toDF("arm", "v"), "arm", "v")
        .collect()
        .map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getLong(3),
          r.getLong(4)))
        .toSeq
      // model: 2×average rank by sorting the pooled sample
      val sorted = vals.map(_._2).sorted
      def rank2(v: Long): Long = {
        val lo = sorted.indexOf(v)          // 0-based first position
        val t = sorted.count(_ == v)
        2L * (lo + 1) + t - 1               // 2a + t - 1, a = lo+1
      }
      def armRow(arm: String, nSelf: Int, nOther: Int) = {
        val r2 = vals.filter(_._1 == arm).map(v => rank2(v._2)).sum
        val u2 = r2 - nSelf.toLong * (nSelf + 1)
        val rb = u2 / math.max(nSelf.toLong * nOther / 1000000L, 1L) - 1000000L
        (arm, nSelf.toLong, r2, u2, rb)
      }
      val want = Seq(armRow("control", n1, n2), armRow("treatment", n2, n1))
      assert(got == want, s"trial $trial: got $got want $want")
      // invariant: U_c + U_t == 2·n1·n2 (doubled on both sides)
      assert(got.map(_._4).sum == 2L * n1 * n2)
    }
  }

  test("independenceLift: cells equal the driver contingency model") {
    val rnd = new scala.util.Random(265)
    for (trial <- 1 to 20) {
      val rows = Seq.fill(20 + rnd.nextInt(200))(
        (s"r${rnd.nextInt(4)}", s"c${rnd.nextInt(3)}"))
      val got = operators.Relational.independenceLift(
          rows.toDF("rv", "cv"), "rv", "cv")
        .collect()
        .map(r => (r.getString(0), r.getString(1), r.getLong(2), r.getLong(3),
          r.getLong(4)))
        .toSeq
      val n = rows.size.toLong
      val rt = rows.groupBy(_._1).map { case (k, g) => k -> g.size.toLong }
      val ct = rows.groupBy(_._2).map { case (k, g) => k -> g.size.toLong }
      val want = rows.groupBy(identity).toSeq
        .map { case ((r, c), g) =>
          val e = rt(r) * ct(c) / n
          (r, c, g.size.toLong, e, g.size.toLong * 1000000L / math.max(e, 1L))
        }
        .sortBy(t => (t._1, t._2))
      assert(got == want, s"trial $trial: got $got want $want")
    }
  }

  test("prioritySample: bottom-k matches the driver key model and favors weight") {
    import graft.functions.TextFunctions.tokenHash64Jvm
    val rnd = new scala.util.Random(266)
    for (trial <- 1 to 15) {
      val n = 30 + rnd.nextInt(100)
      val k = 1 + rnd.nextInt(20)
      val docs = (0 until n).map(i => (i.toLong, 1L + rnd.nextInt(5000)))
      val got = operators.Curation.prioritySample(
          docs.toDF("doc_id", "w"), "doc_id", "w", k)
        .collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)))
        .toSeq
      val want = docs
        .map { case (id, w) => (tokenHash64Jvm(s"ps_$id") / w, id, w) }
        .sortBy(t => (t._1, t._2))
        .take(k)
        .zipWithIndex
        .map { case ((key, id, w), i) => (i + 1L, id, w, key) }
      assert(got == want, s"trial $trial: got $got want $want")
    }
    // weight monotonicity in distribution: with ids fixed, doubling
    // every weight can only shrink keys, so the all-heavier corpus
    // keeps the same relative order (key = u div w is antitone in w)
    val ids = (0 until 50).map(_.toLong)
    val k1 = ids.map(id => tokenHash64Jvm(s"ps_$id") / 10L)
    val k2 = ids.map(id => tokenHash64Jvm(s"ps_$id") / 20L)
    assert(k1.zip(k2).forall { case (a, b) => b <= a })
  }

  test("timeInState: totals are additive over the SCD2 collapse on random streams") {
    val rnd = new scala.util.Random(251)
    val base = java.sql.Timestamp.valueOf("2026-03-01 00:00:00").getTime
    for (trial <- 1 to 25) {
      // per user 2..8 events at distinct-or-tied minute marks, 3 states;
      // the global tie column makes same-ts orders deterministic
      val rows = (for {
        u <- 1 to 4
        k <- 0 until (2 + rnd.nextInt(7))
      } yield (u.toLong, rnd.nextInt(60), s"s${rnd.nextInt(3)}"))
        .zipWithIndex
        .map { case ((u, minute, st), i) =>
          (u, new java.sql.Timestamp(base + minute * 60000L), st, i.toLong)
        }
      val df = rows.toDF("user_id", "ts", "state", "eid")
      // model on RAW per-event intervals (each event holds its state
      // until the user's next event; the last until the global horizon)
      val horizonUs = rows.map(_._2.getTime).max * 1000L
      val perEvent = rows.groupBy(_._1).toSeq.flatMap { case (_, evs) =>
        val sorted = evs.sortBy(e => (e._2.getTime, e._4))
        sorted.zipWithIndex.map { case ((_, ts, st, _), i) =>
          val endUs = if (i + 1 < sorted.size) sorted(i + 1)._2.getTime * 1000L
                      else horizonUs
          (st, endUs - ts.getTime * 1000L)
        }
      }
      val totals = perEvent.groupBy(_._1).map { case (st, ds) =>
        st -> ds.map(_._2).sum }
      // collapsed-run counts: consecutive same-state events are ONE interval
      val runs = rows.groupBy(_._1).toSeq.flatMap { case (_, evs) =>
        val sts = evs.sortBy(e => (e._2.getTime, e._4)).map(_._3)
        sts.zip("" +: sts).collect { case (cur, prev) if cur != prev => cur }
      }.groupBy(identity).map { case (st, xs) => st -> xs.size.toLong }
      val grand = totals.values.sum
      // grand is >= one minute in micros for any 2-event stream unless
      // every event ties on one instant; skip the degenerate draw
      // (share would divide by zero) BEFORE running the operator
      if (grand >= 1000000L) {
        val want = totals.keys.toSeq.sorted.map { st =>
          (st, runs(st), totals(st), totals(st) / (grand / 1000000L))
        }
        val got = Relational.timeInState(df, "user_id", "ts", "state", "eid")
          .collect()
          .map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getLong(3)))
          .sortBy(_._1).toSeq
        assert(got == want, s"trial $trial: got $got want $want")
      }
    }
  }
}
