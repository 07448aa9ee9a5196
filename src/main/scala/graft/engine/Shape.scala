package graft.engine

import scala.concurrent.{Await, ExecutionContext, Future}
import scala.concurrent.duration.Duration

import org.apache.spark.sql.{Column, DataFrame, Row, SparkSession}
import org.apache.spark.sql.types.{ByteType, IntegerType, LongType, ShortType}

/** The engine's plan-shape tactics, each defined once: how wide to run
  * ([[width]]), when to spread a narrow scan ([[spread]]), when to
  * shield a range sort ([[shield]]), when to materialize
  * ([[materialize]]), when a bounded input goes to a driver-local twin
  * ([[localRows]]), and when to overlap independent chains
  * ([[inParallel]]). Operators and registry entries call these instead
  * of re-deriving the decision; per-site comments only record what was
  * measured at that site.
  */
object Shape {

  /** `spark.sql.shuffle.partitions` parsed defensively: some runtimes
    * set it non-numeric (e.g. "auto" under vendor AQE builds), and a
    * bare `.toInt` throws before the query even runs (ADVICE r13).
    * Callers use the value only to PIN a by-num repartition width, so
    * a sane fallback (32) beats failing.
    */
  def width(spark: SparkSession): Int =
    try spark.conf.get("spark.sql.shuffle.partitions").toInt
    catch { case _: NumberFormatException => 32 }

  /** Scale-adaptive spread of a NARROW input frame before CPU-dense
    * map work (r16, guide §2.5 input-skew remedy). At bench scale a
    * whole table is one parquet row group, so a per-row UDF + explode
    * pipeline rides a 1-3 task scan stage while the other cores idle
    * (measured: the gram/shingle/simhash map stages of the dedup
    * family each ran 0.4-0.9 s single-task at sf0.1). When the frame's
    * planned scan parallelism is below the session width, ONE
    * exchange of the raw rows spreads the downstream map work; at
    * cluster scale the scan is already wide and this returns the frame
    * untouched — no exchange, no extra bytes (the gate is the measured
    * split count, not a constant). Rows are unchanged (round-robin
    * repartition is deterministic under sortBeforeRepartition), and
    * when one operator derives several consumers from the spread frame
    * the identical exchange subtrees are deduped by ReuseExchange, so
    * the scan+shuffle runs once. Apply ONLY to scan-level frames:
    * `.rdd` on a frame with upstream exchanges would force their
    * execution just to read the width.
    *
    * Pass the frame's (unique) id columns as `keys` when available:
    * a keyed spread hash-partitions WITHOUT the local input sort every
    * keyless repartition pays (sortBeforeRepartition, guide §2.5 —
    * measured ~0.5 s of the q225 spread map job); keyless falls back
    * to round-robin. Cheap maps do not pay for the exchange: sites
    * where a spread measured slower say so in place.
    */
  def spread(df: DataFrame, keys: Column*): DataFrame = {
    val w = width(df.sparkSession)
    if (df.rdd.getNumPartitions >= w) df
    else if (keys.nonEmpty) df.repartition(w, keys: _*)
    else df.repartition(w)
  }

  /** Shield exchange below a range sort (r16): `orderBy` plans a
    * RangePartitioning exchange whose sampling job re-executes the
    * exchange's child stage, so a sort placed directly over a UDF,
    * decode or join stage ran that stage TWICE (measured q70, q124,
    * q165, q190, q202: two identical jobs per profile). A round-robin
    * exchange at session width gives the sampler shuffle files to read
    * instead — AQE materializes the expensive stage once. Round-robin,
    * not keyed: a keyed repartition on the upstream agg's key would be
    * elided as redundant over the agg's own partitioning. Use it on
    * small sorted results (≤|groups| rows); the extra shuffle carries
    * only those rows.
    */
  def shield(df: DataFrame): DataFrame = df.repartition(width(df.sparkSession))

  /** Cluster-durability switch for every iterative operator in the
    * library (star CC, BFS/SSSP, k-core, PageRank, k-means, BPE merge
    * rounds, ...): `spark.graft.checkpointDir` unset (the default, and
    * the local[32] test mode) → `localCheckpoint(eager)`, whose blocks
    * live on executors — fastest, but lost WITH an executor, so an
    * executor failure at 1000-node scale kills the whole iterative job.
    * Set `spark.graft.checkpointDir` to an HDFS/S3 path and every loop
    * switches to reliable `checkpoint()` into that directory: lineage
    * is truncated identically (same plan shape, same results — asserted
    * by CheckpointEquivalenceSpec), but materialized blocks survive
    * executor loss and the job resumes instead of recomputing from
    * round 0. The sparkContext checkpoint dir is set lazily from the
    * conf on first use.
    *
    * Materialize a frame when more than one action or consumer reads
    * it (a loop's per-round state, a table both a join and an output
    * read): one eager job computes it once for all of them.
    */
  def materialize(df: DataFrame): DataFrame = {
    val spark = df.sparkSession
    spark.conf.getOption(CheckpointDirConf).filter(_.nonEmpty) match {
      case Some(dir) =>
        val sc = spark.sparkContext
        // Remember the EXACT conf value last applied (per application):
        // setCheckpointDir appends a UUID subdir so the configured dir
        // can't be compared to getCheckpointDir directly, and a
        // substring containment check would skip re-pointing when the
        // new dir is a substring of the old path (ADVICE r08, e.g.
        // /data/ckpt after /data/ckpt2). Re-pointing when the conf
        // changes keeps long-lived sessions (tests, notebooks) honest.
        val key = (sc.applicationId, dir)
        if (!appliedCheckpointDir.get().contains(key)) synchronized {
          if (!appliedCheckpointDir.get().contains(key)) {
            sc.setCheckpointDir(dir)
            appliedCheckpointDir.set(Some(key))
            // Reliable checkpoints are NOT removed by Spark's cleaner
            // unless the context was started with
            // spark.cleaner.referenceTracking.cleanCheckpoints=true (a
            // context-creation conf this library cannot retrofit), so a
            // long iterative job otherwise grows durable storage by one
            // rdd-* dir per round (ADVICE r08). Surface that loudly —
            // round N-1's files cannot be deleted eagerly here because
            // loop-invariant frames (e.g. q191's blocked-edge frame)
            // are legitimately re-read by every later round.
            if (!sc.getConf.getBoolean(
                "spark.cleaner.referenceTracking.cleanCheckpoints", false))
              org.slf4j.LoggerFactory.getLogger(getClass).warn(
                s"$CheckpointDirConf is set but " +
                  "spark.cleaner.referenceTracking.cleanCheckpoints is not: " +
                  "superseded round checkpoints under " + dir + " will only " +
                  "be removed at application end, not as rounds are GC'd — " +
                  "set it at spark-submit time for long jobs")
            // End-of-job floor either way: delete the UUID subdir this
            // application created once the application ends (nothing
            // can reference its checkpoints after that). At most ONE
            // listener per created UUID dir — sessions alternating
            // between two configured dirs re-point on every call, and
            // an unguarded add would accumulate listeners for the
            // application's lifetime (ADVICE r9).
            sc.getCheckpointDir.foreach { created =>
              if (cleanupRegistered.add(created))
                sc.addSparkListener(new org.apache.spark.scheduler.SparkListener {
                  override def onApplicationEnd(
                      e: org.apache.spark.scheduler.SparkListenerApplicationEnd): Unit =
                    try {
                      val p = new org.apache.hadoop.fs.Path(created)
                      p.getFileSystem(sc.hadoopConfiguration).delete(p, true)
                    } catch { case _: Throwable => () } // best-effort
                })
            }
          }
        }
        df.checkpoint(true)
      case None => df.localCheckpoint(true)
    }
  }

  /** (applicationId, configured dir) last routed through
    * setCheckpointDir — exact equality, not containment (ADVICE r08).
    */
  private val appliedCheckpointDir =
    new java.util.concurrent.atomic.AtomicReference[Option[(String, String)]](None)

  /** Created UUID checkpoint dirs that already have an end-of-app
    * cleanup listener — one listener per dir, ever (ADVICE r9).
    */
  private val cleanupRegistered =
    java.util.concurrent.ConcurrentHashMap.newKeySet[String]()

  val CheckpointDirConf = "spark.graft.checkpointDir"

  /** Postfix form of [[materialize]] so iterative loops read as
    * pipelines: `edges.materialized`.
    */
  implicit class MaterializeOps(private val df: DataFrame) {
    def materialized: DataFrame = materialize(df)
  }

  /** Row count under which an iterative or round-based operator runs
    * its driver-local twin (r15/r16). Below it, a loop of per-round
    * exchanges + checkpoints + driver scalars pays more in scheduler
    * round-trips than the whole input costs to process on the driver
    * (measured: q184's peel ran 45 AQE jobs for ~1 MB of edges; the
    * star-CC loop 5-8 rounds / 50+ jobs on q191/q201; a BPE vocab
    * build one job + checkpoint per merge round). 200K rows of edges
    * or spaced words is a few tens of MB on the driver. Each twin
    * replays its distributed algorithm's EXACT semantics, and a spec
    * per operator forces the distributed path with `localLimit = 0`
    * and compares; above the limit the distributed loop runs
    * unchanged, keeping the 100 TB shape.
    */
  val LocalRowLimit: Long = 200000L

  /** True when every frame's first column is an integral type — the
    * driver twins key LongMaps by node id, so non-integral ids stay on
    * the distributed path.
    */
  def integralIds(dfs: DataFrame*): Boolean = dfs.forall { df =>
    df.schema.head.dataType match {
      case ByteType | ShortType | IntegerType | LongType => true
      case _ => false
    }
  }

  /** The bounded-local gate: ONE bounded action that both decides the
    * path and, when the input fits, already holds it (r16 — replaces a
    * count followed by a second collect, or a checkpoint + count +
    * collect triple). Returns the rows when `df` holds at most `limit`
    * of them; `None` when `limit <= 0` (the spec'd "force the
    * distributed path" setting, empty input included) or when the
    * input is larger — the wasted fetch is then bounded by
    * `limit + 1` rows and the distributed loop proceeds over its own
    * checkpoint as before. Row order is the frame's collect order;
    * every twin is order-insensitive.
    */
  def localRows(df: DataFrame, limit: Long): Option[Array[Row]] =
    if (limit <= 0L) None
    else Some(df.limit(math.min(limit, Int.MaxValue - 1L).toInt + 1).collect())
      .filter(_.length <= limit)

  /** Run two INDEPENDENT eager chains (materialize/collect builds)
    * concurrently from the driver, so the second chain's jobs back-fill
    * the first's straggler tail (optimization guide §2.6). Each side is
    * evaluated exactly once, on its own thread; use ONLY for sides with
    * no data dependency on each other. Deterministic results stay
    * deterministic — only wall-clock changes. An exception from either
    * side propagates.
    */
  def inParallel[A, B](a: => A, b: => B): (A, B) = {
    val pool = java.util.concurrent.Executors.newFixedThreadPool(2)
    implicit val ec: ExecutionContext = ExecutionContext.fromExecutor(pool)
    try Await.result(Future(a).zip(Future(b)), Duration.Inf)
    finally pool.shutdown()
  }

  /** Count the shuffle exchanges in a plan (test/audit helper).
    * ShuffleExchangeExec renders as the bare word "Exchange"; the \b
    * boundaries exclude "BroadcastExchange".
    */
  def exchangeCount(df: DataFrame): Int =
    """\bExchange\b""".r
      .findAllIn(df.queryExecution.executedPlan.toString).length
}
