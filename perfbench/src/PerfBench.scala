package graft.perfbench

import java.io.File
import java.lang.management.ManagementFactory
import java.nio.file.{Files, Paths}
import java.security.MessageDigest

import scala.collection.mutable
import scala.jdk.CollectionConverters._
import scala.util.control.NonFatal

import com.fasterxml.jackson.databind.ObjectMapper
import org.apache.spark.PerfBenchBus
import org.apache.spark.scheduler._
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.functions.col
import org.apache.spark.sql.util.QueryExecutionListener

import graft.{QueryShared, SparkEntry}
import graft.engine.Tables
import graft.operators.TextJobs

/** One benchmark run in one JVM: a closed loop with a single client that
  * submits the workload's operations back to back.
  *
  * The driver only calls the engine's public entry points and times them
  * from outside: `SparkEntry.queries(id)(spark, dir)` (construction), the
  * `noop` sink (planning plus execution), `Tables.table` and
  * `TextJobs`. With `trace` on, a SparkListener and a
  * QueryExecutionListener attribute every job, stage and task to the
  * span (pass, operation, phase) that was active when it was submitted;
  * the spans stay in memory and are written with the result at the end.
  *
  * Usage: PerfBench <config.json> <result.json>
  */
object PerfBench {
  private val SpanKey = "perfbench.span"

  /** Counters of one span: everything its jobs did. */
  final class Counters {
    var jobs, stagesTotal, stagesRun, tasks, failedTasks = 0L
    var runMs, cpuNs, gcMs, shuffleW, shuffleR, spill, input, output = 0L
    var longestStageMs = 0L
    var longestStageSkew = 0.0
    def json: Map[String, Any] = Map(
      "jobs" -> jobs, "stages" -> stagesRun, "stages_skipped" -> (stagesTotal - stagesRun),
      "tasks" -> tasks, "failed_tasks" -> failedTasks, "task_ms" -> runMs,
      "cpu_s" -> cpuNs / 1e9, "gc_s" -> gcMs / 1e3, "shuffle_write_b" -> shuffleW,
      "shuffle_read_b" -> shuffleR, "spill_b" -> spill, "input_b" -> input,
      "output_b" -> output, "longest_stage_ms" -> longestStageMs,
      "longest_stage_skew" -> longestStageSkew)
  }

  /** Attributes scheduler events to spans through the job properties. */
  final class Tracer extends SparkListener with QueryExecutionListener {
    private val spans = mutable.HashMap.empty[String, Counters]
    private val stageSpan = mutable.HashMap.empty[Int, String]
    private val stageTasks = mutable.HashMap.empty[Int, mutable.ArrayBuffer[Long]]
    @volatile var lastPhases: Map[String, Double] = Map.empty

    private def span(key: String) = spans.getOrElseUpdate(key, new Counters)
    private def keyOf(p: java.util.Properties) =
      Option(p).flatMap(x => Option(x.getProperty(SpanKey)))

    def take(key: String): Counters = synchronized(spans.remove(key).getOrElse(new Counters))

    override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
      keyOf(e.properties).foreach { k =>
        val c = span(k); c.jobs += 1; c.stagesTotal += e.stageInfos.size
      }
    }
    override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit = synchronized {
      keyOf(e.properties).foreach { k =>
        stageSpan(e.stageInfo.stageId) = k; span(k).stagesRun += 1
      }
    }
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
      stageSpan.get(e.stageId).foreach { k =>
        val c = span(k)
        c.tasks += 1
        if (!e.taskInfo.successful) c.failedTasks += 1
        val m = e.taskMetrics
        if (m != null) {
          c.runMs += m.executorRunTime; c.cpuNs += m.executorCpuTime; c.gcMs += m.jvmGCTime
          c.shuffleW += m.shuffleWriteMetrics.bytesWritten
          c.shuffleR += m.shuffleReadMetrics.totalBytesRead
          c.spill += m.diskBytesSpilled; c.input += m.inputMetrics.bytesRead
          c.output += m.outputMetrics.bytesWritten
          stageTasks.getOrElseUpdate(e.stageId, mutable.ArrayBuffer.empty) += m.executorRunTime
        }
      }
    }
    override def onStageCompleted(e: SparkListenerStageCompleted): Unit = synchronized {
      val id = e.stageInfo.stageId
      for (k <- stageSpan.remove(id); times <- stageTasks.remove(id) if times.nonEmpty) {
        val c = span(k)
        val total = times.sum
        if (total >= c.longestStageMs) {
          val sorted = times.sorted
          val median = sorted(sorted.size / 2)
          c.longestStageMs = total
          c.longestStageSkew = sorted.last.toDouble / math.max(median, 1L)
        }
      }
    }
    override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
      lastPhases = qe.tracker.phases.map { case (n, p) => n -> p.durationMs / 1e3 }
    override def onFailure(funcName: String, qe: QueryExecution, ex: Exception): Unit = ()
  }

  final case class Config(
      data: String, queries: Seq[String], seed: Long,
      trace: Boolean, cores: Int, mode: String,
      launchMs: Long, warmupPasses: Int, warmPasses: Int, freshFixtures: Boolean,
      corpus: Option[String], letterCopies: Int, word: String, letterReps: Int, wordReps: Int,
      workDir: String)

  private def readConfig(path: String): Config = {
    val j = new ObjectMapper().readTree(new File(path))
    def s(n: String) = j.get(n).asText()
    Config(
      s("data"), j.get("queries").elements().asScala.map(_.asText()).toSeq,
      j.get("seed").asLong(), j.get("trace").asBoolean(),
      j.get("cores").asInt(), s("mode"), j.get("launch_ms").asLong(),
      j.get("warmup_passes").asInt(), j.get("warm_passes").asInt(),
      j.get("fresh_fixtures").asBoolean(),
      Option(j.get("corpus")).filterNot(_.isNull).map(_.asText()), j.get("letter_copies").asInt(),
      s("word"),
      j.get("letter_reps").asInt(), j.get("word_reps").asInt(), s("work_dir"))
  }

  def main(args: Array[String]): Unit = {
    val mainMs = System.currentTimeMillis()
    val cfg = readConfig(args(0))
    val out = mutable.LinkedHashMap.empty[String, Any]
    out("boot_s") = (mainMs - cfg.launchMs) / 1e3

    // Set-up: JVM start (boot_s) to a ready session that has run one
    // job. It is the first session of the JVM, so it pays the class
    // loading and initialisation a user pays.
    val t0 = System.nanoTime()
    val spark = SparkSession.builder()
      .master(s"local[${cfg.cores}]")
      .appName("perfbench")
      .config("spark.sql.shuffle.partitions", cfg.cores.toString)
      .config(Tables.NanosConf, "true")
      .config("spark.local.dir", s"${cfg.workDir}/spark-local")
      .config("spark.sql.warehouse.dir", s"${cfg.workDir}/warehouse")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark.range(1000).write.format("noop").mode("overwrite").save()
    out("setup_s") = (System.nanoTime() - t0) / 1e9

    val bench = new Run(spark, cfg)
    cfg.mode match {
      case "verify" => out("verify") = bench.verify()
      case "measure" => bench.measure(out)
    }
    writeJson(args(1), out.toMap)
    spark.stop()
  }

  /** One operation's record. */
  final case class Op(name: String, wall: Double, construct: Double, sink: Double,
                      err: Option[String], extra: Map[String, Any] = Map.empty)

  final class Run(spark: SparkSession, cfg: Config) {
    private val sc = spark.sparkContext
    private val tracer = new Tracer
    private var tracing = false
    private val oldGen = ManagementFactory.getMemoryPoolMXBeans.asScala
      .filter(p => p.getName.contains("Old Gen") || p.getName.contains("Tenured"))
    /** Old-generation MB after a full collection: the pool's collection
      * usage. Called after each pass and after each query of the
      * verification pass, outside any timed call. Blocks of broadcasts that
      * became unreachable since the last collection are still counted:
      * Spark's cleaner drops them once this collection has found them.
      */
    private def liveHeapMb(): Double = {
      System.gc()
      oldGen.flatMap(p => Option(p.getCollectionUsage)).map(_.getUsed).sum / 1e6
    }
    private def gcMs: Long =
      ManagementFactory.getGarbageCollectorMXBeans.asScala.map(_.getCollectionTime).sum

    private def setTracing(on: Boolean): Unit = if (on != tracing) {
      if (on) { sc.addSparkListener(tracer); spark.listenerManager.register(tracer) }
      else { sc.removeSparkListener(tracer); spark.listenerManager.unregister(tracer) }
      tracing = on
    }
    private def phase(key: String): Unit =
      if (tracing) sc.setLocalProperty(SpanKey, key)
    private def done(): Unit =
      if (tracing) { sc.setLocalProperty(SpanKey, null); PerfBenchBus.drain(sc) }
    private def errOf(e: Throwable) =
      Some(s"${e.getClass.getSimpleName}: ${String.valueOf(e.getMessage).take(300)}")

    def namespace: File = new File(QueryShared.fixturePath(cfg.data, "probe")).getParentFile
    private def bytesUnder(f: File): Long =
      if (f.isDirectory) Option(f.listFiles()).toSeq.flatten.map(bytesUnder).sum
      else if (f.isFile) f.length() else 0L

    def runQuery(pass: Int, q: String): Op = {
      val key = s"$pass:$q"
      tracer.lastPhases = Map.empty
      var construct = -1.0
      val t0 = System.nanoTime()
      val err = try {
        phase(s"$key:construct")
        val df = SparkEntry.queries(q)(spark, cfg.data)
        construct = (System.nanoTime() - t0) / 1e9
        phase(s"$key:execute")
        df.write.format("noop").mode("overwrite").save()
        None
      } catch { case NonFatal(e) => errOf(e) }
      val wall = (System.nanoTime() - t0) / 1e9
      if (construct < 0) construct = wall
      done()
      val extra: Map[String, Any] =
        if (!tracing) Map.empty
        else Map("phases" -> tracer.lastPhases,
          "construct" -> tracer.take(s"$key:construct").json,
          "execute" -> tracer.take(s"$key:execute").json)
      Op(q, wall, construct, wall - construct, err, extra)
    }

    /** Reference letter counter: the 26 A..Z counts over `letterCopies`
      * reads of the corpus (one job, a comma-separated path list).
      */
    def letterCount(pass: Int): Op = {
      val key = s"$pass:letter_count:execute"
      val paths = Seq.fill(cfg.letterCopies)(cfg.corpus.get).mkString(",")
      val t0 = System.nanoTime()
      phase(key)
      val (counts, err) = try {
        val rows = TextJobs.letterCountFile(spark, paths).collect()
        (rows.map(r => r.getString(0) -> r.getLong(1)).toMap, None)
      } catch { case NonFatal(e) => (Map.empty[String, Long], errOf(e)) }
      val wall = (System.nanoTime() - t0) / 1e9
      done()
      val extra = Map[String, Any]("letters" -> counts) ++
        (if (tracing) Map("execute" -> tracer.take(key).json) else Map.empty)
      Op("letter_count", wall, 0.0, wall, err, extra)
    }

    /** Reference word finder into its ordered single-file result sink. */
    def wordFind(pass: Int): Op = {
      val key = s"$pass:word_find:execute"
      val dir = s"${cfg.workDir}/word_find"
      val t0 = System.nanoTime()
      phase(key)
      val (file, err) = try {
        val hits = TextJobs.wordFind(spark.read.text(cfg.corpus.get), "value", cfg.word)
        (Some(TextJobs.writeSingleTextFile(hits, col("value"), dir)), None)
      } catch { case NonFatal(e) => (None, errOf(e)) }
      val wall = (System.nanoTime() - t0) / 1e9
      done()
      val check = file.map { f =>
        val bytes = Files.readAllBytes(Paths.get(f))
        Map("word_lines" -> bytes.count(_ == '\n'.toByte), "word_sha256" -> sha256(bytes))
      }.getOrElse(Map.empty)
      val extra = check ++
        (if (tracing) Map("execute" -> tracer.take(key).json) else Map.empty)
      Op("word_find", wall, 0.0, wall, err, extra)
    }

    def pass(idx: Int, kind: String, traced: Boolean): Map[String, Any] = {
      setTracing(traced)
      // the cold pass runs in the listed order, so what a first run pays
      // (and what it leaves cached) is the same for every seed; the seed
      // shuffles every warm pass
      val order =
        if (kind == "cold") cfg.queries
        else new scala.util.Random(new java.util.SplittableRandom(cfg.seed * 1000003L + idx)
          .nextLong()).shuffle(cfg.queries)
      val gc0 = gcMs
      val t0 = System.nanoTime()
      val ops = order.map { q =>
        val op = runQuery(idx, q)
        System.err.println(f"[perfbench] pass $idx%d $q ${op.wall}%.3f s ${op.err.getOrElse("")}")
        op
      }
      val wall = (System.nanoTime() - t0) / 1e9
      Map("kind" -> kind, "traced" -> traced, "wall_s" -> wall, "heap_live_mb" -> liveHeapMb(),
        "driver_gc_s" -> (gcMs - gc0) / 1e3, "ops" -> ops.map(opJson))
    }

    def measure(out: mutable.Map[String, Any]): Unit = {
      val ns = namespace
      if (cfg.freshFixtures) QueryShared.deleteRecursively(ns)
      val nsBefore = bytesUnder(ns)
      val passes = mutable.ArrayBuffer.empty[Map[String, Any]]
      passes += pass(0, "cold", cfg.trace)
      val nsAfterCold = bytesUnder(ns)
      for (i <- 1 to cfg.warmupPasses) passes += pass(-i, "warmup", traced = false)
      // a fixed number of warm passes (the runner derives it from the
      // seconds to measure), so every run's median covers the same passes;
      // a traced run alternates traced and untraced passes (T U U T ...) so
      // the tracing overhead is measured free of the JIT's speed-up
      for (i <- 1 to cfg.warmPasses) passes += pass(i, "warm", cfg.trace && i % 4 < 2)
      val nsAfter = bytesUnder(ns)
      setTracing(false)
      val text = mutable.ArrayBuffer.empty[Map[String, Any]]
      if (cfg.corpus.isDefined) {
        setTracing(cfg.trace)
        for (r <- 1 to cfg.letterReps) text += opJson(letterCount(1000 + r))
        for (r <- 1 to cfg.wordReps) text += opJson(wordFind(2000 + r))
        setTracing(false)
      }
      out("passes") = passes.toSeq
      out("text_block") = text.toSeq
      out("fixtures") = Map("namespace" -> ns.getPath, "bytes_before" -> nsBefore,
        "bytes_after_cold" -> nsAfterCold, "bytes_after" -> nsAfter,
        "dataset_bytes" -> bytesUnder(new File(cfg.data)))
      val v0 = System.nanoTime()
      val checked = verify()
      out("verify") = checked
      out("verify_s") = (System.nanoTime() - v0) / 1e9
      if (cfg.trace) out("resolve") = resolveRounds(3, checked.values.toSeq
        .flatMap(_.getOrElse("tables", Nil).asInstanceOf[Seq[String]]).distinct.sorted)
      if (cfg.freshFixtures) QueryShared.deleteRecursively(ns)
    }

    private val root = new File(cfg.data).getCanonicalFile.getPath
    private def tablesOf(df: DataFrame): Seq[String] = df.inputFiles.toSeq
      .map(f => new File(new java.net.URI(f)).getPath)
      .filter(_.startsWith(root + "/"))
      .map(_.stripPrefix(root + "/").takeWhile(_ != '/').stripSuffix(".parquet"))
      .distinct.sorted

    /** Untimed pass in the listed order: sha256 over each query's sorted
      * canonical rows, the dataset tables each query reads, and the live
      * heap each query leaves behind. The order is the same for every
      * seed, so the heap each query retains is read in every run.
      */
    def verify(): Map[String, Map[String, Any]] = cfg.queries.map { q =>
      val checked = try {
        val df = SparkEntry.queries(q)(spark, cfg.data)
        val rows = df.collect()
        Map("sha256" -> digest(rows), "rows" -> rows.length, "tables" -> tablesOf(df))
      } catch { case NonFatal(e) => Map[String, Any]("err" -> errOf(e).get) }
      q -> (checked + ("heap_live_mb" -> liveHeapMb()))
    }.toMap

    /** Times `Tables.table` for every table the workload reads. */
    def resolveRounds(rounds: Int, names: Seq[String]): Map[String, Any] = {
      setTracing(true)
      val calls = for (r <- 1 to rounds; n <- names) yield {
        val key = s"resolve:$r:$n"
        phase(key)
        val t0 = System.nanoTime()
        Tables.table(spark, cfg.data, n)
        val ms = (System.nanoTime() - t0) / 1e6
        done()
        Map("round" -> r, "table" -> n, "ms" -> ms, "jobs" -> tracer.take(key).jobs)
      }
      setTracing(false)
      Map("tables" -> names, "calls" -> calls)
    }
  }

  private def opJson(o: Op): Map[String, Any] =
    Map("op" -> o.name, "wall_s" -> o.wall, "construct_s" -> o.construct,
      "sink_s" -> o.sink, "err" -> o.err.orNull) ++ o.extra

  // ---------------------------------------------------------------- //

  def sha256(b: Array[Byte]): String =
    MessageDigest.getInstance("SHA-256").digest(b).map(x => f"$x%02x").mkString

  /** Canonical text of one value: exact, and independent of map order. */
  private def canon(v: Any): String = v match {
    case null => "\\N"
    case r: Row => r.toSeq.map(canon).mkString("{", "\u0001", "}")
    case m: scala.collection.Map[_, _] =>
      m.toSeq.map { case (k, x) => canon(k) + "=" + canon(x) }.sorted.mkString("<", "\u0001", ">")
    case a: Array[Byte] => a.map(x => f"$x%02x").mkString("0x", "", "")
    case s: scala.collection.Seq[_] => s.map(canon).mkString("[", "\u0001", "]")
    case d: java.math.BigDecimal => d.toPlainString
    case x => x.toString
  }

  def digest(rows: Array[Row]): String =
    sha256(rows.map(canon).sorted.mkString("\n").getBytes("UTF-8"))

  // ---------------------------------------------------------------- //

  private def json(v: Any): String = v match {
    case null | None => "null"
    case Some(x) => json(x)
    case s: String => new ObjectMapper().writeValueAsString(s)
    case b: Boolean => b.toString
    case d: Double => if (d.isNaN || d.isInfinite) "null" else d.toString
    case n: Number => n.toString
    case m: scala.collection.Map[_, _] =>
      m.map { case (k, x) => json(k.toString) + ":" + json(x) }.mkString("{", ",", "}")
    case s: Iterable[_] => s.map(json).mkString("[", ",", "]")
    case x => json(x.toString)
  }

  private def writeJson(path: String, v: Map[String, Any]): Unit =
    Files.writeString(Paths.get(path), json(v))
}
