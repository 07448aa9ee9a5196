package graft.tools

import org.apache.spark.scheduler._

/** Per-job attribution profiler (not part of the library surface): runs
  * one query (warm, noop sink) with a listener that records every job's
  * wall time, task count and shuffle volume, so a multi-job query (an
  * iterative CC loop, a k-means build, a chain of materialize() calls)
  * can be attributed job by job instead of guessed at.
  *
  *   sbt "runMain graft.tools.ProfileJobs q201_er_incremental"
  *
  * Env: SPARK_GRAFT_SF_DIR (default sf0.1), SPARK_GRAFT_CPUS (cores and
  * shuffle width, default all), SPARK_GRAFT_RUNS (default 2;
  * the LAST run is the one attributed — earlier runs warm codegen/JIT).
  */
object ProfileJobs {
  def main(args: Array[String]): Unit = {
    val names = args.headOption.getOrElse(sys.error("usage: ProfileJobs <name[,name...]>"))
      .split(",").toSeq.map(_.trim).filter(_.nonEmpty)
    val d = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val runs = sys.env.getOrElse("SPARK_GRAFT_RUNS", "2").toInt
    val spark = LocalSession.builder()
      .config(graft.engine.Tables.NanosConf, "true").getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark.range(1000000).selectExpr("sum(id)").collect()
    spark.range(1000).write.format("noop").mode("overwrite").save()

    case class Job(id: Int, t0: Long, var t1: Long = 0L, var tasks: Int = 0,
                   var shufR: Long = 0L, var shufW: Long = 0L,
                   var input: Long = 0L, var stages: Int = 0,
                   var cpuMs: Long = 0L, var maxTaskMs: Long = 0L,
                   var desc: String = "")
    val jobs = new java.util.concurrent.ConcurrentHashMap[Int, Job]()
    val stageToJob = new java.util.concurrent.ConcurrentHashMap[Int, Int]()
    @volatile var collecting = false
    spark.sparkContext.addSparkListener(new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit = if (collecting) {
        val cs = Option(e.properties)
          .flatMap(p => Option(p.getProperty("callSite.short"))).getOrElse("")
        jobs.put(e.jobId, Job(e.jobId, e.time, desc = cs))
        e.stageIds.foreach(s => stageToJob.put(s, e.jobId))
      }
      override def onJobEnd(e: SparkListenerJobEnd): Unit = {
        val j = jobs.get(e.jobId); if (j != null) j.t1 = e.time
      }
      override def onStageCompleted(e: SparkListenerStageCompleted): Unit = {
        val jid = stageToJob.get(e.stageInfo.stageId)
        val j = jobs.get(jid)
        if (j != null) {
          j.stages += 1
          j.tasks += e.stageInfo.numTasks
          val m = e.stageInfo.taskMetrics
          if (m != null) {
            j.shufR += m.shuffleReadMetrics.totalBytesRead
            j.shufW += m.shuffleWriteMetrics.bytesWritten
            j.input += m.inputMetrics.bytesRead
            j.cpuMs += m.executorRunTime
          }
        }
      }
    })

    names.foreach { name =>
      val fn = graft.SparkEntry.queries.getOrElse(name, sys.error(s"unknown query $name"))
      (1 until runs).foreach { _ =>
        fn(spark, d).write.format("noop").mode("overwrite").save()
      }
      jobs.clear(); stageToJob.clear()
      collecting = true
      val t0 = System.nanoTime()
      fn(spark, d).write.format("noop").mode("overwrite").save()
      val wall = (System.nanoTime() - t0) / 1e9
      collecting = false
      Thread.sleep(500) // let listener drain
      import scala.jdk.CollectionConverters._
      val all = jobs.values.asScala.toSeq.sortBy(_.id)
      val sumJob = all.map(j => (j.t1 - j.t0) / 1e3).sum
      println(f"PROFILEJOBS $name wall=$wall%.3f s, ${all.size} jobs, sum(job)=$sumJob%.3f s, gap=${wall - sumJob}%.3f s")
      all.foreach { j =>
        println(f"  job ${j.id}%4d ${(j.t1 - j.t0) / 1e3}%7.3f s  stages=${j.stages}%2d tasks=${j.tasks}%4d cpu=${j.cpuMs / 1e3}%7.2f s input=${j.input / 1e6}%8.1f MB shufW=${j.shufW / 1e6}%8.1f MB shufR=${j.shufR / 1e6}%8.1f MB  ${j.desc}")
      }
    }
    spark.stop()
  }
}
