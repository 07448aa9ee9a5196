package graft

import java.util.concurrent.atomic.AtomicInteger

import org.apache.spark.ListenerDrain
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.SparkSession

/** One SparkSession shared by every suite (single forked test JVM). */
object SparkTestSession {
  lazy val spark: SparkSession = {
    val s = SparkSession.builder()
      .master("local[4]")
      .appName("graft-test")
      .config("spark.sql.shuffle.partitions", "4")
      .config("spark.sql.session.timeZone", "UTC")
      .config(engine.Tables.NanosConf, "true")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }
  val sfDir = "/root/testdata/sf0.001"

  private val CountKey = "graft.test.jobCount"

  /** Runs `f` and returns its result with the number of Spark jobs that
    * `f` submitted from this thread.
    */
  def jobsDuring[T](f: => T): (T, Int) = {
    val sc = spark.sparkContext
    val token = java.util.UUID.randomUUID().toString
    val n = new AtomicInteger()
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        if (Option(e.properties).exists(_.getProperty(CountKey) == token))
          n.incrementAndGet(): Unit
    }
    sc.addSparkListener(listener)
    sc.setLocalProperty(CountKey, token)
    try {
      val r = f
      ListenerDrain(sc)
      (r, n.get)
    } finally {
      sc.setLocalProperty(CountKey, null)
      sc.removeSparkListener(listener)
    }
  }
}
