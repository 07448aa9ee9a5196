package graft.tools

import org.apache.spark.sql.SparkSession

/** The local session the tools run on: `SPARK_GRAFT_CPUS` cores (default:
  * the machine's processor count) and as many shuffle partitions, so a
  * tool never schedules more concurrent tasks than the box has cores.
  */
private[graft] object LocalSession {
  def builder(): SparkSession.Builder = {
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS",
      Runtime.getRuntime.availableProcessors.toString)
    SparkSession.builder().master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.ui.enabled", "false")
  }
}
