package graft.tools

/** Writes `.explain("formatted")` for named registry queries to files —
  * the before/after plan evidence the optimization rounds commit under
  * plans/rNN/ (the judge checks plan claims against these).
  *
  *   sbt "runMain graft.tools.ExplainDump <outDir> <suffix> <name[,name...]>"
  *
  * Env: SPARK_GRAFT_SF_DIR (default sf0.1), SPARK_GRAFT_CPUS (cores and
  * shuffle width, default all — plans depend on the width).
  */
object ExplainDump {
  def main(args: Array[String]): Unit = {
    require(args.length == 3, "usage: ExplainDump <outDir> <suffix> <names>")
    val Array(outDir, suffix, namesArg) = args
    val names = namesArg.split(",").toSeq.map(_.trim).filter(_.nonEmpty)
    val d = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val spark = LocalSession.builder()
      .config(graft.engine.Tables.NanosConf, "true").getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    java.nio.file.Files.createDirectories(java.nio.file.Paths.get(outDir))
    names.foreach { name =>
      val fn = graft.SparkEntry.queries.getOrElse(name,
        sys.error(s"unknown query $name"))
      val df = fn(spark, d)
      val txt = df.queryExecution.explainString(
        org.apache.spark.sql.execution.FormattedMode)
      java.nio.file.Files.writeString(
        java.nio.file.Paths.get(s"$outDir/${name}_$suffix.txt"), txt)
      println(s"WROTE $outDir/${name}_$suffix.txt (${txt.length} chars)")
    }
    spark.stop()
  }
}
