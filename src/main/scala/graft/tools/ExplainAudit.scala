package graft.tools

/** Prints condensed physical plans for representative queries — the
  * scale audit: PushedFilters reaching parquet, broadcast vs shuffle
  * joins, exchange counts, codegen coverage.
  */
object ExplainAudit {
  def main(args: Array[String]): Unit = {
    val d = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.01")
    val spark = LocalSession.builder()
      .config(graft.engine.Tables.NanosConf, "true").getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    val interesting = args.headOption
      .map(_.split(",").toSeq)
      .getOrElse(Seq("q02_filter_project", "q04_join_multiway", "q21_join_asof",
        "q31_dedup_minhash_lsh", "q35_ann_bruteforce", "q14_date_agg"))
    interesting.foreach { name =>
      val df = graft.SparkEntry.queries(name)(spark, d)
      val plan = df.queryExecution.executedPlan.toString
      val exchanges = "Exchange".r.findAllIn(plan).length
      val reused = "ReusedExchange".r.findAllIn(plan).length
      val bhj = "BroadcastHashJoin".r.findAllIn(plan).length
      val smj = "SortMergeJoin".r.findAllIn(plan).length
      val pushed = plan.linesIterator.filter(_.contains("PushedFilters"))
        .map(_.replaceAll(".*PushedFilters: ", "").take(120)).toSeq.distinct
      println(s"== $name: exchanges=$exchanges (reused=$reused) bhj=$bhj smj=$smj")
      pushed.foreach(p => println(s"   pushed: $p"))
      if (sys.env.contains("SPARK_GRAFT_FULL_PLAN"))
        println(plan.take(12000))
    }
    spark.stop()
  }
}
