package graft.tools

/** Dump one registry query's result to parquet — the engine half of a
  * DECOMPOSED oracle (VERDICT r12 #1): when DuckDB cannot replay a
  * whole heavy query within timeout (q31's band self-join spills >80 GB
  * at sf1), the tractable alternative verifies the ENGINE'S OUTPUT —
  * soundness pair-by-pair (linear in output) plus recall on a
  * subsample whose brute-force truth DuckDB can afford. This tool
  * writes the output (and nothing else) so a driver-side checker owns
  * the independent half.
  *
  *   sbt "runMain graft.tools.DumpQuery <name> <sfDir> <outDir>"
  */
object DumpQuery {
  def main(args: Array[String]): Unit = {
    require(args.length == 3, "usage: DumpQuery <name> <sfDir> <outDir>")
    val Array(name, d, out) = args
    val spark = LocalSession.builder()
      .config(graft.engine.Tables.NanosConf, "true").getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    val fn = graft.SparkEntry.queries.getOrElse(name,
      sys.error(s"unknown query $name"))
    val t0 = System.nanoTime()
    fn(spark, d).write.mode("overwrite").parquet(s"$out/$name.parquet")
    println(f"DUMPED $name in ${(System.nanoTime() - t0) / 1e9}%.1f s -> $out/$name.parquet")
    spark.stop()
  }
}
