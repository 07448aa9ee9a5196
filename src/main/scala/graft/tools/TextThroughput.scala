package graft.tools

/** Throughput measurement for the reference-parity text jobs on a corpus
  * large enough to amortize session startup — the apples-to-apples
  * comparison against the reference's single-process ~95-210 MB/s
  * ceiling (BASELINE.md). Pass the text file path as arg0.
  */
object TextThroughput {
  def main(args: Array[String]): Unit = {
    val path = args.headOption.getOrElse("/tmp/graft-bigtext/big.txt")
    val bytes = new java.io.File(path).length()
    val spark = LocalSession.builder()
      // split the input finely enough to engage every core even on a
      // tens-of-MB corpus (default 128 MB = one task for the whole file)
      .config("spark.sql.files.maxPartitionBytes", s"${1 << 20}").getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    spark.range(1000000).selectExpr("sum(id)").collect()
    def time(name: String)(f: => Unit): Unit = {
      val best = (1 to 3).map { _ =>
        val t0 = System.nanoTime(); f; (System.nanoTime() - t0) / 1e9
      }.min
      println(f"THROUGHPUT $name ${best}%.3f s  ${bytes / best / 1e6}%.0f MB/s")
    }
    val df = spark.read.text(path)
    time("letter_count") {
      graft.operators.TextJobs.letterCount(spark, df, "value").collect()
    }
    time("word_finder") {
      graft.operators.TextJobs.wordFind(df, "value", "Alice").count()
    }
    time("letter_count_file") {
      graft.operators.TextJobs.letterCountFile(spark, path, 32).collect()
    }
    time("raw_rdd_reduce") {
      val r = spark.sparkContext.textFile(path, 32).mapPartitions { it =>
        val b = new Array[Long](26)
        it.foreach { s => var i = 0; while (i < s.length) { val c = s.charAt(i)
          if (c >= 'A' && c <= 'Z') b(c - 'A') += 1
          else if (c >= 'a' && c <= 'z') b(c - 'a') += 1; i += 1 } }
        Iterator.single(b)
      }.reduce { (a, b) => var i = 0; while (i < 26) { a(i) += b(i); i += 1 }; a }
      assert(r.sum > 0)
    }
    spark.stop()
  }
}
