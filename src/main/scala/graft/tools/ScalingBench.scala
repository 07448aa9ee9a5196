package graft.tools

/** Scaling evidence: times representative queries at every available
  * scale factor and prints per-decade growth ratios. lineitem-backed
  * queries scale 6k→60k→600k→6M rows; documents/embeddings-backed ones
  * 500→500→5000→50000 (sf0.001 and sf0.01 share a corpus size). The
  * sf1 point reads the derived fixture `tools/make_sf1.py` builds at
  * /tmp/graft-sf1 (10 decorrelated copies of sf0.1 — per-copy workload
  * density identical to the driver corpus; see the script header) and
  * is skipped when absent. Caveat: a fixed per-query overhead
  * (~0.2-0.4 s of planning/codegen/scheduling on local[32]) dominates
  * the small end, so measured growth UNDERSTATES asymptotic growth;
  * the point is the top end — time growing far slower than data is
  * what a shuffle-bounded plan should show.
  */
object ScalingBench {
  def main(args: Array[String]): Unit = {
    val spark = LocalSession.builder()
      .config(graft.engine.Tables.NanosConf, "true")
      // The derived fixtures are ONE parquet file per table (57 MB docs
      // at sf10), so the default 128 MB maxPartitionBytes turns every
      // map-only operator into a single task on a 32-core box — q86's
      // regex redaction measured 15.1x/decade purely from that
      // serialization. A real corpus at this tier presents hundreds of
      // splits; 4 MB splits restore that shape for the measurement
      // (scan tasks ~ size/4MB, still 1 task at the sub-4MB SFs).
      .config("spark.sql.files.maxPartitionBytes", "4m").getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    spark.range(1000000).selectExpr("sum(id)").collect()
    spark.range(1000).write.format("noop").mode("overwrite").save()

    val sf1Dir = sys.env.getOrElse("SPARK_GRAFT_SF1_DIR", "/tmp/graft-sf1")
    // a second derived decade (make_sf1.py with K=100) joins the table
    // when present — growth is then measured over TWO decades
    val sf10Dir = sys.env.getOrElse("SPARK_GRAFT_SF10_DIR", "/tmp/graft-sf10")
    // a documents-ONLY third derived decade (make_docs_sf100.py,
    // K=1000): opt-in via SPARK_GRAFT_SF100_DIR because only
    // documents-backed queries can run there — pass them explicitly
    // through SPARK_GRAFT_SCALING_QUERIES (VERDICT r12 #6)
    val sf100Dir = sys.env.get("SPARK_GRAFT_SF100_DIR")
    def present(d: String) = new java.io.File(s"$d/lineitem.parquet").exists()
    val sfs = Seq("sf0.001" -> "/root/testdata/sf0.001",
      "sf0.01" -> "/root/testdata/sf0.01",
      "sf0.1" -> "/root/testdata/sf0.1") ++
      (if (present(sf1Dir)) Seq("sf1*" -> sf1Dir) else Seq.empty) ++
      (if (present(sf10Dir)) Seq("sf10*" -> sf10Dir) else Seq.empty) ++
      sf100Dir.filter(d =>
        new java.io.File(s"$d/documents.parquet").exists())
        .map("sf100*" -> _).toSeq
    val queries = sys.env.get("SPARK_GRAFT_SCALING_QUERIES")
      .map {
        case "ALL" => graft.SparkEntry.queries.keys.toSeq.sorted
        case s     => s.split(",").toSeq.map(_.trim).filter(_.nonEmpty)
      }
      .getOrElse(Seq(
        "q01_agg_pricing", "q04_join_multiway", "q08_window_analytic",
        "q60_window_range_frame",
        "q29_dedup_exact", "q30_dedup_ngram_jaccard", "q31_dedup_minhash_lsh",
        "q52_dedup_simhash_hamming", "q63_dedup_clusters", "q75_winnow_overlap",
        "q125_substring_spans",
        "q35_ann_bruteforce", "q54_ann_ivf_kmeans"))
    println(f"${"query"}%-28s ${sfs.map(s => f"${s._1}%7s").mkString(" ")}   last-decade growth")
    queries.foreach { name =>
      val times = sfs.map { case (_, dir) =>
        val fn = graft.SparkEntry.queries(name)
        val ts = (1 to 2).map { _ =>
          val t0 = System.nanoTime()
          fn(spark, dir).write.format("noop").mode("overwrite").save()
          (System.nanoTime() - t0) / 1e9
        }
        ts.min
      }
      val lastGrowth = times.last / times(times.length - 2)
      println(f"$name%-28s ${times.map(t => f"$t%7.2f").mkString(" ")}   ${lastGrowth}%5.1fx")
    }
    spark.stop()
  }
}
