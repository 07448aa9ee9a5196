package graft

import org.apache.spark.sql.{DataFrame, SparkSession}

/** Driver contract — see /root/repo/SURVEY.md §2 (operator inventory) and
  * §7 (build plan). Every entry in [[queries]] has a matching DuckDB
  * oracle in [[oracleSql]] unless the operator is not SQL-expressible
  * (noted per query).
  *
  * Cross-engine determinism rules used throughout (so hash-compare
  * against DuckDB is exact, not approximate):
  *  - money/double sums go through per-row `cents()` (round to int,
  *    then exact integer SUM) — double summation order never matters;
  *  - averages are ratios of exact integers, rounded at the end;
  *  - every query ends in a total ORDER BY (unique tiebreaker included);
  *  - computed integers are cast to BIGINT on both sides (DuckDB's
  *    SUM(int) widens to HUGEINT, Spark's size() narrows to int);
  *  - hashes are md5-derived on both sides (DuckDB lacks xxhash64);
  *  - timestamps are emitted as formatted strings (parquet ns
  *    timestamps truncate to Spark's µs; strings at second granularity
  *    are engine-neutral).
  */
object SparkEntry {
  /** Flagship query on sf=0.001; driver smoke-checks rows>0. The
    * curation pipeline composes the engine's signature surface (dedup +
    * text analysis + aggregation) in one plan.
    */
  def entry(spark: SparkSession): DataFrame =
    queries("q64_curation_pipeline")(spark, "/root/testdata/sf0.001")

  /** The full registry: per-family maps concatenated once. Family
    * files live in src/main/scala/graft/registry/ (round-12 split of
    * the former 9.9k-line single file; entries are verbatim).
    */
  val queries: Map[String, (SparkSession, String) => DataFrame] =
    QueriesRelational.queries ++ QueriesTextAnalysis.queries ++ QueriesDedupSim.queries ++ QueriesAnnVec.queries ++ QueriesMultimodal.queries ++ QueriesEventsStreams.queries ++ QueriesSketchesStats.queries ++ QueriesCurationPipeline.queries ++ QueriesGraphOps.queries

  val oracleSql: Map[String, String] =
    QueriesRelational.oracleSql ++ QueriesTextAnalysis.oracleSql ++ QueriesDedupSim.oracleSql ++ QueriesAnnVec.oracleSql ++ QueriesMultimodal.oracleSql ++ QueriesEventsStreams.oracleSql ++ QueriesSketchesStats.oracleSql ++ QueriesCurationPipeline.oracleSql ++ QueriesGraphOps.oracleSql
}
