package graft.engine

import java.util.concurrent.ConcurrentHashMap

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution.datasources.{HadoopFsRelation, LogicalRelation, PartitioningAwareFileIndex}
import org.apache.spark.sql.types.StructType

/** Loaders for the driver-generated parquet tables (/root/repo/TESTDATA.md).
  *
  * All queries take the scale-factor directory as a parameter so the same
  * plan runs at sf0.001 (smoke), sf0.01 (DuckDB-oracle correctness) and
  * sf0.1 (bench) — and, unchanged, against a 100 TB warehouse path: every
  * reader is a plain parquet scan, so Catalyst's column pruning and filter
  * pushdown reach the file source (`PushedFilters` / `ReadSchema` in
  * `.explain`).
  */
object Tables {
  def table(spark: SparkSession, dir: String, name: String): DataFrame =
    parquet(spark, s"$dir/$name.parquet")

  def region(s: SparkSession, d: String): DataFrame = table(s, d, "region")
  def nation(s: SparkSession, d: String): DataFrame = table(s, d, "nation")
  def customer(s: SparkSession, d: String): DataFrame = table(s, d, "customer")
  def supplier(s: SparkSession, d: String): DataFrame = table(s, d, "supplier")
  def part(s: SparkSession, d: String): DataFrame = table(s, d, "part")
  def orders(s: SparkSession, d: String): DataFrame = table(s, d, "orders")
  def lineitem(s: SparkSession, d: String): DataFrame = table(s, d, "lineitem")

  /** The events reader is SCHEMA-ADAPTIVE because the driver has shipped
    * this table in two physical forms across rounds:
    *
    *  - parquet TIMESTAMP(NANOS): Spark has no nanosecond timestamp type
    *    and rejects the file outright (PARQUET_TYPE_ILLEGAL) unless the
    *    legacy nanosAsLong conf (set ONCE in the session builder — a
    *    reader must not mutate shared session conf as a cross-query side
    *    effect) reads nanos as Long; we then floor to microseconds.
    *    DuckDB keeps full ns, but every query emits second-granularity
    *    strings / comparisons, where floor(ns)==floor(µs).
    *  - parquet timestamp[us] (isAdjustedToUTC=false), which Spark reads
    *    as TIMESTAMP_NTZ: cast to the session-zone TIMESTAMP so every
    *    downstream consumer (window(), watermarks, java.sql.Timestamp
    *    encoders in the streaming twins) sees the type this codebase was
    *    written against. The cast preserves the wall clock, and DuckDB
    *    reads the identical wall clock, so oracle comparisons hold in
    *    any session zone.
    */
  val NanosConf = "spark.sql.legacy.parquet.nanosAsLong"
  def events(s: SparkSession, d: String): DataFrame = {
    import org.apache.spark.sql.functions._
    import org.apache.spark.sql.types._
    val df = table(s, d, "events")
    df.schema("ts").dataType match {
      case LongType => df.withColumn("ts", timestamp_micros(expr("ts div 1000")))
      case _: TimestampNTZType => df.withColumn("ts", col("ts").cast(TimestampType))
      case _ => df
    }
  }
  def documents(s: SparkSession, d: String): DataFrame = table(s, d, "documents")
  def embeddings(s: SparkSession, d: String): DataFrame = table(s, d, "embeddings")

  /** Every table, keyed by name (events through its ns-safe reader). */
  def all(s: SparkSession, d: String): Seq[(String, DataFrame)] =
    Seq("region", "nation", "customer", "supplier", "part", "orders",
      "lineitem", "documents", "embeddings").map(n => n -> table(s, d, n)) :+
      ("events" -> events(s, d))

  /** The session confs that change the types parquet schema inference
    * yields for the same files.
    */
  private val TypeConfs = Seq(NanosConf, "spark.sql.parquet.binaryAsString",
    "spark.sql.parquet.int96AsTimestamp",
    "spark.sql.parquet.inferTimestampNTZ.enabled",
    "spark.sql.sources.partitionColumnTypeInference.enabled")

  /** A schema inferred from exactly these leaf files under these confs. */
  private final case class Entry(confs: Seq[Option[String]],
                                 files: Seq[(String, Long, Long)],
                                 schema: StructType)

  /** One entry per qualified path: a changed file replaces it. */
  private val schemas = new ConcurrentHashMap[String, Entry]()

  /** The engine's one parquet read, for dataset tables and fixtures alike.
    *
    * Schema inference reads a parquet footer in a Spark job (73 ms a call
    * on `light`'s tables, 4 vCPUs), and it used to run on every table read
    * of every query. Here it runs once per path: later reads pass the
    * cached schema (`read.schema(s).parquet`), which submits no job. A hit
    * is checked against the listing Spark's file index makes for the read
    * anyway — every leaf file's (path, length, mtime) — and against
    * [[TypeConfs]], so a rewritten or appended file, or a session that
    * infers other types, re-infers instead of reading with a stale schema.
    * The check is driver-side metadata; this is what a metastore or table
    * log gives a warehouse: footers are not re-read per query.
    */
  def parquet(spark: SparkSession, path: String): DataFrame = {
    val p = new Path(path)
    val key = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
      .makeQualified(p).toString
    val confs = TypeConfs.map(spark.conf.getOption)
    val hit = Option(schemas.get(key)).filter(_.confs == confs)
      .map(e => (spark.read.schema(e.schema).parquet(path), e.files))
      .collect { case (df, files) if leafFiles(df).contains(files) => df }
    hit.getOrElse {
      val df = spark.read.parquet(path)
      leafFiles(df).foreach(files => schemas.put(key, Entry(confs, files, df.schema)))
      df
    }
  }

  /** The (path, length, mtime) of every leaf file the read's file index
    * listed, or None for a relation that is not a listed file scan.
    */
  private def leafFiles(df: DataFrame): Option[Seq[(String, Long, Long)]] =
    df.queryExecution.analyzed.collectFirst { case l: LogicalRelation => l.relation }
      .collect { case h: HadoopFsRelation => h.location }
      .collect { case i: PartitioningAwareFileIndex =>
        i.allFiles().map(f => (f.getPath.toString, f.getLen, f.getModificationTime))
          .sorted
      }
}
