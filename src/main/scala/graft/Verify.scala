package graft
import java.nio.file.{Files, Paths}
/** Driver-run correctness dump: each SparkEntry.queries result → parquet,
  * plus oracle_sql.json, for the driver's DuckDB compare. */
object Verify {
  /** JSON string escape: backslash, quote, and ALL control chars (<0x20)
    * — a tab or CR in builder-authored SQL would otherwise make the
    * driver's json.load fail and silently zero the round's correctness.
    * Shared with Bench so the two emitters cannot drift.
    */
  private[graft] def jsonString(s: String): String = "\"" + s.flatMap {
    case '"'  => "\\\""
    case '\\' => "\\\\"
    case '\n' => "\\n"
    case '\r' => "\\r"
    case '\t' => "\\t"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  } + "\""

  /** Oracle-comparable cell types: atomic scalars only (the driver
    * hashes pandas cells — ndarray/dict cells are unhashable). */
  private[graft] def isScalar(dt: org.apache.spark.sql.types.DataType): Boolean =
    dt match {
      case _: org.apache.spark.sql.types.ArrayType  => false
      case _: org.apache.spark.sql.types.MapType    => false
      case _: org.apache.spark.sql.types.StructType => false
      case _ => true
    }

  def main(args: Array[String]): Unit = {
    val (sfDir, outDir) = (args(0), args(1))
    // optional third arg: comma-separated name substrings for fast local
    // iteration on a few queries (the driver always runs the full set)
    val only: Option[Seq[String]] =
      if (args.length > 2) Some(args(2).split(",").toSeq) else None
    def selected(name: String): Boolean =
      only.forall(_.exists(name.contains))
    val spark = tools.LocalSession.builder()
      .config("spark.sql.session.timeZone", "UTC")
      .config(graft.engine.Tables.NanosConf, "true")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    new java.io.File(outDir).mkdirs()
    SparkEntry.queries.foreach { case (name, fn) =>
      if (selected(name)) {
        try {
          val df = fn(spark, sfDir)
          // The driver's pandas comparator hashes scalar cells only —
          // an Array/Map/Struct output column crashes it BEFORE any
          // row/hash check (q148 shipped red for 3 rounds this way).
          // Fail loudly at dump time instead: render collections as
          // joined strings in the registered query.
          val complex = df.schema.fields.collect {
            case f if !isScalar(f.dataType) => s"${f.name}: ${f.dataType.sql}"
          }
          require(complex.isEmpty,
            s"$name emits non-scalar column(s) the oracle comparator " +
            s"cannot hash: ${complex.mkString(", ")} — array_join/render " +
            "to a scalar in the registered query")
          df.coalesce(1).write.mode("overwrite").parquet(s"$outDir/$name")
        } catch { case e: Throwable =>
          System.err.println(s"[verify] $name failed: ${e.getMessage}")
        }
      }
    }
    val json = SparkEntry.oracleSql
      .map { case (k, v) => s"${Verify.jsonString(k)}: ${Verify.jsonString(v)}" }
      .mkString("{", ",", "}")
    Files.writeString(Paths.get(s"$outDir/oracle_sql.json"), json)
    spark.stop()
  }
}
