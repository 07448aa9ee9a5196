package graft

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{IntegerType, LongType, StringType}
import org.scalatest.funsuite.AnyFunSuite

import graft.QueryShared.deleteRecursively
import graft.SparkTestSession.jobsDuring
import graft.engine.{Shape, Tables}

/** The schema-caching parquet read, [[Tables.parquet]]: schema inference
  * runs once per path, and a changed file or type-changing conf is never
  * read with the cached schema.
  */
class TablesSpec extends AnyFunSuite {
  lazy val spark = SparkTestSession.spark

  /** Runs `f` on a fresh directory and removes it afterwards. */
  private def withDir(f: String => Unit): Unit = {
    val d = java.nio.file.Files.createTempDirectory("tables-spec").toString
    try f(d) finally deleteRecursively(new java.io.File(d))
  }

  private def rows(df: DataFrame): Seq[String] =
    df.collect().map(_.toString).sorted.toSeq

  test("a second read of an unchanged path submits no job and returns the same schema and rows") {
    withDir { d =>
      spark.range(0, 50)
        .select(col("id"), (col("id") % 3).cast("int").as("k"),
          concat(lit("s"), col("id").cast("string")).as("s"))
        .write.parquet(s"$d/t.parquet")
      val (first, inferJobs) = jobsDuring(Tables.table(spark, d, "t"))
      assert(inferJobs >= 1) // the inference job, as the counter sees it
      val (second, jobs) = jobsDuring(Tables.table(spark, d, "t"))
      assert(jobs == 0)
      assert(second.schema == first.schema)
      assert(rows(second) == rows(first))
      assert(rows(second).size == 50)
    }
  }

  test("a rewritten file with a changed column type or an added column reads back the new schema") {
    withDir { d =>
      val path = s"$d/t.parquet"
      spark.range(0, 10).select(col("id"), col("id").cast("int").as("v"))
        .write.parquet(path)
      assert(Tables.parquet(spark, path).schema("v").dataType == IntegerType)
      spark.range(0, 10)
        .select(col("id"), concat(lit("v"), col("id").cast("string")).as("v"))
        .write.mode("overwrite").parquet(path)
      val retyped = Tables.parquet(spark, path)
      assert(retyped.schema("v").dataType == StringType)
      assert(retyped.filter(col("id") === 3L).head().getString(1) == "v3")
      spark.range(0, 10)
        .select(col("id"), concat(lit("v"), col("id").cast("string")).as("v"),
          (col("id") * 2).as("w"))
        .write.mode("overwrite").parquet(path)
      val widened = Tables.parquet(spark, path)
      assert(widened.columns.toSeq == Seq("id", "v", "w"))
      assert(widened.filter(col("id") === 3L).head() == Row(3L, "v3", 6L))
    }
  }

  test("a read under another nanosAsLong value does not get the other entry's schema") {
    withDir { d =>
      import org.apache.parquet.example.data.simple.SimpleGroupFactory
      import org.apache.parquet.hadoop.example.ExampleParquetWriter
      import org.apache.parquet.schema.MessageTypeParser
      // TIMESTAMP(NANOS), which Spark reads only as a long under the conf
      val schema = MessageTypeParser.parseMessageType(
        "message m { required int64 ts (TIMESTAMP(NANOS,true)); }")
      val path = s"$d/ns.parquet"
      val writer = ExampleParquetWriter
        .builder(new org.apache.hadoop.fs.Path(s"$path/part-0.parquet"))
        .withType(schema)
        .withConf(spark.sparkContext.hadoopConfiguration)
        .build()
      try writer.write(new SimpleGroupFactory(schema).newGroup().append("ts", 1500L))
      finally writer.close()
      assert(spark.conf.get(Tables.NanosConf) == "true")
      assert(Tables.parquet(spark, path).schema("ts").dataType == LongType)
      val strict = spark.newSession()
      strict.conf.set(Tables.NanosConf, "false")
      // inference runs again and rejects the type; the cached LongType
      // schema would have read the file silently
      val e = intercept[Exception](Tables.parquet(strict, path))
      assert(e.getMessage.contains("NANOS"), e.getMessage)
      assert(Tables.parquet(spark, path).head().getLong(0) == 1500L)
    }
  }

  test("concurrent reads from Shape.inParallel agree on the schema") {
    withDir { d =>
      spark.range(0, 20).select(col("id"), col("id").cast("int").as("v"))
        .write.parquet(s"$d/t.parquet")
      def read = Tables.table(spark, d, "t").schema
      // nested pairs: four concurrent reads
      val ((s1, s2), (s3, s4)) =
        Shape.inParallel(Shape.inParallel(read, read), Shape.inParallel(read, read))
      val schemas = Seq(s1, s2, s3, s4)
      assert(schemas.distinct.size == 1)
      assert(schemas.head == Tables.table(spark, d, "t").schema)
    }
  }
}
