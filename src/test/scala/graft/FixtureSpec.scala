package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{IntegerType, LongType, StringType}
import org.scalatest.funsuite.AnyFunSuite

import graft.QueryShared.{deleteRecursively, fixturePath, persisted}
import graft.SparkTestSession.jobsDuring

/** The standing-index store: [[QueryShared.persisted]] builds a fixture
  * once per dataset, publishes it atomically and reads it back.
  */
class FixtureSpec extends AnyFunSuite {
  lazy val spark = SparkTestSession.spark

  private def namespace(d: String) = new java.io.File(fixturePath(d, "x")).getParentFile

  /** Runs `f` on a fresh dataset dir, so its fixture namespace starts
    * empty, and removes both afterwards.
    */
  private def withDataset(f: String => Unit): Unit = {
    val d = java.nio.file.Files.createTempDirectory("fixture-spec").toString
    try f(d)
    finally { deleteRecursively(namespace(d)); deleteRecursively(new java.io.File(d)) }
  }

  private def tmpSiblings(d: String): Seq[String] =
    Option(namespace(d).listFiles()).toSeq.flatten.map(_.getName)
      .filter(_.startsWith(".tmp-"))

  private def ids(df: DataFrame): Seq[Long] =
    df.collect().map(_.getLong(0)).sorted.toSeq

  test("a second call reads the fixture back without evaluating build") {
    withDataset { d =>
      var builds = 0
      def build = { builds += 1; spark.range(0, 10).toDF("id") }
      assert(ids(persisted(spark, d, "t.parquet")(build)) == (0L until 10L))
      // the read-back infers no schema again: no job until an action
      val (again, jobs) = jobsDuring(persisted(spark, d, "t.parquet")(build))
      assert(jobs == 0)
      assert(ids(again) == (0L until 10L))
      assert(builds == 1)
    }
  }

  test("a fixture rebuilt with a changed column type reads back the new type") {
    withDataset { d =>
      val first = persisted(spark, d, "t.parquet") {
        spark.range(0, 10).select(col("id"), col("id").cast("int").as("v"))
      }
      assert(first.schema("v").dataType == IntegerType)
      // a cleared fixture store, as a changed builder requires
      deleteRecursively(new java.io.File(fixturePath(d, "t.parquet")))
      val rebuilt = persisted(spark, d, "t.parquet") {
        spark.range(0, 10)
          .select(col("id"), concat(lit("v"), col("id").cast("string")).as("v"))
      }
      assert(rebuilt.schema("v").dataType == StringType)
      assert(rebuilt.filter(col("id") === 4L).head().getString(1) == "v4")
    }
  }

  test("a publish leaves _SUCCESS and no .tmp- sibling") {
    withDataset { d =>
      persisted(spark, d, "t.parquet")(spark.range(0, 10).toDF("id"))
      assert(new java.io.File(fixturePath(d, "t.parquet"), "_SUCCESS").exists())
      assert(tmpSiblings(d).isEmpty)
    }
  }

  test("a dest without _SUCCESS, as a crashed publish leaves it, is rebuilt") {
    withDataset { d =>
      val dest = new java.io.File(fixturePath(d, "t.parquet"))
      assert(dest.mkdirs())
      java.nio.file.Files.writeString(
        new java.io.File(dest, "part-crashed").toPath, "half a file")
      var builds = 0
      val df = persisted(spark, d, "t.parquet") {
        builds += 1; spark.range(0, 5).toDF("id")
      }
      assert(builds == 1)
      assert(ids(df) == (0L until 5L))
      assert(new java.io.File(dest, "_SUCCESS").exists())
      assert(!new java.io.File(dest, "part-crashed").exists())
      assert(tmpSiblings(d).isEmpty)
    }
  }

  test("a partitionBy fixture reads its partition column back as a long") {
    withDataset { d =>
      val df = persisted(spark, d, "p.parquet", partitionBy = Some("k")) {
        spark.range(0, 20).select(col("id"), (col("id") % 4).as("k"))
      }
      val path = fixturePath(d, "p.parquet")
      assert(new java.io.File(path, "k=3").isDirectory)
      // what the restore undoes: partition-type inference reads INT
      assert(spark.read.parquet(path).schema("k").dataType == IntegerType)
      assert(df.schema("k").dataType == LongType)
      assert(df.filter(col("k") === 3L).count() == 5)
      // the second read, with the cached schema, restores it the same way
      val again = persisted(spark, d, "p.parquet", partitionBy = Some("k")) {
        sys.error("a published fixture is not rebuilt")
      }
      assert(again.schema("k").dataType == LongType)
      assert(again.filter(col("k") === 3L).count() == 5)
    }
  }

  test("a build that throws after writing rows leaves neither dest nor tmp, and the next call builds") {
    withDataset { d =>
      val failLast = udf { (id: Long) =>
        if (id == 99L) throw new IllegalStateException("build failed")
        id
      }
      intercept[Exception] {
        persisted(spark, d, "t.parquet") {
          spark.range(0, 100, 1, 1).select(failLast(col("id")).as("id"))
        }
      }
      assert(!new java.io.File(fixturePath(d, "t.parquet")).exists())
      assert(tmpSiblings(d).isEmpty)
      var builds = 0
      val df = persisted(spark, d, "t.parquet") {
        builds += 1; spark.range(0, 100).toDF("id")
      }
      assert(builds == 1)
      assert(ids(df) == (0L until 100L))
    }
  }

  test("datasets sharing a basename get different namespaces") {
    val a = new java.io.File(fixturePath("/a/sf", "t.parquet")).getParentFile
    val b = new java.io.File(fixturePath("/b/sf", "t.parquet")).getParentFile
    assert(a != b)
    assert(a.getName.startsWith("sf-") && b.getName.startsWith("sf-"))
    assert(a.getParent == b.getParent)
  }
}
