package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.operators.TextJobs

/** Reference-parity tests: the boundary/invariance properties from
  * SURVEY.md §2a, checked on generated corpora against the naive-fold
  * and grep models ([[TextCorpus]]), plus the golden vectors measured
  * from the compiled reference (FIXTURES.md, 2026-08-12), which cancel
  * when the reference corpora are absent.
  */
class TextJobsSpec extends AnyFunSuite {
  lazy val spark = SparkTestSession.spark
  import spark.implicits._

  val alice30 = "/root/reference/proj_2_base/input-alice30.txt"

  /** Golden-vector tests need the reference corpora; without them they
    * cancel instead of passing.
    */
  def referencePresent: Boolean = new java.io.File(alice30).isFile

  private def counts(df: org.apache.spark.sql.DataFrame): Map[String, Long] =
    df.collect().map(r => r.getString(0) -> r.getLong(1)).toMap

  private def corpusLines(p: java.nio.file.Path) = spark.read.text(p.toString)

  /** Golden letter counts for input-alice30.txt (FIXTURES.md §A). */
  val aliceGolden: Map[String, Long] = Map(
    "A" -> 8791, "B" -> 1475, "C" -> 2399, "D" -> 4931, "E" -> 13574,
    "F" -> 2001, "G" -> 2531, "H" -> 7374, "I" -> 7514, "J" -> 146,
    "K" -> 1158, "L" -> 4716, "M" -> 2107, "N" -> 7016, "O" -> 8146,
    "P" -> 1524, "Q" -> 209, "R" -> 5437, "S" -> 6500, "T" -> 10689,
    "U" -> 3468, "V" -> 846, "W" -> 2675, "X" -> 148, "Y" -> 2264, "Z" -> 78)

  test("generated corpora: CRLF, empty lines, non-ASCII, _-joined words, the word across every split") {
    for (p <- Seq(TextCorpus.small, TextCorpus.large)) {
      val bytes = java.nio.file.Files.readAllBytes(p)
      val text = new String(bytes, "UTF-8")
      assert(text.contains("\r\n") && text.contains("\n\n") &&
        text.contains("Алиса") && text.contains("Alice_said"))
      // the split starts the line reader really uses
      val conf = new org.apache.hadoop.mapred.JobConf(spark.sparkContext.hadoopConfiguration)
      org.apache.hadoop.mapred.FileInputFormat.setInputPaths(conf, p.toString)
      val fmt = new org.apache.hadoop.mapred.TextInputFormat
      fmt.configure(conf)
      val word = TextCorpus.Word.getBytes("UTF-8")
      for (n <- TextCorpus.SplitCounts) {
        val starts = fmt.getSplits(conf, n)
          .map(_.asInstanceOf[org.apache.hadoop.mapred.FileSplit].getStart).filter(_ > 0)
        assert(starts.toSeq == TextCorpus.splitStarts(bytes.length.toLong, n), s"n=$n")
        for (c <- starts.map(_.toInt))
          assert(java.util.Arrays.equals(bytes.slice(c - 2, c + 3), word),
            s"n=$n: no ${TextCorpus.Word} across byte $c")
      }
    }
  }

  test("letter counter matches the naive byte fold on generated corpora") {
    for (p <- Seq(TextCorpus.small, TextCorpus.large)) {
      val fold = TextCorpus.letterFold(p)
      assert(counts(TextJobs.letterCount(spark, corpusLines(p), "value")) == fold)
      for (n <- 0 +: TextCorpus.SplitCounts)
        assert(counts(TextJobs.letterCountFile(spark, p.toString, n)) == fold,
          s"file path at $n splits")
    }
  }

  test("word finder matches the grep model on generated corpora, case-sensitively") {
    for (p <- Seq(TextCorpus.small, TextCorpus.large);
         w <- Seq(TextCorpus.Word, "alice", "ALICE", "said", "café")) {
      val got = TextJobs.wordFind(corpusLines(p), "value", w).as[String].collect().toSeq
      assert(got == TextCorpus.grepLines(p, w), s"word $w")
    }
    assert(TextCorpus.grepLines(TextCorpus.small, TextCorpus.Word).nonEmpty)
    assert(TextCorpus.grepLines(TextCorpus.small, "alice").isEmpty)
  }

  test("letter counter matches reference golden vector on alice30") {
    assume(referencePresent)
    val got = TextJobs.letterCount(spark, spark.read.text(alice30), "value")
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(got == aliceGolden)
  }

  test("file-path (RDD-scan) letter counter matches the golden vector too") {
    assume(referencePresent)
    val got = TextJobs.letterCountFile(spark, alice30)
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(got == aliceGolden)
  }

  test("letter counter always emits 26 rows A..Z in order, zeros included") {
    val df = Seq("bcd").toDF("t")
    val rows = TextJobs.letterCount(spark, df, "t").collect()
    assert(rows.length == 26)
    assert(rows.map(_.getString(0)).toSeq == ('A' to 'Z').map(_.toString))
    assert(rows.count(_.getLong(1) == 0) == 23)
  }

  test("letter counter is ASCII-only and case-folding (reference isalpha/toupper)") {
    val df = Seq("aA1! zZ café").toDF("t") // é must NOT count (ASCII isalpha)
    val got = TextJobs.letterCount(spark, df, "t")
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(got("A") == 3 && got("Z") == 2 && got("C") == 1 && got("F") == 1)
    assert(got("E") == 0) // the only 'e' is é, which ASCII isalpha rejects
    assert(got.values.sum == 7)
  }

  test("letter counter is split-count invariant (SURVEY §2a invariant 1)") {
    val base = corpusLines(TextCorpus.small)
    val one = TextJobs.letterCount(spark, base.repartition(1), "value").collect().toSeq
    for (n <- Seq(3, 7, 16)) {
      val got = TextJobs.letterCount(spark, base.repartition(n), "value").collect().toSeq
      assert(got == one, s"mismatch at $n partitions")
    }
  }

  test("typed 26-slot Aggregator equals the relational plan (UDAF surface)") {
    val df = corpusLines(TextCorpus.small)
    val typed = counts(TextJobs.letterCountTyped(spark, df, "value"))
    assert(typed == counts(TextJobs.letterCount(spark, df, "value")))
    assert(typed == TextCorpus.letterFold(TextCorpus.small))
  }

  test("word finder matches reference count: 392 'Alice' lines in alice30") {
    assume(referencePresent)
    assert(TextJobs.wordFind(spark.read.text(alice30), "value", "Alice").count() == 392)
  }

  test("word finder is case-sensitive: 'alice' finds nothing in alice30") {
    assume(referencePresent)
    assert(TextJobs.wordFind(spark.read.text(alice30), "value", "alice").count() == 0)
  }

  test("word finder boundary semantics (usr_functions.c:168-169)") {
    val lines = Seq(
      "word word here",   // match, emitted once
      "word_suffix",      // match: underscore IS a boundary (not regex \b!)
      "subword",          // no match
      "word!",            // match: punctuation boundary
      "3word",            // no match: digit is alnum
      "WORD",             // no match: case-sensitive
      "word")             // match: whole line
    val got = TextJobs.wordFind(lines.toDF("value"), "value", "word")
      .as[String].collect().toSet
    assert(got == Set("word word here", "word_suffix", "word!", "word"))
  }

  test("word finder preserves one-emit-per-line (no dup on multi-occurrence)") {
    val df = Seq("w w w").toDF("value")
    assert(TextJobs.wordFind(df, "value", "w").count() == 1)
  }

  test("single-file text result sink matches the reference mr.rst contract") {
    val out = java.nio.file.Files.createTempDirectory("graft-test-mr-rst").toString
    val counted = TextJobs.letterCount(spark, corpusLines(TextCorpus.small), "value")
    val path = TextJobs.writeSingleTextFile(counted,
      TextJobs.counterResultLine(col("letter"), col("cnt")), out)
    val lines = scala.io.Source.fromFile(path).getLines().toSeq
    val fold = TextCorpus.letterFold(TextCorpus.small)
    assert(lines.size == 26)                 // all 26 rows, one file
    assert(lines.head == s"A ${fold("A")}")  // "%c %d" format, A..Z order
    assert(lines.last == s"Z ${fold("Z")}")
    assert(lines.map(_.split(" ")(0)) == ('A' to 'Z').map(_.toString))
  }

  val moon10 = "/root/reference/proj_2_base/input-moon10.txt"

  /** Golden letter counts for input-moon10.txt (FIXTURES.md §A, measured
    * from the compiled reference).
    */
  val moonGolden: Map[String, Long] = Map(
    "A" -> 32630, "B" -> 7444, "C" -> 13776, "D" -> 16744, "E" -> 55968,
    "F" -> 10032, "G" -> 6947, "H" -> 25884, "I" -> 30940, "J" -> 940,
    "K" -> 2036, "L" -> 17721, "M" -> 10213, "N" -> 29622, "O" -> 31985,
    "P" -> 8570, "Q" -> 581, "R" -> 25461, "S" -> 26567, "T" -> 42192,
    "U" -> 11895, "V" -> 4129, "W" -> 8550, "X" -> 1031, "Y" -> 6522,
    "Z" -> 270)

  test("letter counter matches reference golden vector on moon10 (548 KB)") {
    assume(new java.io.File(moon10).isFile)
    val got = TextJobs.letterCount(spark, spark.read.text(moon10), "value")
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(got == moonGolden)
    val viaFile = TextJobs.letterCountFile(spark, moon10)
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(viaFile == moonGolden)
  }

  test("csv, json and orc sources round-trip the parquet schema and values") {
    val base = spark.read.parquet(s"${SparkTestSession.sfDir}/orders.parquet")
      .select("o_orderkey", "o_custkey", "o_orderstatus", "o_totalprice")
    val tmp = "/tmp/graft-test-sources"
    base.write.mode("overwrite").option("header", "true").csv(s"$tmp/csv")
    base.write.mode("overwrite").json(s"$tmp/json")
    base.write.mode("overwrite").orc(s"$tmp/orc")
    val viaCsv = spark.read.option("header", "true").schema(base.schema).csv(s"$tmp/csv")
    val viaJson = spark.read.schema(base.schema).json(s"$tmp/json")
    val viaOrc = spark.read.orc(s"$tmp/orc")
    assert(viaCsv.count() == base.count() && viaJson.count() == base.count())
    assert(viaCsv.except(base).isEmpty && base.except(viaCsv).isEmpty)
    assert(viaJson.except(base).isEmpty && base.except(viaJson).isEmpty)
    // ORC is columnar + typed: schema survives without an explicit cast,
    // and predicate pushdown reaches the scan like parquet
    assert(viaOrc.schema == base.schema)
    assert(viaOrc.except(base).isEmpty && base.except(viaOrc).isEmpty)
    val plan = viaOrc.filter(col("o_orderkey") === 1L)
      .queryExecution.executedPlan.toString
    assert(plan.contains("PushedFilters") && plan.contains("EqualTo(o_orderkey,1)"),
      plan.take(600))
  }

  test("avro source round-trips schema and values (timestamps and arrays too)") {
    import graft.sources.AvroIO
    val tmp = "/tmp/graft-test-avro"
    // lineitem slice: long/int/double/string/timestamp columns
    val li = spark.read.parquet(s"${SparkTestSession.sfDir}/lineitem.parquet")
      .select("l_orderkey", "l_linenumber", "l_quantity", "l_returnflag", "l_shipdate")
      .limit(2000)
    AvroIO.write(li, s"$tmp/lineitem")
    val liBack = AvroIO.read(spark, s"$tmp/lineitem")
    assert(liBack.schema.map(f => (f.name, f.dataType)) ==
      li.schema.map(f => (f.name, f.dataType)))
    assert(liBack.count() == li.count())
    assert(liBack.except(li).isEmpty && li.except(liBack).isEmpty)
    // embeddings: array<float> column
    val emb = spark.read.parquet(s"${SparkTestSession.sfDir}/embeddings.parquet")
      .limit(200)
    AvroIO.write(emb, s"$tmp/emb")
    val embBack = AvroIO.read(spark, s"$tmp/emb")
    assert(embBack.schema.map(f => (f.name, f.dataType)) ==
      emb.schema.map(f => (f.name, f.dataType)))
    assert(embBack.except(emb).isEmpty && emb.except(embBack).isEmpty)
    // read parallelism is per container file (one task per part file)
    assert(embBack.rdd.getNumPartitions ==
      new java.io.File(s"$tmp/emb").listFiles.count(_.getName.endsWith(".avro")))
  }

  test("json source captures malformed records instead of failing (PERMISSIVE)") {
    import org.apache.spark.sql.types._
    val tmp = "/tmp/graft-test-corrupt.json"
    java.nio.file.Files.writeString(java.nio.file.Paths.get(tmp),
      """{"k": 1, "v": "ok"}
        |not json at all
        |{"k": 3, "v": "fine"}
        |{"k": "wrong type", "v": 4}""".stripMargin)
    val schema = StructType(Seq(
      StructField("k", LongType), StructField("v", StringType),
      StructField("_corrupt_record", StringType)))
    val df = spark.read.schema(schema).json(tmp).cache()
    try {
      assert(df.count() == 4) // nothing dropped, nothing thrown
      assert(df.filter(col("_corrupt_record").isNotNull).count() == 2)
      assert(df.filter(col("k") === 1 && col("v") === "ok").count() == 1)
    } finally df.unpersist(): Unit
  }

  test("word finder is split-count invariant") {
    val base = corpusLines(TextCorpus.small)
    val one = TextJobs.wordFind(base.repartition(1), "value", "Alice").count()
    for (n <- Seq(4, 16)) {
      assert(TextJobs.wordFind(base.repartition(n), "value", "Alice").count() == one)
    }
  }
}
