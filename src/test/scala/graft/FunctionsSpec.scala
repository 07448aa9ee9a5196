package graft

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.functions.TextFunctions._
import graft.functions.VectorFunctions._

class FunctionsSpec extends AnyFunSuite {
  lazy val spark = SparkTestSession.spark
  import spark.implicits._

  private def one[T](c: org.apache.spark.sql.Column): Any =
    Seq(1).toDF("x").select(c).head().get(0)

  test("tokens: blank text yields empty array, not ['']") {
    val got = Seq("", "  ", "a b", " a  b ").toDF("t")
      .select(size(tokens(col("t")))).as[Int].collect().toSeq
    assert(got == Seq(0, 0, 2, 2))
  }

  test("tokenHash32 matches the DuckDB hex-cast twin (md5('hello') prefix)") {
    // DuckDB: CAST(concat('0x', substr(md5('hello'),1,7)) AS BIGINT) = 97784834
    assert(one(tokenHash32(lit("hello"))) == 97784834L)
  }

  test("JVM hash twins equal the expression forms (load-bearing for in-UDF hashing)") {
    // ngramJaccard/minHash/simHash hash inside UDFs via the *Jvm forms;
    // the oracle rebuilds the EXPRESSION forms — pin their equality
    val samples = Seq("hello", "a b c", "", "ümlaut", "123", "the quick brown")
    val df = samples.toDF("s")
    assert(df.select(tokenHash64(col("s"))).as[Long].collect().toSeq ==
      samples.map(tokenHash64Jvm))
    assert(df.select(tokenHash32(col("s"))).as[Long].collect().toSeq ==
      samples.map(tokenHash32Jvm))
  }

  test("rollingHash: known value and trailing-empty-split immunity") {
    // h("he") = (0*257+104)%M *257 + 101 = 26829 (DuckDB list_reduce twin)
    assert(one(rollingHash(lit("he"))) == 26829L)
    assert(one(rollingHash(lit(""))) == 0L)
  }

  test("subwordCount: ceil(run/4) per alnum run + 1 per other non-space char") {
    // "hello world!!" -> ceil(5/4)+ceil(5/4) + 2 = 2+2+2 = 6
    assert(one(subwordCount(lit("hello world!!"))) == 6L)
  }

  test("qualityScore stays in [0,1] and is monotone-ish in stopwords") {
    val q = Seq("the cat sat on the mat and it is fine",
      "zxq qqq zzz").toDF("t").select(qualityScore(col("t"))).as[Double].collect()
    assert(q.forall(v => v >= 0.0 && v <= 1.0))
    assert(q(0) > q(1))
  }

  test("langId picks marker-majority language, 'und' when none hit") {
    val got = Seq(
      "the cat and the dog is a pet",
      "der hund und die katze ist das",
      "le chat et la mer est les",
      "el mar y los rios es las",
      "zzz qqq xxx").toDF("t").select(langId(col("t"))).as[String].collect().toSeq
    assert(got == Seq("en", "de", "fr", "es", "und"))
  }

  test("fingerprint is whitespace/case normalized") {
    val fps = Seq("Hello  World", "hello world", "HELLO\tWORLD ")
      .toDF("t").select(fingerprint(col("t"))).as[String].collect()
    assert(fps.distinct.length == 1)
  }

  test("cosine: identical vectors -> 1.0, orthogonal -> 0.0, zero-norm -> 0.0") {
    val df = Seq(
      (Array(1.0f, 2.0f), Array(1.0f, 2.0f)),
      (Array(1.0f, 0.0f), Array(0.0f, 3.0f)),
      (Array(0.0f, 0.0f), Array(1.0f, 1.0f))).toDF("a", "b")
    val got = df.select(round(cosine(col("a"), col("b")), 6)).as[Double].collect().toSeq
    assert(got == Seq(1.0, 0.0, 0.0))
  }

  test("lshBucket is deterministic and within [0, 2^nBits)") {
    val df = Seq(Array.fill(64)(0.1f), Array.fill(64)(-0.1f)).toDF("v")
    val got = df.select(lshBucket(col("v"), 8)).as[Long].collect()
    assert(got.forall(b => b >= 0 && b < 256))
    val again = df.select(lshBucket(col("v"), 8)).as[Long].collect()
    assert(got.toSeq == again.toSeq)
  }

  test("DotProduct expression matches the higher-order-function fold bitwise") {
    val hof = (a: Column, b: Column) =>
      aggregate(zip_with(a, b, (x, y) => x.cast("double") * y.cast("double")),
        lit(0.0), (acc, v) => acc + v)
    val vecs = Seq(
      (Array(1.5f, -2.25f, 3.125f), Array(0.5f, 4.0f, -1.75f)),
      (Array(0.1f, 0.2f, 0.3f), Array(0.3f, 0.2f, 0.1f)),
      (Array.fill(64)(0.37f), Array.fill(64)(-0.91f))).toDF("a", "b")
    val native = vecs.select(dot(col("a"), col("b"))).as[Double].collect().toSeq
    val viaHof = vecs.select(hof(col("a"), col("b"))).as[Double].collect().toSeq
    assert(native == viaHof) // exact, not approximate: same fold order
  }

  test("DotProduct handles float x double-literal (LSH planes) and nulls") {
    val plane = typedlit(Array(0.5, -0.5, 1.0))
    val df = Seq(Array(2.0f, 4.0f, 1.0f)).toDF("v")
    assert(df.select(dot(col("v"), plane)).as[Double].head() == 2.0 * 0.5 - 4.0 * 0.5 + 1.0)
    val withNull = Seq((Some(Array(1.0f, 2.0f)), None: Option[Array[Float]]))
      .toDF("a", "b")
    assert(withNull.select(dot(col("a"), col("b"))).collect().head.isNullAt(0))
    // truncated vector -> null, never a partial sum
    val mismatch = Seq((Array(1.0f, 2.0f, 3.0f), Array(1.0f, 2.0f)))
      .toDF("a", "b")
    assert(mismatch.select(dot(col("a"), col("b"))).collect().head.isNullAt(0))
    // and a wrong lshBucket dim surfaces as a NULL bucket, not bucket 0
    val short = Seq(Array.fill(16)(0.5f)).toDF("v")
    assert(short.select(lshBucket(col("v"), 4, dim = 64)).collect().head.isNullAt(0))
  }

  test("graft_dot is callable from SQL after registration") {
    org.apache.spark.sql.GraftSqlShim.registerFunction(spark, "graft_dot",
      exprs => graft.functions.DotProduct(exprs.head, exprs(1)))
    val got = spark.sql(
      """SELECT graft_dot(CAST(array(1.0, 2.0, 3.0) AS array<double>),
        |                 CAST(array(2.0, 0.5, 1.0) AS array<double>)) AS d"""
        .stripMargin).as[Double].head()
    assert(got == 1.0 * 2.0 + 2.0 * 0.5 + 3.0 * 1.0)
    // the extensions class wires the same builder without error
    new graft.plans.GraftExtensions()
      .apply(new org.apache.spark.sql.SparkSessionExtensions)
  }

  test("l2sq matches cosine-consistent hand computation") {
    val df = Seq((Array(1.0f, 2.0f), Array(4.0f, 6.0f))).toDF("a", "b")
    assert(df.select(l2sq(col("a"), col("b"))).as[Double].head() == 9.0 + 16.0)
  }

  test("minHashSignature: element i is permutation i's shingle min") {
    val docs = Seq((1L, "one two three four")).toDF("doc_id", "text")
    val sig = graft.operators.Dedup.minHashSignature(docs, "doc_id", "text", 2, 4)
      .collect().head.getSeq[Long](1)
    // h_i(x) = (x·a_i + b_i) mod (2^31 - 1) over the 28-bit md5 hashes
    // of the distinct 2-shingles
    val p = 2147483647L
    val hs = Seq("one two", "two three", "three four").map(tokenHash32Jvm)
    assert(sig == (0 until 4).map { i =>
      hs.map(h => (h * ((i * 2654435761L) % p + 1L) + i * 40503L + 7L) % p).min
    })
  }

  test("textStats struct equals the individual stat functions") {
    val df = Seq(
      "the quick brown fox, it jumps over 42 lazy-dogs!",
      "  ", "", "one",
      "punct!!! ... ??? with    gaps\tand\ttabs").toDF("t")
      .select(col("t"), tokens(col("t")).as("toks"))
    val fused = df.select(textStats(col("t"), col("toks")).as("st"))
      .select(col("st._1"), col("st._2"), col("st._3"))
      .as[(Long, Long, Long)].collect().toSeq
    val separate = df.select(
        tokenCount(col("t")).cast("long"),
        subwordCount(col("t")).cast("long"),
        stopwordCount(col("t")).cast("long"))
      .as[(Long, Long, Long)].collect().toSeq
    assert(fused == separate)
  }
}
