package graft.operators

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.engine.Shape
import graft.engine.Shape.MaterializeOps

/** BPE vocabulary LEARNING — the iterative merge selection that q62's
  * BPE-style token counting presupposes. Each round picks the
  * highest-weighted adjacent symbol pair over the corpus (ties ->
  * lexicographically smallest pair) and fuses it everywhere, exactly
  * the Sennrich et al. (ACL'16) subword-unit procedure.
  *
  * Representation: each distinct word is a SPACE-JOINED symbol string
  * ("t h e"); a merge of pair "t h" rewrites " t h " -> " th " via
  * plain left-to-right non-overlapping string replacement — the same
  * greedy application order BPE specifies, and `replace` has identical
  * semantics in Spark and DuckDB, which is what makes the whole
  * iterative build oracle-checkable (unrolled SQL, like q105's
  * PageRank). Words are restricted to ^[a-z]+$ so '.'-per-character
  * splitting cannot straddle multi-code-unit characters in either
  * engine.
  *
  * Scale shape: state is the DISTINCT-word table (vocabulary-bounded,
  * never the corpus — word frequencies are aggregated once up front).
  * At or under [[graft.engine.Shape.LocalRowLimit]] words the whole
  * merge loop runs ON THE DRIVER after that one aggregation (standard Sennrich
  * practice; the alternative schedules ~2 tiny Spark jobs PER MERGE —
  * ~64K jobs for a 32K-merge production vocab, pure driver scheduling
  * overhead). Above the limit each round is one explode +
  * map-side-combined groupBy over adjacent pairs, a driver top-1
  * (LIMIT 1 collect — a bounded scalar, same justification as the
  * k-means centroid collect), and a map-only rewrite, with the word
  * table checkpointed per round so the lineage does not re-derive all
  * prior merges. The two paths are equivalence-tested.
  */
object Bpe {

  /** The distinct-word frequency table feeding both the learner and the
    * encoder: lowercase-alpha words only (see class doc) with exact
    * corpus frequencies.
    */
  private def wordTable(docs: DataFrame, textCol: String): DataFrame = docs
    .select(explode(graft.functions.TextFunctions.tokens(col(textCol))).as("w"))
    .filter(col("w").rlike("^[a-z]+$"))
    .groupBy("w").agg(count(lit(1)).as("freq"))

  /** Run `iters` greedy merge rounds over a spaced-symbol table.
    * `syms0` must carry columns `s` (space-joined symbols) and `freq`;
    * any OTHER columns (e.g. the original word) ride through the
    * rewrites untouched. Returns the final symbol table and the merge
    * log (rank, pair, merged, weighted_count).
    *
    * Dispatch: one bounded fetch of the word table
    * ([[Shape.localRows]]); at or under `localLimit` words the whole
    * iteration runs on the driver over the fetched rows
    * ([[mergeRoundsLocal]]), else each round is one distributed
    * explode + groupBy + top-1 collect + rewrite.
    */
  private def mergeRounds(syms0: DataFrame, iters: Int, localLimit: Long)
      : (DataFrame, Seq[(Long, String, String, Long)]) = {
    require(iters >= 1, s"iters must be >= 1, got $iters")
    Shape.localRows(syms0, localLimit) match {
      case Some(rows) => mergeRoundsLocal(syms0, rows, iters)
      case None => mergeRoundsDistributed(syms0, iters)
    }
  }

  /** The over-limit path of [[mergeRounds]]: one distributed round per
    * merge, the word table checkpointed per round.
    */
  private def mergeRoundsDistributed(syms0: DataFrame, iters: Int)
      : (DataFrame, Seq[(Long, String, String, Long)]) = {
    var syms = syms0.materialized
    val merges = Seq.newBuilder[(Long, String, String, Long)]
    for (rank <- 1 to iters) {
      // adjacent symbol pairs, 1-based element_at to mirror the oracle's
      // 1-based list indexing; single-symbol words contribute none (the
      // size guard matters: Spark's sequence(1, 0) DESCENDS, it is not
      // empty like DuckDB's generate_series)
      val counts = syms
        .withColumn("sp", split(col("s"), " "))
        .select(col("freq"), explode(when(size(col("sp")) >= 2,
          expr("transform(sequence(1, size(sp)-1)," +
            " j -> concat(element_at(sp, j), ' ', element_at(sp, j+1)))"))
          .otherwise(array().cast("array<string>"))).as("pair"))
        .groupBy("pair").agg(sum("freq").as("cnt"))
      val top = counts.orderBy(col("cnt").desc, col("pair").asc).limit(1).collect()
      if (top.isEmpty) {
        // vocabulary fully merged — nothing left to learn
      } else {
        val pair = top(0).getString(0)
        val cnt = top(0).getLong(1)
        val merged = pair.replace(" ", "")
        merges += ((rank.toLong, pair, merged, cnt))
        syms = syms
          .withColumn("s", trim(expr(
            s"replace(concat(' ', s, ' '), ' $pair ', ' $merged ')")))
          .materialized
      }
    }
    (syms, merges.result())
  }

  /** Driver-local twin of the distributed rounds, used under
    * [[Shape.LocalRowLimit]]: identical selection (weighted pair counts,
    * ties to the smallest pair string — symbols are ^[a-z]+$ so JVM
    * string order and Spark's UTF8 binary order agree) and identical
    * rewrite (Java String.replace is the same left-to-right
    * non-overlapping literal replacement as Spark's replace). One
    * collect in, one createDataFrame out, zero jobs per round.
    */
  private def mergeRoundsLocal(syms0: DataFrame, fetched: Array[Row], iters: Int)
      : (DataFrame, Seq[(Long, String, String, Long)]) = {
    val spark = syms0.sparkSession
    val schema = syms0.schema
    val sIdx = schema.fieldIndex("s")
    val fIdx = schema.fieldIndex("freq")
    val rows = fetched.map(_.toSeq.toArray)
    val merges = Seq.newBuilder[(Long, String, String, Long)]
    for (rank <- 1 to iters) {
      val counts = new scala.collection.mutable.HashMap[String, Long]
      rows.foreach { r =>
        val sp = r(sIdx).asInstanceOf[String].split(" ")
        val freq = r(fIdx).asInstanceOf[Long]
        var j = 0
        while (j < sp.length - 1) {
          counts.updateWith(sp(j) + " " + sp(j + 1))(c => Some(c.getOrElse(0L) + freq))
          j += 1
        }
      }
      if (counts.nonEmpty) {
        val (pair, cnt) = counts.minBy { case (p, c) => (-c, p) }
        val merged = pair.replace(" ", "")
        merges += ((rank.toLong, pair, merged, cnt))
        rows.foreach { r =>
          r(sIdx) = (" " + r(sIdx).asInstanceOf[String] + " ")
            .replace(" " + pair + " ", " " + merged + " ").trim
        }
      }
    }
    val out = spark.createDataFrame(
      spark.sparkContext.parallelize(rows.map(a => Row(a.toIndexedSeq: _*)).toSeq, 1),
      schema)
    (out, merges.result())
  }

  /** Learn `iters` merges from `docs(textCol)`; returns one row per
    * merge: (rank, pair, merged, weighted_count), rank 1-based in
    * selection order.
    */
  def bpeMerges(docs: DataFrame, textCol: String, iters: Int,
                localLimit: Long = Shape.LocalRowLimit): DataFrame = {
    val spark = docs.sparkSession
    val syms0 = wordTable(docs, textCol)
      .select(trim(regexp_replace(col("w"), "(.)", "$1 ")).as("s"), col("freq"))
    val (_, merges) = mergeRounds(syms0, iters, localLimit)
    spark.createDataFrame(
      spark.sparkContext.parallelize(merges.map {
        case (r, p, m, c) => Row(r, p, m, c)
      }, 1),
      StructType(Seq(StructField("rank", LongType, nullable = false),
        StructField("pair", StringType, nullable = false),
        StructField("merged", StringType, nullable = false),
        StructField("weighted_count", LongType, nullable = false))))
  }

  /** BPE ENCODING: learn `iters` merges (same rounds as [[bpeMerges]])
    * and return each distinct word's resulting segmentation —
    * (w, encoded, n_tokens, freq). The word column rides through the
    * per-round rewrites, so the encoder is the learner's final state,
    * not a second pass — at scale this is `iters` map-only rewrites
    * over the vocabulary-bounded word table, never the corpus.
    */
  def bpeEncode(docs: DataFrame, textCol: String, iters: Int,
                localLimit: Long = Shape.LocalRowLimit): DataFrame = {
    val syms0 = wordTable(docs, textCol)
      .select(col("w"),
        trim(regexp_replace(col("w"), "(.)", "$1 ")).as("s"), col("freq"))
    val (syms, _) = mergeRounds(syms0, iters, localLimit)
    syms.select(col("w"), col("s").as("encoded"),
      size(split(col("s"), " ")).cast("long").as("n_tokens"), col("freq"))
  }
}
