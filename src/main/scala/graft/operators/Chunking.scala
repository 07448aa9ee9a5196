package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.engine.Shape.MaterializeOps

import graft.functions.TextFunctions.tokens

/** Sequence-shaping operators for training-data pipelines: fixed-size
  * token-window chunking (retrieval / context windows) and GPT-style
  * sequence packing (concatenate the token stream, cut it into
  * fixed-budget blocks). The reference has no sequence surface; these
  * extend its per-split scan shape (usr_functions.c:19-109 iterates a
  * byte range) to token ranges.
  *
  * Scale design: chunking is map-only (documents are independent).
  * Packing needs one GLOBAL ordered prefix sum — the naive
  * `Window.orderBy` with no partition moves the entire corpus into a
  * single task, so [[orderedOffsets]] implements the two-pass
  * distributed form: range-partition on the order key, per-partition
  * local prefix sums, per-partition totals (ONE tiny row per partition)
  * cumulated on the driver and added back as base offsets. Shuffle
  * volume is one range exchange of (key, value) pairs; driver state is
  * numPartitions longs.
  */
object Chunking {

  /** Number of chunks for a token count `len`: one chunk starts every
    * `stride` tokens while any token remains uncovered. Single shared
    * definition so the Spark UDF and the oracle SQL derive the same
    * count: nc = 1 + ceil(max(0, len - chunkSize) / stride), min 1
    * (an empty doc still emits its one empty chunk).
    */
  def numChunks(len: Int, chunkSize: Int, stride: Int): Int =
    if (len <= chunkSize) 1
    else 1 + (len - chunkSize + stride - 1) / stride

  /** Overlapping token-window chunks: chunk i covers tokens
    * [i*stride, i*stride + chunkSize). Output one row per chunk:
    * (id, chunk_idx, n_tokens, chunk md5) — the hash stands in for the
    * chunk text so downstream compares stay cheap; swap `md5` for the
    * raw string when materializing a chunk table. Map-only: tokenize +
    * chunk in one UDF pass per document, rows leave through posexplode.
    */
  def chunkTokens(docs: DataFrame, idCol: String, textCol: String,
                  chunkSize: Int, stride: Int): DataFrame = {
    require(chunkSize >= 1 && stride >= 1 && stride <= chunkSize,
      s"need 1 <= stride <= chunkSize, got chunkSize=$chunkSize stride=$stride")
    val f = udf { tk: Seq[String] =>
      if (tk == null) null
      else {
        val nc = numChunks(tk.size, chunkSize, stride)
        Array.tabulate(nc) { i =>
          val from = i * stride
          tk.slice(from, from + chunkSize).mkString(" ")
        }
      }
    }.asNondeterministic() // optimizer hint only — stops generator-filter cloning
    docs
      .select(col(idCol).as("id"), f(tokens(col(textCol))).as("chunks"))
      .select(col("id"), posexplode(col("chunks")).as(Seq("chunk_idx", "chunk")))
      .select(col("id"), col("chunk_idx").cast("long").as("chunk_idx"),
        size(tokens(col("chunk"))).cast("long").as("n_tokens"),
        md5(col("chunk")).as("chunk_hash"))
  }

  /** Global EXCLUSIVE prefix sum of `valCol` in ascending `orderCol`
    * order, without ever collecting the data or windowing over a single
    * partition: returns (orderCol, valCol, offset) where offset =
    * sum of valCol over all rows with a smaller key.
    *
    * Two-pass distributed scan: (1) range-repartition + in-partition
    * sort on the key, one mapPartitions computing local running sums;
    * (2) per-partition totals — numPartitions rows — collected,
    * cumulated on the driver, and joined back (broadcast) as each
    * partition's base. repartitionByRange guarantees partition i holds
    * strictly smaller keys than partition i+1, so local + base = global.
    * The intermediate is localCheckpoint'd because both the totals
    * aggregation and the final join consume it (an unbroken lineage
    * would run the scan twice).
    *
    * Requires unique keys (ties would make "smaller" ambiguous across
    * engines). numPartitions bounds driver state, not correctness.
    */
  def orderedOffsets(df: DataFrame, orderCol: String, valCol: String,
                     numPartitions: Int = 32): DataFrame = {
    val spark = df.sparkSession
    import spark.implicits._
    val local = df
      .select(col(orderCol).cast("long"), col(valCol).cast("long"))
      .as[(Long, Long)]
      .repartitionByRange(numPartitions, col(orderCol))
      .sortWithinPartitions(orderCol)
      .mapPartitions { it =>
        val pid = org.apache.spark.TaskContext.getPartitionId()
        var running = 0L
        it.map { case (k, v) =>
          val before = running
          running += v
          (pid, k, v, before)
        }
      }
      .toDF("pid", orderCol, valCol, "local_before")
      .materialized
    val totals = local.groupBy("pid")
      .agg(max(col("local_before") + col(valCol)).as("total"))
      .collect()
      .map(r => (r.getInt(0), r.getLong(1)))
      .sortBy(_._1)
    var base = 0L
    val bases = totals.map { case (pid, total) =>
      val b = base; base += total; (pid, b)
    }
    local
      .join(broadcast(bases.toSeq.toDF("pid", "base")), Seq("pid"))
      .select(col(orderCol), col(valCol),
        (col("base") + col("local_before")).as("offset"))
  }

  /** GPT-style sequence packing: documents are concatenated in id order
    * into one token stream, which is cut into fixed `budget`-token packs
    * (documents straddle pack boundaries — the standard "concat and
    * chunk" used to build training batches). Output per document:
    * its global token offset, first/last pack id and offset inside the
    * first pack. One range shuffle ([[orderedOffsets]]); everything
    * after the offset is map-side arithmetic.
    */
  def packedSpans(docs: DataFrame, idCol: String, textCol: String,
                  budget: Int, numPartitions: Int = 32): DataFrame = {
    require(budget >= 1, s"budget must be >= 1, got $budget")
    val withTok = docs.select(col(idCol),
      size(tokens(col(textCol))).cast("long").as("n_tokens"))
    orderedOffsets(withTok, idCol, "n_tokens", numPartitions)
      .select(col(idCol), col("n_tokens"), col("offset"),
        floor(col("offset") / budget).cast("long").as("start_pack"),
        when(col("n_tokens") > 0,
            floor((col("offset") + col("n_tokens") - 1) / budget))
          .otherwise(floor(col("offset") / budget))
          .cast("long").as("end_pack"),
        pmod(col("offset"), lit(budget.toLong)).as("pack_offset"))
  }
}
