package graft.functions

import org.apache.spark.sql.{Column, GraftSqlShim}
import org.apache.spark.sql.functions._

/** Dense-vector kernels over `array<float>` embedding columns. The hot
  * kernel (dot product) is a custom codegen'd Catalyst Expression
  * ([[DotProduct]]); everything else composes built-ins. All kernels
  * remain expressible in the DuckDB oracle (list_dot_product / unnest
  * forms) — fold order is left-to-right on both engines.
  *
  * Part of the similarity-search surface (SURVEY.md §2b); no reference
  * counterpart (the reference's only kernels are byte/line scans,
  * usr_functions.c:39-44, 153-186).
  */
object VectorFunctions {

  /** Sum of elementwise products; elements widened to double, accumulated
    * left-to-right (matches DuckDB's list fold). Compiles into
    * whole-stage codegen via [[DotProduct]].
    */
  def dot(a: Column, b: Column): Column =
    GraftSqlShim.column(DotProduct(
      GraftSqlShim.expression(a), GraftSqlShim.expression(b)))

  def norm(a: Column): Column = sqrt(dot(a, a))

  /** Cosine similarity; 0.0 when either vector has zero norm. */
  def cosine(a: Column, b: Column): Column = {
    val d = dot(a, b)
    val n = norm(a) * norm(b)
    when(n > 0, d / n).otherwise(lit(0.0))
  }

  /** Squared L2 distance. */
  def l2sq(a: Column, b: Column): Column =
    aggregate(
      zip_with(a, b, (x, y) => {
        val diff = x.cast("double") - y.cast("double")
        diff * diff
      }),
      lit(0.0),
      (acc, v) => acc + v)

  private def md5Hex(s: String): String =
    java.security.MessageDigest.getInstance("MD5")
      .digest(s.getBytes("UTF-8")).map("%02x".format(_)).mkString

  /** Pseudo-random hyperplane for LSH: component j of plane p is
    * ((first-7-hex-of-md5("p_j") % 2001) - 1000) / 1000.0 — in [-1, 1),
    * deterministic, seedless and BIT-IDENTICAL across engines (md5 +
    * integer ops + one exact double division; the DuckDB oracle rebuilds
    * the same values in SQL). Unlike sin/cos-seeded planes, no libm vs
    * fdlibm 1-ulp divergence can flip a sign bit near zero.
    *
    * Computed ONCE on the driver and shipped as an array literal — the
    * naive formulation re-evaluated rows*nBits*dim md5 calls per query.
    */
  def planeVector(planeId: Int, dim: Int): Array[Double] =
    Array.tabulate(dim) { j =>
      val h = java.lang.Long.parseLong(md5Hex(s"${planeId}_$j").substring(0, 7), 16)
      ((h % 2001L) - 1000L).toDouble / 1000.0
    }

  /** Sign bit of the projection of `v` onto the fixed pseudo-random
    * hyperplane `planeId` — random-hyperplane LSH (Charikar, STOC'02).
    * Same left-to-right fold order as [[dot]], so the result is exactly
    * reproducible in SQL.
    */
  def hyperplaneBit(v: Column, planeId: Int, dim: Int): Column = {
    val proj = dot(v, typedlit(planeVector(planeId, dim)))
    // no otherwise(): a vector whose length != dim gets a NULL
    // projection (DotProduct's strict length rule) and must surface as
    // a NULL bit/bucket, not silently land in bucket 0
    when(proj >= 0, lit(1)).when(proj < 0, lit(0))
  }

  /** nBits-bit LSH bucket signature for a vector (concatenated hyperplane
    * sign bits packed into a long). `dim` MUST equal the embedding
    * dimension — a mismatch yields a NULL bucket (dropped by the
    * candidate equi-join), never a wrong one. Vectors in the same bucket
    * are near-duplicate candidates; at scale the bucket id is the
    * shuffle key, so candidate generation is a single hash-partitioned
    * exchange instead of a cross join.
    */
  def lshBucket(v: Column, nBits: Int, dim: Int = 64): Column = {
    // 63, not 64: bits are packed into a Long via 1L << p
    require(nBits >= 1 && nBits <= 63, s"nBits must be in [1, 63], got $nBits")
    (0 until nBits).map { p =>
      hyperplaneBit(v, p, dim).cast("long") * lit(1L << p)
    }.reduce(_ + _)
  }

  /** Z-value (Morton code) of two non-negative integer columns: the low
    * `bits` bits of x and y, bit-interleaved (x at even positions, y at
    * odd). Pure codegen'd bit arithmetic — 2*bits shift/and/or terms,
    * no UDF.
    */
  def zValue2(x: Column, y: Column, bits: Int): Column = {
    require(bits >= 1 && bits <= 31, s"bits must be in [1, 31], got $bits")
    val xl = x.cast("long"); val yl = y.cast("long")
    (0 until bits).map { b =>
      shiftleft(shiftright(xl, b).bitwiseAND(lit(1L)), 2 * b)
        .bitwiseOR(shiftleft(shiftright(yl, b).bitwiseAND(lit(1L)), 2 * b + 1))
    }.reduce(_ bitwiseOR _)
  }
}
