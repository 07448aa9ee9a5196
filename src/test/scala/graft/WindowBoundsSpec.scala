package graft

import org.apache.spark.sql.catalyst.plans.logical._
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Bounded-window lint: every UNPARTITIONED window in the registered
  * query surface must sit above a cardinality-bounded frame — an
  * aggregate (value histogram, day spine, band table: the documented
  * domain-bounded windows of `Relational.valueRanks` with no keys,
  * `Relational.ksTwoSample`, `Relational.cusumAlerts`,
  * `Relational.isotonicFitPpm`), a limit, or local/literal data —
  * never directly over a corpus scan. This walker is the guarantee
  * that replaces Spark's `WindowExec: No Partition Defined` warning,
  * which `Relational.histGuard` silences: an ACCIDENTAL global window
  * over a raw table becomes a red test instead of a log line.
  */
class WindowBoundsSpec extends AnyFunSuite {
  lazy val spark = SparkTestSession.spark

  /** A plan is cardinality-bounded if every path from here to a leaf
    * crosses an Aggregate (group-by output is domain-bounded by the
    * stated contracts — HistMaxDistinct value histograms, day spines,
    * band tables), a Limit, or bottoms out in local/literal data. A
    * bare file scan reaching an unpartitioned window is exactly the
    * accident this lint exists to catch.
    */
  private def bounded(p: LogicalPlan): Boolean = p match {
    case _: Aggregate => true
    case _: GlobalLimit => true
    case _: LocalLimit => true
    case _: LocalRelation => true
    case _: OneRowRelation => true
    case r: Range => r.numElements <= BigInt(4000000L)
    case _: LeafNode => false
    case other => other.children.nonEmpty && other.children.forall(bounded)
  }

  private def offenders(plan: LogicalPlan): Seq[String] =
    plan.collect {
      case w: org.apache.spark.sql.catalyst.plans.logical.Window
          if w.partitionSpec.isEmpty && !bounded(w.child) =>
        w.windowExpressions.map(_.name).mkString(",")
    }

  test("all registered queries: unpartitioned windows sit above bounded frames") {
    val d = SparkTestSession.sfDir
    val bad = SparkEntry.queries.toSeq.sortBy(_._1).flatMap {
      case (name, fn) =>
        offenders(fn(spark, d).queryExecution.optimizedPlan)
          .map(w => s"$name: global window over unbounded input ($w)")
    }
    assert(bad.isEmpty, bad.mkString("\n"))
  }

  test("a synthetic global window over a raw scan is flagged") {
    val docs = spark.read.parquet(s"${SparkTestSession.sfDir}/documents.parquet")
    val synthetic = docs.withColumn("rn",
      row_number().over(Window.orderBy(col("doc_id"))))
    assert(offenders(synthetic.queryExecution.optimizedPlan).nonEmpty,
      "the walker must flag an unpartitioned window directly over a scan")
  }
}
