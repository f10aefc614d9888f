package graft.checks

import org.apache.spark.sql.{Column, DataFrame, Row}
import org.apache.spark.sql.functions._
import graft.core._

/** Cross-dataset referential-consistency check: every scoped row's key must
  * exist in a reference dataset (FK ⊆ PK).
  *
  * Completes the reference's promised-but-unwritten consistency dimension
  * (`/root/reference/src/pyspark_data_quality/core/_enums.py:14`,
  * `README.md:194`).
  *
  * `valid` = left-semi join against the reference keys; `invalid` = left-anti
  * join (orphans); metric = orphan ratio — all schema-preserving, so the
  * manager's fold still works.
  *
  * Scale: the joins shuffle on the key unless the distinct reference-key set
  * is small — it is projected to key columns + `distinct()` first, so AQE
  * converts to broadcast whenever the dim fits; for a genuinely large
  * reference, both sides hash-partition on the key (co-partitioned, no
  * nested loop). Metrics aggregate [[orphanAggs]] over the frame
  * [[markReferenced]] flags: alone, or fused in [[graft.ResultObj]].
  */
final class ConsistencyCheck(
    dataset: String,
    runId: String,
    severityLevel: SeverityLevel,
    metricName: String,
    /** FK columns in the checked dataset */
    inputAttributes: Seq[String],
    /** reference (dimension) dataset */
    val refDf: DataFrame,
    /** PK columns in `refDf`, positionally matched to `inputAttributes` */
    val refCols: Seq[String],
    /** max allowed orphan ratio (0.0 = strict FK) */
    threshold: Double = 0.0,
    scope: Scope = NoScope
) extends BaseCheck(dataset, runId, severityLevel, metricName, inputAttributes, threshold, scope) {

  require(inputAttributes.nonEmpty && inputAttributes.length == refCols.length,
    "inputAttributes and refCols must be non-empty and same length")

  val checkType: String = "consistency"
  val dimension: Dimension = Dimension.Consistency

  /** Distinct reference keys renamed to the FK names — small, broadcastable. */
  private def refKeys: DataFrame =
    refDf.select(refCols.zip(inputAttributes).map { case (r, f) => col(r).as(f) }: _*).distinct()

  override def valid(d: DataFrame, cols: Seq[String]): DataFrame = {
    preCheck(d)
    d.filter(scopeCol(d)).join(refKeys, inputAttributes, "left_semi")
  }

  override def invalid(d: DataFrame, cols: Seq[String]): DataFrame = {
    preCheck(d)
    d.filter(scopeCol(d)).join(refKeys, inputAttributes, "left_anti")
  }

  override protected def missingColumns(d: DataFrame): Seq[String] =
    super.missingColumns(d) ++ refCols.filterNot(refDf.columns.contains).map("refDf." + _)

  /** `d` plus the boolean column `flag`: whether the row's FK is among the
    * (distinct, so no row repeats) reference keys; a null FK never is. */
  private[graft] def markReferenced(d: DataFrame, flag: String): DataFrame =
    d.join(refKeys.withColumn(flag, lit(true)), inputAttributes, "left_outer")
      .select(d.columns.map(col) :+ col(flag).isNotNull.as(flag): _*)

  /** Scoped and orphan counts over a frame flagged `hit`. */
  private[graft] def orphanAggs(d: DataFrame, hit: Column): Seq[Column] = {
    val s = scopeCol(d)
    Seq(count(when(s, 1)).as(aggAlias("total")), count(when(s && !hit, 1)).as(aggAlias("orphans")))
  }

  override def metricAggs(d: DataFrame): Seq[Column] = Seq.empty

  /** One job: one pass over the scoped rows' left-outer membership flag. */
  override def metricResults(d: DataFrame): Seq[MetricResult] = {
    preCheck(d)
    val marked = markReferenced(d.filter(scopeCol(d)), "__graft_ref_hit")
    val aggs = orphanAggs(marked, col("__graft_ref_hit"))
    metricsFromRow(marked.agg(aggs.head, aggs.tail: _*).head())
  }

  override def metricsFromRow(row: Row): Seq[MetricResult] = {
    val total = row.getAs[Long](aggAlias("total"))
    val orphans = row.getAs[Long](aggAlias("orphans"))
    val keys = inputAttributes.mkString(",")
    Seq(ratioMetric(keys, s"$keys orphan ratio", ratio(orphans, total),
      Map("orphan_count" -> orphans.toString, "total_count" -> total.toString), atMost = true))
  }
}
