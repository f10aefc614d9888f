package graft.checks

import org.apache.spark.sql.{Column, DataFrame, Row}
import org.apache.spark.sql.functions._
import graft.core._

/** Predicate (rule-based) validity check.
  *
  * The reference promises a validity dimension but never implements it
  * (`/root/reference/src/pyspark_data_quality/core/_enums.py:11-17`,
  * `README.md:194`); this completes it Spark-natively. A row is valid when
  * the user predicate holds (null predicate ⇒ invalid, SQL three-valued
  * logic collapsed deliberately so valid ∪ invalid ≡ scoped rows).
  *
  * Metric: ratio of scoped rows satisfying the predicate, from one
  * conditional-aggregation pass (fusable with every other check).
  */
class ValidityCheck(
    dataset: String,
    runId: String,
    severityLevel: SeverityLevel,
    metricName: String,
    val predicate: Column,
    threshold: Double,
    inputAttributes: Seq[String] = Seq.empty,
    scope: Scope = NoScope
) extends BaseCheck(dataset, runId, severityLevel, metricName, inputAttributes, threshold, scope)
    with RowCheck {

  val checkType: String = "validity"
  def dimension: Dimension = Dimension.Validity

  private def predTrue: Column = coalesce(predicate, lit(false))

  override def verdict(d: DataFrame, cols: Seq[String]): Verdict = Verdict(predTrue, !predTrue)

  override def metricAggs(d: DataFrame): Seq[Column] = {
    val s = scopeCol(d)
    Seq(
      count(when(s, 1)).as(aggAlias("total")),
      count(when(s && predTrue, 1)).as(aggAlias("valid"))
    )
  }

  override def metricsFromRow(row: Row): Seq[MetricResult] = {
    val total = row.getAs[Long](aggAlias("total"))
    val valid = row.getAs[Long](aggAlias("valid"))
    Seq(ratioMetric(inputAttributes.mkString(","), checkType, ratio(valid, total), Map(
      "predicate" -> predicate.toString,
      "valid_count" -> valid.toString,
      "total_count" -> total.toString
    )))
  }
}

/** Accuracy check: same machinery as validity, but for cross-column business
  * rules (e.g. `l_extendedprice ≈ l_quantity * unit_price`), labeled with the
  * accuracy dimension (`core/_enums.py:13`). */
final class AccuracyCheck(
    dataset: String,
    runId: String,
    severityLevel: SeverityLevel,
    metricName: String,
    predicate: Column,
    threshold: Double,
    inputAttributes: Seq[String] = Seq.empty,
    scope: Scope = NoScope
) extends ValidityCheck(
      dataset, runId, severityLevel, metricName, predicate, threshold, inputAttributes, scope) {
  override val checkType: String = "accuracy"
  override def dimension: Dimension = Dimension.Accuracy
}
