package graft.checks

import org.apache.spark.sql.{Column, DataFrame, Row}
import org.apache.spark.sql.functions._
import graft.core._

/** Conditional (implication) rule check: `WHEN antecedent THEN consequent`.
  *
  * The denial-constraint shape every warehouse rulebook is full of —
  * "returned lines must be shipped", "priority orders must have a clerk" —
  * that a plain [[ValidityCheck]] predicate can't express faithfully: rows
  * where the antecedent does NOT hold are vacuously compliant and must
  * count toward neither the violation set nor the metric denominator.
  *
  * Semantics (three-valued logic collapsed deliberately, mirroring
  * [[ValidityCheck]]): a row is IN SCOPE of the rule when
  * `coalesce(antecedent, false)`; an in-scope row VIOLATES when
  * `!coalesce(consequent, false)` — a null consequent on a triggered row is
  * a violation, not a pass. Metric = compliant / triggered (1.0 when the
  * rule never triggers: an untriggered rule is not a failing rule).
  *
  * One conditional-aggregation pass, fusable with every other check via
  * `ResultObj.getMetricResults`.
  */
class RuleCheck(
    dataset: String,
    runId: String,
    severityLevel: SeverityLevel,
    metricName: String,
    val antecedent: Column,
    val consequent: Column,
    threshold: Double,
    inputAttributes: Seq[String] = Seq.empty,
    scope: Scope = NoScope
) extends BaseCheck(dataset, runId, severityLevel, metricName, inputAttributes, threshold, scope)
    with RowCheck {

  val checkType: String = "rule"
  def dimension: Dimension = Dimension.Validity

  private def triggered: Column = coalesce(antecedent, lit(false))
  private def holds: Column = coalesce(consequent, lit(false))

  /** Pass: triggered AND the consequent holds. Fail: triggered AND the
    * consequent fails (or is null). Vacuous rows are in neither split —
    * `valid ∪ invalid` = triggered scoped rows, not the whole table. */
  override def verdict(d: DataFrame, cols: Seq[String]): Verdict =
    Verdict(triggered && holds, triggered && !holds)

  override def metricAggs(d: DataFrame): Seq[Column] = {
    val s = scopeCol(d)
    Seq(
      count(when(s && triggered, 1)).as(aggAlias("triggered")),
      count(when(s && triggered && holds, 1)).as(aggAlias("compliant"))
    )
  }

  override def metricsFromRow(row: Row): Seq[MetricResult] = {
    val trig = row.getAs[Long](aggAlias("triggered"))
    val comp = row.getAs[Long](aggAlias("compliant"))
    Seq(ratioMetric(inputAttributes.mkString(","), checkType, ratio(comp, trig, empty = 1.0), Map(
      "antecedent" -> antecedent.toString,
      "consequent" -> consequent.toString,
      "triggered_count" -> trig.toString,
      "compliant_count" -> comp.toString
    )))
  }
}
