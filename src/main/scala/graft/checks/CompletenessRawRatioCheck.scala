package graft.checks

import org.apache.spark.sql.{Column, DataFrame, Row}
import org.apache.spark.sql.functions._
import graft.core._

/** Row-level ("raw") completeness rule: whole-table ratio of rows where ALL
  * configured attributes are non-null.
  *
  * Parity target: `CompletenessRawRatioRule`
  * (`/root/reference/src/pyspark_data_quality/checks/completeness_checks/completeness_raw_check.py:18-117`).
  *
  * Deviations (SURVEY.md D1): the reference's `metric_results` ignores its
  * `threshold` — status is `valid_count >= total_count`, i.e. only 100 %
  * completeness succeeds, contradicting its own message text (bug B1) — and
  * re-runs full-scan `count()` up to 4× (`:95-96`). Here the documented
  * semantics are implemented (ratio vs threshold) and both counts come from
  * ONE aggregation pass: `count(when(scope,1))` + `count(when(scope &&
  * allNonNull, 1))`. Bug B2 (non-string condition object leaking into
  * `map<string,string>` extra_info) is fixed by storing the scope description
  * string.
  */
final class CompletenessRawRatioCheck(
    dataset: String,
    runId: String,
    severityLevel: SeverityLevel,
    metricName: String,
    inputAttributes: Seq[String],
    threshold: Double,
    scope: Scope = NoScope
) extends BaseCheck(dataset, runId, severityLevel, metricName, inputAttributes, threshold, scope)
    with RowCheck {

  val checkType: String = "completeness"
  val dimension: Dimension = Dimension.Completeness

  override def verdict(d: DataFrame, cols: Seq[String]): Verdict = Verdict.complete(cols)

  override def metricAggs(d: DataFrame): Seq[Column] = {
    val s = scopeCol(d)
    Seq(
      count(when(s, 1)).as(aggAlias("total")),
      count(when(s && Verdict.complete(inputAttributes).pass, 1)).as(aggAlias("valid"))
    )
  }

  override def metricsFromRow(row: Row): Seq[MetricResult] = {
    val total = row.getAs[Long](aggAlias("total"))
    val valid = row.getAs[Long](aggAlias("valid"))
    // single result row with column="" like the reference (`:101-116`)
    Seq(ratioMetric("", "raw completeness", ratio(valid, total),
      Map("valid_count" -> valid.toString, "total_count" -> total.toString)))
  }
}
