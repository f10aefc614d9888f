package graft.checks

import org.apache.spark.sql.{Column, DataFrame, Row}
import org.apache.spark.sql.functions._
import graft.core._

/** Per-column completeness-ratio rule.
  *
  * Parity target: `CompletenessColRatioRule`
  * (`/root/reference/src/pyspark_data_quality/checks/completeness_checks/completeness_col_ratio_check.py:19-141`).
  * Computes the non-null ratio of each configured attribute (within the
  * optional scope) in ONE aggregation pass — the reference's manual
  * multi-aggregate fusion (`:107-110`) is kept, and generalized across checks
  * by the fused path in [[graft.ResultObj]].
  *
  * `valid` = rows where ALL attributes are non-null (`:78-89`);
  * `invalid` = rows where ANY attribute is null (`:91-101`); both ANDed with
  * the scope. Degenerate no-cols paths match the reference bit-for-bit
  * (valid→scope-only, invalid→`scope && lit(false)`).
  *
  * Scale: purely narrow (filter) + one partial/final HashAggregate — no
  * shuffle beyond the single aggregate exchange; ratios use
  * `avg(when(scope, isnotnull))`, which map-side combines.
  */
final class CompletenessColRatioCheck(
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

  /** Single-column variant (reference `col=` kwarg path, `:82-83`). */
  def validCol(d: DataFrame, c: String): DataFrame = valid(d, Seq(c))

  def invalidCol(d: DataFrame, c: String): DataFrame = invalid(d, Seq(c))

  override def verdict(d: DataFrame, cols: Seq[String]): Verdict = Verdict.complete(cols)

  /** `avg(when(scope, isnotnull cast double))` per attribute — `when` without
    * `otherwise` yields null outside the scope, which `avg` ignores, so the
    * fused job needs no pre-filter. */
  override def metricAggs(d: DataFrame): Seq[Column] = {
    val s = scopeCol(d)
    inputAttributes.map { c =>
      avg(when(s, col(c).isNotNull.cast("double"))).as(aggAlias(c))
    }
  }

  override def metricsFromRow(row: Row): Seq[MetricResult] =
    inputAttributes.map { c =>
      // zero scoped rows → null avg → 0.0, like the reference's
      // `ratios_dict.get(col, 0.0)` (`:125`)
      val p = Option(row.getAs[java.lang.Double](aggAlias(c)))
        .map(_.doubleValue()).getOrElse(0.0)
      ratioMetric(c, s"$c completeness", p)
    }
}
