package graft.checks

import org.apache.spark.sql.{Column, DataFrame, Row}
import org.apache.spark.sql.functions._
import graft.core._

/** Statistical outlier (anomaly) check: rows whose numeric column deviates
  * from the column mean by more than `zMax` sample standard deviations.
  *
  * The reference's roadmap promises an accuracy dimension it never builds
  * (`/root/reference/README.md:194`, `core/_enums.py:13`); this is the
  * distribution-based half of it (the predicate half is [[AccuracyCheck]]).
  *
  * Two-pass by nature (bounds depend on global stats): pass 1 is a tiny
  * stats aggregate, pass 2 filters/counts against the bounds. The row-split
  * path ([[valid]]/[[invalid]]) stays LAZY — stats ride along as a
  * broadcast 1-row cross join, so the split composes with other checks'
  * folds without materializing anything early. `metricAggs` is empty ⇒ the
  * fused single-job metrics path skips this check and [[metricResults]]
  * runs its own two jobs.
  *
  * Threshold semantics are inverted vs the ratio checks: `threshold` is the
  * MAX tolerated outlier ratio (`ok = ratio <= threshold`).
  */
final class OutlierCheck(
    dataset: String,
    runId: String,
    severityLevel: SeverityLevel,
    metricName: String,
    column: String,
    zMax: Double = 3.0,
    threshold: Double = 0.01,
    scope: Scope = NoScope
) extends BaseCheck(dataset, runId, severityLevel, metricName, Seq(column), threshold, scope) {

  val checkType: String = "outlier"
  def dimension: Dimension = Dimension.Accuracy

  /** 1-row (mean, std) frame under the scope. */
  private def statsDf(d: DataFrame): DataFrame =
    // cast to double IN the aggregate: avg() over a DecimalType column
    // yields java.math.BigDecimal driver-side, which would break the
    // Double extraction in metricResults (TPC-H prices are decimals)
    d.filter(scopeCol(d)).agg(
      avg(col(column)).cast("double").as("__mean"),
      stddev_samp(col(column)).cast("double").as("__std"))

  /** |x − mean| > zMax·std, null-safe (null value / zero or null std ⇒ not
    * an outlier). */
  private def isOutlier: Column =
    coalesce(abs(col(column) - col("__mean")) > lit(zMax) * col("__std"), lit(false))

  private def withStats(d: DataFrame): DataFrame =
    d.crossJoin(broadcast(statsDf(d)))

  private def split(d: DataFrame, keep: Column): DataFrame = {
    preCheck(d)
    withStats(d).filter(scopeCol(d) && keep).drop("__mean", "__std")
  }

  override def valid(d: DataFrame, cols: Seq[String]): DataFrame = split(d, !isOutlier)
  override def invalid(d: DataFrame, cols: Seq[String]): DataFrame = split(d, isOutlier)

  override def metricAggs(d: DataFrame): Seq[Column] = Seq.empty

  override def metricsFromRow(row: Row): Seq[MetricResult] =
    throw new UnsupportedOperationException("OutlierCheck computes metrics standalone")

  override def metricResults(d: DataFrame): Seq[MetricResult] = {
    preCheck(d)
    // one job: the 1-row stats frame is a broadcast input of the same
    // aggregation that counts outliers against it
    val counts = withStats(d)
      .agg(
        count(when(scopeCol(d), 1)).as("total"),
        count(when(scopeCol(d) && isOutlier, 1)).as("outliers"),
        first(col("__mean")).as("mean"),
        first(col("__std")).as("std"))
      .head()
    val mean = Option(counts.get(2)).map(_.asInstanceOf[Double])
    val std = Option(counts.get(3)).map(_.asInstanceOf[Double])
    val total = counts.getAs[Long]("total")
    val outliers = counts.getAs[Long]("outliers")
    Seq(ratioMetric(column, checkType, ratio(outliers, total), Map(
      "z_max" -> zMax.toString,
      "mean" -> mean.map(_.toString).getOrElse(""),
      "stddev" -> std.map(_.toString).getOrElse(""),
      "outlier_count" -> outliers.toString,
      "total_count" -> total.toString
    ), atMost = true))
  }
}
