package graft.checks

import java.sql.Timestamp
import org.apache.spark.sql.{Column, DataFrame, Row}
import org.apache.spark.sql.functions._
import graft.core._

/** Freshness check: age of the newest timestamp vs `maxAge` expressed in
  * [[graft.core.FreshnessPeriod]] units.
  *
  * The reference defines `FreshnessPeriod` (`core/_enums.py:19-25`) and
  * promises a freshness rule (`README.md:194`) but never writes one; this
  * completes it. Metric value = age of `max(tsCol)` in period units,
  * measured against `anchor` (injectable for deterministic tests; defaults
  * to evaluation-time now). Success ⇔ age <= threshold periods.
  *
  * Scale: a single `max` aggregate — partial per partition, no shuffle
  * beyond the one-row final agg; with a partition-pruned time-partitioned
  * table this reads only footer stats.
  */
final class FreshnessCheck(
    dataset: String,
    runId: String,
    severityLevel: SeverityLevel,
    metricName: String,
    val tsCol: String,
    val period: FreshnessPeriod,
    /** max allowed age, in `period` units */
    threshold: Double,
    val anchor: Option[Timestamp] = None,
    scope: Scope = NoScope
) extends BaseCheck(dataset, runId, severityLevel, metricName, Seq(tsCol), threshold, scope)
    with RowCheck {

  val checkType: String = "freshness"
  val dimension: Dimension = Dimension.Freshness

  /** Horizon literal matching the column's timestamp flavor (TIMESTAMP vs
    * TIMESTAMP_NTZ — the testdata's `o_orderdate` is NTZ). */
  private def horizonLit(d: DataFrame): Column =
    d.schema(tsCol).dataType match {
      case org.apache.spark.sql.types.TimestampNTZType =>
        lit(horizon.toLocalDateTime)
      case _ => lit(horizon)
    }

  /** Pass: newer than the horizon (anchor − threshold·period); fail: older
    * or null. Without an `anchor` the horizon is fixed per call: once per
    * `valid`/`invalid`, once per [[graft.ResultObj]] marking. */
  override def verdict(d: DataFrame, cols: Seq[String]): Verdict = {
    val h = horizonLit(d)
    Verdict(col(tsCol) >= h, col(tsCol) < h || col(tsCol).isNull)
  }

  private def anchorTs: Timestamp =
    anchor.getOrElse(new Timestamp(System.currentTimeMillis()))

  private def horizon: Timestamp =
    new Timestamp(anchorTs.getTime - (threshold * period.seconds * 1000L).toLong)

  override def metricAggs(d: DataFrame): Seq[Column] = {
    val s = scopeCol(d)
    Seq(max(when(s, col(tsCol))).as(aggAlias("max_ts")))
  }

  override def metricsFromRow(row: Row): Seq[MetricResult] = {
    // TIMESTAMP → java.sql.Timestamp; TIMESTAMP_NTZ → java.time.LocalDateTime
    // (session TZ pinned UTC, so NTZ is interpreted as UTC wall-clock)
    val maxTs: Option[Timestamp] = row.getAs[Any](aggAlias("max_ts")) match {
      case null => None
      case ts: Timestamp => Some(ts)
      case ldt: java.time.LocalDateTime =>
        Some(Timestamp.from(ldt.toInstant(java.time.ZoneOffset.UTC)))
      case i: java.time.Instant => Some(Timestamp.from(i))
      case other => throw new IllegalStateException(s"unexpected max_ts type: ${other.getClass}")
    }
    val ageSec = maxTs.map(t => (anchorTs.getTime - t.getTime) / 1000.0)
    val agePeriods = ageSec.map(_ / period.seconds)
    val ok = agePeriods.exists(_ <= threshold)
    val msg = agePeriods match {
      case Some(a) if ok => f"$tsCol age $a%.2f ${period.value}(s) <= $threshold%.2f"
      case Some(a) => f"$tsCol age $a%.2f ${period.value}(s) > $threshold%.2f"
      case None => s"$tsCol has no non-null values in scope"
    }
    Seq(mkMetric(
      column = tsCol,
      value = agePeriods,
      message = msg,
      thresholdResult = if (ok) 1.0 else 0.0,
      extra = Map(
        "period" -> period.value,
        "max_ts" -> maxTs.map(_.toString).getOrElse("null"),
        "anchor" -> anchorTs.toString
      )
    ))
  }
}
