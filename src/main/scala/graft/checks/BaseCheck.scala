package graft.checks

import java.sql.Timestamp
import org.apache.spark.sql.{Column, DataFrame, Row}
import org.apache.spark.sql.functions.{col, lit}
import graft.core._

/** Check contract + memoizing base class.
  *
  * Mirrors the reference's `AbstractCheck`/`BaseCheck`
  * (`/root/reference/src/pyspark_data_quality/checks/base_check.py:10-120`):
  * `valid`/`invalid` row splits, memoized `get_valid_df`/`get_invalid_df`,
  * cached whole-table `df_count`, and eager `metric_results`.
  *
  * Spark-native improvement over the reference (SURVEY.md §4 O1): every check
  * exposes its metric computation as a list of **aggregate Columns**
  * ([[metricAggs]]) plus a row decoder ([[metricsFromRow]]). This lets
  * [[graft.ResultObj]] fuse all checks' metrics into a SINGLE aggregation job
  * (one scan instead of one-job-per-check). The reference runs one or more
  * full-scan jobs per check (`completeness_col_ratio_check.py:110`,
  * `completeness_raw_check.py:95-96`). A check whose verdict on a row reads
  * only that row is a [[RowCheck]]: it states the verdict once, and its
  * `valid`/`invalid` and the manager's marked frame all read it.
  *
  * Scope semantics: the user-supplied [[graft.core.Scope]] predicate is ANDed
  * into every computation; inside aggregates it becomes
  * `agg(when(scope, expr))` so the fused job needs no pre-filter — Catalyst
  * still collapses and pushes plain filters when the per-check job path is
  * used. A row whose scope is null is in neither split.
  */
abstract class BaseCheck(
    val dataset: String,
    val runId: String,
    val severityLevel: SeverityLevel,
    val metricName: String,
    val inputAttributes: Seq[String],
    val threshold: Double,
    val scope: Scope
) extends Serializable {

  /** D4: evaluated per instance at construction (reference bug B6 evaluates a
    * shared default at import time, `completeness_col_ratio_check.py:46`). */
  val runTs: Timestamp = new Timestamp(System.currentTimeMillis())

  def checkType: String
  def dimension: Dimension

  // --- cache wiring (injected by DQManager.addCheck, `dq_manager.py:28-30`) ---
  private var _cache: Option[CacheObject] = None
  def cacheObj: CacheObject =
    _cache.getOrElse(throw new IllegalStateException("Cache object is not set"))
  def cacheObj_=(c: CacheObject): Unit = _cache = Some(c)

  // --- df + memoization (mirrors base_check.py:43-120) ---
  private var _df: Option[DataFrame] = None
  private var _validDf: Option[DataFrame] = None
  private var _invalidDf: Option[DataFrame] = None

  def df: DataFrame =
    _df.getOrElse(throw new IllegalStateException("DataFrame is not set"))
  def df_=(d: DataFrame): Unit = _df = Some(d)

  /** Cached whole-table count, shared across checks of one manager via the
    * per-manager cache (key `"df_count"`, `base_check.py:62-68`; D3). */
  def dfCount: Long =
    cacheObj.getOrElseUpdate("df_count", df.count()).asInstanceOf[Long]

  def getValidDf(d: DataFrame): DataFrame = {
    _df = Some(d)
    _validDf match {
      case Some(v) => v
      case None =>
        val v = valid(d, inputAttributes)
        _validDf = Some(v); v
    }
  }

  def getInvalidDf(d: DataFrame): DataFrame = {
    _df = Some(d)
    _invalidDf match {
      case Some(v) => v
      case None =>
        val v = invalid(d, inputAttributes)
        _invalidDf = Some(v); v
    }
  }

  // --- column validation (`_pre_check`) ---
  /** The configured columns missing from `d`, or from another frame the
    * check holds (named `<frame>.<column>`). */
  protected def missingColumns(d: DataFrame): Seq[String] = inputAttributes.filterNot(d.columns.contains)

  /** Raises [[ColumnNotFoundException]] naming this check and the missing
    * configured columns and `cols`. */
  protected[graft] def preCheck(d: DataFrame, cols: Seq[String] = Nil): Unit = {
    val missing = (missingColumns(d) ++ cols.filterNot(d.columns.contains)).distinct
    if (missing.nonEmpty) throw new ColumnNotFoundException(
      s"Columns not found for check $metricName: ${missing.mkString("[", ", ", "]")}")
  }

  protected def scopeCol(d: DataFrame): Column = scope.toColumn(d)

  // --- the check surface ---
  def valid(d: DataFrame, cols: Seq[String]): DataFrame
  def invalid(d: DataFrame, cols: Seq[String]): DataFrame
  def valid(d: DataFrame): DataFrame = valid(d, inputAttributes)
  def invalid(d: DataFrame): DataFrame = invalid(d, inputAttributes)

  // --- metrics ---
  /** Aggregate expressions (uniquely aliased with [[aggAlias]]) whose single
    * output row, decoded by [[metricsFromRow]], yields this check's metrics.
    * Empty ⇒ the check computes metrics its own way (override
    * [[metricResults]]); such checks are skipped by the fused path and run
    * standalone. */
  def metricAggs(d: DataFrame): Seq[Column]

  /** Variant safe for `df.observe`/`CollectMetrics` (no distinct aggregates
    * allowed there; `StreamingDQ.observedMetrics`); defaults to
    * [[metricAggs]]. */
  def observableAggs(d: DataFrame): Seq[Column] = metricAggs(d)

  def metricsFromRow(row: Row): Seq[MetricResult]

  protected def aggAlias(suffix: String): String = s"${metricName}__$suffix"

  /** Eager per-check metrics job (reference shape, one aggregation pass). */
  def metricResults(d: DataFrame): Seq[MetricResult] = {
    preCheck(d)
    val aggs = metricAggs(d)
    if (aggs.isEmpty) Seq.empty
    else metricsFromRow(d.agg(aggs.head, aggs.tail: _*).head())
  }

  def metricResults(): Seq[MetricResult] = metricResults(df)

  // --- shared helpers for metric-row assembly ---
  protected def pct(v: Double): String = f"${v * 100}%.2f%%"

  /** `part / whole`, `empty` when `whole` is 0. */
  protected def ratio(part: Long, whole: Long, empty: Double = 0.0): Double =
    if (whole == 0) empty else part.toDouble / whole.toDouble

  /** The metric row of ratio `r` checked against the threshold: passing at
    * or above it, or with `atMost` at or below it (`"<what> <r> >= <t>"`). */
  protected def ratioMetric(column: String, what: String, r: Double,
      extra: Map[String, String] = Map.empty, atMost: Boolean = false): MetricResult = {
    val op = if (atMost) (if (r <= threshold) "<=" else ">") else if (r >= threshold) ">=" else "<"
    mkMetric(column, Some(r), s"$what ${pct(r)} $op ${pct(threshold)}", r, extra)
  }

  protected def baseExtra: Map[String, String] =
    Map("condition" -> scope.describe)

  protected def mkMetric(
      column: String,
      value: Option[Double],
      message: String,
      thresholdResult: Double,
      extra: Map[String, String] = Map.empty
  ): MetricResult = {
    val now = new Timestamp(System.currentTimeMillis())
    MetricResult(
      dataset = dataset,
      runId = runId,
      runTs = now,
      metricName = metricName,
      column = column,
      dimension = dimension.value,
      severityLevel = severityLevel.value,
      thresholdResult = Some(thresholdResult),
      thresholdRange = None,
      threshold = Some(threshold),
      valueDouble = value,
      valueString = Some(message),
      ingestDatetime = now,
      extraInfo = baseExtra ++ extra
    )
  }
}

/** A check's verdict on one row: `pass` keeps it in the valid split, `fail`
  * puts it in the invalid one; it may be in neither (a rule that does not
  * trigger, a row outside the scope). A null counts as false. */
final case class Verdict(pass: Column, fail: Column) {
  def within(scope: Column): Verdict = Verdict(pass && scope, fail && scope)
}

object Verdict {
  /** Pass when every column is non-null, fail when any is null. */
  def complete(cols: Seq[String]): Verdict = Verdict(
    cols.map(col(_).isNotNull).reduceOption(_ && _).getOrElse(lit(true)),
    cols.map(col(_).isNull).reduceOption(_ || _).getOrElse(lit(false)))
}

/** A check whose verdict on a row reads only that row (completeness,
  * validity, rule, freshness, drift). It states the verdict once; `valid`,
  * `invalid` and [[graft.ResultObj]]'s marked frame all read it. */
trait RowCheck extends BaseCheck {

  /** Pass and fail of a row of `d`, before the scope; `cols` are the
    * columns a completeness check tests. */
  def verdict(d: DataFrame, cols: Seq[String]): Verdict

  def scopedVerdict(d: DataFrame): Verdict = verdict(d, inputAttributes).within(scopeCol(d))

  override def valid(d: DataFrame, cols: Seq[String]): DataFrame = {
    preCheck(d, cols)
    d.filter(verdict(d, cols).pass && scopeCol(d))
  }

  override def invalid(d: DataFrame, cols: Seq[String]): DataFrame = {
    preCheck(d, cols)
    d.filter(verdict(d, cols).fail && scopeCol(d))
  }
}
