package graft.checks

import org.apache.spark.sql.{Column, DataFrame, Row}
import org.apache.spark.sql.functions._
import graft.core._

/** Distribution-drift check: compares a numeric column's distribution in the
  * checked dataset ("current") against a baseline dataset, via
  *
  *  - **PSI** (Population Stability Index) over fixed equal-width bins — the
  *    standard production drift monitor. Binning is a row-local projection,
  *    so each side is ONE partial+final hash aggregation over at most
  *    `nBins` groups; the two tiny distributions then join on `bin`
  *    (broadcast). This is the 100 TB path: no global sort, no per-value
  *    state, output size bounded by `nBins` regardless of input rows.
  *  - **exact two-sample KS statistic** (max CDF gap). Counts are
  *    pre-aggregated per distinct value (one shuffle), and the cumulative
  *    CDF sweep runs as a DISTRIBUTED [[graft.core.OrderedScan]] over the
  *    range-sorted distinct-value frame: each partition's CDF terms come
  *    from its carried prefix counts. No
  *    unpartitioned window anywhere, so a continuous `double` column
  *    whose distinct-value frame is ~row-sized still spreads across the
  *    cluster. KS needs no boundary-gap carry (each term uses only the
  *    cumulative counts through its own value), making this strictly
  *    simpler than the W₁ pass.
  *
  * Bins are `[lo + i*w, lo + (i+1)*w)` with `w = (hi-lo)/nBins`; values
  * below `lo` clamp into bin 0, values at/above `hi` into bin `nBins-1`,
  * so each side's proportions always sum to 1. Proportions are floored at
  * `eps` before the PSI log so empty bins contribute a finite term.
  *
  * No counterpart in the reference (its `Dimension` enum stops at the six
  * static dimensions, `/root/reference/src/pyspark_data_quality/core/_enums.py:11-17`);
  * drift is table stakes for a training-data pipeline, so it completes the
  * accuracy dimension the same way OutlierCheck does.
  */
final class DriftCheck(
    dataset: String,
    runId: String,
    severityLevel: SeverityLevel,
    metricName: String,
    /** numeric column present in both datasets */
    column: String,
    /** baseline (reference window) dataset */
    val baselineDf: DataFrame,
    val lo: Double,
    val hi: Double,
    val nBins: Int,
    /** max allowed PSI (industry rule of thumb: 0.1 watch, 0.2 act) */
    threshold: Double = 0.2,
    val eps: Double = 1e-6,
    scope: Scope = NoScope
) extends BaseCheck(dataset, runId, severityLevel, metricName, Seq(column), threshold, scope)
    with RowCheck {

  require(nBins > 0 && hi > lo, "need nBins > 0 and hi > lo")

  val checkType: String = "drift"
  val dimension: Dimension = Dimension.Accuracy

  private val width = (hi - lo) / nBins

  /** Clamped equal-width bin index (row-local; stays in the scan's codegen). */
  def binCol(c: Column): Column =
    least(greatest(floor((c - lo) / width), lit(0.0)), lit((nBins - 1).toDouble)).cast("bigint")

  /** `(bin, p)` proportions of non-null scoped values; at most `nBins` rows.
    * The total comes from a 1-row aggregate broadcast back over the bin
    * counts (not a global window — no single-partition exchange). */
  def binnedDist(d: DataFrame): DataFrame = {
    val vals = d.filter(scopeCol(d) && col(column).isNotNull)
    val counts = vals.groupBy(binCol(col(column)).as("bin")).agg(count(lit(1)).as("n"))
    val total = vals.agg(count(lit(1)).as("__total"))
    counts.crossJoin(broadcast(total))
      .withColumn("p", col("n") / col("__total"))
      .drop("__total")
  }

  /** Per-bin PSI terms: baseline vs current proportions (eps-floored) and
    * `(p_curr - p_base) * ln(p_curr / p_base)`. Missing bins appear with
    * p = 0 on that side. Both inputs are <= nBins rows, so the outer join
    * broadcasts; total PSI = `sum(psi_term)`. */
  def psiDf(current: DataFrame): DataFrame =
    psiVsDist(binnedDist(baselineDf), current)

  /** PSI against a PRE-COMPUTED baseline distribution (`binnedDist` output,
    * possibly persisted) — what a streaming monitor reuses every
    * micro-batch instead of re-scanning the baseline. */
  def psiVsDist(baselineDist: DataFrame, current: DataFrame): DataFrame = {
    val b = baselineDist.select(col("bin"), col("p").as("p_base"))
    val c = binnedDist(current).select(col("bin"), col("p").as("p_curr"))
    b.join(c, Seq("bin"), "full_outer")
      .select(
        col("bin"),
        coalesce(col("p_base"), lit(0.0)).as("p_base"),
        coalesce(col("p_curr"), lit(0.0)).as("p_curr"))
      .withColumn("psi_term",
        (greatest(col("p_curr"), lit(eps)) - greatest(col("p_base"), lit(eps))) *
          log(greatest(col("p_curr"), lit(eps)) / greatest(col("p_base"), lit(eps))))
  }

  def psi(current: DataFrame): Double = {
    val row = psiDf(current).agg(sum("psi_term")).head()
    if (row.isNullAt(0)) 0.0 else row.getDouble(0) // both sides empty -> no drift
  }

  /** Exact two-sample KS: one row `(ks, n_base, n_curr)`. Pre-aggregates
    * counts per distinct value, then a distributed ordered CDF sweep (see
    * class doc). Per-value gap terms are `|cna/n_base − cnb/n_curr|`
    * computed by the same double ops as the SQL-window formulation, and
    * `max` is accumulation-order-free, so the result is bit-identical to
    * the single-partition window version (spec-asserted) — same DuckDB
    * oracle. An empty side yields a null `ks` (CDF undefined), matching
    * the windowed formulation's null-propagating division guards. */
  def ksDf(current: DataFrame): DataFrame = {
    val spark = current.sparkSession
    import spark.implicits._
    val b = baselineDf.filter(scopeCol(baselineDf) && col(column).isNotNull)
      .groupBy(col(column).as("v")).agg(count(lit(1)).as("na")).withColumn("nb", lit(0L))
    val c = current.filter(scopeCol(current) && col(column).isNotNull)
      .groupBy(col(column).as("v")).agg(count(lit(1)).as("nb")).withColumn("na", lit(0L))
    val u = b.select("v", "na", "nb").unionByName(c.select("v", "na", "nb"))
      .groupBy("v").agg(sum("na").as("na"), sum("nb").as("nb"))
    // range-partitioned sort on v; the projection drops v — the sweep only
    // needs the per-value counts in sorted order
    val rdd = u.orderBy("v").select(col("na"), col("nb"))
      .queryExecution.toRdd.map(r => (r.getLong(0), r.getLong(1)))
    val add = (p: (Long, Long), q: (Long, Long)) => (p._1 + q._1, p._2 + q._2)
    OrderedScan.eager(rdd, (0L, 0L))(_.foldLeft((0L, 0L))(add))(add) { scan =>
      val (na, nb) = scan.total
      // one empty side: CDF undefined; both empty: no counts either
      val ks = if (na == 0L || nb == 0L) None else Some(scan.fold(-1.0) {
        case ((offA, offB), it) =>
          var ca = offA; var cb = offB
          var m = -1.0
          it.foreach { case (x, y) =>
            ca += x; cb += y
            val gap = math.abs(ca.toDouble / na - cb.toDouble / nb)
            if (gap > m) m = gap
          }
          m
      }(math.max))
      val counts = if (na == 0L && nb == 0L) None else Some((na, nb))
      Seq((ks, counts.map(_._1), counts.map(_._2))).toDF("ks", "n_base", "n_curr")
    }
  }

  /** Drift is a property of the distribution, not of a row: every scoped
    * row passes. */
  override def verdict(d: DataFrame, cols: Seq[String]): Verdict = Verdict(lit(true), lit(false))

  override protected def missingColumns(d: DataFrame): Seq[String] =
    super.missingColumns(d) ++ super.missingColumns(baselineDf).map("baselineDf." + _)

  override def metricAggs(d: DataFrame): Seq[Column] = Seq.empty
  override def metricsFromRow(row: Row): Seq[MetricResult] = Seq.empty

  /** Two metric rows: `<name>_psi` and `<name>_ks` (two small jobs). */
  override def metricResults(d: DataFrame): Seq[MetricResult] = {
    preCheck(d)
    val p = psi(d)
    val kRow = ksDf(d).head()
    // zero non-null values on either side -> null CDFs -> null max; report
    // 0 drift rather than NPE (an empty window has nothing to drift)
    val k = if (kRow.isNullAt(0)) 0.0 else kRow.getDouble(0)
    val okP = p <= threshold
    Seq(
      mkMetric(column, Some(p),
        s"$column PSI ${f"$p%.4f"} ${if (okP) "<=" else ">"} ${f"$threshold%.4f"}",
        thresholdResult = p,
        extra = Map("kind" -> "psi", "n_bins" -> nBins.toString,
          "lo" -> lo.toString, "hi" -> hi.toString)),
      mkMetric(column, Some(k),
        s"$column KS ${f"$k%.4f"}",
        thresholdResult = k,
        extra = Map("kind" -> "ks",
          "n_base" -> (if (kRow.isNullAt(1)) 0L else kRow.getAs[Long]("n_base")).toString,
          "n_curr" -> (if (kRow.isNullAt(2)) 0L else kRow.getAs[Long]("n_curr")).toString))
    )
  }
}
