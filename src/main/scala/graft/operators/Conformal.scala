package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

import graft.core.OrderedScan

/** Split-conformal prediction (Vovk et al.; Papadopoulos et al. 2002 —
  * the distribution-free way to turn any point predictor into a
  * coverage-guaranteed interval): take the nonconformity scores
  * (|y − ŷ| residuals) of a held-out CALIBRATION split, set
  * `q̂ = r_(k)` with `k = ⌈(n_cal + 1)(1 − α)⌉`, and predict
  * `ŷ ± q̂` — on exchangeable data the test-set coverage is ≥ 1 − α by
  * construction, whatever the model. */
object Conformal {

  /** One-row conformal audit `(n_cal, n_test, qhat, coverage)`:
    * the conformal quantile from the `isCalib` slice and the achieved
    * coverage `P[resid ≤ q̂]` on the rest.
    *
    * Scale shape: `q̂` is a single exact order statistic — distributed
    * sort + rank selection on the calibration slice (the
    * [[Profiler.exactPercentiles]] shape: only the one boundary row
    * leaves the executors, never the data); the coverage pass is one
    * map-side-combined aggregate. Determinism: `q̂` is a selected data
    * value (no interpolation), so the DuckDB oracle's
    * `ORDER BY … LIMIT 1 OFFSET k−1` reproduces it exactly. */
  def splitConformal(df: DataFrame, residCol: String, isCalib: Column,
      alpha: Double = 0.1): DataFrame = {
    require(alpha > 0 && alpha < 1, "alpha must be in (0, 1)")
    // ONE pass over the source: the residual/split columns (often
    // per-row hashes, like the gated query's md5 split) feed the
    // calibration count, the sort and the coverage, so the projected
    // two-column frame is cached; the calibration count comes from the
    // scan's partition sizes, not a separate count job
    val r = df.select(col(residCol).cast("double").as("__r"),
        isCalib.cast("boolean").as("__cal"))
      .filter(col("__r").isNotNull && col("__cal").isNotNull)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    try {
      val sorted = r.filter(col("__cal")).select("__r")
        .orderBy("__r").queryExecution.toRdd
        .map(_.getDouble(0))
      // rank selection: the prefix counts values, so only the partition
      // holding the k-th value is read, from the count below it
      val sizeOf = (it: Iterator[Double]) => it.foldLeft(0L)((n, _) => n + 1)
      val (nCal, qhat) = OrderedScan.eager(sorted, 0L)(sizeOf)(_ + _) { scan =>
        val nCal = scan.total
        require(nCal > 0, "empty calibration split")
        val k = math.min(nCal, math.ceil((nCal + 1) * (1.0 - alpha)).toLong)
        (nCal, scan.find(_ > k - 1) { (below, it) =>
          // a long offset: one partition can hold over Int.MaxValue values
          var i = k - 1 - below
          while (i > 0) { it.next(); i -= 1 }
          it.next()
        }.get)
      }
      r.filter(!col("__cal"))
        .agg(count(lit(1)).as("n_test"),
          sum(when(col("__r") <= qhat, 1L).otherwise(0L)).as("__cov"))
        .select(lit(nCal).as("n_cal"), col("n_test"),
          round(lit(qhat), 6).as("qhat"),
          round(col("__cov").cast("double") / col("n_test"), 6).as("coverage"))
        .transform(graft.core.Checkpoints.truncate)
    } finally r.unpersist(false)
  }
}
