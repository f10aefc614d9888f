package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{BoundReference, Coalesce, GenericInternalRow,
  JoinedRow, UnsafeProjection}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.core.OrderedScan

/** Time-series regularization: turn an event-keyed frame into a dense,
  * fixed-step series — the resample step every downstream forecast/anomaly
  * model assumes.
  *
  * The dense axis is built from the observed [min, max] period bounds (one
  * tiny aggregate + `sequence` explode — no driver round-trip, no
  * `generate_series` table function), so the plan stays a pure DataFrame
  * graph. The keyed fills are last-observation-carried-forward via
  * `last(ignoreNulls)` over a running frame — one window pass, no
  * self-joins, and per-key ordering means the window streams each key's
  * rows once; the single global series runs as an ordered scan instead
  * ([[resampleLocf]]).
  */
object TimeSeries {

  /** Dense per-period frame over `[min(periodCol), max(periodCol)]` with
    * step 1, left-joined with the observed rows; missing periods carry
    * null `valueCols`. Input must have ≤1 row per period (aggregate
    * first). */
  def densify(df: DataFrame, periodCol: String): DataFrame = {
    val bounds = df.agg(min(col(periodCol)).as("__lo"), max(col(periodCol)).as("__hi"))
    val axis = bounds
      .select(explode(sequence(col("__lo"), col("__hi"))).as(periodCol))
    axis.join(df, Seq(periodCol), "left")
  }

  /** [[densify]] + LOCF: gaps are filled with the most recent observed
    * value of each `valueCols` entry, and `filled` flags synthesized rows.
    * Leading gaps (before the first observation) stay null.
    *
    * DISTRIBUTED ordered pass (no unpartitioned window): the dense axis
    * is range-sorted on the period and LOCF runs as a
    * [[graft.core.OrderedScan]] whose summary is each partition's last
    * non-null per value column — exactly the global window's
    * `last(ignoreNulls)` at the partition boundary, so the result is
    * bit-identical to the windowed formulation for any range split. Both
    * sweeps read the internal rows; a carried value is copied out of the
    * scan's reused row buffer, which strings and other variable-length
    * values point into. Single global series by contract (≤1 row per
    * period); for many series use [[resampleLocfByKey]] — one keyed
    * shuffle, every key streamed independently. */
  def resampleLocf(df: DataFrame, periodCol: String,
      valueCols: Seq[String]): DataFrame = {
    val dense = densify(df, periodCol)
      .withColumn("filled", col(valueCols.head).isNull)
    val sorted = dense.repartitionByRange(col(periodCol))
      .sortWithinPartitions(periodCol)
    val schema = sorted.schema
    val vIdx = valueCols.map(schema.fieldIndex).toArray
    val vTypes = vIdx.map(schema(_).dataType)
    val observe = (last: Array[Any], r: InternalRow) => {
      var k = 0
      while (k < vIdx.length) {
        if (!r.isNullAt(vIdx(k))) last(k) = InternalRow.copyValue(r.get(vIdx(k), vTypes(k)))
        k += 1
      }
    }
    val scan = OrderedScan(sorted.queryExecution.toRdd, new Array[Any](vIdx.length)) { it =>
      val last = new Array[Any](vIdx.length)
      it.foreach(observe(last, _))
      last
    }((a, b) => Array.tabulate(a.length)(k => if (b(k) != null) b(k) else a(k)))
    // each value column coalesced with the carry, which sits after the row
    val fill = schema.fields.indices.map { i =>
      val ref = BoundReference(i, schema(i).dataType, schema(i).nullable)
      val k = vIdx.indexOf(i)
      if (k < 0) ref
      else Coalesce(Seq(ref, BoundReference(schema.length + k, vTypes(k), nullable = true)))
    }
    val out = scan.map { (carry, it) =>
      val last = carry.clone()
      val state = new GenericInternalRow(last)
      val joined = new JoinedRow
      val proj = UnsafeProjection.create(fill)
      it.map { r =>
        val o = proj(joined(r, state))
        observe(last, r)
        o: InternalRow
      }
    }
    org.apache.spark.sql.graft.Bridge.internalCreateDataFrame(df.sparkSession, out, schema)
  }

  /** Per-key variant of [[resampleLocf]]: the dense axis spans each key's
    * own observed bounds, and the LOCF window is partitioned by key (the
    * scale shape — one keyed shuffle, each key's series streamed once). */
  def resampleLocfByKey(df: DataFrame, keyCol: String, periodCol: String,
      valueCols: Seq[String]): DataFrame = {
    val bounds = df.groupBy(col(keyCol))
      .agg(min(col(periodCol)).as("__lo"), max(col(periodCol)).as("__hi"))
    val axis = bounds.select(col(keyCol),
      explode(sequence(col("__lo"), col("__hi"))).as(periodCol))
    val dense = axis.join(df, Seq(keyCol, periodCol), "left")
      .withColumn("filled", col(valueCols.head).isNull)
    val w = Window.partitionBy(keyCol).orderBy(periodCol)
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    valueCols.foldLeft(dense) { (d, v) =>
      d.withColumn(v, last(col(v), ignoreNulls = true).over(w))
    }
  }

  /** Per-key densify + LINEAR interpolation — the smooth-fill twin of
    * [[resampleLocfByKey]]: each synthesized period gets the straight
    * line between its surrounding observations,
    * `prev + (next − prev)·(t − t_prev)/(t_next − t_prev)`. Two window
    * passes over the densified frame (running `last` backward-fill state
    * and a mirrored `first` forward scan — no self-joins); leading and
    * trailing gaps (no observation on one side) stay null, `filled`
    * flags synthesized rows. The interpolation weights are exact integer
    * period differences, so the fill is deterministic. */
  def resampleLinearByKey(df: DataFrame, keyCol: String, periodCol: String,
      valueCol: String): DataFrame = {
    val bounds = df.groupBy(col(keyCol))
      .agg(min(col(periodCol)).as("__lo"), max(col(periodCol)).as("__hi"))
    val axis = bounds.select(col(keyCol),
      explode(sequence(col("__lo"), col("__hi"))).as(periodCol))
    val dense = axis.join(df, Seq(keyCol, periodCol), "left")
      .withColumn("filled", col(valueCol).isNull)
    val back = Window.partitionBy(keyCol).orderBy(periodCol)
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val fwd = Window.partitionBy(keyCol).orderBy(periodCol)
      .rowsBetween(Window.currentRow, Window.unboundedFollowing)
    val obsPeriod = when(col(valueCol).isNotNull, col(periodCol))
    val withEnds = dense
      .withColumn("__pv", last(col(valueCol), ignoreNulls = true).over(back))
      .withColumn("__pp", last(obsPeriod, ignoreNulls = true).over(back))
      .withColumn("__nv", first(col(valueCol), ignoreNulls = true).over(fwd))
      .withColumn("__np", first(obsPeriod, ignoreNulls = true).over(fwd))
    withEnds
      .withColumn(valueCol,
        when(!col("filled"), col(valueCol))
          .when(col("__pv").isNotNull && col("__nv").isNotNull,
            col("__pv") + (col("__nv") - col("__pv")) *
              (col(periodCol) - col("__pp")).cast("double") /
              (col("__np") - col("__pp")).cast("double")))
      .drop("__pv", "__pp", "__nv", "__np")
  }

  /** Normalized exponentially weighted moving average per key (pandas
    * `ewm(adjust=True)` convention): `ewma_t = Σ_{i≤t} r^{t-i} x_i /
    * Σ_{i≤t} r^{t-i}` with `r = 1-alpha` — no init bias, and the closed
    * form needs NO recursion: both sums are running cumsums of
    * `x_i·r^{-i}` and `r^{-i}` (the `r^t` factors cancel in the ratio),
    * so the whole smoother is ONE keyed window pass, each key's series
    * streamed once.
    *
    * Numeric envelope: the intermediate `r^{-i}` grows with the row index
    * inside a key, overflowing doubles past ~`709/(-ln r)` rows per key
    * (α=0.5 → ~1024, α=0.1 → ~6700). Within the envelope the arithmetic
    * is IEEE-deterministic (ordered cumsum). For unbounded per-key series
    * use the streaming twin [[graft.streaming.ControlCharts]] — O(1)
    * recursive state, no length bound. */
  def ewma(df: DataFrame, keyCol: String, orderCols: Seq[Column],
      valueCol: String, alpha: Double): DataFrame = {
    require(alpha > 0 && alpha < 1, "alpha must be in (0,1)")
    val r = 1.0 - alpha
    val w = Window.partitionBy(keyCol).orderBy(orderCols: _*)
    val run = w.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    df.withColumn("__rn", row_number().over(w))
      .withColumn("__w", pow(lit(r), -col("__rn")))
      .withColumn("ewma",
        sum(col(valueCol) * col("__w")).over(run) / sum(col("__w")).over(run))
      .drop("__rn", "__w")
  }

  /** Two-sided CUSUM control chart per key (Page's cumulative-sum drift
    * detector): `S⁺_t = max(0, S⁺_{t-1} + x_t − target − slack)` flags
    * upward mean shifts, `S⁻_t` symmetrically downward; `alarm` when
    * either exceeds `h`. The recursion has a closed form — with
    * `C_t = Σ_{i≤t} (x_i − target − slack)`, `S⁺_t = C_t − min(0,
    * min_{j≤t} C_j)` (and mirrored for `S⁻`) — so the whole detector is
    * running sums + running min/max in ONE keyed window pass: exact,
    * partition-order independent, no iteration. */
  def cusum(df: DataFrame, keyCol: String, orderCols: Seq[Column],
      valueCol: String, target: Double, slack: Double, h: Double): DataFrame = {
    val w = Window.partitionBy(keyCol).orderBy(orderCols: _*)
    val run = w.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val x = col(valueCol)
    df.withColumn("__cp", sum(x - lit(target + slack)).over(run))
      .withColumn("__cn", sum(x - lit(target - slack)).over(run))
      .withColumn("s_pos", col("__cp") - least(lit(0.0), min(col("__cp")).over(run)))
      .withColumn("s_neg", greatest(lit(0.0), max(col("__cn")).over(run)) - col("__cn"))
      .withColumn("alarm", col("s_pos") > h || col("s_neg") > h)
      .drop("__cp", "__cn")
  }

  /** Time-weighted average per key (TWAP): each observation holds until
    * the next one, so the average weights every value by its holding
    * duration — the honest mean for irregularly sampled series, where
    * the row-mean over-weights chatty periods. One lead window + one
    * keyed aggregation; with integral timestamps and an integral
    * `valueCol` every `value·Δt` term is an exact long, making the
    * statistic bit-deterministic. The last observation (no successor)
    * carries zero duration and is excluded. Keys with <2 rows are
    * dropped. */
  def twap(df: DataFrame, keyCol: String, tsCol: String,
      valueCol: String): DataFrame = {
    // fail fast instead of silently truncating a fractional value column:
    // the exact-long value·Δt accumulation is only valid for integral
    // inputs (pre-scale decimals to cents upstream)
    val vt = df.schema(valueCol).dataType
    require(vt match {
      case _: org.apache.spark.sql.types.ByteType | _: org.apache.spark.sql.types.ShortType |
           _: org.apache.spark.sql.types.IntegerType | _: org.apache.spark.sql.types.LongType => true
      case _ => false
    }, s"twap: valueCol '$valueCol' must be integral (got $vt); " +
      "pre-scale fractional values to integers (e.g. cents) upstream")
    val w = Window.partitionBy(keyCol).orderBy(tsCol)
    val stepped = df
      .withColumn("__nt", org.apache.spark.sql.functions.lead(col(tsCol), 1).over(w))
      .filter(col("__nt").isNotNull)
      .withColumn("__dt", (col("__nt") - col(tsCol)).cast("long"))
    stepped.groupBy(col(keyCol))
      .agg(count(lit(1)).as("n_steps"),
        sum("__dt").as("total_dt"),
        (sum(col(valueCol).cast("long") * col("__dt")).cast("double") /
          sum("__dt")).as("twap"))
  }

  /** OHLC downsampling: per (key, period) candle — open/close = the
    * first/last value in time order (deterministic `min_by`/`max_by` on
    * the timestamp, tie-broken upstream by unique ts), high/low =
    * extremes, plus the observation count. ONE hash aggregation with
    * map-side partials — no window sort, the canonical at-scale shape
    * for bar-building. */
  def ohlc(df: DataFrame, keyCol: String, tsCol: String, valueCol: String,
      periodLen: Long): DataFrame = {
    require(periodLen > 0)
    val v = col(valueCol)
    df.withColumn("__period", (col(tsCol) - pmod(col(tsCol), lit(periodLen))).cast("long"))
      .groupBy(col(keyCol), col("__period").as("period"))
      .agg(min_by(v, col(tsCol)).as("open"), max(v).as("high"),
        min(v).as("low"), max_by(v, col(tsCol)).as("close"),
        count(lit(1)).as("n_obs"))
  }

  /** Lag-`k` autocorrelation per key: the Pearson correlation of
    * `(x_t, x_{t−k})` pairs in `orderCols` order — the "is this series
    * momentum or noise" statistic. One lag window + one keyed
    * aggregation; with an integral `valueCol` (pre-scale decimals to
    * cents) every co-moment sum is an exact long, and the final
    * correlation derives from those integers by a fixed sequence of
    * double ops — bit-deterministic in any engine. Keys with < 2 pairs
    * or zero variance on either side yield null `acf`. */
  def autocorr(df: DataFrame, keyCol: String, orderCols: Seq[Column],
      valueCol: String, lag: Int = 1): DataFrame = {
    require(lag >= 1)
    val w = Window.partitionBy(keyCol).orderBy(orderCols: _*)
    val paired = df
      .withColumn("__x", col(valueCol).cast("long"))
      .withColumn("__y", org.apache.spark.sql.functions.lag(col("__x"), lag).over(w))
      .filter(col("__y").isNotNull)
    val agged = paired.groupBy(col(keyCol)).agg(
      count(lit(1)).as("n_pairs"),
      sum(col("__x")).as("__sx"), sum(col("__y")).as("__sy"),
      sum(col("__x") * col("__x")).as("__sxx"),
      sum(col("__y") * col("__y")).as("__syy"),
      sum(col("__x") * col("__y")).as("__sxy"))
    val n = col("n_pairs")
    val num = (n * col("__sxy") - col("__sx") * col("__sy")).cast("double")
    val dx = (n * col("__sxx") - col("__sx") * col("__sx")).cast("double")
    val dy = (n * col("__syy") - col("__sy") * col("__sy")).cast("double")
    agged.select(col(keyCol), n,
      when(n > 1 && dx > 0 && dy > 0, num / sqrt(dx * dy)).as("acf"))
  }

  /** Best single changepoint per key: the split `t` (after the t-th row in
    * `orderCols` order) maximizing the between-segment sum-of-squares gain
    * `P_t²/t + (T−P_t)²/(n−t) − T²/n` — the k=2 step of least-squares
    * segmentation / binary-splitting changepoint detection, computed for
    * EVERY candidate split from one prefix-sum window pass (no per-split
    * re-aggregation). Ties break to the smallest `t`.
    *
    * `valueCol` must be integral (cast or pre-scale decimals): prefix sums
    * then stay exact under any accumulation order, and the gain doubles
    * derive from exact integers — bit-reproducible across engines, so the
    * argmax row is deterministic. Output: key, `split_at` (t), `n`,
    * `gain`, `mean_left`, `mean_right`. Keys with <2 rows are dropped
    * (no interior split exists). */
  def changepoint(df: DataFrame, keyCol: String, orderCols: Seq[Column],
      valueCol: String): DataFrame = {
    val w = Window.partitionBy(keyCol).orderBy(orderCols: _*)
    val run = w.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    // no orderBy -> default frame is the whole partition
    val all = Window.partitionBy(keyCol)
    val t = col("__t").cast("double")
    val n = col("__n").cast("double")
    val p = col("__p").cast("double")
    val tt = col("__tt").cast("double")
    val gain = p * p / t + (tt - p) * (tt - p) / (n - t) - tt * tt / n
    val scored = df
      .withColumn("__t", row_number().over(w))
      .withColumn("__p", sum(col(valueCol).cast("bigint")).over(run))
      .withColumn("__n", count(lit(1)).over(all))
      .withColumn("__tt", sum(col(valueCol).cast("bigint")).over(all))
      .filter(col("__t") < col("__n"))
      .select(col(keyCol), col("__t"), col("__n"), gain.as("__gain"),
        (p / t).as("__ml"), ((tt - p) / (n - t)).as("__mr"))
    val pick = Window.partitionBy(keyCol)
      .orderBy(col("__gain").desc, col("__t").asc)
    scored.withColumn("__rk", row_number().over(pick))
      .filter(col("__rk") === 1)
      .select(col(keyCol), col("__t").as("split_at"), col("__n").as("n"),
        col("__gain").as("gain"), col("__ml").as("mean_left"),
        col("__mr").as("mean_right"))
  }

  /** Forecast-accuracy scorecard for the SEASONAL-NAIVE baseline
    * (Hyndman & Koehler 2006): forecast(t) = actual(t − season), scored
    * over every period with a lag available.
    *
    *  - `mae`   = mean |e_t|  (exact integer error sums ÷ n),
    *  - `smape` = mean 2|e_t| / (|f_t| + |a_t|)  (the symmetric
    *    percentage error; per-row double, micro-quantized to a long
    *    before the sum — merge-order-proof),
    *  - `mase`  = MAE / MAE_naive1 — scaled by the one-step naive
    *    baseline, the scale-free score that survives unit changes.
    *
    * Input is an already-aggregated per-period frame (`periodCol`
    * totally ordered, `valCol` exact long counts/cents), so the lag
    * window runs on the PERIOD axis — bounded by the calendar, not the
    * data; at 100 TB the upstream aggregation is the only corpus-sized
    * step. Returns one row `(n_scored, mae, smape, mase)`. */
  def seasonalNaiveEval(daily: DataFrame, periodCol: String, valCol: String,
      season: Int): DataFrame = {
    require(season >= 1, s"season=$season")
    import org.apache.spark.sql.expressions.Window
    val w = Window.orderBy("__p")
    val base = daily.select(col(periodCol).as("__p"), col(valCol).cast("long").as("__a"))
    val lagged = base
      .withColumn("__f", lag(col("__a"), season).over(w))
      .withColumn("__n1", lag(col("__a"), 1).over(w))
      .filter(col("__f").isNotNull && col("__n1").isNotNull)
    val err = abs(col("__a") - col("__f"))
    val smapeQ = floor(lit(2.0) * err.cast("double")
      / (abs(col("__f")).cast("double") + abs(col("__a")).cast("double"))
      * lit(1e6) + lit(0.5))
    val agg = lagged.agg(
      count(lit(1)).as("n_scored"),
      sum(err).as("__sae"),
      sum(when(abs(col("__f")) + abs(col("__a")) > 0, smapeQ).otherwise(lit(0L)))
        .as("__ssm"),
      sum(abs(col("__a") - col("__n1"))).as("__sn1"))
    agg.select(col("n_scored"),
      (col("__sae").cast("double") / col("n_scored")).as("mae"),
      (col("__ssm").cast("double") / lit(1e6) / col("n_scored")).as("smape"),
      ((col("__sae").cast("double") / col("n_scored"))
        / (col("__sn1").cast("double") / col("n_scored"))).as("mase"))
  }

  /** Global-series autocorrelation + Ljung–Box portmanteau over an
    * integer-keyed series of exact long values — the "is there ANY serial
    * structure" test run before fitting a forecaster (the whole-series
    * complement to the per-key lag-1 [[autocorr]]).
    *
    * Exactness: with `y_t = n·x_t − S` (all longs), `ρ_k = Σ y_t·y_{t+k}
    * / Σ y_t²` — the n² scaling cancels, so both sums are exact
    * decimal(38,0) integers and the single division is pinned (decimal →
    * double conversion is correctly rounded in both engines). The
    * Ljung–Box terms `ρ_k²/(n−k)` are pico-quantized to longs before the
    * cumulative sum, so `Q(k) = n(n+2)·Σ_{j≤k}` is order-proof. Pairs
    * exist where BOTH keys are present (a documented contract on gappy
    * axes); the lag fan-out is a constant literal explode and every
    * corpus-sized step is one keyed aggregation.
    * Returns `(lag, n_pairs, rho, lb_q)`. */
  def ljungBox(daily: DataFrame, keyCol: String, valCol: String,
      maxLag: Int): DataFrame = {
    require(maxLag >= 1 && maxLag <= 64, "ljungBox: maxLag in [1, 64]")
    val (byLag, den) = acfExactFrames(daily, keyCol, valCol, maxLag)
    val rho = col("__num").cast("double") / col("__den").cast("double")
    val termQ = floor(rho * rho / (col("__n") - col("lag")).cast("double")
      * lit(1e12) + lit(0.5)).cast("long")
    val w = org.apache.spark.sql.expressions.Window.orderBy("lag")
      .rowsBetween(org.apache.spark.sql.expressions.Window.unboundedPreceding,
        org.apache.spark.sql.expressions.Window.currentRow)
    byLag.crossJoin(broadcast(den))
      .withColumn("__tq", termQ)
      .withColumn("__cq", sum("__tq").over(w))
      .select(col("lag"), col("n_pairs"), rho.as("rho"),
        ((col("__n") * (col("__n") + 2)).cast("double") *
          (col("__cq").cast("double") / lit(1e12))).as("lb_q"))
  }

  /** Shared exact-ACF machinery for [[ljungBox]] and [[pacf]]: with
    * `y_t = n·x_t − S` (exact longs — the n² scaling cancels in every
    * ratio), returns (`byLag` = per-lag `(lag, n_pairs, __num)` exact
    * decimal lagged products, `den` = one row `(__den, __n)` exact decimal
    * energy). Two keyed aggregations over the bounded series frame. */
  private def acfExactFrames(daily: DataFrame, keyCol: String,
      valCol: String, maxLag: Int): (DataFrame, DataFrame) = {
    val base = daily.select(col(keyCol).cast("long").as("__k"),
      col(valCol).cast("long").as("__x"))
    val tot = base.agg(count(lit(1)).as("__n"), sum("__x").as("__s"))
    val y = base.crossJoin(broadcast(tot))
      .select(col("__k"), (col("__x") * col("__n") - col("__s")).as("__y"),
        col("__n"))
    val den = y.agg(
      sum(col("__y").cast("decimal(19,0)") * col("__y").cast("decimal(19,0)"))
        .as("__den"),
      max("__n").as("__n"))
    val lags = explode(array((1 to maxLag).map(l => lit(l)): _*)).as("lag")
    val pairs = y.select(col("__k"), col("__y"), lags)
      .join(y.select(col("__k").as("__k2"), col("__y").as("__y2")),
        col("__k2") === col("__k") + col("lag"))
    val byLag = pairs.groupBy("lag").agg(
      count(lit(1)).as("n_pairs"),
      sum(col("__y").cast("decimal(19,0)") * col("__y2").cast("decimal(19,0)"))
        .as("__num"))
    (byLag, den)
  }

  /** Partial autocorrelation function via the Durbin–Levinson recursion —
    * the AR-order identifier that completes the Box–Jenkins trio
    * (ACF = [[ljungBox]]'s rho, PACF here). The ρ inputs are the same
    * exact-integer ratios as [[ljungBox]]; the recursion itself runs on
    * the driver over ≤ `maxLag` values with a FIXED operation order
    * (left-associated ascending-j sums, one division per level), and the
    * oracle replays the identical tree via generated CTEs
    * ([[durbinLevinsonSqlCtes]]) — deterministic by construction, no
    * quantization needed because both engines execute the same IEEE ops
    * on the same inputs. Returns `(lag, pacf)`. */
  def pacf(daily: DataFrame, keyCol: String, valCol: String,
      maxLag: Int): DataFrame = {
    require(maxLag >= 1 && maxLag <= 16, "pacf: maxLag in [1, 16]")
    val spark = daily.sparkSession
    import spark.implicits._
    val (byLag, den) = acfExactFrames(daily, keyCol, valCol, maxLag)
    val denD = den.collect().head.getDecimal(0).doubleValue
    val nums = byLag.collect()
      .map(r => r.getInt(0) -> r.getDecimal(2).doubleValue).toMap
    require(nums.size == maxLag,
      s"pacf: series too short/gappy — only ${nums.size} of $maxLag lags present")
    val rho = (1 to maxLag).map(k => k -> nums(k) / denD).toMap
    var phi = Array(rho(1))
    val out = scala.collection.mutable.ArrayBuffer((1, rho(1)))
    for (k <- 2 to maxLag) {
      val s = (1 until k).map(j => phi(j - 1) * rho(k - j)).reduceLeft(_ + _)
      val t = (1 until k).map(j => phi(j - 1) * rho(j)).reduceLeft(_ + _)
      val fkk = (rho(k) - s) / (1.0 - t)
      phi = Array.tabulate(k)(i =>
        if (i == k - 1) fkk else phi(i) - fkk * phi(k - 2 - i))
      out += ((k, fkk))
    }
    out.toSeq.toDF("lag", "pacf")
  }

  /** The DuckDB mirror of [[pacf]]'s recursion: CTE pairs `dl{k}a/dl{k}`
    * replaying the identical left-associated sums, division, and φ
    * updates over a relation `rhoRel(lag, rho)`. The final CTE chain ends
    * at `dl{m}`; each level's `f{k}_{k}` is that lag's PACF. */
  def durbinLevinsonSqlCtes(m: Int, rhoRel: String): String = {
    require(m >= 1 && m <= 16)
    def r(j: Int) = s"(SELECT rho FROM $rhoRel WHERE lag = $j)"
    val parts = Seq.newBuilder[String]
    parts += s"dl1 AS (SELECT ${r(1)} AS f1_1)"
    var prev = "dl1"
    for (k <- 2 to m) {
      val sTerms = (1 until k).map(j => s"f${k - 1}_$j * ${r(k - j)}").mkString(" + ")
      val tTerms = (1 until k).map(j => s"f${k - 1}_$j * ${r(j)}").mkString(" + ")
      parts += s"dl${k}a AS (SELECT *, (${r(k)} - ($sTerms)) / (1.0 - ($tTerms)) AS f${k}_$k FROM $prev)"
      val updates = (1 until k)
        .map(j => s"f${k - 1}_$j - f${k}_$k * f${k - 1}_${k - j} AS f${k}_$j")
        .mkString(", ")
      parts += s"dl$k AS (SELECT f${k}_$k, $updates FROM dl${k}a)"
      prev = s"dl$k"
    }
    parts.result().mkString(",\n")
  }

  /** Periodogram power at fixed candidate periods — "is there a weekly /
    * monthly cycle" read directly off the DFT bin: for period `p`,
    * `power = (Σ y_t·cos(2πt/p))² + (Σ y_t·sin(2πt/p))²`, reported
    * relative to the series energy `Σ y_t²` (mean removed exactly via the
    * same `y = n·x − S` integer scaling as [[ljungBox]]).
    *
    * Trig values never touch libm at query time: each period's `p`
    * cos/sin values are computed ONCE at plan time and embedded as
    * shortest-round-trip double literals — both engines parse the
    * identical bits (the SPRT log-constant discipline). Per-term products
    * are milli-quantized to longs and summed as exact decimals, so each
    * DFT coefficient is accumulation-order-proof; the close is one pinned
    * double expression per period. One keyed aggregation per period over
    * the bounded daily frame. Returns `(period, n, power_ratio)`. */
  def periodogram(daily: DataFrame, keyCol: String, valCol: String,
      periods: Seq[Int]): DataFrame = {
    require(periods.nonEmpty && periods.forall(p => p >= 2 && p <= 512),
      "periodogram: periods in [2, 512]")
    require(periods.distinct.size == periods.size, "duplicate periods")
    val base = daily.select(col(keyCol).cast("long").as("__k"),
      col(valCol).cast("long").as("__x"))
    val tot = base.agg(count(lit(1)).as("__n"), sum("__x").as("__s"))
    val y = base.crossJoin(broadcast(tot))
      .select(col("__k"), (col("__x") * col("__n") - col("__s")).as("__y"))
    val den = y.agg(
      sum(col("__y").cast("decimal(19,0)") * col("__y").cast("decimal(19,0)"))
        .as("__den"),
      count(lit(1)).as("n"))
    val parts = periods.map { p =>
      val cosA = array((0 until p).map(k =>
        lit(math.cos(2.0 * math.Pi * k / p))): _*)
      val sinA = array((0 until p).map(k =>
        lit(math.sin(2.0 * math.Pi * k / p))): _*)
      val idx = (col("__k") % p).cast("int") + 1
      y.select(lit(p).as("period"),
          floor(col("__y") * element_at(cosA, idx) * lit(1e3) + lit(0.5))
            .cast("long").as("__tc"),
          floor(col("__y") * element_at(sinA, idx) * lit(1e3) + lit(0.5))
            .cast("long").as("__ts"))
        .groupBy("period")
        .agg(sum(col("__tc").cast("decimal(38,0)")).as("__sc"),
          sum(col("__ts").cast("decimal(38,0)")).as("__ss"))
    }
    val a = col("__sc").cast("double") / lit(1e3)
    val b = col("__ss").cast("double") / lit(1e3)
    parts.reduce(_ unionByName _)
      .crossJoin(broadcast(den))
      .select(col("period"), col("n"),
        ((a * a + b * b) / col("__den").cast("double")).as("power_ratio"))
  }

  /** The DuckDB mirror of [[periodogram]]'s trig tables: a CASE expression
    * over `residExpr` (the day-key mod `p`) whose arms carry the IDENTICAL
    * shortest-round-trip literals the Spark plan embeds. */
  def trigSqlCase(residExpr: String, p: Int, sin: Boolean): String = {
    val arms = (0 until p).map { k =>
      val v = if (sin) math.sin(2.0 * math.Pi * k / p)
              else math.cos(2.0 * math.Pi * k / p)
      s"WHEN $k THEN ${v}"
    }.mkString(" ")
    s"CASE $residExpr $arms END"
  }

  /** Lagged cross-correlation between two integer-keyed series — the
    * lead/lag detector ("do errors spike k days before revenue drops?").
    * For each lag in `−maxLag..maxLag`, Pearson r between `x(k)` and
    * `y(k + lag)` over the keys where both exist.
    *
    * Scale shape: each series is already one aggregated row per key; the
    * lag fan-out is a constant-size literal explode and the per-lag sums
    * are ONE keyed aggregation. Determinism: all five sums are exact
    * longs; the closing Pearson algebra runs on those exact values through
    * a fixed double tree (IEEE sqrt is correctly rounded, so it is
    * bit-identical across engines — unlike libm ln). Lags with fewer than
    * 2 paired keys or zero variance return null r (both engines alike).
    * Returns `(lag, n_pairs, xcorr)`. */
  def crossCorrelation(xs: DataFrame, ys: DataFrame, keyCol: String,
      xCol: String, yCol: String, maxLag: Int): DataFrame = {
    require(maxLag >= 0 && maxLag <= 64, "crossCorrelation: maxLag in [0, 64]")
    val lags = array((-maxLag to maxLag).map(l => lit(l)): _*)
    val xl = xs.select(col(keyCol).cast("long").as("__k"),
        col(xCol).cast("long").as("__x"))
      .select(col("__k"), col("__x"), explode(lags).as("lag"))
    val yl = ys.select(col(keyCol).cast("long").as("__yk"),
      col(yCol).cast("long").as("__y"))
    val j = xl.join(yl, col("__yk") === col("__k") + col("lag"))
    val g = j.groupBy("lag").agg(
      count(lit(1)).as("n_pairs"),
      sum("__x").as("__sx"), sum("__y").as("__sy"),
      sum(col("__x") * col("__x")).as("__sxx"),
      sum(col("__y") * col("__y")).as("__syy"),
      sum(col("__x") * col("__y")).as("__sxy"))
    val n = col("n_pairs").cast("double")
    val num = n * col("__sxy").cast("double") -
      col("__sx").cast("double") * col("__sy").cast("double")
    val vx = n * col("__sxx").cast("double") -
      col("__sx").cast("double") * col("__sx").cast("double")
    val vy = n * col("__syy").cast("double") -
      col("__sy").cast("double") * col("__sy").cast("double")
    g.select(col("lag"), col("n_pairs"),
      when(col("n_pairs") >= 2 && vx > 0.0 && vy > 0.0,
        num / (sqrt(vx) * sqrt(vy))).as("xcorr"))
  }

  /** Holt's linear-trend (double exponential) smoothing per key, plus an
    * `horizon`-step-ahead forecast — the workhorse short-range forecaster
    * for per-source volume planning. State init `(level, trend) =
    * (y₁, 0)`; each subsequent observation folds
    * `level' = α·y + (1−α)·(level + trend)`,
    * `trend' = β·(level' − level) + (1−β)·trend`,
    * and the forecast is `level + h·trend`.
    *
    * The recursion is inherently sequential PER KEY, so it runs as one
    * `aggregate` higher-order fold over the key's order-sorted series —
    * the same per-key-bounded shape as this file's window ops: the
    * shuffle is the keyed pre-aggregation the caller already owns, the
    * fold is O(series length) inside one task, and nothing iterates on
    * the driver. Requires series bounded per key (e.g. daily grains —
    * thousands of points), NOT unbounded event streams. The α/β
    * complements are written as `(1.0 − α)` INSIDE the expression, not
    * pre-folded in Scala, so an oracle spelling the same literal
    * arithmetic reproduces every IEEE step bit-exactly.
    *
    * Returns `(key, n_points, level, trend, forecast)` with the three
    * doubles rounded to 6 dp for engine comparability. */
  def holtLinear(df: DataFrame, keyCol: String, orderCol: String,
      valueCol: String, alpha: Double, beta: Double,
      horizon: Int): DataFrame = {
    require(alpha > 0 && alpha < 1, "alpha must be in (0,1)")
    require(beta > 0 && beta < 1, "beta must be in (0,1)")
    require(horizon >= 0, "horizon must be >= 0")
    val series = df.groupBy(col(keyCol))
      .agg(sort_array(collect_list(struct(
        col(orderCol).as("o"), col(valueCol).cast("double").as("y")))).as("__s"))
    val lvl = s"($alpha * x.y + (1.0d - $alpha) * (acc.l + acc.t))"
    val st = series.withColumn("__st", expr(
      s"""aggregate(slice(__s, 2, greatest(size(__s) - 1, 0)),
         |named_struct('l', __s[0].y, 't', cast(0.0d as double)),
         |(acc, x) -> named_struct(
         |  'l', $lvl,
         |  't', $beta * ($lvl - acc.l) + (1.0d - $beta) * acc.t))""".stripMargin))
    // engine-deterministic rounding (floor(x·1e6 + 0.5)/1e6 — single IEEE
    // op sequence, same on any engine, unlike HALF_UP for negatives)
    def r6(c: org.apache.spark.sql.Column) = floor(c * lit(1e6) + lit(0.5)) / lit(1e6)
    st.select(col(keyCol), size(col("__s")).cast("long").as("n_points"),
      r6(col("__st.l")).as("level"),
      r6(col("__st.t")).as("trend"),
      r6(col("__st.l") + lit(horizon) * col("__st.t")).as("forecast"))
  }
}
