package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.core.{ColumnNotFoundException, OrderedScan}

/** One-pass column profiler: the standard DQ summary block (count, nulls,
  * distinct, min/max/mean/stddev, approximate quantiles) for every requested
  * column of any DataFrame.
  *
  * The reference has no profiler; this rounds out its metric surface with
  * the sketch-based statistics the README's roadmap implies
  * (`/root/reference/README.md:192-196`) using only built-in aggregates.
  *
  * Scale: ALL columns profile in a single partial+final aggregate pass over
  * one scan — no per-column jobs. Distinct counts use HLL++
  * (`approx_count_distinct`) and quantiles use `percentile_approx`
  * (Greenwald-Khanna-style sketch, mergeable map-side), so memory per
  * column is bounded regardless of cardinality.
  */
object Profiler {

  final val QuantileProbs: Seq[Double] = Seq(0.25, 0.5, 0.75)

  private def isNumeric(dt: DataType): Boolean = dt match {
    case _: NumericType => true
    case _ => false
  }

  /** Wide one-row profile: per column `<c>__count/nulls/approx_distinct`,
    * plus `min/max/mean/stddev/p25/p50/p75` for numeric columns. */
  def profileRow(df: DataFrame, cols: Seq[String]): DataFrame = {
    val fields = df.schema.fields.map(f => f.name -> f.dataType).toMap
    val aggs: Seq[Column] = cols.flatMap { c =>
      val base = Seq(
        count(col(c)).as(s"${c}__count"),
        count(when(col(c).isNull, 1)).as(s"${c}__nulls"),
        approx_count_distinct(col(c)).as(s"${c}__approx_distinct"))
      val numeric =
        if (isNumeric(fields(c)))
          Seq(
            min(col(c)).cast("double").as(s"${c}__min"),
            max(col(c)).cast("double").as(s"${c}__max"),
            avg(col(c)).as(s"${c}__mean"),
            stddev_samp(col(c)).as(s"${c}__stddev"),
            percentile_approx(col(c), typedLit(QuantileProbs), lit(10000))
              .cast("array<double>").as(s"${c}__quantiles"))
        else Seq.empty
      base ++ numeric
    }
    val agged = df.agg(aggs.head, aggs.tail: _*)
    // Flatten each quantile sketch array into scalar p25/p50/p75 columns: one
    // GK sketch per column in the agg, scalar-only output (array columns are
    // hostile to downstream row-canonicalisation and columnar sinks).
    val outCols = agged.schema.fieldNames.toSeq.flatMap { f =>
      if (f.endsWith("__quantiles")) {
        val c = f.stripSuffix("__quantiles")
        QuantileProbs.zipWithIndex.map { case (p, i) =>
          element_at(col(f), i + 1).as(s"${c}__p${(p * 100).round}")
        }
      } else Seq(col(f))
    }
    agged.select(outCols: _*)
  }

  /** Sketch-profile CONTRACT check — the eps-bounded oracle face of the
    * approximate profile: one row per column
    * `(col_name, n, n_nulls, n_distinct, distinct_ok, q25_ok, q50_ok,
    * q75_ok)`. The exact counts are oracle-comparable values; the `_ok`
    * booleans assert each sketch's published error bound AGAINST THE REAL
    * DATA, so the oracle can pin them to `true` — a sketch drifting out
    * of contract flips a bit and fails the hash gate, instead of hiding
    * behind a rows-only entry.
    *
    *  - `distinct_ok`: HLL++ `approx_count_distinct` at rsd 0.02 within
    *    ±3·rsd (6%) of the exact distinct count — rsd is a relative
    *    STANDARD DEVIATION, not a bound, so the sound check is a k·σ
    *    envelope (and Spark's HLL++ has no sparse-exact small-range mode:
    *    the default rsd 0.05 misses 50 distinct by 3 on this very
    *    fixture; at rsd 0.02 the register count pushes small
    *    cardinalities into the linear-counting regime);
    *  - `q{25,50,75}_ok`: the [[graft.functions.DDSketchQuantiles]]
    *    estimate `est` is within relative α of the value at rank
    *    `ceil(p·n)` — checked WITHOUT materializing that value, via its
    *    rank window: `count(x < est·(1−α)) < ceil(p·n) <= count(x <=
    *    est·(1+α))`. Sound for non-negative columns (asserted): scaling
    *    by (1±α) widens the window around positive estimates, degenerates
    *    to the exact-zero window at est = 0 (the sketch stores zeros
    *    exactly), and would FLIP it around negative ones.
    *
    * THREE jobs total for ANY number of columns (all columns fused per
    * pass): sketch+counts, exact distincts, then one conditional-count
    * pass at the estimate thresholds (the estimates are a bounded driver
    * round-trip, as with IVF centroids). Each pass scans only the
    * profiled columns (parquet pruning). The exact distinct counts
    * ([[valueCountStats]]) run in their OWN aggregates deliberately: a
    * distinct agg and a typed `Aggregator` buffer in one aggregate push
    * the whole thing onto the sort-based fallback path, which
    * re-serializes the sketch buffer per input row — measured 35 s vs
    * 1.3 s for the sketch alone at sf0.1. */
  def profileContract(df: DataFrame, cols: Seq[String],
      alpha: Double = 0.01): DataFrame = {
    import org.apache.spark.sql.functions.{udaf => _, _}
    val probs = QuantileProbs
    val ddq = graft.functions.DDSketchQuantiles.columnFn(alpha, probs) _
    val xs = cols.map(c => c -> col(c).cast("double"))
    // NOT repartitioned (tried, measured, reverted): the heavy state here is
    // sketches (DDSketch buckets + HLL registers) — a round-robin exchange
    // before the partials made total CPU ~7x (row-wise shuffle input vs the
    // vectorized scan, 32 sketch states built + merged) and WALL slower
    // (2.6 s -> 3.3 s); the serial scan partial is the cheaper side at any
    // input the sketch state dominates
    val base = df.select(cols.map(col): _*)
    // job 1: counts, HLL, min, DDSketch — no distinct aggs in here
    val firstAggs = xs.flatMap { case (c, x) => Seq(
      count(x).as(s"__n_$c"),
      count(when(x.isNull, 1)).as(s"__nulls_$c"),
      approx_count_distinct(x, 0.02).as(s"__apd_$c"),
      min(x).as(s"__min_$c"),
      ddq(x).as(s"__est_$c")) }
    val first = base.agg(firstAggs.head, firstAggs.tail: _*).head()
    // job 2: exact distincts, read off the per-column value counts
    val distincts = valueCountStats(base.select(xs.map { case (c, x) => x.as(c) }: _*), cols) {
      (c, _, _) => struct(lit(c).as("c"), count(col(c)).as("n"))
    }.collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    val n = cols.indices.map(ci => first.getLong(5 * ci))
    val est = cols.indices.map(ci =>
      if (n(ci) == 0) Seq.fill(probs.size)(0.0) else first.getSeq[Double](5 * ci + 4))
    xs.zipWithIndex.foreach { case ((c, _), ci) =>
      require(n(ci) == 0 || first.getDouble(5 * ci + 3) >= 0,
        s"profileContract: column $c must be non-negative for the relative-error rank check")
    }
    // job 3: rank-window conditional counts for every (column, prob)
    val checks: Seq[Column] = xs.zipWithIndex.flatMap { case ((_, x), ci) =>
      if (n(ci) == 0) Nil
      else probs.indices.flatMap { i =>
        val e = est(ci)(i)
        // DDSketch guarantees e ∈ [x_r(1-α), x_r(1+α)]; the inverted
        // interval for the TRUE rank-r value is x_r ∈ [e/(1+α), e/(1-α)].
        // (e·(1±α) is NOT equivalent: e·(1+α) < e/(1-α), i.e. strictly
        // tighter than the contract — it flaked on small-n discrete
        // columns where the bucket midpoint sits near a value boundary.)
        Seq(
          count(when(x < e / (1 + alpha), 1)).as(s"__lo_${ci}_$i"),
          count(when(x <= e / (1 - alpha), 1)).as(s"__hi_${ci}_$i"))
      }
    }
    val second = if (checks.isEmpty) null else base.agg(checks.head, checks.tail: _*).head()
    // second-pass fields are laid out per non-empty column in order
    val secondBase = cols.indices.scanLeft(0)((acc, ci) =>
      acc + (if (n(ci) == 0) 0 else 2 * probs.size))
    val perCol = xs.zipWithIndex.map { case ((c, _), ci) =>
      def qOk(i: Int): Boolean =
        n(ci) == 0 || {
          val r = math.max(1L, math.ceil(probs(i) * n(ci)).toLong)
          second.getLong(secondBase(ci) + 2 * i) < r &&
            second.getLong(secondBase(ci) + 2 * i + 1) >= r
        }
      val nDistinct = distincts(c)
      val distinctOk = math.abs(first.getLong(5 * ci + 2) - nDistinct).toDouble <=
        0.06 * math.max(1L, nDistinct)
      (c, n(ci), first.getLong(5 * ci + 1), nDistinct, distinctOk, qOk(0), qOk(1), qOk(2))
    }
    val spark = df.sparkSession
    import spark.implicits._
    perCol.toDF("col_name", "n", "n_nulls", "n_distinct",
      "distinct_ok", "q25_ok", "q50_ok", "q75_ok")
      .orderBy("col_name")
  }

  /** Long-format profile: one row per requested column,
    * `(column, n_non_null, n_null, n_distinct, min_val, max_val, mean_val)`.
    * Exact stats only — suitable for oracle checks; sketch stats stay in
    * [[profileRow]]. `min_val`, `max_val` and `mean_val` are null for a
    * non-numeric column.
    *
    * Plan: every statistic is read off the exact per-column value counts
    * ([[valueCountStats]]), so the input rows pass through one
    * count-only aggregate and the statistics aggregate only the distinct
    * values. The mean is `Σ decimal(32,6)(v)·n / n_non_null` — the exact
    * decimal sum of every row's value, in any order (a double sum is
    * partition-order dependent, which makes round(mean, 6)
    * nondeterministic at scale). A float column's `-0.0` counts as the
    * same value as `0.0` (Spark normalizes grouping keys), so an extreme
    * at zero reads `0.0`. */
  def profileExact(df: DataFrame, cols: Seq[String]): DataFrame =
    valueCountStats(df, cols) { (c, own, n) =>
      val v = col(c)
      val numeric = isNumeric(df.schema(c).dataType)
      def num(stat: Column): Column = if (numeric) stat else lit(null).cast("double")
      val nonNull = coalesce(sum(when(v.isNotNull, n)), lit(0L))
      struct(
        lit(c).as("column"),
        nonNull.as("n_non_null"),
        coalesce(sum(when(own && v.isNull, n)), lit(0L)).as("n_null"),
        count(v).as("n_distinct"),
        num(min(v).cast("double")).as("min_val"),
        num(max(v).cast("double")).as("max_val"),
        num(sum(v.cast("decimal(32,6)") * n).cast("double") / nonNull).as("mean_val"))
    }

  /** Per-column statistics read off exact value counts — a data cube over
    * one grouping set per column (Gray et al., "Data Cube", ICDE 1996).
    * One aggregate counts every (column, value) pair; its only buffer is
    * the count. One global aggregate over those counts then evaluates
    * `stat(c, own, n)` for each column `c`: over the count rows, `col(c)`
    * is one of `c`'s distinct values (null on the other columns' rows and
    * on `c`'s own null row), `own` marks `c`'s rows and `n` is the value's
    * row count. The result has one row per entry of `cols`, with the
    * fields of `stat`'s struct; a column listed twice is counted once and
    * gives two identical rows. Spark caps a grouping-set aggregate at 64
    * columns, so each further 64 columns add one such pair of aggregates. */
  private def valueCountStats(df: DataFrame, cols: Seq[String])(
      stat: (String, Column, Column) => Column): DataFrame = {
    require(cols.nonEmpty, "no column to profile")
    val missing = cols.filterNot(df.columns.toSet).distinct
    if (missing.nonEmpty)
      throw new ColumnNotFoundException(s"Columns not found: ${missing.mkString("[", ", ", "]")}")
    cols.distinct.grouped(64).map { chunk =>
      val counts = df.groupingSets(chunk.map(c => Seq(col(c))), chunk.map(col): _*)
        .agg(count(lit(1)).as("__n"), grouping_id().as("__gid"))
      // grouping_id() sets bit (w-1-i) when column i is NOT grouped
      val w = chunk.size
      val stats = chunk.zipWithIndex.map { case (c, i) =>
        val gid = (-1L >>> (64 - w)) & ~(1L << (w - 1 - i))
        stat(c, col("__gid") === lit(gid), col("__n")).as(s"__s$i")
      }
      val picked = cols.filter(chunk.contains).map(c => col(s"__s${chunk.indexOf(c)}"))
      counts.agg(stats.head, stats.tail: _*)
        .select(explode(array(picked: _*)).as("__p"))
        .select("__p.*")
    }.reduce(_ union _)
  }

  /** Key-skew diagnostic: the topN heaviest key values with their row count
    * and share of the table — what you run BEFORE deciding whether a join
    * or aggregation on `keyCol` needs salting ([[graft.operators.Joins.saltedJoin]],
    * [[graft.operators.SkewAgg.aggBySalt]]) or can rely on AQE. One
    * aggregation + a broadcast scalar total; ties broken by key for
    * determinism. */
  def keySkew(df: DataFrame, keyCol: String, topN: Int = 10): DataFrame = {
    require(topN > 0)
    val counts = df.groupBy(keyCol).agg(count(lit(1)).as("n"))
    val total = df.agg(count(lit(1)).as("__total"))
    counts.crossJoin(broadcast(total))
      .withColumn("share", col("n").cast("double") / col("__total").cast("double"))
      .orderBy(col("n").desc, col(keyCol).asc)
      .limit(topN)
      .select(col(keyCol), col("n"), col("share"))
  }

  /** Null-PATTERN mining: the distribution of null-column COMBINATIONS —
    * which fields are missing TOGETHER. Per-column null ratios (the
    * completeness checks) can't distinguish "5% of rows missing phone and
    * 5% missing address independently" from "the same 5% missing both"
    * — and the latter usually means one upstream source failed, not
    * noisy data entry. Returns `(null_pattern, n, share)` sorted by
    * count, where `null_pattern` is the comma-joined names of the null
    * columns ("complete" when none are null).
    *
    * Scale: one hash aggregation on a row-computed pattern key (map-side
    * combined; output bounded by 2^|cols| patterns, in practice a
    * handful), plus a window total over that tiny result. */
  def nullPatterns(df: DataFrame, cols: Seq[String]): DataFrame = {
    require(cols.nonEmpty)
    val pat = concat_ws(",", cols.map(c => when(col(c).isNull, lit(c))): _*)
    val counts = df
      .groupBy(when(pat === "", lit("complete")).otherwise(pat).as("null_pattern"))
      .agg(count(lit(1)).as("n"))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy().rowsBetween(Long.MinValue, Long.MaxValue)
    counts
      .withColumn("share",
        round(col("n").cast("double") / sum("n").over(w).cast("double"), 6))
      .orderBy(col("n").desc, col("null_pattern"))
  }

  /** Per-GROUP completeness — the reference's table-level completeness
    * ratio broken out by a grouping key, in long format
    * `(groupCols..., column, n_rows, ratio)`: a 0.99 table-level ratio
    * can hide one segment at 0.60, which is exactly the case a corpus
    * mixing/monitoring pipeline needs surfaced per stratum.
    *
    * Scale: ONE partial+final hash aggregation computes every attribute's
    * non-null count per group (no per-attr scans — the same single-pass
    * fusion the table-level checks use), then an in-memory unpivot
    * (`stack`) of the group-sized result to long format. Ratios are
    * exact-integer-count divisions — engine-deterministic. */
  def groupCompleteness(df: DataFrame, attrs: Seq[String],
      groupCols: Seq[String]): DataFrame = {
    require(attrs.nonEmpty && groupCols.nonEmpty)
    val aggs = count(lit(1)).as("__n") +:
      attrs.map(a => count(col(a)).as(s"__c_$a"))
    val wide = df.groupBy(groupCols.map(col): _*).agg(aggs.head, aggs.tail: _*)
    val stackExpr = s"stack(${attrs.size}, " +
      attrs.map(a => s"'$a', __c_$a").mkString(", ") + ") as (column, __cnt)"
    wide
      .select((groupCols.map(col) :+ col("__n") :+ expr(stackExpr)): _*)
      .select((groupCols.map(col) :+ col("column") :+ col("__n").as("n_rows") :+
        round(col("__cnt").cast("double") / col("__n").cast("double"), 6).as("ratio")): _*)
  }

  /** Per-key event-VOLUME anomaly profile: bucket events into fixed time
    * windows per key, then z-score each window's count against that key's
    * own across-window mean/stddev — the "did traffic for this event type
    * crater or spike this hour?" check that row-level DQ rules can't see
    * (a missing upstream partition produces perfectly valid rows, just
    * too few of them). Returns one row per (key, bucket):
    * `(keyCol, bucket_id, n_events, z, is_anomaly)`; `bucket_id` =
    * epoch-hours (or `bucketNanos`-sized units), z rounded to 4 dp,
    * sample stddev. Keys with < `minBuckets` buckets or zero variance get
    * z = 0 (no basis for an anomaly call).
    *
    * Scale + determinism shape: one hash aggregation on (key, bucket) —
    * map-side combined, output bounded by keys × buckets — then a window
    * over the KEY whose inputs (count, count², bucket count) are exact
    * integer sums, so mean/variance/z are bit-deterministic across
    * partitionings and engines (no floating-point accumulation order
    * anywhere). Timestamps are int64 nanos; bucket assignment is integer
    * floor-division, identical under DuckDB's µs truncation for any
    * bucket ≥ 1 ms. */
  def volumeAnomaly(
      df: DataFrame,
      tsNanosCol: String,
      keyCol: String,
      bucketNanos: Long = 3600L * 1000 * 1000 * 1000,
      minBuckets: Int = 3,
      zThresh: Double = 2.0
  ): DataFrame = {
    require(bucketNanos > 0 && minBuckets >= 2)
    val counts = df
      // nanos (~2^60) exceed double's mantissa: decimal floor-division, not
      // the double `/` (same trap nanosToTs documents)
      .groupBy(col(keyCol), floor(col(tsNanosCol).cast("decimal(25,0)") / lit(bucketNanos))
        .cast("long").as("bucket_id"))
      .agg(count(lit(1)).as("n_events"))
    val w = org.apache.spark.sql.expressions.Window.partitionBy(keyCol)
    val s1 = sum(col("n_events")).over(w)
    val s2 = sum(col("n_events") * col("n_events")).over(w)
    val k = count(lit(1)).over(w)
    counts
      .withColumn("__s1", s1).withColumn("__s2", s2).withColumn("__k", k)
      .withColumn("__mean", col("__s1").cast("double") / col("__k").cast("double"))
      .withColumn("__var",
        (col("__s2").cast("double") -
          col("__s1").cast("double") * col("__s1").cast("double") / col("__k").cast("double")) /
          (col("__k").cast("double") - 1.0))
      .withColumn("z",
        when(col("__k") < minBuckets || col("__var") <= 0.0, lit(0.0))
          .otherwise(round((col("n_events").cast("double") - col("__mean")) /
            sqrt(col("__var")), 4)))
      .withColumn("is_anomaly", abs(col("z")) > zThresh)
      .select(col(keyCol), col("bucket_id"), col("n_events"), col("z"), col("is_anomaly"))
  }

  /** Robust (median/MAD) outlier summary of a numeric column — the
    * heavy-tail-safe alternative to [[graft.checks.OutlierCheck]]'s
    * mean/stddev fences: one row `(n, median, mad, n_outliers)` where an
    * outlier is `|x - median| > k * mad` (default k = 3 × 1.4826, the
    * normal-consistency scaling). Exact interpolated percentiles
    * (`percentile`), which hold to ~10^7 distinct values per aggregate;
    * at larger cardinality substitute `approx_percentile` (the sketch path
    * already exercised by [[profileRow]]). Three small jobs chained by
    * broadcast scalars — no driver-side math, no full sort. */
  def madOutlierSummary(df: DataFrame, column: String, k: Double = 4.4478): DataFrame = {
    val x = col(column).cast("double")
    val med = df.agg(percentile(x, lit(0.5)).as("med"))
    val stats = df.crossJoin(broadcast(med))
      .agg(first("med").as("med"),
        percentile(abs(x - col("med")), lit(0.5)).as("mad"))
    df.crossJoin(broadcast(stats))
      .agg(
        count(x).as("n"),
        first("med").as("__med"),
        first("mad").as("__mad"),
        sum(when(abs(x - col("med")) > lit(k) * col("mad"), 1L).otherwise(0L)).as("n_outliers"))
      .select(col("n"), round(col("__med"), 4).as("median"),
        round(col("__mad"), 4).as("mad"), col("n_outliers"))
  }

  /** Fixed-width histogram of a numeric column: one row per non-empty
    * bucket, `bucket = floor(value / width)` (exact integer bucketing —
    * deterministic and oracle-checkable, unlike quantile sketches).
    * One partial+final aggregate pass; bucket count is bounded by the value
    * range, not the row count. */
  def histogram(df: DataFrame, column: String, width: Double): DataFrame = {
    require(width > 0)
    df.filter(col(column).isNotNull)
      .groupBy(floor(col(column) / width).cast("long").as("bucket"))
      .agg(count(lit(1)).as("n"))
      .withColumn("lo", col("bucket") * width)
      .withColumn("hi", (col("bucket") + 1) * width)
      .select("bucket", "lo", "hi", "n")
  }

  /** Shannon entropy of categorical columns — the standard "is this column
    * informative / near-constant / an id in disguise" profile signal. One
    * row per column: `(column, n_rows, n_distinct, entropy, norm_entropy)`
    * with natural-log entropy and `norm_entropy = H / ln(n_distinct)` in
    * [0, 1] (0 = constant, 1 = uniform).
    *
    * Uses the one-pass identity `H = ln N - (Σ n·ln n) / N` over per-value
    * counts, so each column is exactly one partial+final hash aggregation
    * over its value frame (bounded by that column's cardinality) plus a
    * 1-row reduce — no sort, no second scan of the data per column. */
  def entropy(df: DataFrame, cols: Seq[String]): DataFrame = {
    require(cols.nonEmpty)
    val per = cols.map { c =>
      df.filter(col(c).isNotNull)
        .groupBy(col(c).cast("string").as("v")).agg(count(lit(1)).as("n"))
        .agg(
          lit(c).as("column"),
          sum("n").as("n_rows"),
          count(lit(1)).as("n_distinct"),
          (log(sum("n")) - sum(col("n") * log(col("n"))) / sum("n")).as("__h"))
    }
    per.reduce(_ unionByName _).select(
      col("column"),
      // an all-null column aggregates to null sums: report zeros, not nulls
      coalesce(col("n_rows"), lit(0L)).as("n_rows"), col("n_distinct"),
      coalesce(round(col("__h"), 6), lit(0.0)).as("entropy"),
      coalesce(round(when(col("n_distinct") > 1,
        col("__h") / log(col("n_distinct").cast("double"))).otherwise(0.0), 6), lit(0.0))
        .as("norm_entropy"))
  }

  /** Pearson chi-square homogeneity statistic: does the distribution of
    * `catCol` differ across `cohortCol` groups? — the categorical twin of
    * [[graft.checks.DriftCheck]]'s numeric PSI/KS (drift between cohorts,
    * A/B legs, time slices). One row `(chi2, dof, n)`.
    *
    * The contingency table is built once (one hash aggregation → at most
    * k·m cells); marginals come from re-aggregating the CELL frame (tiny),
    * and absent cells are restored by crossing the two marginal frames so
    * their `(0 − e)²/e = e` terms are counted — skipping them understates
    * the statistic. Everything after the first aggregation operates on
    * dimension-sized frames, so the input is scanned exactly once. */
  def chiSquareHomogeneity(df: DataFrame, catCol: String, cohortCol: String): DataFrame = {
    val cells = df.filter(col(catCol).isNotNull && col(cohortCol).isNotNull)
      .groupBy(col(catCol).cast("string").as("cat"),
        col(cohortCol).cast("string").as("cohort"))
      .agg(count(lit(1)).as("o"))
    val rowN = cells.groupBy("cat").agg(sum("o").as("row_n"))
    val colN = cells.groupBy("cohort").agg(sum("o").as("col_n"))
    val total = cells.agg(sum("o").as("__n"))
    val e = col("row_n").cast("double") * col("col_n") / col("__n")
    rowN.crossJoin(colN)
      .join(cells, Seq("cat", "cohort"), "left_outer")
      .na.fill(0L, Seq("o"))
      .crossJoin(broadcast(total))
      .agg(
        round(sum((col("o") - e) * (col("o") - e) / e), 6).as("chi2"),
        ((countDistinct("cat") - 1) * (countDistinct("cohort") - 1)).as("dof"),
        max("__n").as("n"))
  }

  /** First-significant-digit profile vs Benford's law — the classic
    * fabricated-data / unit-mixing smell test for positive numeric columns.
    * One row per digit 1-9: observed share, Benford's `log10(1 + 1/d)`, and
    * the absolute deviation. The digit extraction
    * `floor(x / 10^floor(log10 x))` is row-local (scan-speed, codegen), so
    * the whole profile is one hash aggregation over 9 groups. */
  def benford(df: DataFrame, column: String): DataFrame = {
    val x = col(column).cast("double")
    val digit = floor(x / pow(lit(10.0), floor(log10(x)))).cast("int")
    val pos = df.filter(x > 0)
    val pExp = round(log10(lit(1.0) + lit(1.0) / col("digit")), 6)
    pos.groupBy(digit.as("digit")).agg(count(lit(1)).as("n"))
      .crossJoin(broadcast(pos.agg(count(lit(1)).as("__n"))))
      .select(
        col("digit"), col("n"),
        round(col("n") / col("__n"), 6).as("p_obs"),
        pExp.as("p_benford"),
        round(abs(col("n") / col("__n") - log10(lit(1.0) + lit(1.0) / col("digit"))), 6)
          .as("abs_dev"))
      .orderBy("digit")
  }

  /** Exact interpolated percentiles via a DISTRIBUTED range-partitioned
    * sort + rank selection — the scale path for exact quantiles. The
    * built-in `percentile` aggregate buffers a value-count map per
    * partition and merges them on ONE reducer (~5 s for 600 k rows at
    * sf0.1, measured); here the sort spreads across the cluster and only
    * the ≤ `2·|probs|` boundary rows ever leave the executors (the second
    * pass reuses the sort's shuffle files — no recompute, no caching).
    * Interpolation matches Spark's `percentile` and DuckDB's
    * `quantile_cont` bit-for-bit: `pos = (n-1)·p`,
    * `v[⌊pos⌋] + (v[⌈pos⌉] − v[⌊pos⌋])·frac`. Empty input → NaNs. */
  def exactPercentiles(df: DataFrame, column: String, probs: Seq[Double]): Seq[Double] = {
    require(probs.nonEmpty && probs.forall(p => p >= 0.0 && p <= 1.0))
    val vals = df.select(col(column).cast("double").as("v")).filter(col("v").isNotNull)
    val n = vals.count()
    if (n == 0) return Seq.fill(probs.size)(Double.NaN)
    val positions: Seq[(Double, Long, Long)] = probs.map { p =>
      val pos = (n - 1) * p
      (pos, math.floor(pos).toLong, math.ceil(pos).toLong)
    }
    val needed = positions.flatMap(t => Seq(t._2, t._3)).toSet
    val byIdx = vals.orderBy("v").queryExecution.toRdd
      .map(_.getDouble(0))
      .zipWithIndex()
      .filter { case (_, i) => needed.contains(i) }
      .map(_.swap)
      .collectAsMap()
    positions.map { case (pos, lo, hi) =>
      val l = byIdx(lo); val h = byIdx(hi)
      if (lo == hi) l else l + (h - l) * (pos - lo)
    }
  }

  /** Exact data values at INTEGER zero-based ranks of the sorted column —
    * the non-interpolating (type-1 / lower-value) quantile path. Same
    * distributed range-partitioned sort as [[exactPercentiles]], but the
    * selected cut is always an exact data value at a caller-computed
    * integer rank, so an external engine replaying `row_number() - 1 =
    * rank` gets the BIT-IDENTICAL cut: interpolated quantiles can differ
    * by an ulp across engines, and a 1-ulp cut divergence flips the bucket
    * of every row whose value ties the cut (the q_ccnet_buckets hazard —
    * compute ranks with integer arithmetic, e.g. `(n-1)/3`, never
    * `floor((n-1)*p)` whose double product rounds below exact multiples). */
  def exactValuesAtRanks(df: DataFrame, column: String, ranks: Seq[Long]): Seq[Double] = {
    require(ranks.nonEmpty && ranks.forall(_ >= 0), "ranks must be >= 0")
    val vals = df.select(col(column).cast("double").as("v")).filter(col("v").isNotNull)
    val needed = ranks.toSet
    val byIdx = vals.orderBy("v").queryExecution.toRdd
      .map(_.getDouble(0))
      .zipWithIndex()
      .filter { case (_, i) => needed.contains(i) }
      .map(_.swap)
      .collectAsMap()
    ranks.map(r => byIdx.getOrElse(r,
      throw new IllegalArgumentException(s"rank $r out of range (n <= $r)")))
  }

  /** Krippendorff's alpha for NOMINAL data (Krippendorff 2004) — the
    * inter-annotator agreement score that, unlike Cohen's kappa, handles
    * ANY number of raters and missing ratings: units rated by fewer than
    * two raters are unpairable and drop out.
    *
    * With per-unit category counts `n_uc` and `m_u = Σ_c n_uc`:
    * observed disagreement
    * `Do = (1/N) Σ_u Σ_c n_uc·(m_u − n_uc)/(m_u − 1)`,
    * expected `De = (N² − Σ_c n_c²)/(N·(N−1))` from the pooled
    * marginals (`N = Σ m_u`), and `α = 1 − Do/De`.
    *
    * Exactness: the only non-integer per-row term,
    * `n_uc(m_u−n_uc)/(m_u−1)`, is micro-quantized to a long before the
    * unit sum; the marginal sums are exact; the final α is four pinned
    * double ops on one row. Two keyed aggregations over the ratings
    * frame — nothing wider than (unit, category) ever shuffles. Returns
    * one row `(n_units, n_pairable_values, do_rate, de_rate, alpha)`. */
  def krippendorffAlpha(df: DataFrame, unitCol: String, raterCol: String,
      categoryCol: String): DataFrame = {
    val base = df.filter(col(unitCol).isNotNull && col(raterCol).isNotNull
        && col(categoryCol).isNotNull)
      .select(col(unitCol).as("u"), col(categoryCol).as("c"))
    val uc = base.groupBy("u", "c").agg(count(lit(1)).as("n_uc"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val mu = uc.groupBy("u").agg(sum("n_uc").as("m_u"))
      .filter(col("m_u") >= 2)
    val paired = uc.join(mu, "u")
    val termQ = floor(col("n_uc").cast("double")
      * (col("m_u") - col("n_uc")).cast("double")
      / (col("m_u") - 1).cast("double") * lit(1e6) + lit(0.5))
    val doAgg = paired.agg(countDistinct("u").as("n_units"),
      sum("n_uc").as("n_vals"), sum(termQ).as("__doq"))
    val marg = paired.groupBy("c").agg(sum("n_uc").as("n_c"))
      .agg(sum(col("n_c") * col("n_c")).as("__sc2"))
    val out = doAgg.crossJoin(broadcast(marg)).select(
      col("n_units"), col("n_vals").as("n_pairable_values"),
      (col("__doq").cast("double") / lit(1e6) / col("n_vals")).as("do_rate"),
      ((col("n_vals").cast("double") * col("n_vals") - col("__sc2"))
        / (col("n_vals").cast("double") * (col("n_vals") - 1))).as("de_rate"),
      (lit(1.0) - (col("__doq").cast("double") / lit(1e6) / col("n_vals"))
        / ((col("n_vals").cast("double") * col("n_vals") - col("__sc2"))
          / (col("n_vals").cast("double") * (col("n_vals") - 1)))).as("alpha"))
    val res = out.transform(graft.core.Checkpoints.truncate)
    uc.unpersist()
    res
  }

  /** Distribution-free confidence interval for the MEDIAN from order
    * statistics (the binomial/sign-test interval, large-sample rank form:
    * `rank_lo = ⌊(n − z·√n)/2⌋`, `rank_hi = n + 1 − rank_lo` — Conover,
    * Practical Nonparametric Statistics §3.2). No bootstrap, no
    * resampling: one count, one distributed sort, and only the ≤4 needed
    * order-statistic rows ever reach the driver (the
    * [[exactPercentiles]] machinery). The ranks are a pinned closed form
    * both engines replay (√ is IEEE-exact), and values at ranks are
    * well-defined under ties for any sort order. Returns one row
    * `(n, median, ci_lo, ci_hi, rank_lo, rank_hi)`; the median is the
    * `quantile_cont`-style interpolated 0.5 quantile. */
  def medianCI(df: DataFrame, column: String, z: Double = 1.959964): DataFrame = {
    val spark = df.sparkSession
    import spark.implicits._
    val vals = df.select(col(column).cast("double").as("v")).filter(col("v").isNotNull)
    val n = vals.count()
    require(n >= 3, s"medianCI needs n >= 3, got $n")
    val rankLo = math.max(1L, math.floor((n - z * math.sqrt(n.toDouble)) / 2.0).toLong)
    val rankHi = n + 1 - rankLo
    val pos = (n - 1) * 0.5
    val lo0 = math.floor(pos).toLong
    val hi0 = math.ceil(pos).toLong
    val needed = Set(rankLo - 1, rankHi - 1, lo0, hi0)
    val byIdx = vals.orderBy("v").queryExecution.toRdd
      .map(_.getDouble(0)).zipWithIndex()
      .filter { case (_, i) => needed.contains(i) }
      .map(_.swap).collectAsMap()
    val median =
      if (lo0 == hi0) byIdx(lo0)
      else byIdx(lo0) + (byIdx(hi0) - byIdx(lo0)) * (pos - lo0)
    Seq((n, median, byIdx(rankLo - 1), byIdx(rankHi - 1), rankLo, rankHi))
      .toDF("n", "median", "ci_lo", "ci_hi", "rank_lo", "rank_hi")
  }

  /** Schema drift between two dataset versions — the contract check run
    * before a pipeline ingests a new snapshot: one row per column that is
    * `added` (only in `next`), `removed` (only in `prev`), `retyped`
    * (type changed), or `nullability_changed`; unchanged columns are
    * omitted. Pure driver-side metadata (schemas are already on the
    * driver — zero jobs, any data scale). */
  def schemaDiff(prev: DataFrame, next: DataFrame): DataFrame = {
    val p = prev.schema.map(f => f.name -> f).toMap
    val n = next.schema.map(f => f.name -> f).toMap
    val rows = (p.keySet ++ n.keySet).toSeq.sorted.flatMap { c =>
      (p.get(c), n.get(c)) match {
        case (Some(_), None) => Some((c, p(c).dataType.sql, null: String, "removed"))
        case (None, Some(_)) => Some((c, null: String, n(c).dataType.sql, "added"))
        case (Some(a), Some(b)) if a.dataType != b.dataType =>
          Some((c, a.dataType.sql, b.dataType.sql, "retyped"))
        case (Some(a), Some(b)) if a.nullable != b.nullable =>
          Some((c, a.dataType.sql, b.dataType.sql, "nullability_changed"))
        case _ => None
      }
    }
    val spark = prev.sparkSession
    import spark.implicits._
    rows.toDF("column", "prev_type", "next_type", "status")
  }

  /** Per-group ordinary-least-squares fit `y ~ x`: one row per group with
    * `(slope, intercept, r2, n)` from the built-in regression aggregates
    * (`regr_*` — single-pass co-moment accumulation, partial+final
    * mergeable, so the whole profile is ONE hash aggregation regardless of
    * group sizes). The "does this relationship hold per segment" profile
    * signal (price ~ quantity per region, latency ~ load per service).
    * Outputs round to 6 dp: co-moment addition order varies with
    * partitioning, so last-ulp digits are not reproducible. */
  def groupRegression(df: DataFrame, groupCol: String, yCol: String, xCol: String): DataFrame = {
    val y = col(yCol).cast("double"); val x = col(xCol).cast("double")
    df.groupBy(col(groupCol)).agg(
      round(regr_slope(y, x), 6).as("slope"),
      round(regr_intercept(y, x), 6).as("intercept"),
      round(regr_r2(y, x), 6).as("r2"),
      regr_count(y, x).as("n"))
  }

  /** Mann–Whitney U (Wilcoxon rank-sum) between two groups — the
    * NONPARAMETRIC cohort comparison ([[welchTTest]]'s rank-based
    * complement for skewed / heavy-tailed metrics). One row
    * `(n_a, n_b, u_a, z)`: `U_a = R_a − n_a(n_a+1)/2` with tie-averaged
    * ranks, and the normal approximation z-score with the full tie
    * correction in the variance.
    *
    * Scale shape: values pre-aggregate to per-DISTINCT-value counts (one
    * keyed shuffle), then the rank sweep runs DISTRIBUTED as a
    * [[graft.core.OrderedScan]] on the value, accumulating
    * `2·Σ ca·avg_rank` and `Σ(t³−t)` as EXACT longs from each
    * partition's carried rank offset — no
    * unpartitioned window, so continuous values (distinct ≈ rows) stay
    * parallel. Rank sums are half-integers, so halving the doubled long
    * reproduces the window formulation's double bit-for-bit; the final
    * statistic reuses the identical column expressions (spec-asserted
    * via the unchanged DuckDB oracle). Exactness envelope: `2·Σ ca·rank
    * ≤ 2N²` and a tie group contributes `t³` — both must fit a long
    * (fine to ~10⁹ rows / ~10⁶-deep ties). */
  def mannWhitneyU(df: DataFrame, valueCol: String, groupCol: String,
      groupA: String, groupB: String): DataFrame = {
    val spark = df.sparkSession
    import spark.implicits._
    val (na, nb, ra2, ties) = rankSweep(perValCounts(df, valueCol, groupCol, groupA, groupB))
    if (na == 0L && nb == 0L) nullRow(spark,
      Seq(("n_a", LongType), ("n_b", LongType), ("u_a", DoubleType), ("z", DoubleType)))
    else Seq((na, nb, ra2.toDouble / 2.0, ties)).toDF("n_a", "n_b", "__ra", "__ties")
      .select(col("n_a"), col("n_b"),
        (col("__ra") - col("n_a") * (col("n_a") + 1) / lit(2.0)).as("u_a"),
        col("__ties"))
      .select(col("n_a"), col("n_b"), round(col("u_a"), 4).as("u_a"),
        round(
          (col("u_a") - col("n_a") * col("n_b") / lit(2.0)) /
            sqrt(col("n_a") * col("n_b") / lit(12.0) *
              ((col("n_a") + col("n_b") + 1) -
                col("__ties") / ((col("n_a") + col("n_b")) * (col("n_a") + col("n_b") - 1)))),
          6).as("z"))
  }

  /** Per-group skewness and excess kurtosis from EXACT integer power sums
    * — the one-pass mergeable shape (`n, Σx, Σx², Σx³, Σx⁴` in
    * `decimal(38,0)`, so partial-aggregate merge order cannot move a
    * bit), with the central-moment algebra applied per GROUP ROW in a
    * pinned double-op sequence both engines replay identically:
    * `m2 = s2/n − μ²`, `m3 = s3/n − 3μ·s2/n + 2μ³`,
    * `m4 = s4/n − 4μ·s3/n + 6μ²·s2/n − 3μ⁴`,
    * `g1 = m3/(m2·√m2)`, `g2 = m4/m2² − 3` (√ is IEEE
    * correctly-rounded, so it is engine-stable). `valCol` must be
    * integer-valued (cast to long; quantize cents upstream). Returns
    * `(group, n, mean, m2, skewness, kurtosis_excess)` per group. */
  def higherMoments(df: DataFrame, groupCol: String,
      valCol: String): DataFrame = {
    val x = col(valCol).cast("long").cast("decimal(38,0)")
    val g = df.filter(col(groupCol).isNotNull && col(valCol).isNotNull)
      .groupBy(col(groupCol).as("grp")).agg(
        count(lit(1)).as("n"), sum(x).as("s1"), sum(x * x).as("s2"),
        sum(x * x * x).as("s3"), sum(x * x * x * x).as("s4"))
    val n = col("n").cast("double")
    def d(c: String) = col(c).cast("double")
    val mu = d("s1") / n
    val m2 = d("s2") / n - mu * mu
    val m3 = d("s3") / n - lit(3.0) * mu * (d("s2") / n) + lit(2.0) * mu * mu * mu
    val m4 = d("s4") / n - lit(4.0) * mu * (d("s3") / n) +
      lit(6.0) * mu * mu * (d("s2") / n) - lit(3.0) * mu * mu * mu * mu
    g.select(col("grp"), col("n"), mu.as("mean"), m2.as("m2"),
      (m3 / (m2 * sqrt(m2))).as("skewness"),
      (m4 / (m2 * m2) - lit(3.0)).as("kurtosis_excess"))
  }

  /** Kruskal–Wallis rank ANOVA — the k-group generalization of
    * [[mannWhitneyU]] (does at least one group's value distribution
    * stochastically dominate?), heavy-tail-safe where [[anovaF]]'s moment
    * sums are not. `H = 12/(N(N+1)) · Σ R_i²/n_i − 3(N+1)` over
    * average-of-ties ranks, with the standard tie correction
    * `H / (1 − Σ(t³−t)/(N³−N))`.
    *
    * Determinism discipline: ranks come from [[Prefix.cumSumLongs]] over
    * the per-distinct-value count frame (a DOUBLED tie-average rank
    * `2·prev + t + 1` is an exact long, and the two-sweep scan is
    * bit-identical for any partitioning — no single-partition window on
    * the value axis), the per-group doubled rank sums `S_i = Σ c·s2` and
    * the tie term are exact longs, and the one inexact per-group scalar
    * `(R_i²/n_i)/N²` is micro-quantized to a long BEFORE the cross-group
    * sum (the [[graft.operators.Stats.anovaF]] recipe; the 1/N² scaling
    * keeps the quantized term ≤ n_i µ-units — long-safe to N ≈ 9·10¹²,
    * past which the operator raises rather than wraps), so merge order
    * can never move a bit. Returns one row `(k, n, h, h_tie)`. */
  def kruskalWallis(df: DataFrame, valueCol: String,
      groupCol: String): DataFrame = {
    val v = col(valueCol).cast("double")
    val perVG = df.filter(col(groupCol).isNotNull && v.isNotNull)
      .groupBy(v.as("v"), col(groupCol).as("g")).agg(count(lit(1)).as("c"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val perV = perVG.groupBy("v").agg(sum("c").as("t"))
    // doubled average rank of value v: 2·(#values below) + t + 1
    val ranked = graft.operators.Prefix
      .cumSumLongs(perV, "v", Seq("t"), Seq("ct"))
      .select(col("v"), col("t"),
        (lit(2L) * (col("ct") - col("t")) + col("t") + lit(1L)).as("s2"))
    val perG = perVG.join(ranked.select("v", "s2"), "v")
      .groupBy("g").agg(sum("c").as("n_i"), sum(col("c") * col("s2")).as("s2_i"))
    val nTot = perV.agg(sum("t").as("__nn"))
    // per-group quantized term, scaled by 1/N² to stay in long range:
    // (R_i²/n_i)/N² ≤ n_i·(2N+1)²/(4N²) ≈ n_i, so the ×1e6 micro-long is
    // safe to N ≈ 9·10¹² — fail loudly past it rather than wrap
    val rawTerm = (col("s2_i").cast("double") / lit(2.0))
      .multiply(col("s2_i").cast("double") / lit(2.0))
      .divide(col("n_i")).divide(col("__nn")).divide(col("__nn"))
      .multiply(lit(1e6)) + lit(0.5)
    val term = when(col("__nn") <= 9000000000000L, floor(rawTerm))
      .otherwise(raise_error(lit(
        "kruskalWallis: N > 9e12 exceeds the exact long-quantization domain")))
    val gAgg = perG.crossJoin(broadcast(nTot))
      .agg(count(lit(1)).as("k"), sum("n_i").as("n"), sum(term).as("__q"))
    val ties = perV.agg(
      sum(col("t") * col("t") * col("t") - col("t")).as("__tt"))
    // H = 12·N·(Q/N²)/(N+1) − 3(N+1)  with Q/N² = Σ quantized terms / 1e6
    val h0 = lit(12.0) * col("n").cast("double") / (col("n").cast("double") + 1) *
      (col("__q").cast("double") / lit(1e6)) -
      lit(3.0) * (col("n").cast("double") + 1)
    // tie-correction denominator 1 − Σ(t³−t)/(N³−N): zero when every value
    // ties (one distinct value, or N < 2) — null the degenerate case like
    // partialCorr/crossCorrelation/wilcoxonSignedRank rather than ±Inf/NaN
    val tieDenom = lit(1.0) - col("__tt").cast("double") /
      (col("n").cast("double") * col("n") * col("n") - col("n"))
    val out = gAgg.crossJoin(broadcast(ties)).select(
      col("k"), col("n"), h0.as("h"),
      when(tieDenom > 0, h0 / tieDenom).as("h_tie"))
    val res = out.transform(graft.core.Checkpoints.truncate)
    perVG.unpersist()
    res
  }

  /** Wilcoxon signed-rank test — the PAIRED complement of Mann–Whitney
    * (and the n=2-treatment sibling of Friedman): given integer-unit
    * pre/post values per entity, ranks |post − pre| with tie-averaged
    * ranks and sums the ranks of positive differences. Zero differences
    * drop (the standard treatment).
    *
    * Same exact machinery as [[kruskalWallis]]: doubled average ranks
    * from the distributed prefix scan keep every rank an exact long, so
    * `2·W⁺` is an exact integer (long-safe to ~2·10⁹ pairs — `2W⁺ ≤ 2n²`);
    * the normal approximation
    * `z = (W⁺ − n(n+1)/4) / √(n(n+1)(2n+1)/24 − Σ(t³−t)/48)` closes in
    * one pinned double tree (IEEE sqrt is correctly rounded). Returns one
    * row `(n, w_plus, z)`; n < 2 or zero variance yields null z. */
  def wilcoxonSignedRank(df: DataFrame, preCol: String,
      postCol: String): DataFrame = {
    val d = col(postCol).cast("long") - col(preCol).cast("long")
    val nz = df.filter(col(preCol).isNotNull && col(postCol).isNotNull)
      .select(d.as("__d")).filter(col("__d") =!= 0)
      .select(abs(col("__d")).as("__ad"), (col("__d") > 0).as("__pos"))
    val perV = nz.groupBy("__ad").agg(count(lit(1)).as("t"),
      sum(when(col("__pos"), 1L).otherwise(0L)).as("tp"))
    val ranked = graft.operators.Prefix
      .cumSumLongs(perV, "__ad", Seq("t"), Seq("ct"))
      .select(col("t"), col("tp"),
        (lit(2L) * (col("ct") - col("t")) + col("t") + lit(1L)).as("s2"))
    val agg = ranked.agg(sum("t").as("n"),
      sum(col("tp") * col("s2")).as("__w2"),
      sum(col("t") * col("t") * col("t") - col("t")).as("__tt"))
    val n = col("n").cast("double")
    val wp = col("__w2").cast("double") / lit(2.0)
    val mu = n * (n + lit(1.0)) / lit(4.0)
    val va = n * (n + lit(1.0)) * (lit(2.0) * n + lit(1.0)) / lit(24.0) -
      col("__tt").cast("double") / lit(48.0)
    agg.select(col("n"), wp.as("w_plus"),
      when(col("n") >= 2 && va > 0.0, (wp - mu) / sqrt(va)).as("z"))
  }

  /** Standardized effect sizes between two groups' value distributions —
    * the "is the difference MEANINGFUL" companion to q_ttest/q_mann_whitney
    * significance: Cohen's d (pooled-SD standardized mean difference),
    * Hedges' g (d with the small-sample bias factor `1 − 3/(4N − 9)`), and
    * Cliff's delta (`2U/(n_a·n_b) − 1` — the rank-based, outlier-immune
    * one), computed from ONE conditional-aggregate pass for the moments
    * plus the shared distributed [[mannWhitneyU]] rank sweep for U. */
  def effectSizes(df: DataFrame, valueCol: String, groupCol: String,
      groupA: String, groupB: String): DataFrame = {
    val v = col(valueCol).cast("double")
    val base = df.filter(col(groupCol).isNotNull && v.isNotNull &&
      (col(groupCol) === groupA || col(groupCol) === groupB))
    val isA = col(groupCol) === groupA
    val moments = base.agg(
      sum(when(isA, 1L).otherwise(0L)).as("n_a"),
      sum(when(!isA, 1L).otherwise(0L)).as("n_b"),
      avg(when(isA, v)).as("m_a"), avg(when(!isA, v)).as("m_b"),
      var_samp(when(isA, v)).as("s2_a"), var_samp(when(!isA, v)).as("s2_b"))
    val u = mannWhitneyU(df, valueCol, groupCol, groupA, groupB)
      .select(col("u_a"))
    val pooled = sqrt(((col("n_a") - 1) * col("s2_a") + (col("n_b") - 1) * col("s2_b"))
      / (col("n_a") + col("n_b") - 2))
    val d = (col("m_a") - col("m_b")) / pooled
    moments.crossJoin(broadcast(u))
      .select(col("n_a"), col("n_b"),
        round(d, 6).as("cohen_d"),
        round(d * (lit(1.0) - lit(3.0) / (lit(4.0) * (col("n_a") + col("n_b")) - 9)), 6)
          .as("hedges_g"),
        round(lit(2.0) * col("u_a") / (col("n_a") * col("n_b")) - 1, 6)
          .as("cliff_delta"))
  }

  /** One all-null row with the given schema — the empty-input result the
    * windowed formulations produced via aggregates over zero rows. */
  private def nullRow(spark: org.apache.spark.sql.SparkSession,
      fields: Seq[(String, DataType)]): DataFrame =
    spark.createDataFrame(
      java.util.Arrays.asList(
        org.apache.spark.sql.Row(fields.map(_ => null): _*)),
      StructType(fields.map { case (n, t) => StructField(n, t, nullable = true) }))

  /** Per-distinct-value counts `(v, ca, cb)` of groups A and B. */
  private def perValCounts(df: DataFrame, valueCol: String, groupCol: String,
      groupA: String, groupB: String): DataFrame = {
    val v = col(valueCol).cast("double")
    df.filter(v.isNotNull && (col(groupCol) === groupA || col(groupCol) === groupB))
      .groupBy(v.as("v")).agg(
        sum(when(col(groupCol) === groupA, 1L).otherwise(0L)).as("ca"),
        sum(when(col(groupCol) === groupB, 1L).otherwise(0L)).as("cb"))
  }

  /** Shared DISTRIBUTED rank sweep over a per-distinct-value count frame
    * `(v, ca, cb)`: a [[graft.core.OrderedScan]] on `v` whose carry-in
    * is the count of values below the partition.
    * Returns `(n_a, n_b, 2·Σ ca·avg_rank, Σ(t³−t))`, ALL exact longs
    * (a tie group's average rank is `prevCum + (t+1)/2`, so the doubled
    * rank sum is integral; halving it reproduces the window
    * formulation's half-integer double bit-for-bit). */
  private def rankSweep(perVal: DataFrame): (Long, Long, Long, Long) = {
    val rdd = perVal.orderBy("v").select("ca", "cb")
      .queryExecution.toRdd.map(r => (r.getLong(0), r.getLong(1)))
    OrderedScan.eager(rdd, (0L, 0L))(_.foldLeft((0L, 0L))(addPairs))(addPairs) { scan =>
      val (na, nb) = scan.total
      val (ra2, ties) = scan.fold((0L, 0L)) { case ((offA, offB), it) =>
        var prev = offA + offB; var r2 = 0L; var tt = 0L
        it.foreach { case (a, b) =>
          val t = a + b
          r2 += a * (2 * prev + t + 1)
          tt += t * t * t - t
          prev += t
        }
        (r2, tt)
      }(addPairs)
      (na, nb, ra2, ties)
    }
  }

  /** Combines the two-count summaries of [[rankSweep]] and [[gini]]. */
  private val addPairs: ((Long, Long), (Long, Long)) => (Long, Long) =
    (p, q) => (p._1 + q._1, p._2 + q._2)

  /** Welch's two-sample t statistic for `valueCol` between two groups of
    * `groupCol` — the unequal-variance cohort-mean comparison (A/B legs,
    * before/after windows). One row
    * `(mean_a, mean_b, t, df, n_a, n_b)` with the Welch–Satterthwaite
    * degrees of freedom; both cohorts aggregate in a single
    * partial+final pass over one scan. */
  def welchTTest(df: DataFrame, valueCol: String, groupCol: String,
      groupA: String, groupB: String): DataFrame = {
    val v = col(valueCol).cast("double")
    def side(g: String, tag: String) = Seq(
      avg(when(col(groupCol) === g, v)).as(s"m_$tag"),
      var_samp(when(col(groupCol) === g, v)).as(s"s2_$tag"),
      count(when(col(groupCol) === g, v)).as(s"n_$tag"))
    val a = df.agg((side(groupA, "a") ++ side(groupB, "b")).head,
      (side(groupA, "a") ++ side(groupB, "b")).tail: _*)
    val sea = col("s2_a") / col("n_a")
    val seb = col("s2_b") / col("n_b")
    a.select(
      round(col("m_a"), 6).as("mean_a"),
      round(col("m_b"), 6).as("mean_b"),
      round((col("m_a") - col("m_b")) / sqrt(sea + seb), 6).as("t"),
      round((sea + seb) * (sea + seb) /
        (sea * sea / (col("n_a") - 1) + seb * seb / (col("n_b") - 1)), 6).as("df"),
      col("n_a"), col("n_b"))
  }

  /** EXACT interpolated quantiles PER GROUP — the "p50/p95 latency per
    * service" shape — without the built-in `percentile` aggregate's
    * per-group value-count maps. Per-distinct-value counts (one keyed
    * shuffle) feed a cumulative window PER KEY (streams each group), and
    * each requested quantile reduces to two conditional-min aggregates
    * over that frame: the value at 0-based global position `i` within a
    * key is `min(v | cum_hi ≥ i+1)`. Interpolation matches
    * `percentile`/`quantile_cont`. One row per key:
    * `(key, n, q_<p>...)`. */
  def groupQuantiles(df: DataFrame, keyCol: String, valueCol: String,
      probs: Seq[Double]): DataFrame =
    groupQuantilesImpl(df, keyCol, valueCol, probs, interpolate = true)

  /** DISCRETE per-group quantiles: the value at rank `floor(p·(n−1)) + 1`
    * — an actual observed element, no interpolation. Prefer this for
    * large-magnitude domains (e.g. microsecond lags ~1e12): interpolated
    * quantiles there carry engine-specific last-ulp arithmetic that
    * survives 6-dp rounding, while a selected element is integer-exact in
    * every engine. */
  def groupQuantilesDisc(df: DataFrame, keyCol: String, valueCol: String,
      probs: Seq[Double]): DataFrame =
    groupQuantilesImpl(df, keyCol, valueCol, probs, interpolate = false)

  private def groupQuantilesImpl(df: DataFrame, keyCol: String, valueCol: String,
      probs: Seq[Double], interpolate: Boolean): DataFrame = {
    require(probs.nonEmpty && probs.forall(p => p >= 0.0 && p <= 1.0))
    val vc = col(valueCol).cast("double")
    val counts = df.filter(vc.isNotNull && col(keyCol).isNotNull)
      .groupBy(col(keyCol), vc.as("v")).agg(count(lit(1)).as("c"))
    val wCum = org.apache.spark.sql.expressions.Window
      .partitionBy(keyCol).orderBy("v")
      .rowsBetween(org.apache.spark.sql.expressions.Window.unboundedPreceding, 0)
    val wAll = org.apache.spark.sql.expressions.Window.partitionBy(keyCol)
    val ranked = counts.select(col(keyCol), col("v"),
      sum("c").over(wCum).as("cum_hi"), sum("c").over(wAll).as("n"))
    val aggs = probs.zipWithIndex.flatMap { case (p, i) =>
      val pos = (col("n") - 1) * lit(p)
      Seq(
        min(when(col("cum_hi") >= floor(pos) + 1, col("v"))).as(s"__lo_$i"),
        min(when(col("cum_hi") >= ceil(pos) + 1, col("v"))).as(s"__hi_$i"))
    } :+ max("n").as("__n")
    val agged = ranked.groupBy(col(keyCol)).agg(aggs.head, aggs.tail: _*)
    val outCols = col(keyCol) +: col("__n").as("n") +:
      probs.zipWithIndex.map { case (p, i) =>
        val name = f"q_${(p * 100).round}%d"
        if (interpolate) {
          val pos = (col("__n") - 1) * lit(p)
          val frac = pos - floor(pos)
          (col(s"__lo_$i") + (col(s"__hi_$i") - col(s"__lo_$i")) * frac).as(name)
        } else col(s"__lo_$i").as(name)
      }
    agged.select(outCols: _*)
  }

  /** WEIGHTED discrete quantiles per key: the smallest value whose
    * cumulative weight reaches `p·W` (W = the key's total weight) — e.g.
    * "the price below which half the shipped QUANTITY sits", which the
    * unweighted row-quantile gets wrong whenever weights correlate with
    * values. Same distributed shape as [[groupQuantilesDisc]]: collapse
    * to one row per (key, value) with summed integral weights, one
    * cumulative window over distinct values, conditional-min selection.
    * Selection compares an exact long cumulative against the single
    * product `W·p`, so the picked element is deterministic in any
    * engine. `weightCol` must be integral-valued (cast enforced). */
  def weightedQuantilesDisc(df: DataFrame, keyCol: String, valueCol: String,
      weightCol: String, probs: Seq[Double]): DataFrame = {
    require(probs.nonEmpty && probs.forall(p => p > 0.0 && p <= 1.0))
    val vc = col(valueCol).cast("double")
    val counts = df.filter(vc.isNotNull && col(keyCol).isNotNull &&
        col(weightCol).isNotNull)
      .groupBy(col(keyCol), vc.as("v"))
      .agg(sum(col(weightCol).cast("long")).as("c"))
    val wCum = org.apache.spark.sql.expressions.Window
      .partitionBy(keyCol).orderBy("v")
      .rowsBetween(org.apache.spark.sql.expressions.Window.unboundedPreceding, 0)
    val wAll = org.apache.spark.sql.expressions.Window.partitionBy(keyCol)
    val ranked = counts.select(col(keyCol), col("v"),
      sum("c").over(wCum).as("cum"), sum("c").over(wAll).as("w"))
    val aggs = probs.zipWithIndex.map { case (p, i) =>
      min(when(col("cum") >= col("w") * lit(p), col("v")))
        .as(f"q_${(p * 100).round}%d")
    } :+ max("w").as("w")
    val agged = ranked.groupBy(col(keyCol)).agg(aggs.head, aggs.tail: _*)
    agged.select(col(keyCol) +: col("w") +:
      probs.map(p => col(f"q_${(p * 100).round}%d")): _*)
  }

  /** Pre-join cardinality-explosion audit: per-key multiplicities on both
    * sides and the EXACT projected inner-join row count
    * `Σ_k cl(k)·cr(k)` — computed from two per-key aggregates joined on
    * the key (never by running the join). The "will this join 100× my
    * data" guard to run before committing a 100 TB shuffle; a projected
    * size ≫ both inputs means a hidden many-to-many.
    *
    * One row: left/right row counts, per-side max key multiplicity, and
    * the projected join rows. Cost: two keyed aggregations (map-side
    * combined) + one join of the (distinct-key-sized) count frames. */
  def joinExplosionAudit(left: DataFrame, right: DataFrame,
      leftKey: String, rightKey: String): DataFrame = {
    val lc = left.filter(col(leftKey).isNotNull)
      .groupBy(col(leftKey).as("__k")).agg(count(lit(1)).as("cl"))
    val rc = right.filter(col(rightKey).isNotNull)
      .groupBy(col(rightKey).as("__k")).agg(count(lit(1)).as("cr"))
    val joined = lc.join(rc, "__k")
    val proj = joined.agg(
      coalesce(sum(col("cl") * col("cr")), lit(0L)).as("projected_join_rows"),
      coalesce(count(lit(1)), lit(0L)).as("matching_keys"))
    val lStats = lc.agg(coalesce(sum("cl"), lit(0L)).as("left_rows"),
      coalesce(max("cl"), lit(0L)).as("left_max_per_key"))
    val rStats = rc.agg(coalesce(sum("cr"), lit(0L)).as("right_rows"),
      coalesce(max("cr"), lit(0L)).as("right_max_per_key"))
    lStats.crossJoin(rStats).crossJoin(proj)
      .select(col("left_rows"), col("right_rows"),
        col("left_max_per_key"), col("right_max_per_key"),
        col("matching_keys"), col("projected_join_rows").cast("long")
          .as("projected_join_rows"))
  }

  /** APPROXIMATE per-group quantiles via Spark's Greenwald–Khanna sketch
    * (`percentile_approx`) — the any-scale fallback for
    * [[groupQuantiles]]: mergeable, bounded memory per group, one
    * aggregation pass, accuracy `1/accuracyParam` in RANK (not value).
    * Same output shape/naming as the exact path so callers can swap. */
  def groupQuantilesApprox(df: DataFrame, keyCol: String, valueCol: String,
      probs: Seq[Double], accuracy: Int = 10000): DataFrame = {
    require(probs.nonEmpty && probs.forall(p => p >= 0.0 && p <= 1.0))
    val vc = col(valueCol).cast("double")
    val base = df.filter(vc.isNotNull && col(keyCol).isNotNull)
    val aggs = probs.map(p =>
      percentile_approx(vc, lit(p), lit(accuracy)).as(f"q_${(p * 100).round}%d"))
    base.groupBy(col(keyCol))
      .agg(count(lit(1)).as("n"), aggs: _*)
  }

  /** Gini concentration index of per-key weights — "how concentrated is
    * the corpus": 0 = perfectly even (every key equal share), → 1 = one
    * key owns everything (domain monopolies, whale users, boilerplate
    * sources). Uses the sorted-values identity
    * `G = (2·Σ(i·xᵢ)) / (n·Σx) − (n+1)/n`. One row
    * `(n_keys, total, gini)`.
    *
    * DISTRIBUTED exact pass (a [[graft.core.OrderedScan]] — no rank
    * window, no key-count bound): per-key weights are cents-quantized to
    * exact longs (decimal sum → ×100; 2-dp inputs are exact), the key
    * frame is range-sorted on the weight, and sweep 2 accumulates
    * `Σ rank·x` as an exact long from each partition's rank offset (its
    * carried key count). Rank ties hold equal `x`,
    * so any tie order yields the SAME sum — no key tiebreak needed. The
    * final statistic derives from three exact integers by a fixed
    * double-op sequence: bit-identical in any engine, emitted raw. */
  def gini(df: DataFrame, keyCol: String, weight: Column = lit(1L)): DataFrame = {
    val spark = df.sparkSession
    import spark.implicits._
    val perKey = df.filter(col(keyCol).isNotNull)
      .groupBy(col(keyCol))
      // round() before the long cast: Spark's decimal->long cast truncates
      // toward zero while DuckDB's ::BIGINT rounds, so sub-cent weights
      // (>2 dp) would silently lose mass and drift off the oracle. 2-dp
      // inputs are unaffected (×100 is already integral).
      .agg(round(sum(weight.cast("decimal(30,6)")) * 100).cast("long").as("xc"))
    val rdd = perKey.orderBy("xc").select("xc")
      .queryExecution.toRdd.map(_.getLong(0))
    val countSum = (it: Iterator[Long]) => it.foldLeft((0L, 0L))((s, x) => (s._1 + 1, s._2 + x))
    OrderedScan.eager(rdd, (0L, 0L))(countSum)(addPairs) { scan =>
      val (n, total) = scan.total
      if (n == 0) {
        Seq((0L, Option.empty[Double], Option.empty[Double]))
          .toDF("n_keys", "total", "gini")
      } else {
        require(total <= 0L || n <= Long.MaxValue / total,
          s"gini: n*total (${n} * ${total}) overflows the exact accumulator — pre-scale weights")
        val s = scan.fold(0L) { case ((r0, _), it) =>
          var r = r0; var acc = 0L
          it.foreach { x => r += 1; acc += r * x }
          acc
        }(_ + _)
        val g =
          if (total == 0L) Option.empty[Double]
          else Some(2.0 * s.toDouble / (n.toDouble * total.toDouble) - (n + 1.0) / n)
        Seq((n, Some(total.toDouble / 100), g)).toDF("n_keys", "total", "gini")
      }
    }
  }

  /** Functional-dependency violation profile for a candidate FD
    * `lhsCols → rhsCol`: one row
    * `(n_keys, n_violating, rows_in_violating, violation_ratio)` where a
    * key violates iff its group holds > 1 distinct RHS value (nulls count
    * as a value via the null-safe distinct). The discovery-direction signal
    * behind schema inference and key-candidate mining.
    *
    * One shuffle on the LHS keys; the per-key frame then reduces to one
    * row. `countDistinct` per key is exact — bounded by the group size, not
    * the table. */
  def fdViolations(df: DataFrame, lhsCols: Seq[String], rhsCol: String): DataFrame = {
    require(lhsCols.nonEmpty)
    val perKey = df.groupBy(lhsCols.map(col): _*)
      .agg(countDistinct(col(rhsCol)).as("__n_rhs"), count(lit(1)).as("__n_rows"))
    perKey.agg(
      count(lit(1)).as("n_keys"),
      sum(when(col("__n_rhs") > 1, 1L).otherwise(0L)).as("n_violating"),
      sum(when(col("__n_rhs") > 1, col("__n_rows")).otherwise(0L)).as("rows_in_violating"))
      .withColumn("violation_ratio",
        round(col("n_violating").cast("double") / col("n_keys"), 6))
  }

  /** k-anonymity audit over quasi-identifier columns: one row with the
    * minimum equivalence-class size, class count, and the number/share of
    * rows in classes smaller than `k` (the re-identifiable rows). NULL
    * quasi-identifier values form their own class (SQL GROUP BY
    * semantics) — a null birthdate is still a disclosure class.
    *
    * One keyed shuffle (partial-aggregated) + a one-row roll-up; nothing is
    * proportional to the table size after the first aggregation. */
  def kAnonymity(df: DataFrame, quasiCols: Seq[String], k: Long): DataFrame = {
    require(quasiCols.nonEmpty)
    val classes = df.groupBy(quasiCols.map(col): _*).agg(count(lit(1)).as("__n"))
    classes.agg(
      min("__n").as("min_class_size"),
      count(lit(1)).as("n_classes"),
      sum(when(col("__n") < k, 1L).otherwise(0L)).as("classes_below_k"),
      sum(when(col("__n") < k, col("__n")).otherwise(0L)).as("rows_at_risk"),
      sum("__n").as("n_rows"))
      .withColumn("at_risk_ratio",
        round(col("rows_at_risk").cast("double") / col("n_rows"), 6))
  }

  /** Dead-column detection: per column, null count, exact distinct count
    * (nulls excluded), and the verdict — `all_null`, `constant` (≤1
    * non-null distinct value), or `live`. The cheap schema-debt audit run
    * before wasting IO on columns nobody populates. `n_null` is null on an
    * empty input (a sum over no rows); `column`, `n_null` and
    * `n_distinct` are typed nullable.
    *
    * Single pass over the input, read off the per-column value counts
    * ([[valueCountStats]]) — no per-column scans, and lazy: no driver
    * round-trip. */
  def deadColumns(df: DataFrame, cols: Seq[String]): DataFrame = {
    import org.apache.spark.sql.graft.Bridge.nullable
    valueCountStats(df, cols) { (c, own, n) =>
      struct(
        nullable(lit(c)).as("column"),
        sum(when(own && col(c).isNull, n).otherwise(0L)).as("n_null"),
        nullable(count(col(c))).as("n_distinct"))
    }.withColumn("verdict",
      when(col("n_distinct") === 0, lit("all_null"))
        .when(col("n_distinct") === 1, lit("constant"))
        .otherwise(lit("live")))
  }

  /** l-diversity audit — [[kAnonymity]]'s companion: k-anonymity bounds
    * class SIZE, but a class whose sensitive attribute is constant still
    * discloses it to anyone who can place a person in the class
    * (homogeneity attack). Per quasi-identifier class this measures the
    * number of DISTINCT sensitive values; one row reports the corpus
    * minimum, class count, and the classes/rows below the required `l`.
    * NULL sensitive values count as a value (they are still a
    * disclosure). One keyed shuffle + a class-frame roll-up — nothing
    * row-proportional after the first aggregation. */
  def lDiversity(df: DataFrame, quasiCols: Seq[String], sensitiveCol: String,
      l: Long): DataFrame = {
    require(quasiCols.nonEmpty && l >= 1)
    val classes = df.groupBy(quasiCols.map(col): _*)
      .agg(count_distinct_with_nulls(col(sensitiveCol)).as("__l"),
        count(lit(1)).as("__n"))
    classes.agg(
      min("__l").as("min_l"),
      count(lit(1)).as("n_classes"),
      sum(when(col("__l") < l, 1L).otherwise(0L)).as("classes_below_l"),
      sum(when(col("__l") < l, col("__n")).otherwise(0L)).as("rows_at_risk"),
      sum("__n").as("n_rows"))
      .withColumn("at_risk_ratio",
        round(col("rows_at_risk").cast("double") / col("n_rows"), 6))
  }

  /** `countDistinct` that counts NULL as one value (SQL's excludes it). */
  private def count_distinct_with_nulls(c: Column): Column =
    countDistinct(c) + max(when(c.isNull, 1L).otherwise(0L))

  /** t-closeness audit — the third of the privacy trio after
    * [[kAnonymity]] (class size) and [[lDiversity]] (sensitive-value
    * diversity): a class can be large AND diverse yet still leak if its
    * sensitive DISTRIBUTION deviates from the corpus (skewness attack).
    * Per quasi-identifier class this measures the total-variation
    * distance `t_c = ½·Σ_v |p_c(v) − p(v)|` of the class's categorical
    * sensitive distribution from the global one; one row reports the
    * maximum, the class count, and classes/rows above the allowed `t`.
    * NULL sensitive values form a category.
    *
    * Shape: one (class, value) joint aggregation (output bounded by
    * |classes|·|values|), marginals rolled up FROM the joint (no second
    * scan), absent cells handled by adding each class's
    * `½·Σ_{v∉class} p(v)` analytically — the full r×c grid is never
    * materialized (the chi-square-family lesson: absent cells still
    * carry mass). Per-cell terms are nano-quantized to longs so the sum
    * is exact under any accumulation order. */
  def tCloseness(df: DataFrame, quasiCols: Seq[String], sensitiveCol: String,
      t: Double): DataFrame = {
    require(quasiCols.nonEmpty && t >= 0.0 && t <= 1.0)
    // quasi cols coalesced to a sentinel so null-classes survive the
    // equi-joins below (join keys must be non-null); sensitive nulls
    // form a category the same way
    val base = df.select(
      quasiCols.map(c => coalesce(col(c).cast("string"), lit(" null")).as(c)) :+
        coalesce(col(sensitiveCol).cast("string"), lit(" null")).as("__v"): _*)
    val joint = base.groupBy(quasiCols.map(col) :+ col("__v"): _*)
      .agg(count(lit(1)).as("__nxv"))
    val cls = joint.groupBy(quasiCols.map(col): _*).agg(sum("__nxv").as("__nc"))
    val marg = joint.groupBy("__v").agg(sum("__nxv").as("__nv"))
    val totals = marg.agg(sum("__nv").as("__n"))
    // present cells: ½·|nxv/nc − nv/n|; absent cells of a class add
    // ½·Σ_{absent v} nv/n = ½·(1 − Σ_{present v} nv/n)
    val withP = joint
      .join(cls, quasiCols)
      .join(broadcast(marg), "__v")
      .crossJoin(broadcast(totals))
    val presentTermQ = floor(
      abs(col("__nxv").cast("double") / col("__nc") -
        col("__nv").cast("double") / col("__n")) * 5e8).cast("long")
    val presentMassQ = floor(col("__nv").cast("double") / col("__n") * 5e8).cast("long")
    val perClass = withP.groupBy(quasiCols.map(col): _*)
      .agg(max("__nc").as("__nc"),
        ((sum(presentTermQ) + lit(500000000L) - sum(presentMassQ)).cast("double") / 1e9)
          .as("__t"))
    // max_t / at_risk_ratio derive from exact longs by single divisions —
    // bit-identical in any engine, so emitted RAW (a 6-dp round could
    // flip on half boundaries; see the raw-doubles policy)
    perClass.agg(
      max("__t").as("max_t"),
      count(lit(1)).as("n_classes"),
      sum(when(col("__t") > t, 1L).otherwise(0L)).as("classes_above_t"),
      sum(when(col("__t") > t, col("__nc")).otherwise(0L)).as("rows_at_risk"),
      sum("__nc").as("n_rows"))
      .withColumn("at_risk_ratio",
        col("rows_at_risk").cast("double") / col("n_rows"))
  }

  /** Exact ROC AUC via the Mann–Whitney identity `AUC = (R⁺ −
    * n⁺(n⁺+1)/2) / (n⁺·n⁻)` with average ranks for tied scores — equal to
    * the trapezoidal ROC area including tie segments, with NO curve
    * materialization and no global row sort: scores collapse to one row
    * per DISTINCT value first (keyed partial agg), then the
    * [[mannWhitneyU]] distributed rank sweep (no unpartitioned window —
    * continuous scores whose distinct frame approaches row count stay
    * parallel). Rank sums are half-integers carried as a doubled exact
    * long, so the statistic is bit-deterministic under any partitioning.
    * `labelCol` must be 0/1 (or boolean). */
  def rocAuc(df: DataFrame, scoreCol: String, labelCol: String): DataFrame = {
    val spark = df.sparkSession
    import spark.implicits._
    val s = col(scoreCol).cast("double")
    val y = col(labelCol).cast("int")
    val perVal = df.filter(s.isNotNull && y.isNotNull)
      .groupBy(s.as("v")).agg(
        sum(when(y === 1, 1L).otherwise(0L)).as("ca"),
        sum(when(y === 1, 0L).otherwise(1L)).as("cb"))
    val (np, nn, rp2, _) = rankSweep(perVal)
    if (np == 0L && nn == 0L) nullRow(spark,
      Seq(("n_pos", LongType), ("n_neg", LongType), ("auc", DoubleType)))
    else Seq((np, nn, rp2.toDouble / 2.0)).toDF("n_pos", "n_neg", "__rp")
      .select(col("n_pos"), col("n_neg"),
        ((col("__rp") - col("n_pos") * (col("n_pos") + 1) / lit(2.0)) /
          (col("n_pos") * col("n_neg")).cast("double")).as("auc"))
  }

  /** Reliability-diagram bins: equal-width score bins with per-bin count,
    * mean predicted score (decimal-exact accumulation) and observed
    * positive rate — the calibration audit for any model-scored corpus.
    * One hash aggregation; output bounded by `nBins`. */
  def calibrationBins(df: DataFrame, scoreCol: String, labelCol: String,
      nBins: Int = 10): DataFrame = {
    val s = col(scoreCol).cast("double")
    val y = col(labelCol).cast("int")
    val bin = least(floor(s * nBins), lit(nBins - 1)).cast("int")
    df.filter(s.isNotNull && y.isNotNull)
      .groupBy(bin.as("bin"))
      .agg(count(lit(1)).as("n"),
        (sum(s.cast("decimal(30,12)")).cast("double") / count(lit(1))).as("avg_score"),
        (sum(y.cast("long")).cast("double") / count(lit(1))).as("pos_rate"))
  }

  /** Expected Calibration Error — the headline scalar over the
    * [[calibrationBins]] reliability diagram: `ECE = Σ_b (n_b/N)·|s̄_b −
    * p̄_b|`, plus the worst single-bin gap (MCE). ONE corpus aggregation
    * into ≤ `nBins` rows; per-bin weighted gaps are nano-quantized to
    * exact longs before the closing sum, so the statistic is
    * accumulation-order-proof. Returns one row `(n, ece, max_gap)`. */
  def expectedCalibrationError(df: DataFrame, scoreCol: String,
      labelCol: String, nBins: Int = 10): DataFrame = {
    val s = col(scoreCol).cast("double")
    val y = col(labelCol).cast("int")
    val bins = df.filter(s.isNotNull && y.isNotNull)
      .groupBy(least(floor(s * nBins), lit(nBins - 1)).cast("int").as("bin"))
      .agg(count(lit(1)).as("n"),
        (sum(s.cast("decimal(30,12)")).cast("double") / count(lit(1))).as("avg_score"),
        (sum(y.cast("long")).cast("double") / count(lit(1))).as("pos_rate"))
    val gap = abs(col("avg_score") - col("pos_rate"))
    bins.agg(sum("n").as("n"),
      (sum(floor(gap * col("n") * lit(1e9) + lit(0.5)).cast("long"))
        .cast("double") / lit(1e9) / sum("n")).as("ece"),
      max(gap).as("max_gap"))
  }

  /** Isotonic (monotone non-decreasing) calibration fit over score bins —
    * the pool-adjacent-violators solution computed by its closed-form
    * minimax characterization `iso(i) = max_{j≤i} min_{k≥i} (Σ_{j..k} pos)
    * / (Σ_{j..k} n)` (Robertson–Wright–Dykstra, Order Restricted
    * Statistical Inference, Thm 1.4.4) instead of the sequential PAV
    * merge loop, so the whole fit is plain relational algebra.
    *
    * Scale shape: the corpus is touched by ONE binning aggregation into
    * ≤ `nBins` rows; the minimax runs on the bounded bin frame (O(nBins³)
    * joined rows — a constant). Determinism: every interval ratio is one
    * IEEE division of exact long sums, and min/max over doubles is
    * order-free, so the fit is bit-identical in any engine — no PAV
    * iteration order to disagree on. Returns per-bin
    * `(bin, n, pos, pos_rate, iso_rate)` with `iso_rate` non-decreasing. */
  def isotonicFit(df: DataFrame, scoreCol: String, labelCol: String,
      nBins: Int = 10): DataFrame = {
    require(nBins >= 1, "isotonicFit needs nBins >= 1")
    val s = col(scoreCol).cast("double")
    val y = col(labelCol).cast("int")
    val bins = df.filter(s.isNotNull && y.isNotNull)
      .groupBy(least(floor(s * nBins), lit(nBins - 1)).cast("int").as("bin"))
      .agg(count(lit(1)).as("n"), sum(y.cast("long")).as("pos"))
    // bounded from here on: <= nBins rows
    val b = bins.select(col("bin"), col("n"), col("pos"))
    val spans = b.select(col("bin").as("jb"))
      .join(b.select(col("bin").as("kb")), col("jb") <= col("kb"))
    val intervals = spans
      .join(b.select(col("bin").as("mb"), col("n"), col("pos")),
        col("mb") >= col("jb") && col("mb") <= col("kb"))
      .groupBy("jb", "kb")
      .agg((sum("pos").cast("double") / sum("n").cast("double")).as("ratio"))
    val iso = b.select(col("bin"))
      .join(intervals, col("jb") <= col("bin") && col("kb") >= col("bin"))
      .groupBy("bin", "jb").agg(min("ratio").as("__mn"))
      .groupBy("bin").agg(max("__mn").as("iso_rate"))
    b.join(iso, "bin")
      .select(col("bin"), col("n"), col("pos"),
        (col("pos").cast("double") / col("n").cast("double")).as("pos_rate"),
        col("iso_rate"))
  }

  /** Brier score `mean((s − y)²)` — per-row squared errors are
    * nano-quantized to longs before the sum, so the mean is exact under
    * any accumulation order (± 1e-9 quantization, far below reporting
    * precision). One partial+final aggregate. */
  def brierScore(df: DataFrame, scoreCol: String, labelCol: String): DataFrame = {
    val s = col(scoreCol).cast("double")
    val y = col(labelCol).cast("int").cast("double")
    val errQ = floor((s - y) * (s - y) * lit(1e9)).cast("long")
    df.filter(s.isNotNull && y.isNotNull)
      .agg(count(lit(1)).as("n"),
        (sum(errQ).cast("double") / 1e9 / count(lit(1))).as("brier"))
  }

  /** Cramér's V — the [0,1]-normalized χ² association between two
    * categorical columns (the effect-size companion to a raw χ² test):
    * `V = √(χ²/(n·(min(r,c)−1)))`. Same bounded contingency-frame shape
    * as [[mutualInformation]]; expected cells derive from exact integer
    * marginal products and per-cell terms are nano-quantized, so the
    * statistic is deterministic. */
  def cramersV(df: DataFrame, xCol: String, yCol: String): DataFrame = {
    val base = df.filter(col(xCol).isNotNull && col(yCol).isNotNull)
    val joint = base.groupBy(col(xCol).as("x"), col(yCol).as("y"))
      .agg(count(lit(1)).as("nxy"))
    val mx = joint.groupBy("x").agg(sum("nxy").as("nx"))
    val my = joint.groupBy("y").agg(sum("nxy").as("ny"))
    val n = joint.agg(sum("nxy").as("__n"))
    val dims = mx.agg(count(lit(1)).as("r"))
      .crossJoin(my.agg(count(lit(1)).as("c")))
    val e = (col("nx") * col("ny")).cast("double") / col("__n")
    // absent joint cells are real zero observations: restore the full
    // r×c grid, else their (0−e)²/e mass is silently dropped
    val grid = mx.crossJoin(my)
      .join(joint, Seq("x", "y"), "left")
      .withColumn("o", coalesce(col("nxy"), lit(0L)))
    val termQ = floor((col("o") - e) * (col("o") - e) / e * 1e9).cast("long")
    grid.crossJoin(broadcast(n))
      .agg(max("__n").as("n"), (sum(termQ).cast("double") / 1e9).as("chi2"))
      .crossJoin(broadcast(dims))
      .select(col("n"), col("r"), col("c"), col("chi2"),
        when(least(col("r"), col("c")) > 1,
          sqrt(col("chi2") / (col("n") * (least(col("r"), col("c")) - 1))
            .cast("double"))).as("cramers_v"))
  }

  /** Theil T inequality index of a positive quantity — the
    * information-theoretic concentration measure next to
    * [[gini]]-style audits, decomposable across groups: `T = (1/n)
    * Σ r_i·ln(r_i)` with `r_i = x_i·n/X`. One count/sum pass + one
    * row-local term pass (nano-quantized longs ⇒ order-independent
    * exact sum). `valueCol` must be integral and > 0 rows only
    * (non-positive rows are excluded — ln is undefined there). */
  def theilIndex(df: DataFrame, valueCol: String): DataFrame = {
    val x = col(valueCol).cast("long")
    val pos = df.filter(x.isNotNull && x > 0)
    val tot = pos.agg(count(lit(1)).as("__n"), sum(x).as("__x"))
    val r = (x * col("__n")).cast("double") / col("__x")
    val termQ = floor(r * log(r) * 1e9).cast("long")
    pos.crossJoin(broadcast(tot))
      .agg(max("__n").as("n"),
        (sum(termQ).cast("double") / 1e9 / max("__n")).as("theil"))
  }

  /** Poisson bootstrap confidence interval for a mean — the
    * large-scale-A/B uncertainty-quantification technique (each of `b`
    * resamples weights every row by an independent Poisson(1) draw, so
    * resampling is ONE streaming pass, no row sampling or materialized
    * resamples). The draws derive from md5(id, replicate) inverse-CDF
    * thresholds, making the bootstrap fully DETERMINISTIC and
    * engine-reproducible (the DuckDB oracle rebuilds identical weights).
    * `valueCol` must be integral (pre-scale to cents): per-replicate
    * weighted sums stay exact longs, so every replicate mean is
    * bit-deterministic. Output: one row `(n_boot, ci_lo, ci_hi)` at the
    * ~2.5/97.5 rank positions of the replicate means.
    *
    * Scale: the explode is b× the input rows but row-local; the only
    * shuffle carries b partial-aggregated rows. The md5 digest is the
    * dominant per-row cost, so each 32-hex-char digest is split into
    * FOUR 8-char (32-bit) uniforms — one hash per 4 replicates, ~4×
    * fewer digests than hashing per replicate (hence `b % 4 == 0`). */
  def poissonBootstrapMean(df: DataFrame, idCol: String, valueCol: String,
      b: Int = 32): DataFrame = {
    require(b >= 8 && b <= 1024 && b % 4 == 0)
    // cumulative Poisson(1) CDF, literal-exact in both engines
    val u = col("__u")
    val w = when(u < 0.36787944117144233, 0L)
      .when(u < 0.7357588823428847, 1L)
      .when(u < 0.9196986029286058, 2L)
      .when(u < 0.9810118431238462, 3L)
      .when(u < 0.9963401531726563, 4L)
      .when(u < 0.9994058151824183, 5L)
      .otherwise(6L)
    val boots = df
      .select(col(idCol).cast("string").as("__id"), col(valueCol).cast("long").as("__x"))
      // repartition the narrow (id, x) rows before the b/4-way explode +
      // per-row md5 — the pass's CPU is b/4 digests per input row, and a
      // single-file source would pin it to one scan task (guide §2.5);
      // every downstream sum is an exact long, partition-order-independent
      .repartition(df.sparkSession.sparkContext.defaultParallelism)
      .withColumn("__g", explode(sequence(lit(0), lit(b / 4 - 1))))
      .withColumn("__h", md5(concat_ws("_", col("__id"), col("__g").cast("string"))))
      .withColumn("__j", explode(sequence(lit(0), lit(3))))
      .withColumn("__b", col("__g") * 4 + col("__j"))
      .withColumn("__u",
        conv(expr("substring(__h, __j * 8 + 1, 8)"), 16, 10)
          .cast("double") / 4294967296.0)
      .withColumn("__w", w)
      .groupBy("__b")
      .agg((sum(col("__w") * col("__x")).cast("double") / sum("__w")).as("mean_b"))
    val wnd = org.apache.spark.sql.expressions.Window.orderBy(col("mean_b"), col("__b"))
    val loIdx = math.max(1, math.round(0.025 * b).toInt)
    val hiIdx = math.min(b, math.round(0.975 * b).toInt)
    boots.withColumn("__r", row_number().over(wnd))
      .agg(count(lit(1)).as("n_boot"),
        min(when(col("__r") === loIdx, col("mean_b"))).as("ci_lo"),
        min(when(col("__r") === hiIdx, col("mean_b"))).as("ci_hi"))
  }

  /** Mutual information between two categorical columns (nats) —
    * the model-free dependence measure that catches what χ² can and
    * nonlinear association too: `I = Σ_xy p_xy·ln(p_xy/(p_x·p_y))`.
    * One joint-count aggregation (output bounded by |X|·|Y|) + two
    * marginal roll-ups joined back; per-cell terms are nano-quantized
    * before the final sum so the statistic is deterministic. Also
    * reports the entropies and the normalized uncertainty coefficient
    * `U(x|y) = I/H(x)`. */
  def mutualInformation(df: DataFrame, xCol: String, yCol: String): DataFrame = {
    val base = df.filter(col(xCol).isNotNull && col(yCol).isNotNull)
    val joint = base.groupBy(col(xCol).as("x"), col(yCol).as("y"))
      .agg(count(lit(1)).as("nxy"))
    val mx = joint.groupBy("x").agg(sum("nxy").as("nx"))
    val my = joint.groupBy("y").agg(sum("nxy").as("ny"))
    val n = joint.agg(sum("nxy").as("__n"))
    val withP = joint.join(mx, "x").join(my, "y").crossJoin(broadcast(n))
    val nn = col("__n").cast("double")
    val pxy = col("nxy").cast("double") / nn
    // 1e9 (not finer) quantization: ln() may differ by an ulp between
    // Java and DuckDB's libm, and the grid must absorb it
    val miTermQ = floor(pxy * log(pxy /
      ((col("nx").cast("double") / nn) * (col("ny").cast("double") / nn))) * 1e9)
      .cast("long")
    val hxTermQ = floor((col("nx").cast("double") / nn) *
      log(col("nx").cast("double") / nn) * 1e9).cast("long")
    val mi = withP.agg((sum(miTermQ).cast("double") / 1e9).as("mi"))
    val hx = mx.crossJoin(broadcast(n))
      .agg((-sum(hxTermQ).cast("double") / 1e9).as("h_x"))
    mi.crossJoin(hx)
      .select(col("mi"), col("h_x"),
        when(col("h_x") > 0, col("mi") / col("h_x")).as("uncertainty_coef"))
  }

  /** Two-proportion z-test (pooled): is cohort A's success rate
    * different from B's — the funnel-dropoff / conversion-diff
    * significance check. All counts integral; the z statistic derives
    * from them by a fixed double-op sequence, so it is deterministic.
    * One conditional aggregation pass. */
  def twoProportionZ(df: DataFrame, groupCol: String, successCol: String,
      groupA: String, groupB: String): DataFrame = {
    val y = col(successCol).cast("int")
    val a = df.filter(col(groupCol) === groupA || col(groupCol) === groupB)
      .agg(
        sum(when(col(groupCol) === groupA, 1L).otherwise(0L)).as("n_a"),
        sum(when(col(groupCol) === groupA && y === 1, 1L).otherwise(0L)).as("s_a"),
        sum(when(col(groupCol) === groupB, 1L).otherwise(0L)).as("n_b"),
        sum(when(col(groupCol) === groupB && y === 1, 1L).otherwise(0L)).as("s_b"))
    val pa = col("s_a").cast("double") / col("n_a")
    val pb = col("s_b").cast("double") / col("n_b")
    val pool = (col("s_a") + col("s_b")).cast("double") / (col("n_a") + col("n_b"))
    val se = sqrt(pool * (lit(1.0) - pool) *
      (lit(1.0) / col("n_a") + lit(1.0) / col("n_b")))
    a.select(col("n_a"), col("s_a"), col("n_b"), col("s_b"),
      pa.as("p_a"), pb.as("p_b"),
      when(se > 0, (pa - pb) / se).as("z"))
  }

  /** Mode (most frequent value) per group, deterministic ties (highest
    * count, then smallest value): one keyed count aggregation to the
    * (group, value) frame + a row_number over each group's DISTINCT
    * values — bounded by value cardinality, not rows. */
  def modeByGroup(df: DataFrame, groupCol: String, valueCol: String): DataFrame = {
    val counts = df.filter(col(valueCol).isNotNull)
      .groupBy(col(groupCol), col(valueCol)).agg(count(lit(1)).as("n_mode"))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(groupCol).orderBy(col("n_mode").desc, col(valueCol).asc)
    counts.withColumn("__rk", row_number().over(w))
      .filter(col("__rk") === 1)
      .select(col(groupCol), col(valueCol).as("mode"), col("n_mode"))
  }

  /** 2-D skyline (Pareto frontier): the points not dominated under
    * (minimize `xCol`, maximize `yCol`) — "the cheapest offer at every
    * achievable quality level". The classic O(n²) NOT-EXISTS query
    * collapses to ONE keyed aggregation + one distributed prefix-max
    * sweep: fold to max-y per distinct x (keyed, map-side combined),
    * then keep the points whose y strictly exceeds the running max over
    * all smaller x. The sweep is a [[graft.core.OrderedScan]] on x
    * carrying the prefix max, so even a continuous-x domain whose
    * distinct-value frame approaches row count stays fully parallel —
    * no single-partition window anywhere. */
  def skyline2D(df: DataFrame, xCol: String, yCol: String): DataFrame = {
    val spark = df.sparkSession
    import spark.implicits._
    val x = col(xCol).cast("double")
    val y = col(yCol).cast("double")
    val perX = df.filter(x.isNotNull && y.isNotNull)
      .groupBy(x.as("x")).agg(max(y).as("y"))
    val rdd = perX.orderBy("x").select("x", "y")
      .queryExecution.toRdd.map(r => (r.getDouble(0), r.getDouble(1)))
    val kept = OrderedScan(rdd, Option.empty[Double]) { it =>
      var m = Option.empty[Double]
      it.foreach { case (_, yy) => if (m.forall(yy > _)) m = Some(yy) }
      m
    }((a, b) => (a.toSeq ++ b.toSeq).reduceOption[Double](math.max)).map { (carry, it) =>
      var m = carry
      it.filter { case (_, yy) =>
        val keep = m.forall(yy > _)
        if (keep) m = Some(yy)
        keep
      }
    }
    kept.toDF("x", "y").select(col("x").as(xCol), col("y").as(yCol))
  }

  /** Exact 1-Wasserstein (earth-mover) distance between two cohorts'
    * value distributions — the drift metric that reports "HOW FAR did
    * the distribution move" in value units, complementing PSI (binned
    * log-ratio) and KS (max CDF gap): `W₁ = ∫|F_a − F_b| dv`, computed
    * exactly as the sum over the merged distinct-value grid of
    * `|cdf_a − cdf_b|·(v_next − v)`; per-gap terms are nano-quantized to
    * longs so the integral is exact under any accumulation order.
    *
    * Default = the DISTRIBUTED ordered pass ([[wasserstein1Distributed]]):
    * no single-partition window anywhere, so a CONTINUOUS value domain
    * whose distinct-value frame approaches row count still spreads across
    * the cluster. The single-partition window formulation survives as
    * [[wasserstein1Window]], the verification twin (bit-identical,
    * spec-asserted on continuous-domain inputs). */
  def wasserstein1(df: DataFrame, valueCol: String, groupCol: String,
      groupA: String, groupB: String): DataFrame =
    wasserstein1Distributed(df, valueCol, groupCol, groupA, groupB)

  /** The one-window formulation of [[wasserstein1]] — ordered window over
    * the distinct-value frame, SINGLE-PARTITION by construction (fine for
    * discrete/quantized domains; the default delegates to the distributed
    * pass instead). Kept as the independent verification twin: same
    * arithmetic, op-for-op, so the two paths are bit-identical. */
  def wasserstein1Window(df: DataFrame, valueCol: String, groupCol: String,
      groupA: String, groupB: String): DataFrame = {
    val perVal = perValCounts(df, valueCol, groupCol, groupA, groupB)
    val w = org.apache.spark.sql.expressions.Window.orderBy("v")
    val run = w.rowsBetween(org.apache.spark.sql.expressions.Window.unboundedPreceding, 0)
    val all = org.apache.spark.sql.expressions.Window
      .partitionBy(lit(1))
    val stepped = perVal.select(col("v"),
      sum("ca").over(run).as("cum_a"), sum("cb").over(run).as("cum_b"),
      lead(col("v"), 1).over(w).as("nv"),
      sum("ca").over(all).as("n_a"), sum("cb").over(all).as("n_b"))
    val termQ = floor(
      abs(col("cum_a").cast("double") / col("n_a") -
        col("cum_b").cast("double") / col("n_b")) *
        (col("nv") - col("v")) * lit(1e9)).cast("long")
    stepped.filter(col("nv").isNotNull)
      .agg(max("n_a").as("n_a"), max("n_b").as("n_b"),
        (sum(termQ).cast("double") / 1e9).as("w1raw"))
      // empty cohort ⇒ W₁ undefined: fail loudly (at action time) instead
      // of silently reporting 0/null "no drift"
      .select(col("n_a"), col("n_b"),
        when(coalesce(col("n_a"), lit(0L)) > 0 && coalesce(col("n_b"), lit(0L)) > 0,
          col("w1raw"))
          .otherwise(raise_error(lit("wasserstein1: empty cohort — W1 undefined")))
          .as("w1"))
  }

  /** [[wasserstein1]] with a DISTRIBUTED ordered pass — the 100 TB shape:
    * instead of a single-partition window over the distinct-value frame,
    * the frame is range-sorted (Spark's `orderBy` = range-partitioned
    * sort) and runs as a [[graft.core.OrderedScan]]: each partition's CDF
    * terms come from its carried prefix counts, and the gap across a
    * partition boundary from the carried last value before it. All
    * arithmetic matches [[wasserstein1]] operation-for-operation, so the
    * two implementations are BIT-IDENTICAL (spec-asserted) — same DuckDB
    * oracle. */
  def wasserstein1Distributed(df: DataFrame, valueCol: String, groupCol: String,
      groupA: String, groupB: String): DataFrame = {
    val spark = df.sparkSession
    import spark.implicits._
    val perVal = perValCounts(df, valueCol, groupCol, groupA, groupB)
    val rdd = perVal.orderBy("v").select("v", "ca", "cb")
      .queryExecution.toRdd
      .map(r => (r.getDouble(0), r.getLong(1), r.getLong(2)))
    // summary: the partition's counts and last value; the carry-in is the
    // counts below the partition and the last value before it
    OrderedScan.eager(rdd, (0L, 0L, Option.empty[Double])) { it =>
      var ca = 0L; var cb = 0L; var last = 0.0; var any = false
      it.foreach { case (vv, a, b) => ca += a; cb += b; last = vv; any = true }
      (ca, cb, if (any) Some(last) else None)
    }((p, q) => (p._1 + q._1, p._2 + q._2, q._3.orElse(p._3))) { scan =>
      val (na, nb, _) = scan.total
      require(na > 0 && nb > 0,
        s"wasserstein1Distributed: empty cohort (n_a=$na, n_b=$nb) — " +
          "W1 is undefined; both groups must be present")
      // each gap term closes in the partition holding its right end, the
      // boundary gap from the carried previous value
      val sumQ = scan.fold(0L) { case ((offA, offB, prevV), it) =>
        var ca = offA; var cb = offB
        var acc = 0L
        var pend: (Double, Long, Long) = prevV.map((_, offA, offB)).orNull
        it.foreach { case (vv, a, b) =>
          if (pend != null)
            acc += math.floor(math.abs(pend._2.toDouble / na - pend._3.toDouble / nb) *
              (vv - pend._1) * 1e9).toLong
          ca += a; cb += b
          pend = (vv, ca, cb)
        }
        acc
      }(_ + _)
      Seq((na, nb, sumQ.toDouble / 1e9)).toDF("n_a", "n_b", "w1")
    }
  }

  /** Physical-partition skew report for the frame's CURRENT partitioning
    * — the "why is one task still running" diagnostic: rows per
    * `spark_partition_id`, rolled up to one row of
    * `(n_partitions, min_rows, max_rows, avg_rows, skew)` where `skew =
    * max/avg` (1.0 = perfectly balanced). Values depend on the physical
    * partitioning, so this is an ops tool, not an oracle-checkable query
    * (spec-asserted instead). */
  def partitionSkew(df: DataFrame): DataFrame =
    df.select(org.apache.spark.sql.functions.spark_partition_id().as("pid"))
      .groupBy("pid").agg(count(lit(1)).as("n_rows"))
      .agg(count(lit(1)).as("n_partitions"),
        min("n_rows").as("min_rows"), max("n_rows").as("max_rows"),
        (sum("n_rows").cast("double") / count(lit(1))).as("avg_rows"))
      .withColumn("skew", col("max_rows") / col("avg_rows"))

  /** Schema inference over STRING columns (the CSV/JSON-ingest
    * profiling step): classify every value of every listed column as
    * int / decimal / bool / date / timestamp / empty / other via
    * anchored ASCII regexes (identical semantics in Java and RE2, so a
    * DuckDB oracle can mirror them), and report per-column match counts
    * plus the inferred type — the dominant class when it (plus empties)
    * covers `minRatio` of non-null values, else 'string'. ONE pass over
    * all columns (lazy stack pivot, no per-column scans). */
  def inferTypes(df: DataFrame, cols: Seq[String], minRatio: Double = 0.95): DataFrame = {
    require(cols.nonEmpty)
    val intRe = "^-?[0-9]+$"
    val decRe = "^-?[0-9]*\\.[0-9]+$"
    val boolRe = "^(true|false|TRUE|FALSE)$"
    val dateRe = "^[0-9][0-9][0-9][0-9]-[0-9][0-9]-[0-9][0-9]$"
    val tsRe = "^[0-9][0-9][0-9][0-9]-[0-9][0-9]-[0-9][0-9][ T][0-9][0-9]:[0-9][0-9]:[0-9][0-9]([.][0-9]+)?$"
    def cnt(c: String, re: String) = sum(when(col(c).rlike(re), 1L).otherwise(0L))
    val aggs = cols.flatMap { c =>
      Seq(count(col(c)).as(s"__n_$c"),
        cnt(c, intRe).as(s"__int_$c"), cnt(c, decRe).as(s"__dec_$c"),
        cnt(c, boolRe).as(s"__bool_$c"), cnt(c, dateRe).as(s"__date_$c"),
        cnt(c, tsRe).as(s"__ts_$c"),
        sum(when(col(c) === "", 1L).otherwise(0L)).as(s"__empty_$c"))
    }
    val stackArgs = cols.map(c =>
      s"'$c', `__n_$c`, `__int_$c`, `__dec_$c`, `__bool_$c`, `__date_$c`, `__ts_$c`, `__empty_$c`")
      .mkString(", ")
    val base = df.agg(aggs.head, aggs.tail: _*)
      .selectExpr(s"stack(${cols.size}, $stackArgs) AS " +
        "(column, n, n_int, n_dec, n_bool, n_date, n_ts, n_empty)")
    val informative = col("n") - col("n_empty")
    def dominant(c: Column, tpe: String) =
      when(informative > 0 && c >= informative * minRatio, lit(tpe))
    base.withColumn("inferred",
      coalesce(
        // int before decimal: ints also never match decRe, but a column
        // mixing both should surface as decimal, so test the union first
        dominant(col("n_int") + col("n_dec"), "decimal"),
        dominant(col("n_bool"), "bool"),
        dominant(col("n_date"), "date"),
        dominant(col("n_ts"), "timestamp"),
        lit("string")))
      .withColumn("inferred",
        // all-decimal-match but every value integral -> int
        when(col("inferred") === "decimal" &&
          (informative === 0 || col("n_dec") === 0), lit("int"))
          .otherwise(col("inferred")))
  }

  /** Sample-ratio-mismatch (SRM) check — the A/B-test health gate: does
    * the observed arm allocation match the design? Chi-square
    * goodness-of-fit of per-arm counts against `expected` proportions;
    * arms observed but not in `expected` (or vice versa) count with
    * expectation/observation 0 resp., so allocation bugs that invent or
    * starve an arm register as huge χ². One count aggregation (output
    * bounded by #arms); per-arm χ² terms are nano-quantized before the
    * final sum so the statistic is deterministic. Output: one row
    * `(n, n_arms, chi2)`. */
  def sampleRatioMismatch(df: DataFrame, armCol: String,
      expected: Map[String, Double], eps: Double = 1e-9): DataFrame = {
    require(expected.nonEmpty && expected.values.forall(_ > 0))
    val spark = df.sparkSession
    import spark.implicits._
    val obs = df.filter(col(armCol).isNotNull)
      .groupBy(col(armCol).cast("string").as("arm"))
      .agg(count(lit(1)).as("o"))
    val exp = expected.toSeq.toDF("arm", "p")
    val n = obs.agg(sum("o").as("__n"))
    // unexpected arms get an eps share: large finite chi2, not a div-by-0
    val e = greatest(col("p"), lit(eps)) * col("__n")
    val termQ = floor((col("o") - e) * (col("o") - e) / e * 1e9).cast("long")
    obs.join(exp, Seq("arm"), "full_outer")
      .select(coalesce(col("o"), lit(0L)).as("o"),
        coalesce(col("p"), lit(0.0)).as("p"))
      .crossJoin(broadcast(n))
      .agg(max("__n").as("n"), count(lit(1)).as("n_arms"),
        (sum(termQ).cast("double") / 1e9).as("chi2"))
  }

  /** Cohen's kappa — chance-corrected agreement between two categorical
    * columns (label vs relabel audit, annotator consistency, model-vs-
    * model diff): `κ = (p_o − p_e)/(1 − p_e)` with observed agreement
    * `p_o` and chance agreement `p_e = Σ_c margA_c·margB_c / n²`.
    *
    * One full-table aggregate (n, agreements) + two category-sized
    * marginal aggregates joined on category — everything stays integral
    * until two final divisions, so the statistic is exact-deterministic
    * under any partitioning. Output: one row `(n, po, pe, kappa)`. */
  def cohenKappa(df: DataFrame, aCol: String, bCol: String): DataFrame = {
    val base = df.agg(count(lit(1)).as("n"),
      sum(when(col(aCol) <=> col(bCol), 1L).otherwise(0L)).as("agree"))
    val ma = df.groupBy(col(aCol).as("cat")).agg(count(lit(1)).as("na"))
    val mb = df.groupBy(col(bCol).as("cat")).agg(count(lit(1)).as("nb"))
    val prodSum = ma.join(mb, "cat")
      .agg(coalesce(sum(col("na") * col("nb")), lit(0L)).as("sum_prod"))
    val po = col("agree").cast("double") / col("n")
    val pe = col("sum_prod").cast("double") / (col("n") * col("n")).cast("double")
    base.crossJoin(broadcast(prodSum))
      .select(col("n"), po.as("po"), pe.as("pe"),
        ((po - pe) / (lit(1.0) - pe)).as("kappa"))
  }
}
