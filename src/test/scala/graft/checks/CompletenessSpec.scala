package graft.checks

import org.apache.spark.sql.functions._
import graft.SparkSpec
import graft.core._
import graft.{DQManager}

/** Port of the reference E2E smoke (`/root/reference/tests/test_dq_task.py`,
  * fixture A2) with real assertions, plus a null-injected variant to
  * exercise the failure branch, plus fused/per-check/observed metric-path
  * equivalence. */
class CompletenessSpec extends SparkSpec {

  /** `spark.range` + vectorized cols, as `tests/test_dq_task.py:13-28`
    * (n scaled down; semantics identical). */
  private def smokeDf(n: Long = 9000) = spark.range(0, n, 1, 4)
    .select(
      col("id").cast("int").as("name_id"),
      concat(lit("name_"), col("id")).as("name"),
      floor(rand(42) * 11).cast("int").as("age"),
      concat(lit("city_"), col("id")).as("city"))

  private def withNulls = smokeDf().withColumn(
    "age", when(rand(7) < 0.1, lit(null)).otherwise(col("age")))

  test("E2E: manager flow, no nulls → all ratios 1.0, success") {
    val mgr = new DQManager(spark, "smoke")
    mgr.setData(smokeDf())
    mgr.addCheck(new CompletenessColRatioCheck(
      "smoke", "run1", SeverityLevel.High, "completeness_ratio",
      Seq("name", "age", "city"), 0.5))
    val res = mgr.run()
    assert(res.getValidDf.count() == 9000)
    assert(res.getInvalidDf.count() == 0)
    val metrics = res.getMetricResults
    assert(metrics.schema == MetricResult.schema)
    val rows = metrics.collect()
    assert(rows.length == 3)
    assert(rows.forall(_.getAs[Double]("value_double") == 1.0))
  }

  test("null-injected variant exercises the failure branch") {
    val c = new CompletenessColRatioCheck(
      "smoke", "run1", SeverityLevel.High, "cr", Seq("age"), 0.999)
    val ms = c.metricResults(withNulls)
    assert(ms.size == 1)
    val ratio = ms.head.valueDouble.get
    assert(ratio < 0.999 && ratio > 0.8)
    assert(ms.head.valueString.get.contains("<"))
    // valid ∪ invalid ≡ df, valid ∩ invalid = ∅ (row-preserving algebra)
    val df = withNulls
    assert(c.valid(df, Seq("age")).count() + c.invalid(df, Seq("age")).count() == df.count())
  }

  test("raw completeness: one-pass metric, threshold honored (D1 fix of B1)") {
    val c = new CompletenessRawRatioCheck(
      "smoke", "run1", SeverityLevel.Medium, "raw", Seq("age", "name"), 0.85)
    val ms = c.metricResults(withNulls)
    val m = ms.head
    assert(m.column == "")
    assert(m.valueDouble.get > 0.85) // ~10% nulls → ratio ~0.9 >= 0.85 → success
    assert(m.valueString.get.contains(">="))
    assert(m.extraInfo.contains("valid_count"))
  }

  test("scope predicate restricts every computation") {
    val c = new CompletenessColRatioCheck(
      "smoke", "run1", SeverityLevel.Low, "scoped", Seq("age"), 0.5,
      scope = Scope(col("name_id") < 100))
    assert(c.valid(smokeDf(), Seq("age")).count() == 100)
    val ms = c.metricResults(withNulls)
    assert(ms.head.valueDouble.get >= 0.0)
  }

  test("fused path == per-check path; observed path agrees (O1)") {
    val df = withNulls
    val checks = Seq(
      new CompletenessColRatioCheck("smoke", "r", SeverityLevel.High, "cr", Seq("name", "age"), 0.5),
      new CompletenessRawRatioCheck("smoke", "r", SeverityLevel.High, "raw", Seq("age"), 0.5),
      new UniqueCheck("smoke", "r", SeverityLevel.High, "uq", Seq("name_id")))
    val mgr = new DQManager(spark, "smoke")
    mgr.setData(df)
    checks.foreach(mgr.addCheck)
    def key(m: MetricResult) = (m.metricName, m.column, m.valueDouble)
    val exact = checks.flatMap(_.metricResults(df)).map(key)
    assert(mgr.run().metricRows.map(key).toSet == exact.toSet)

    // observed path over a batch frame: metrics ride the job that reads it
    // (approx distinct for uniq)
    val observed = graft.streaming.StreamingDQ.observedMetrics(df, checks, "dq_batch")
    observed.collect()
    val row = observed.queryExecution.observedMetrics("dq_batch")
    val obs = checks.flatMap(_.metricsFromRow(row))
    // hll++ vs exact may differ for the uniqueness metric; others must match
    obs.filter(_.metricName != "uq").foreach(m => assert(exact.contains(key(m))))
    assert(obs.size == exact.size)
    val uq = exact.find(_._1 == "uq").flatMap(_._3).get
    assert(math.abs(obs.find(_.metricName == "uq").flatMap(_.valueDouble).get - uq) < 0.05)
  }

  test("memoization + shared df_count cache (base_check.py:62-92 parity)") {
    val df = smokeDf(1000)
    val mgr = new DQManager(spark, "memo")
    mgr.setData(df)
    val c1 = new CompletenessColRatioCheck("memo", "r", SeverityLevel.Low, "c1", Seq("age"), 0.5)
    val c2 = new CompletenessRawRatioCheck("memo", "r", SeverityLevel.Low, "c2", Seq("age"), 0.5)
    mgr.addCheck(c1); mgr.addCheck(c2)
    mgr.run()
    // valid df memoized: same instance on re-entry
    val v1 = c1.getValidDf(df)
    assert(c1.getValidDf(df) eq v1)
    // df_count computed once, shared across checks via the manager cache
    c1.df = df; c2.df = df
    assert(c1.dfCount == 1000L)
    assert(mgr.cacheObj.get("df_count").contains(1000L))
    assert(c2.dfCount == 1000L) // served from the shared per-manager cache
    // separate manager (D3): no leakage
    val mgr2 = new DQManager(spark, "memo2")
    assert(mgr2.cacheObj.get("df_count").isEmpty)
  }

  test("consistency + freshness + validity checks") {
    val s = spark
    import s.implicits._
    val orders = Seq((1L, 10L), (2L, 11L), (3L, 99L)).toDF("ok", "ck")
    val customers = Seq((10L, "a"), (11L, "b")).toDF("ck2", "nm")
    val cc = new ConsistencyCheck(
      "t", "r", SeverityLevel.High, "fk", Seq("ck"), customers, Seq("ck2"))
    assert(cc.invalid(orders, Seq("ck")).collect().map(_.getAs[Long]("ok")).toSet == Set(3L))
    val ms = cc.metricResults(orders)
    assert(ms.head.valueDouble.get == 1.0 / 3.0)

    val ts = java.sql.Timestamp.valueOf("2026-01-10 00:00:00")
    val events = Seq(
      (1L, java.sql.Timestamp.valueOf("2026-01-09 00:00:00")),
      (2L, java.sql.Timestamp.valueOf("2026-01-01 00:00:00"))).toDF("id", "ts")
    val fc = new FreshnessCheck("t", "r", SeverityLevel.Low, "fresh", "ts",
      FreshnessPeriod.Day, 2.0, anchor = Some(ts))
    val fm = fc.metricResults(events).head
    assert(fm.valueDouble.get == 1.0) // newest is 1 day old
    assert(fm.thresholdResult.contains(1.0))
    assert(fc.valid(events, Seq("ts")).count() == 1)

    val vc = new ValidityCheck("t", "r", SeverityLevel.High, "pos", col("ok") > 0, 1.0)
    assert(vc.metricResults(orders).head.valueDouble.contains(1.0))
  }
}
