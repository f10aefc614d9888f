package graft.checks

import java.sql.Timestamp
import scala.util.Random
import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import graft.{DQManager, ResultObj, SparkSpec}
import graft.core._
import graft.sources.Tables

/** `ResultObj`'s outputs read one marked frame; [[ResultFold]], the
  * per-check formulation, is the reference. Random inputs carry null keys,
  * null foreign keys, a two-column foreign key and duplicate rows; every
  * check type runs in several orders, under a column scope, a function
  * scope and a scope that is null on some rows. */
class MarkedResultSpec extends SparkSpec {

  private val Sev = SeverityLevel.High
  private val anchor = Timestamp.valueOf("2026-01-10 00:00:00")

  private val schema = StructType(Seq(
    StructField("k1", LongType), StructField("k2", IntegerType),
    StructField("fk1", LongType), StructField("fk2", IntegerType),
    StructField("s", StringType), StructField("v", DoubleType),
    StructField("ts", TimestampType), StructField("g", IntegerType),
    StructField("payload", LongType)))

  /** Base rows with distinct non-null `k1`, a group of null-`k1` rows and
    * duplicated rows. With `exact` every duplicate is a copy of its row;
    * without, each copy has its own `payload`, a column no check reads, so
    * which row of a group a dedup keeps decides nothing else. */
  private def randomInput(seed: Int, exact: Boolean, n: Int = 240): DataFrame = {
    val rnd = new Random(seed)
    def maybe[T <: AnyRef](p: Double)(v: => T): T = if (rnd.nextDouble() < p) null.asInstanceOf[T] else v
    def base(i: Int, k1: java.lang.Long): Row = Row(
      k1, maybe(0.1)(Int.box(i % 5)),
      maybe(0.1)(Long.box(rnd.nextInt(40).toLong)), maybe(0.1)(Int.box(rnd.nextInt(3))),
      maybe(0.15)(s"s${rnd.nextInt(9)}"), maybe(0.1)(Double.box(rnd.nextGaussian() * 10)),
      maybe(0.1)(new Timestamp(anchor.getTime - rnd.nextInt(96) * 3600000L)),
      maybe(0.15)(Int.box(rnd.nextInt(4))), Long.box(i.toLong))
    val rows = (0 until n).map(i => base(i, Long.box(i.toLong))) :+ base(n, null)
    var next = n + 1
    def copy(r: Row): Row =
      if (exact) r else { next += 1; Row.fromSeq(r.toSeq.init :+ Long.box(next.toLong)) }
    val dups = rows.filter(r => r.isNullAt(0) || rnd.nextDouble() < 0.12)
      .flatMap(r => Seq.fill(1 + rnd.nextInt(3))(copy(r)))
    spark.createDataFrame(spark.sparkContext.parallelize(rnd.shuffle(rows ++ dups), 4), schema)
  }

  /** Reference keys: most `(fk1, fk2)` pairs, a null key and a repeat. */
  private def refFrame(seed: Int): DataFrame = {
    val rnd = new Random(seed + 100)
    val keys = for (a <- 0L until 34L; b <- 0 until 3 if rnd.nextDouble() < 0.8)
      yield Row(Long.box(a), Int.box(b))
    spark.createDataFrame(spark.sparkContext.parallelize(
      keys ++ Seq(Row(Long.box(1L), null), keys.head), 2),
      StructType(Seq(StructField("rk1", LongType), StructField("rk2", IntegerType))))
  }

  private def baseline(seed: Int): DataFrame = {
    val rnd = new Random(seed + 200)
    spark.createDataFrame(spark.sparkContext.parallelize(
      (0 until 150).map(_ => Row(Double.box(rnd.nextGaussian() * 12 + 2))), 2),
      StructType(Seq(StructField("v", DoubleType))))
  }

  private def allChecks(seed: Int): Seq[BaseCheck] = {
    val nullScope = ColScope(col("g") > 0) // g is null on some rows
    val fnScope = FnScope(d => d("v") < 15)
    Seq(
      new CompletenessColRatioCheck("t", "r", Sev, "cc", Seq("s", "v"), 0.5),
      new CompletenessRawRatioCheck("t", "r", Sev, "raw", Seq("s", "ts"), 0.5, scope = nullScope),
      new ValidityCheck("t", "r", Sev, "pos", col("v") > -12, 0.5, Seq("v"), scope = fnScope),
      new AccuracyCheck("t", "r", Sev, "acc", col("g") =!= 3, 0.5, Seq("g")),
      new RuleCheck("t", "r", Sev, "rule", col("g") >= 2, col("s").isNotNull, 0.5, Seq("g", "s")),
      new FreshnessCheck("t", "r", Sev, "fresh", "ts", FreshnessPeriod.Hour, 72.0,
        anchor = Some(anchor)),
      new DriftCheck("t", "r", Sev, "drift", "v", baseline(seed), -30, 30, 6,
        scope = ColScope(col("v") =!= 0.0)), // its scope also reads the baseline
      new OutlierCheck("t", "r", Sev, "out", "v", zMax = 1.5, scope = ColScope(col("g") =!= 1)),
      new UniqueCheck("t", "r", Sev, "u1", Seq("k1")),
      new UniqueCheck("t", "r", Sev, "u12", Seq("k1", "k2"), scope = nullScope),
      new UniqueCheck("t", "r", Sev, "u0", Seq.empty),
      new ConsistencyCheck("t", "r", Sev, "fk2", Seq("fk1", "fk2"), refFrame(seed), Seq("rk1", "rk2")),
      new ConsistencyCheck("t", "r", Sev, "fk1", Seq("fk1"), refFrame(seed), Seq("rk1"),
        scope = fnScope))
  }

  /** Orders that put the unique and outlier checks before and after the
    * row-local ones, plus seeded shuffles. */
  private def orders(cs: Seq[BaseCheck], seed: Int): Seq[Seq[BaseCheck]] = {
    val (late, rowLocal) = cs.partition(c => c.isInstanceOf[UniqueCheck] || c.isInstanceOf[OutlierCheck])
    Seq(late ++ rowLocal, rowLocal ++ late, cs.reverse, new Random(seed).shuffle(cs))
  }

  private def managed(df: DataFrame, cs: Seq[BaseCheck]): ResultObj = {
    val mgr = new DQManager(spark, "t").setData(df)
    cs.foreach(mgr.addCheck)
    mgr.run()
  }

  private def bag(rows: Seq[Row]): Map[Row, Int] =
    rows.groupBy(identity).map { case (r, rs) => r -> rs.size }

  private def bag(df: DataFrame): Map[Row, Int] = bag(df.collect().toSeq)

  /** `out`'s columns in `df`'s order: the per-check consistency splits are
    * USING joins, which put the key columns first. */
  private def inInputOrder(out: DataFrame, df: DataFrame, extra: String*): DataFrame =
    out.select((df.columns ++ extra).map(col): _*)

  private def metricKeys(ms: Seq[MetricResult]) =
    ms.map(m => (m.metricName, m.column, m.valueDouble, m.valueString, m.extraInfo))
      .sortBy(k => (k._1, k._2, k._5.toSeq.sorted.mkString))

  /** `payload` is the input's last column. */
  private def withoutPayload(rows: Seq[Row]): Seq[Row] = rows.map(r => Row.fromSeq(r.toSeq.init))

  /** The three outputs of `res`, dropping the marked frame's cached blocks
    * before the second and third when `lose`. */
  private def outputs(res: ResultObj, lose: Boolean): (Seq[MetricResult], Seq[Row], Seq[Row]) = {
    val before = spark.sparkContext.getPersistentRDDs.keySet
    def drop(): Unit = if (lose)
      spark.sparkContext.getPersistentRDDs.filter { case (id, _) => !before(id) }
        .values.foreach(org.apache.spark.LostBlocks.drop)
    val ms = res.metricRows
    drop()
    val valid = res.getValidDf.collect().toSeq
    drop()
    (ms, valid, res.getInvalidUnionDf("tag").collect().toSeq)
  }

  Seq(true, false).foreach { exact =>
    val groups = if (exact) "exact duplicate groups" else "groups that differ in a payload"
    test(s"marked outputs match the per-check fold, every check type and order ($groups)") {
      (1 to 2).foreach { seed =>
        val df = randomInput(seed, exact).cache()
        orders(allChecks(seed), seed).zipWithIndex.foreach { case (cs, o) =>
          val at = s"seed $seed order $o"
          val res = managed(df, cs)
          val (ms, valid, invalid) = outputs(res, lose = o == 0)
          val (got, want) = (metricKeys(ms), metricKeys(ResultFold.metricRows(cs, df)))
          assert(got == want, s"$at: ${got.diff(want)} vs ${want.diff(got)}")
          assert(bag(invalid) == bag(inInputOrder(ResultFold.invalidUnion(cs, df, "tag"), df, "tag")), at)
          val ref = inInputOrder(ResultFold.validDf(cs, df), df)
          if (exact) assert(bag(valid) == bag(ref), at)
          else {
            assert(bag(withoutPayload(valid)) == bag(withoutPayload(ref.collect().toSeq)), at)
            val input = df.collect().toSet
            assert(valid.forall(input), at)
          }
          res.unpersist()
        }
        df.unpersist()
      }
    }
  }

  test("lost marked blocks are recomputed: outputs identical; unpersist leaves no cache") {
    releaseAll()
    val before = persisted
    val df = randomInput(3, exact = true)
    val cs = allChecks(3)
    val (ms1, v1, i1) = outputs(managed(df, cs), lose = false)
    val res = managed(df, cs)
    val (ms2, v2, i2) = outputs(res, lose = true)
    assert(metricKeys(ms1) == metricKeys(ms2))
    assert(bag(v1) == bag(v2))
    assert(bag(i1) == bag(i2))
    assert(persisted > before, "the marked frame is persisted")
    res.unpersist()
    assert(retainedAbove(before) == before)
  }

  test("a frame-bound scope resolves on the marked frame") {
    val df = randomInput(4, exact = true)
    val cs = Seq(
      new ValidityCheck("t", "r", Sev, "pos", col("v") > 0, 0.5, scope = ColScope(df("g") > 1)),
      new UniqueCheck("t", "r", Sev, "u1", Seq("k1"), scope = ColScope(df("v").isNotNull)))
    val res = managed(df, cs)
    assert(bag(res.getValidDf) == bag(ResultFold.validDf(cs, df)))
    assert(bag(res.getInvalidUnionDf("tag")) == bag(ResultFold.invalidUnion(cs, df, "tag")))
    res.unpersist()
  }

  test("a metrics-only manager without a consistency check marks nothing") {
    val df = randomInput(5, exact = true).cache()
    df.count()
    val cs = allChecks(5).filterNot(_.isInstanceOf[ConsistencyCheck])
    val before = spark.sparkContext.getPersistentRDDs.keySet
    val refJobs = jobsOf(ResultFold.metricRows(cs, df))
    val res = managed(df, cs)
    assert(jobsOf(res.metricRows) == refJobs)
    assert(spark.sparkContext.getPersistentRDDs.keySet == before)
    df.unpersist()
  }

  test("an empty manager's invalid union is an empty frame of the input schema plus the tag") {
    val df = randomInput(6, exact = true)
    val res = managed(df, Seq.empty)
    val u = res.getInvalidUnionDf("tag")
    assert(u.schema.fieldNames.toSeq == df.schema.fieldNames.toSeq :+ "tag")
    assert(u.schema("tag").dataType == StringType)
    assert(u.count() == 0)
    assert(res.getValidDf.count() == df.count())
    assert(res.metricRows.isEmpty)
  }

  // --- missing columns: one spec per check type, through every output ---

  private lazy val small = spark.createDataFrame(spark.sparkContext.parallelize(Seq(
    Row(Long.box(1L), Long.box(1L), "a", Double.box(1.0), anchor)), 1),
    StructType(Seq(StructField("k1", LongType), StructField("fk1", LongType),
      StructField("s", StringType), StructField("v", DoubleType), StructField("ts", TimestampType))))
  private lazy val smallRef = small.select(col("k1").as("rk1"))

  private val missingCases: Seq[(String, () => BaseCheck, String)] = Seq(
    ("completeness ratio", () => new CompletenessColRatioCheck("t", "r", Sev, "bad", Seq("s", "nope"), 0.5), "nope"),
    ("raw completeness", () => new CompletenessRawRatioCheck("t", "r", Sev, "bad", Seq("nope"), 0.5), "nope"),
    ("validity", () => new ValidityCheck("t", "r", Sev, "bad", col("v") > 0, 0.5, Seq("nope")), "nope"),
    ("accuracy", () => new AccuracyCheck("t", "r", Sev, "bad", col("v") > 0, 0.5, Seq("v", "nope")), "nope"),
    ("rule", () => new RuleCheck("t", "r", Sev, "bad", col("v") > 0, col("s").isNotNull, 0.5, Seq("nope")), "nope"),
    ("freshness", () => new FreshnessCheck("t", "r", Sev, "bad", "nope", FreshnessPeriod.Hour, 1.0), "nope"),
    ("drift baseline", () => new DriftCheck("t", "r", Sev, "bad", "v", smallRef, 0, 1, 2), "baselineDf.v"),
    ("outlier", () => new OutlierCheck("t", "r", Sev, "bad", "nope"), "nope"),
    ("unique", () => new UniqueCheck("t", "r", Sev, "bad", Seq("k1", "nope")), "nope"),
    ("consistency FK", () => new ConsistencyCheck("t", "r", Sev, "bad", Seq("nope"), smallRef, Seq("rk1")), "nope"),
    ("consistency reference key", () =>
      new ConsistencyCheck("t", "r", Sev, "bad", Seq("fk1"), smallRef, Seq("nope")), "refDf.nope"))

  missingCases.foreach { case (kind, mk, missing) =>
    test(s"missing column, $kind check: ColumnNotFoundException from every ResultObj output") {
      val ok = new CompletenessColRatioCheck("t", "r", Sev, "ok", Seq("s"), 0.5)
      val res = managed(small, Seq(ok, mk()))
      Seq[(String, () => Any)](
        "metrics" -> (() => res.getMetricResults),
        "valid" -> (() => res.getValidDf),
        "invalid union" -> (() => res.getInvalidUnionDf()),
        "invalid fold" -> (() => res.getInvalidDf)
      ).foreach { case (out, call) =>
        val e = intercept[ColumnNotFoundException](call())
        assert(e.getMessage.contains(missing) && e.getMessage.contains("bad"), s"$out: ${e.getMessage}")
      }
    }
  }

  test("completeness invalids check their columns like their valid twins") {
    val col2 = new CompletenessColRatioCheck("t", "r", Sev, "bad", Seq("nope"), 0.5)
    intercept[ColumnNotFoundException](col2.invalid(small))
    intercept[ColumnNotFoundException](col2.invalidCol(small, "nope"))
    intercept[ColumnNotFoundException](
      new CompletenessRawRatioCheck("t", "r", Sev, "bad", Seq("nope"), 0.5).invalid(small))
  }

  // --- job pin: the bench-shaped manager over sf0.01 ---

  test("bench-shaped five checks: metrics, valid write and invalid count in at most 12 jobs") {
    val dir = sfDir.replace("sf0.001", "sf0.01")
    val li = Tables.load(spark, dir, "lineitem")
    val ord = Tables.load(spark, dir, "orders")
    val cs = Seq(
      new CompletenessColRatioCheck("lineitem", "pin", Sev, "complete_cols",
        Seq("l_orderkey", "l_partkey", "l_quantity", "l_shipdate"), 0.95),
      new CompletenessRawRatioCheck("lineitem", "pin", Sev, "complete_raw",
        Seq("l_extendedprice", "l_discount"), 0.95),
      new UniqueCheck("lineitem", "pin", Sev, "unique_key", Seq("l_orderkey", "l_linenumber")),
      new ValidityCheck("lineitem", "pin", Sev, "valid_domain",
        col("l_quantity").between(1, 50) && col("l_discount").between(0, 0.1), 0.99,
        Seq("l_quantity", "l_discount")),
      new ConsistencyCheck("lineitem", "pin", Sev, "fk_orders", Seq("l_orderkey"), ord, Seq("o_orderkey")))
    val sink = java.nio.file.Files.createTempDirectory("graft-marked-pin").toString
    def run(): (Int, Seq[MetricResult], Long, Long) = {
      val res = managed(li, cs)
      var ms = Seq.empty[MetricResult]
      var invalid = 0L
      val jobs = jobsOf {
        ms = res.metricRows
        res.getValidDf.write.mode("overwrite").parquet(sink)
        invalid = res.getInvalidUnionDf().count()
      }
      res.unpersist()
      (jobs, ms, spark.read.parquet(sink).count(), invalid)
    }
    try {
      run() // the first run of a plan in a JVM launches one job more
      val (jobs, ms, valid, invalid) = run()
      val foldJobs = jobsOf {
        ResultFold.metricRows(cs, li)
        ResultFold.validDf(cs, li).write.mode("overwrite").parquet(sink)
        ResultFold.invalidUnion(cs, li, "tag").count()
      }
      info(s"marked: $jobs jobs; per-check fold: $foldJobs jobs")
      assert(jobs <= 12, s"$jobs jobs")
      assert(metricKeys(ms) == metricKeys(ResultFold.metricRows(cs, li)))
      assert(valid == ResultFold.validDf(cs, li).count())
      assert(invalid == ResultFold.invalidUnion(cs, li, "tag").count())
    } finally org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(sink))
  }
}
