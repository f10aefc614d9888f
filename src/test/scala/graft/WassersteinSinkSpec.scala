package graft

import org.apache.spark.sql.functions._
import graft.operators.Profiler
import graft.streaming.IdempotentSink

class WassersteinSinkSpec extends SparkSpec {

  test("wasserstein1: identical = 0, shifted point masses = shift, hand case") {
    // uncoalesced, so the range sort keeps one partition per distinct value
    withConfs("spark.sql.adaptive.coalescePartitions.enabled" -> "false") {
      val s = spark
      import s.implicits._
      val same = Seq(("a", 1.0), ("a", 2.0), ("b", 1.0), ("b", 2.0)).toDF("g", "v")
      assert(Profiler.wasserstein1(same, "v", "g", "a", "b")
        .collect().head.getAs[Double]("w1") == 0.0)
      // A at 0, B at 10 -> W1 = 10
      val shift = (Seq.fill(5)(("a", 0.0)) ++ Seq.fill(7)(("b", 10.0))).toDF("g", "v")
      val r = Profiler.wasserstein1(shift, "v", "g", "a", "b").collect().head
      assert(r.getLong(0) == 5L && r.getLong(1) == 7L)
      assert(math.abs(r.getAs[Double]("w1") - 10.0) < 1e-8)
      // A uniform {0,1}, B all at 1: |0.5-0|*1 = 0.5
      val hand = (Seq(("a", 0.0), ("a", 1.0)) ++ Seq.fill(3)(("b", 1.0))).toDF("g", "v")
      assert(math.abs(Profiler.wasserstein1(hand, "v", "g", "a", "b")
        .collect().head.getAs[Double]("w1") - 0.5) < 1e-8)
    }
  }

  test("mutualInformation: independence = 0, identity = H(x), U in [0,1]") {
    val s = spark
    import s.implicits._
    // independent: every (x, y) combo equally likely
    val indep = (for (x <- Seq("a", "b"); y <- Seq("u", "v"); _ <- 1 to 25)
      yield (x, y)).toDF("x", "y")
    val r0 = Profiler.mutualInformation(indep, "x", "y").collect().head
    assert(math.abs(r0.getAs[Double]("mi")) < 1e-8)
    // deterministic copy: MI == H(x) == ln 2, U == 1
    val ident = (Seq.fill(50)(("a", "a")) ++ Seq.fill(50)(("b", "b"))).toDF("x", "y")
    val r1 = Profiler.mutualInformation(ident, "x", "y").collect().head
    assert(math.abs(r1.getAs[Double]("mi") - math.log(2)) < 1e-6)
    assert(math.abs(r1.getAs[Double]("uncertainty_coef") - 1.0) < 1e-6)
  }

  test("cramersV: independence ~0, deterministic copy = 1") {
    val s = spark
    import s.implicits._
    val indep = (for (x <- Seq("a", "b"); y <- Seq("u", "v"); _ <- 1 to 25)
      yield (x, y)).toDF("x", "y")
    val r0 = Profiler.cramersV(indep, "x", "y").collect().head
    assert(math.abs(r0.getAs[Double]("chi2")) < 1e-8)
    val ident = (Seq.fill(50)(("a", "a")) ++ Seq.fill(50)(("b", "b"))).toDF("x", "y")
    val r1 = Profiler.cramersV(ident, "x", "y").collect().head
    assert(math.abs(r1.getAs[Double]("cramers_v") - 1.0) < 1e-4)
    // a single-category column -> V undefined (null), chi2 = 0
    val flat = Seq.fill(10)(("a", "u")).toDF("x", "y")
    assert(Profiler.cramersV(flat, "x", "y").collect().head.isNullAt(4))
  }

  test("theilIndex: perfect equality = 0, monopoly -> ln(n)") {
    val s = spark
    import s.implicits._
    val equal = (1 to 100).map(_ => 50L).toDF("x")
    val r0 = Profiler.theilIndex(equal, "x").collect().head
    assert(math.abs(r0.getAs[Double]("theil")) < 1e-8)
    // one holder of everything (others excluded as zero): with the
    // positive-only filter the single row IS the population -> T = 0;
    // instead: near-monopoly 1 big + 99 tiny
    val mono = (1L +: Seq.fill(99)(1L) :+ 990000L).toDF("x")
    val r1 = Profiler.theilIndex(mono, "x").collect().head
    // T approaches ln(n)=ln(101)~4.6 as concentration -> total
    assert(r1.getAs[Double]("theil") > 4.0)
  }

  test("twoProportionZ matches the hand-computed pooled statistic") {
    val s = spark
    import s.implicits._
    // A: 40/100 success, B: 25/100
    val rows = Seq.fill(40)(("A", 1)) ++ Seq.fill(60)(("A", 0)) ++
      Seq.fill(25)(("B", 1)) ++ Seq.fill(75)(("B", 0))
    val r = Profiler.twoProportionZ(rows.toDF("g", "y"), "g", "y", "A", "B")
      .collect().head
    assert(r.getLong(0) == 100L && r.getLong(1) == 40L && r.getLong(3) == 25L)
    val pool = 65.0 / 200
    val want = (0.40 - 0.25) / math.sqrt(pool * (1 - pool) * (1.0 / 100 + 1.0 / 100))
    assert(math.abs(r.getAs[Double]("z") - want) < 1e-12)
  }

  test("modeByGroup: ties break to the smallest value; nulls ignored") {
    val s = spark
    import s.implicits._
    val df = Seq(("a", Some(3)), ("a", Some(3)), ("a", Some(1)), ("a", Some(1)),
      ("a", Some(2)), ("b", Some(9)), ("b", None)).toDF("g", "v")
    val out = Profiler.modeByGroup(df, "g", "v")
      .collect().map(r => r.getString(0) -> (r.getInt(1), r.getLong(2))).toMap
    assert(out("a") == (1, 2L)) // 1 and 3 both appear twice -> smaller wins
    assert(out("b") == (9, 1L))
  }

  test("autocorr matches a direct Pearson computation on lagged pairs") {
    val s = spark
    import s.implicits._
    val xs = Seq(10L, 12L, 11L, 15L, 13L, 17L, 16L, 20L)
    val df = xs.zipWithIndex.map { case (x, i) => ("k", i.toLong, x) }.toDF("k", "ord", "x")
    val got = graft.operators.TimeSeries.autocorr(df, "k", Seq(col("ord")), "x", 1)
      .collect().head
    val pairs = xs.zip(xs.drop(1)).map { case (y, x) => (x.toDouble, y.toDouble) }
    val n = pairs.length
    val (sx, sy) = (pairs.map(_._1).sum, pairs.map(_._2).sum)
    val sxy = pairs.map(p => p._1 * p._2).sum
    val sxx = pairs.map(p => p._1 * p._1).sum
    val syy = pairs.map(p => p._2 * p._2).sum
    val want = (n * sxy - sx * sy) /
      math.sqrt((n * sxx - sx * sx) * (n * syy - sy * sy))
    assert(got.getLong(1) == n)
    assert(math.abs(got.getAs[Double]("acf") - want) < 1e-12)
    // constant series -> zero variance -> null acf
    val const = (0 to 5).map(i => ("c", i.toLong, 7L)).toDF("k", "ord", "x")
    assert(graft.operators.TimeSeries.autocorr(const, "k", Seq(col("ord")), "x", 1)
      .collect().head.isNullAt(2))
  }

  test("skyline2D equals the brute-force NOT-dominated set") {
    val s = spark
    import s.implicits._
    val rnd = new scala.util.Random(17)
    val pts = (1 to 300).map(_ => (rnd.nextInt(50).toDouble, rnd.nextInt(50).toDouble))
    val df = pts.toDF("x", "y")
    val got = Profiler.skyline2D(df, "x", "y")
      .collect().map(r => (r.getDouble(0), r.getDouble(1))).toSet
    // brute force: keep (x,y) iff no other point has x' <= x, y' >= y
    // with at least one strict inequality
    val distinct = pts.toSet
    val want = distinct.filter { case (x, y) =>
      !distinct.exists { case (x2, y2) =>
        x2 <= x && y2 >= y && (x2 < x || y2 > y)
      }
    }
    assert(got == want)
  }

  test("skyline2D distributed sweep: continuous x (distinct ≈ rows) matches brute force, no Window") {
    val s = spark
    import s.implicits._
    val rnd = new scala.util.Random(23)
    // continuous doubles: every x distinct, the frame spans all partitions —
    // the shape where a single-partition window was the scale killer
    val pts = (1 to 2000).map(_ => (rnd.nextDouble() * 100, rnd.nextDouble() * 100))
    val got = Profiler.skyline2D(pts.toDF("x", "y"), "x", "y")
    assert(got.queryExecution.optimizedPlan.collect {
      case w: org.apache.spark.sql.catalyst.plans.logical.Window => w
    }.isEmpty)
    val gotSet = got.collect().map(r => (r.getDouble(0), r.getDouble(1))).toSet
    val distinct = pts.toSet
    val want = distinct.filter { case (x, y) =>
      !distinct.exists { case (x2, y2) => x2 <= x && y2 >= y && (x2 < x || y2 > y) }
    }
    assert(gotSet == want && want.size > 5)
  }

  test("resampleLocfByKey (the at-scale variant) plans only key-partitioned windows") {
    val s = spark
    import s.implicits._
    val sparse = Seq(("a", 1L, Some(10L)), ("a", 4L, Some(11L)), ("b", 2L, Some(5L)),
      ("b", 6L, None)).toDF("k", "day", "v")
    val out = graft.operators.TimeSeries.resampleLocfByKey(sparse, "k", "day", Seq("v"))
    val windows = out.queryExecution.optimizedPlan.collect {
      case w: org.apache.spark.sql.catalyst.plans.logical.Window => w
    }
    assert(windows.nonEmpty && windows.forall(_.partitionSpec.nonEmpty))
  }

  test("IdempotentSink: re-delivered batchIds are no-ops, new batchIds append") {
    val s = spark
    import s.implicits._
    val base = java.nio.file.Files.createTempDirectory("graft_sink").toString
    val fn = IdempotentSink.parquetBatchWriter(base)
    val b0 = (1 to 10).toDF("x")
    fn(b0, 0L)
    fn(b0, 0L) // crash-replay of the same batch
    fn((11 to 15).toDF("x"), 1L)
    fn((11 to 15).toDF("x"), 1L)
    val all = spark.read.parquet(s"$base/batch_*")
    assert(all.count() == 15L)
    assert(all.agg(countDistinct("x")).head.getLong(0) == 15L)
    // no staging leftovers
    assert(!new java.io.File(base).listFiles().exists(_.getName.startsWith("_tmp_")))
  }
}
