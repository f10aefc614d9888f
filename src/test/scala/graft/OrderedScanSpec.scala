package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.storage.StorageLevel

import graft.checks.DriftCheck
import graft.core.{OrderedScan, SeverityLevel}
import graft.operators.{Conformal, Prefix, Profiler, TimeSeries}

/** The two-sweep ordered scan and the eight operators built on it:
  * carries across empty partitions, results that do not depend on the
  * range split, job counts, and cache release on failure. */
class OrderedScanSpec extends SparkSpec {
  import spark.implicits._

  // 10 sorted values over 64 slices: most partitions, the first six
  // among them, are empty
  private val vals = Seq(3L, 5L, 5L, 8L, 13L, 21L, 22L, 30L, 31L, 40L)
  private def sliced = spark.sparkContext.parallelize(vals, 64)

  test("empty partitions pass the carry through: running sums, last values, boundary gaps") {
    val sums = OrderedScan(sliced, 0L)(_.sum)(_ + _)
    assert(sums.total === vals.sum)
    assert(sums.map((c, it) => it.scanLeft(c)(_ + _).drop(1)).collect().toSeq ===
      vals.scanLeft(0L)(_ + _).tail)
    // the carry is the last value of the nearest non-empty partition before
    val last = OrderedScan(sliced, Option.empty[Long])(_.foldLeft(Option.empty[Long])(
      (_, v) => Some(v)))((a, b) => b.orElse(a))
    assert(last.total === Some(40L))
    val (gaps, steps) = last.fold((0L, 0)) { (prev, it) =>
      var p = prev; var g = 0L; var n = 0
      it.foreach { v => p.foreach { q => g += v - q; n += 1 }; p = Some(v) }
      (g, n)
    }((a, b) => (a._1 + b._1, a._2 + b._2))
    assert((gaps, steps) === ((40L - 3L, vals.length - 1)))
    val none = OrderedScan(spark.sparkContext.emptyRDD[Long], 7L)(_.sum)(_ + _)
    assert(none.total === 7L && none.map((c, it) => it.map(_ + c)).isEmpty())
  }

  test("find reads only the partition its long prefix selects, past Int.MaxValue") {
    // each element stands for that many values: 2^31, 2^31, 5 and 2^31
    val big = 1L << 31
    val reads = spark.sparkContext.longAccumulator
    val w = spark.sparkContext.parallelize(Seq(big, big, 5L, big), 4)
      .map { x => reads.add(1); x }
    val scan = OrderedScan(w, 0L)(_.sum)(_ + _)
    reads.reset()
    assert(scan.find(_ > 2 * big + 3)((below, it) => (below, it.toList)) ===
      Some((2 * big, List(5L))))
    assert(reads.value === 1L)
    assert(scan.find(_ > 0L)((below, _) => below) === Some(0L))
    assert(scan.find(_ >= 3 * big + 5)((below, _) => below) === Some(2 * big + 5))
    assert(scan.find(_ > 3 * big + 5)((below, _) => below) === None)
  }

  test("eager scan releases its input on return and on failure") {
    val rdd = sliced.map(_ * 2)
    assert(OrderedScan.eager(rdd, 0L)(_.sum)(_ + _)(_.fold(0L)((_, it) => it.size.toLong)(_ + _))
      === vals.length.toLong)
    assert(rdd.getStorageLevel === StorageLevel.NONE)
    intercept[IllegalStateException](
      OrderedScan.eager(rdd, 0L)(_.sum)(_ + _)(_ => throw new IllegalStateException("body")))
    assert(rdd.getStorageLevel === StorageLevel.NONE)
  }

  /** Runs `body` with `n` shuffle partitions and partition coalescing off,
    * so range-sorted frames keep every partition the range split made. */
  private def atPartitions[A](n: Int)(body: => A): A =
    withConfs("spark.sql.shuffle.partitions" -> n.toString,
      "spark.sql.adaptive.coalescePartitions.enabled" -> "false")(body)

  // ≤ 10 distinct sort values per site
  private val ranked = (0 until 240).map(i =>
    if (i % 3 == 0) ("A", ((i * 7) % 10).toDouble) else ("B", ((i * 3) % 7 + 2).toDouble))
  private val ks = (
    (0 until 300).map(i => ((i * i) % 10).toDouble),
    (0 until 200).map(i => ((i * 3) % 7 + 2).toDouble))
  // heavy top weight (70 keys at 9.00) and residual (5.0): the range split
  // of these duplicate-heavy frames can leave the last partition empty
  private val weights = (0 until 100).map(i => (s"k$i", if (i < 70) 9.0 else (i % 9).toDouble))
  private val resid = (0 until 300).map(i => (if (i % 5 < 3) 5.0 else (i % 9) * 0.5, i % 2 == 0))

  private def driftCheck(base: DataFrame) =
    new DriftCheck("t", "r", SeverityLevel.High, "drift", "v", base,
      lo = 0.0, hi = 10.0, nBins = 10)

  for (n <- Seq(1, 7, 64)) test(s"all eight ordered-scan sites equal their references at $n partitions") {
    atPartitions(n) {
      // Prefix.cumSumLongs vs the single-partition window
      val df = (1L to 10L).map(k => (11L - k, k * 37 % 11, 4L)).toDF("k", "v1", "v2")
      val w = Window.orderBy("k")
      assert(Prefix.cumSumLongs(df, "k", Seq("v1", "v2"), Seq("c1", "c2"))
        .orderBy("k").collect().toSeq ===
        df.withColumn("c1", sum("v1").over(w)).withColumn("c2", sum("v2").over(w))
          .orderBy("k").collect().toSeq)

      // TimeSeries.resampleLocf vs naive LOCF, leading nulls and a string column
      val obs = Seq((1L, None, None), (2L, None, Some("x")), (4L, Some(2.5), None),
        (7L, Some(1.0), Some("yy")), (8L, None, Some("z")), (10L, None, None))
      val got = TimeSeries.resampleLocf(obs.toDF("day", "a", "s"), "day", Seq("a", "s"))
        .orderBy("day").collect()
        .map(r => (r.getLong(0), Option(r.get(1)), Option(r.get(2)), r.getBoolean(3))).toSeq
      var la: Option[Any] = None; var ls: Option[Any] = None
      val want = (1L to 10L).map { d =>
        val o = obs.find(_._1 == d)
        o.flatMap(_._2).foreach(v => la = Some(v))
        o.flatMap(_._3).foreach(v => ls = Some(v))
        (d, la, ls, o.flatMap(_._2).isEmpty)
      }
      assert(got === want)

      // Profiler.rankSweep (mannWhitneyU, rocAuc) vs naive average ranks
      val rf = ranked.toDF("g", "v")
      var below = 0L
      val avgRank = ranked.map(_._2).groupBy(identity).toSeq.sortBy(_._1).map { case (v, g) =>
        val r = below + (g.size + 1) / 2.0; below += g.size; v -> r
      }.toMap
      val na = ranked.count(_._1 == "A").toLong; val nb = ranked.length - na
      val ra = ranked.filter(_._1 == "A").map(p => avgRank(p._2)).sum
      val mw = Profiler.mannWhitneyU(rf, "v", "g", "A", "B").head()
      assert((mw.getLong(0), mw.getLong(1), mw.getDouble(2)) ===
        ((na, nb, ra - na * (na + 1) / 2.0)))
      val auc = Profiler.rocAuc(rf.select(col("v"), (col("g") === "A").as("y")), "v", "y").head()
      assert(auc.getDouble(2) === (ra - na * (na + 1) / 2.0) / (na * nb).toDouble)

      // Profiler.gini vs the naive ranked formula
      val cents = weights.map(w => math.round(w._2 * 100)).sorted
      val x = cents.sum; val nk = cents.length.toLong
      val s = cents.zipWithIndex.map { case (c, i) => (i + 1).toLong * c }.sum
      val gi = Profiler.gini(weights.toDF("k", "w"), "k", col("w")).head()
      assert((gi.getLong(0), gi.getDouble(1), gi.getDouble(2)) ===
        ((nk, x.toDouble / 100, 2.0 * s.toDouble / (nk.toDouble * x.toDouble) - (nk + 1.0) / nk)))

      // Profiler.skyline2D vs brute force
      // per-x maxima that rise and fall, so a carry missing an earlier
      // partition's maximum keeps a dominated point
      val ys = Seq(5, 1, 7, 3, 2, 6, 8, 4, 9, 0)
      val pts = ranked.zipWithIndex.map { case ((_, v), i) => (v, ys(v.toInt) - (i % 3).toDouble) }
      val sky = Profiler.skyline2D(pts.toDF("x", "y"), "x", "y")
        .collect().map(r => (r.getDouble(0), r.getDouble(1))).toSet
      val front = pts.distinct.filter { case (px, py) =>
        !pts.exists { case (qx, qy) => qx <= px && qy >= py && (qx < px || qy > py) }
      }
      assert(sky === front.toSet)

      // Profiler.wasserstein1Distributed vs the window formulation
      val w1 = Profiler.wasserstein1Distributed(rf, "v", "g", "A", "B").head()
      assert(w1.toSeq === Profiler.wasserstein1Window(rf, "v", "g", "A", "B").head().toSeq)

      // DriftCheck.ksDf vs a local exact KS
      val (bv, cv) = ks
      var ca = 0L; var cb = 0L; var m = -1.0
      (bv ++ cv).distinct.sorted.foreach { v =>
        ca += bv.count(_ == v); cb += cv.count(_ == v)
        m = math.max(m, math.abs(ca.toDouble / bv.length - cb.toDouble / cv.length))
      }
      val k = driftCheck(bv.toDF("v")).ksDf(cv.toDF("v")).head()
      assert((k.getDouble(0), k.getLong(1), k.getLong(2)) ===
        ((m, bv.length.toLong, cv.length.toLong)))

      // Conformal.splitConformal vs brute-force rank selection
      val cal = resid.filter(_._2).map(_._1).sorted
      val test = resid.filterNot(_._2).map(_._1)
      val kk = math.min(cal.length, math.ceil((cal.length + 1) * 0.9).toInt)
      val qhat = cal(kk - 1)
      val cov = spark.range(1).select(
        round(lit(test.count(_ <= qhat).toDouble / test.length), 6)).head().getDouble(0)
      val cf = Conformal.splitConformal(resid.toDF("resid", "cal"), "resid", col("cal")).head()
      assert(cf.toSeq === Seq(cal.length.toLong, test.length.toLong, qhat, cov))
    }
  }

  // Spark jobs each site ran on these inputs before the port (4 shuffle
  // partitions, AQE on), so a sweep or count job more fails; skyline2D's
  // pin is one lower, as its lazy frontier no longer runs a truncation job
  private val pins: Seq[(String, Int, () => Any)] = Seq(
    ("Prefix.cumSumLongs", 4, () => Prefix.cumSumLongs(
      (1L to 50L).map(k => (k, k % 7)).toDF("k", "v"), "k", Seq("v"), Seq("c")).collect()),
    ("TimeSeries.resampleLocf", 6, () => TimeSeries.resampleLocf(
      Seq((1L, Some(1.0)), (5L, None), (9L, Some(3.0))).toDF("day", "a"), "day", Seq("a"))
      .collect()),
    ("Profiler.mannWhitneyU", 5, () =>
      Profiler.mannWhitneyU(ranked.toDF("g", "v"), "v", "g", "A", "B").collect()),
    ("Profiler.gini", 5, () => Profiler.gini(weights.toDF("k", "w"), "k", col("w")).collect()),
    ("Profiler.skyline2D", 5, () => Profiler.skyline2D(
      ranked.zipWithIndex.map { case ((_, v), i) => (v, (i % 17).toDouble) }.toDF("x", "y"),
      "x", "y").collect()),
    ("Profiler.wasserstein1Distributed", 5, () =>
      Profiler.wasserstein1Distributed(ranked.toDF("g", "v"), "v", "g", "A", "B").collect()),
    ("DriftCheck.ksDf", 6, () => driftCheck(ks._1.toDF("v")).ksDf(ks._2.toDF("v")).collect()),
    ("Conformal.splitConformal", 8, () =>
      Conformal.splitConformal(resid.toDF("resid", "cal"), "resid", col("cal")).collect()))

  for ((site, pin, run) <- pins) test(s"$site runs at most $pin Spark jobs") {
    val jobs = jobsOf(run())
    assert(jobs <= pin, s"$site ran $jobs jobs")
  }

  test("splitConformal with an empty calibration split fails descriptively and leaves no cache") {
    val df = Seq((1.0, false), (2.0, false)).toDF("resid", "cal")
    releaseAll()
    val before = persisted
    val e = intercept[IllegalArgumentException](
      Conformal.splitConformal(df, "resid", col("cal")))
    assert(e.getMessage.contains("empty calibration split"), e.getMessage)
    assert(retainedAbove(before) === before)
  }
}
