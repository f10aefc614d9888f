package graft

import org.apache.spark.sql.functions._
import graft.operators.Profiler
import graft.similarity.Similarity

/** Randomized equivalence oracles for round-4 operators: each compares
  * the distributed implementation against a direct single-machine
  * computation on random inputs. */
class RandomizedR4Spec extends SparkSpec {

  test("randomized: kmeansAssign equals the brute-force nearest exact centroid") {
    val s = spark
    import s.implicits._
    val rnd = new scala.util.Random(23)
    val dim = 6
    val rows = (1 to 120).map { i =>
      (i.toLong, Array.fill(dim)((rnd.nextInt(200) - 100) / 100.0f), rnd.nextInt(4))
    }
    val emb = rows.toDF("vec_id", "embedding", "label")
    val got = Similarity.kmeansAssign(emb, "vec_id", "embedding", "label")
      .collect().map(r => r.getLong(0) -> r.getInt(1)).toMap
    // exact centroids in BigDecimal-free double space: mean of exact
    // float-to-double values; quantized distance like the operator
    val byLabel = rows.groupBy(_._3)
    val cents = byLabel.map { case (l, rs) =>
      l -> Array.tabulate(dim)(d => rs.map(_._2(d).toDouble).sum / rs.size)
    }
    rows.foreach { case (id, v, _) =>
      val best = cents.toSeq.map { case (l, c) =>
        val dq = v.zip(c).map { case (a, b) =>
          math.floor((a.toDouble - b) * (a.toDouble - b) * 1e9).toLong
        }.sum
        (dq, l)
      }.min
      assert(got(id) == best._2, s"vec $id")
    }
  }

  test("poissonBootstrapMean: constant data collapses the CI; runs are identical; CI brackets the mean") {
    val s = spark
    import s.implicits._
    val const = (1 to 500).map(i => (i.toLong, 700L)).toDF("id", "x")
    val rc = Profiler.poissonBootstrapMean(const, "id", "x").collect().head
    assert(rc.getLong(0) == 32L)
    assert(rc.getDouble(1) == 700.0 && rc.getDouble(2) == 700.0)
    val rnd = new scala.util.Random(37)
    val data = (1 to 2000).map(i => (i.toLong, 500L + rnd.nextInt(200)))
    val df = data.toDF("id", "x")
    val r1 = Profiler.poissonBootstrapMean(df, "id", "x").collect().head
    val r2 = Profiler.poissonBootstrapMean(df, "id", "x").collect().head
    assert(r1 == r2) // md5-deterministic, no rand()
    val mean = data.map(_._2).sum.toDouble / data.size
    assert(r1.getDouble(1) < mean && mean < r1.getDouble(2))
    assert(r1.getDouble(2) - r1.getDouble(1) < 30) // ~4 sigma/sqrt(n) wide
  }

  // partition coalescing would merge the small range-sorted W1 frames into
  // one partition, and the distributed sweep's boundary carry would go
  // untested
  private val keepPartitions = "spark.sql.adaptive.coalescePartitions.enabled" -> "false"

  test("randomized: wasserstein1 equals the direct CDF-integral computation") {
    val s = spark
    import s.implicits._
    val rnd = new scala.util.Random(29)
    withConfs(keepPartitions) { (1 to 3).foreach { _ =>
      val a = Seq.fill(80)(rnd.nextInt(30).toDouble)
      val b = Seq.fill(60)(rnd.nextInt(30).toDouble)
      val df = (a.map(("a", _)) ++ b.map(("b", _))).toDF("g", "v")
      val got = Profiler.wasserstein1(df, "v", "g", "a", "b")
        .collect().head.getAs[Double]("w1")
      val grid = (a ++ b).distinct.sorted
      val want = grid.zip(grid.drop(1)).map { case (v, nv) =>
        val fa = a.count(_ <= v).toDouble / a.size
        val fb = b.count(_ <= v).toDouble / b.size
        math.abs(fa - fb) * (nv - v)
      }.sum
      assert(math.abs(got - want) < 1e-6)
    } }
  }

  test("wasserstein1 (distributed default) is BIT-identical to the window twin, continuous domain") {
    val s = spark
    import s.implicits._
    val rnd = new scala.util.Random(41)
    // CONTINUOUS domain: nextDouble values are pairwise distinct, so the
    // distinct-value frame ≈ row count — exactly the input whose ordered
    // pass must stay distributed (no single-partition WindowExec)
    val rows = (1 to 3000).map(_ =>
      (if (rnd.nextBoolean()) "a" else "b", rnd.nextDouble() * 50.0))
    val df = rows.toDF("g", "v").repartition(7) // force multi-partition sort
    val w = Profiler.wasserstein1Window(df, "v", "g", "a", "b").collect().head
    val d = withConfs(keepPartitions)(Profiler.wasserstein1(df, "v", "g", "a", "b").collect().head)
    assert(d.getLong(0) == w.getLong(0) && d.getLong(1) == w.getLong(1))
    assert(d.getDouble(2) == w.getDouble(2)) // exact, not approximate
  }

  test("randomized: weightedQuantilesDisc equals the direct weighted selection") {
    val s = spark
    import s.implicits._
    val rnd = new scala.util.Random(31)
    val rows = (1 to 200).map(_ => ("g", rnd.nextInt(40).toDouble, 1L + rnd.nextInt(9)))
    val probs = Seq(0.1, 0.5, 0.9)
    val got = Profiler.weightedQuantilesDisc(rows.toDF("k", "v", "wt"),
        "k", "v", "wt", probs).collect().head
    val byV = rows.groupBy(_._2).view.mapValues(_.map(_._3).sum).toSeq.sortBy(_._1)
    val total = byV.map(_._2).sum
    probs.zipWithIndex.foreach { case (p, i) =>
      var cum = 0L
      val want = byV.collectFirst {
        case (v, w) if { cum += w; cum >= total * p } => v
      }.get
      assert(got.getDouble(2 + i) == want, s"p=$p")
    }
    assert(got.getLong(1) == total)
  }
}
