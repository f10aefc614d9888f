package graft

import graft.dedup.Dedup
import graft.operators.Graph

/** The superstep kernel behind connected components, PageRank, label
  * propagation, BFS, personalized PageRank, condensation levels, k-core
  * peeling, harmonic centrality and HITS: one Spark job per round, and no
  * cache left behind on any exit path (also for the leaf-based SCC
  * fixpoints). */
class SuperstepSpec extends SparkSpec {

  test("connectedComponents on a path: one job per round plus at most 3") {
    import spark.implicits._
    val n = 10
    // the min label needs n - 1 rounds to cross the path, plus one quiet round
    val path = (1L until n.toLong).map(i => (i, i + 1)).toDF("a", "b")
    var out: Seq[(Long, Long)] = Nil
    val jobs = jobsOf {
      out = Dedup.connectedComponents(path, "a", "b")
        .collect().map(r => (r.getLong(0), r.getLong(1))).toSeq
    }
    assert(out.sorted === (1L to n.toLong).map(_ -> 1L))
    assert(jobs <= n + 3 + 1, s"$jobs jobs for $n rounds (+1: the collect)")
  }

  test("pageRank(iters = k): one job per round plus at most 3") {
    import spark.implicits._
    val und = (1L to 6L).map(i => (0L, i)) ++ Seq((1L, 2L), (2L, 3L))
    val sym = (und ++ und.map(_.swap)).toDF("s", "d")
    val k = 6
    val jobs = jobsOf(Graph.pageRank(sym, "s", "d", iters = k))
    assert(jobs <= k + 3, s"$jobs jobs for $k rounds")
  }

  test("labelPropagation(rounds = r): one job per round plus at most 3") {
    import spark.implicits._
    // a path 2-cycles forever, so every sweep runs
    val path = Seq((1L, 2L), (2L, 3L)).toDF("s", "d")
    val r = 5
    val jobs = jobsOf(Graph.labelPropagation(path, "s", "d", rounds = r))
    assert(jobs <= r + 3, s"$jobs jobs for $r rounds")
  }

  test("bfsHops(maxHops = k): one job per round plus at most 3") {
    import spark.implicits._
    // a path longer than k, so every hop reaches a new node
    val und = (0L until 12L).map(i => (i, i + 1))
    val sym = (und ++ und.map(_.swap)).toDF("s", "d")
    val k = 6
    var hops = Map.empty[Long, Int]
    val jobs = jobsOf {
      hops = Graph.bfsHops(sym, "s", "d", source = 0L, maxHops = k)
        .collect().map(r => r.getLong(0) -> r.getInt(1)).toMap
    }
    assert(hops === (0 to k).map(i => i.toLong -> i).toMap)
    assert(jobs <= k + 3 + 1, s"$jobs jobs for $k rounds (+1: the collect)")
  }

  test("personalizedPageRank(iters = k): one job per round plus at most 3") {
    import spark.implicits._
    val und = (1L to 6L).map(i => (0L, i)) ++ Seq((1L, 2L), (2L, 3L))
    val sym = (und ++ und.map(_.swap)).toDF("s", "d")
    val k = 6
    val jobs = jobsOf(Graph.personalizedPageRank(sym, "s", "d", source = 0L, iters = k))
    assert(jobs <= k + 3, s"$jobs jobs for $k rounds")
  }

  test("kCorePeel(rounds = k): one job per round plus at most 3") {
    import spark.implicits._
    // k = 2 on a path peels both ends every sweep, so no sweep is quiet
    val path = (1L until 20L).map(i => (i, i + 1)).toDF("s", "d")
    val k = 5
    var out = Map.empty[Long, Long]
    val jobs = jobsOf {
      out = Graph.kCorePeel(path, "s", "d", k = 2, rounds = k)
        .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    }
    // the survivors' ends are returned with their degree below k
    assert(out === (6L to 15L).map(i => i -> (if (i == 6L || i == 15L) 1L else 2L)).toMap)
    assert(jobs <= k + 3 + 1, s"$jobs jobs for $k rounds (+1: the collect)")
  }

  test("harmonicCentrality(maxHops = k): one job per round plus at most 3") {
    import spark.implicits._
    val und = (0L until 12L).map(i => (i, i + 1))
    val sym = (und ++ und.map(_.swap)).toDF("s", "d")
    val k = 6
    var out = Map.empty[Long, Double]
    val jobs = jobsOf {
      out = Graph.harmonicCentrality(sym, "s", "d", Seq(0L), maxHops = k, k = 20)
        .collect().map(r => r.getLong(0) -> r.getDouble(2)).toMap
    }
    assert(out === (1 to k).map(i => i.toLong -> BigDecimal(1.0 / i)
      .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble).toMap)
    assert(jobs <= k + 3 + 1, s"$jobs jobs for $k rounds (+1: the collect)")
  }

  test("hits(iters = k): one job per half-step plus at most 3") {
    import spark.implicits._
    val e = Seq((1L, 10L), (1L, 11L), (2L, 10L), (3L, 12L)).toDF("u", "v")
    val k = 4
    val jobs = jobsOf(Graph.hits(e, "u", "v", iters = k))
    assert(jobs <= 2 * k + 3, s"$jobs jobs for ${2 * k} half-steps")
  }

  test("a wide program sees the round number and the previous round's aggregate") {
    import spark.implicits._
    val und = Seq((1L, 2L), (2L, 3L), (3L, 1L), (3L, 4L), (4L, 5L))
    val edges = (und :+ ((2L, 1L)) :+ ((5L, 5L))).toDF("s", "d") // one parallel, one loop
    // fields: (degree, id + Σ rounds, the aggregate the round saw)
    object Degrees extends graft.core.Superstep.WideProgram {
      override def width: Int = 3
      override def init(id: Long, state: Array[Array[Long]], i: Int): Unit = state(1)(i) = id
      def message(round: Int, agg: Long, state: Array[Array[Long]], i: Int, degree: Int): Long = 1L
      def update(round: Int, agg: Long, id: Long, old: Array[Array[Long]],
          next: Array[Array[Long]], i: Int, msgs: Array[Long], from: Int, until: Int): Unit = {
        next(0)(i) = until - from
        next(1)(i) = old(1)(i) + round
        next(2)(i) = agg
      }
      override def aggregate(round: Int, state: Array[Array[Long]], i: Int): Long = state(0)(i)
    }
    val run = graft.core.Superstep.run(edges, undirected = true, simple = true,
      maxRounds = 2)(_ => Degrees)
    import org.apache.spark.sql.types._
    val got = run.frame(StructType(Seq("node", "degree", "rounds", "agg")
        .map(StructField(_, LongType, nullable = false))))
      .collect().map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2), r.getLong(3)))).toMap
    run.release()
    val twoE = 2L * und.size
    val degree = Map(1L -> 2L, 2L -> 2L, 3L -> 3L, 4L -> 2L, 5L -> 1L)
    assert(run.aggregate === twoE)
    assert(got === degree.map { case (n, d) => n -> ((d, n + 1 + 2, twoE)) })
  }

  test("hits on an empty edge list fails and leaves no cache behind") {
    import spark.implicits._
    val empty = Seq.empty[(Long, Long)].toDF("s", "d")
    spark.catalog.clearCache()
    releaseAll()
    val before = persisted
    val e = intercept[IllegalArgumentException](Graph.hits(empty, "s", "d"))
    assert(e.getMessage.contains("empty graph"))
    assert(persisted === before)
    assert(spark.sharedState.cacheManager.isEmpty)
  }

  test("pageRank on an empty edge list fails and leaves no cache behind") {
    import spark.implicits._
    val empty = Seq.empty[(Long, Long)].toDF("s", "d")
    releaseAll()
    val before = persisted
    val e = intercept[IllegalArgumentException](Graph.pageRank(empty, "s", "d"))
    assert(e.getMessage.contains("empty graph"))
    assert(persisted === before)
  }

  test("connectedComponents past maxIter fails descriptively and leaves no cache behind") {
    import spark.implicits._
    val path = (1L until 12L).map(i => (i, i + 1)).toDF("a", "b")
    releaseAll()
    val before = persisted
    val e = intercept[IllegalStateException](
      Dedup.connectedComponents(path, "a", "b", maxIter = 3))
    assert(e.getMessage.contains("did not reach a fixpoint in 3 rounds"))
    assert(persisted === before)
  }

  test("a task failing mid-loop releases every cache (pageRank overflow fails, never wraps)") {
    import spark.implicits._
    // two-level tree, damping 100: round 1 concentrates 10 shares per
    // middle node, round 2 100 per root — chosen so only round 2 overflows
    val mids = 1L to 10L
    val leaves = for (m <- mids; j <- 1L to 10L) yield (m * 100 + j, m)
    val tree = (leaves ++ mids.map(_ -> 0L)).toDF("s", "d")
    releaseAll()
    val before = persisted
    val e = intercept[Exception](Graph.pageRank(tree, "s", "d", iters = 3,
      dampingPct = 100, scale = Long.MaxValue / 2000 * 111))
    def causes(t: Throwable): Seq[Throwable] =
      if (t == null) Nil else t +: causes(t.getCause)
    assert(causes(e).exists(_.isInstanceOf[ArithmeticException]), e.toString)
    assert(persisted === before)
    // one round fewer stays in range
    assert(Graph.pageRank(tree, "s", "d", iters = 1, dampingPct = 100,
      scale = Long.MaxValue / 2000 * 111).count() === 111)
  }

  /** A directed chain 1 -> 2 -> ... -> n. */
  private def chain(n: Long) = {
    import spark.implicits._
    (1L until n).map(i => (i, i + 1)).toDF("u", "v")
  }

  test("stronglyConnectedComponents past maxIters fails descriptively and leaves no cache behind") {
    val edges = chain(13)
    releaseAll()
    val before = persisted
    val e = intercept[IllegalArgumentException](
      Graph.stronglyConnectedComponents(edges, "u", "v", maxIters = 2))
    assert(e.getMessage.contains("min-label fixpoint did not converge in 2 iters"))
    assert(retainedAbove(before) === before)
  }

  test("sccCondensation deeper than maxIters fails descriptively and leaves no cache behind") {
    val edges = chain(13)
    releaseAll()
    val before = persisted
    val e = intercept[IllegalArgumentException](
      Graph.sccCondensation(edges, "u", "v", maxIters = 2))
    assert(e.getMessage.contains("the component DAG's depth exceeds 1"), e.getMessage)
    assert(retainedAbove(before) === before)
  }

  test("sccCondensation: a DAG of depth maxIters - 1 converges, depth maxIters fails") {
    // 7 singleton components in a chain: depth 6
    val edges = chain(7)
    val r = Graph.sccCondensation(edges, "u", "v", maxIters = 7).collect().head
    assert((r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)) === ((7L, 6L, 1L, 6L)))
    val e = intercept[IllegalArgumentException](
      Graph.sccCondensation(edges, "u", "v", maxIters = 6))
    assert(e.getMessage.contains("did not converge in 6 rounds"), e.getMessage)
  }

  test("connectedComponents drops rows with a null endpoint") {
    import spark.implicits._
    val edges = Seq[(java.lang.Long, java.lang.Long)](
      (1L, 2L), (null, 3L), (3L, 4L), (5L, null)).toDF("a", "b")
    val got = Dedup.connectedComponents(edges, "a", "b").collect()
      .map(r => (Option(r.get(0)), r.getLong(1))).toMap
    assert(got === Map(Some(1L) -> 1L, Some(2L) -> 1L, Some(3L) -> 3L, Some(4L) -> 3L))
  }
}
