package graft

import graft.operators.Graph

class GraphBfsSpec extends SparkSpec {
  import spark.implicits._

  // path 0-1-2-3, branch 1-4, island 9-10 (directed both ways = undirected)
  private def edges = {
    val und = Seq((0L, 1L), (1L, 2L), (2L, 3L), (1L, 4L), (9L, 10L))
    (und ++ und.map(_.swap)).toDF("u", "v")
  }

  test("bfsHops: exact min-hop levels on a hand-built graph") {
    val got = Graph.bfsHops(edges, "u", "v", source = 0L, maxHops = 10)
      .collect().map(r => r.getLong(0) -> r.getInt(1)).toMap
    assert(got === Map(0L -> 0, 1L -> 1, 2L -> 2, 4L -> 2, 3L -> 3))
    // island never reached
    assert(!got.contains(9L) && !got.contains(10L))
  }

  test("bfsHops: maxHops truncates levels; shortest path wins over longer routes") {
    val got = Graph.bfsHops(edges, "u", "v", source = 0L, maxHops = 2)
      .collect().map(r => r.getLong(0) -> r.getInt(1)).toMap
    assert(got === Map(0L -> 0, 1L -> 1, 2L -> 2, 4L -> 2))
    // maxHops = 0: the source alone
    val none = Graph.bfsHops(edges, "u", "v", source = 0L, maxHops = 0)
      .collect().map(r => r.getLong(0) -> r.getInt(1)).toMap
    assert(none === Map(0L -> 0))
    // cycle 0-1-2-0 added: node 2 must stay at hop 1 via the direct edge
    val cyc = edges.union(Seq((0L, 2L), (2L, 0L)).toDF("u", "v"))
    val got2 = Graph.bfsHops(cyc, "u", "v", source = 0L, maxHops = 10)
      .collect().map(r => r.getLong(0) -> r.getInt(1)).toMap
    assert(got2(2L) === 1 && got2(3L) === 2)
  }

  test("bfsHops: source outside the graph yields just the source at hop 0") {
    val got = Graph.bfsHops(edges, "u", "v", source = 42L, maxHops = 3)
      .collect().map(r => r.getLong(0) -> r.getInt(1)).toMap
    assert(got === Map(42L -> 0))
  }

  /** Personalized PageRank unrolled on the driver in the operator's
    * scaled-long floor-div algebra: nonzero ranks plus the source. */
  private def pprReference(edges: Seq[(Long, Long)], source: Long,
      iters: Int): Map[Long, Long] = {
    val scale = 1000000000000L
    val damping = 85
    val base = (100L - damping) * scale / 100L
    val out = edges.groupBy(_._1).view.mapValues(_.size.toLong).toMap
    var ref = Map(source -> scale)
    (1 to iters).foreach { _ =>
      val contribs = scala.collection.mutable.Map(source -> 0L)
      edges.foreach { case (u, v) =>
        ref.get(u).foreach(rank => contribs(v) = contribs.getOrElse(v, 0L) + rank / out(u))
      }
      ref = contribs.map { case (node, cs) =>
        node -> ((if (node == source) base else 0L) + damping * cs / 100L)
      }.filter { case (node, rank) => rank != 0L || node == source }.toMap
    }
    ref
  }

  private def ppr(df: org.apache.spark.sql.DataFrame, iters: Int): Map[Long, Long] =
    Graph.personalizedPageRank(df, "u", "v", source = 0L, iters = iters)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap

  test("personalizedPageRank equals an independent integer reference simulation") {
    // random sparse digraph, symmetrized
    val rnd = new scala.util.Random(7)
    val raw = (0 until 120).map(_ => (rnd.nextInt(25).toLong, rnd.nextInt(25).toLong))
      .filter(p => p._1 != p._2).distinct
    val sym = (raw ++ raw.map(_.swap)).distinct
    val got = ppr(sym.toDF("u", "v"), iters = 4)
    assert(got === pprReference(sym, 0L, 4))
    // restart mass keeps the source ranked
    assert(got.contains(0L))
  }

  test("personalizedPageRank: isolated source keeps exactly the restart mass") {
    val got = Graph.personalizedPageRank(edges, "u", "v", source = 42L, iters = 3)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(got === Map(42L -> 150000000000L))
  }

  test("personalizedPageRank equals the integer reference at 1 and 7 partitions") {
    val rnd = new scala.util.Random(11)
    val raw = (0 until 150).map(_ => (rnd.nextInt(30).toLong, rnd.nextInt(30).toLong))
      .filter(p => p._1 != p._2).distinct
    val sym = (raw ++ raw.map(_.swap)).distinct
    val want = pprReference(sym, 0L, 4)
    val parts = spark.conf.get("spark.sql.shuffle.partitions")
    try {
      Seq("1", "7").foreach { p =>
        spark.conf.set("spark.sql.shuffle.partitions", p)
        assert(ppr(sym.toDF("u", "v"), iters = 4) === want, s"shuffle.partitions=$p")
      }
    } finally spark.conf.set("spark.sql.shuffle.partitions", parts)
  }

  test("personalizedPageRank dampingPct=100 stays anchored at the source") {
    // restart base is 0; without the unconditional source-row keep the
    // sparsity filter would decay an isolated source to an empty frame
    val got = Graph.personalizedPageRank(edges, "u", "v", source = 42L,
      iters = 3, dampingPct = 100)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(got === Map(42L -> 0L))
    // connected graph, damping 100: pure-walk ranks, source still present
    val walk = Graph.personalizedPageRank(edges, "u", "v", source = 0L,
      iters = 2, dampingPct = 100)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(walk.contains(0L))
  }
}
