package graft

import org.apache.spark.sql.functions._

/** Seeded randomized equivalence tests for the round-6 classical-ML and
  * analytics slate: each operator vs a naive in-memory reference on
  * adversarial random data (ties, skew, degenerate groups). */
class Round6eRandomSpec extends SparkSpec {

  private val rnd = new scala.util.Random(20260814L)

  test("pairLift counts equal the brute-force pair enumeration") {
    import spark.implicits._
    val rows = (1 to 400).map(_ => (rnd.nextInt(40).toLong, rnd.nextInt(12).toLong))
    val df = rows.toDF("bk", "item")
    val got = graft.operators.Basket.pairLift(df, "bk", "item", 1000)
      .collect().map(r => (r.getLong(0), r.getLong(1)) ->
        (r.getLong(2), r.getLong(3), r.getLong(4))).toMap
    // naive: per basket distinct item sets, all a<b pairs, plus item counts
    val baskets = rows.distinct.groupBy(_._1).map { case (_, xs) => xs.map(_._2).toSet }
    val pairCnt = baskets.toSeq.flatMap(s =>
        s.toSeq.sorted.combinations(2).map(p => (p(0), p(1))))
      .groupBy(identity).map { case (k, v) => k -> v.size.toLong }
    val itemCnt = baskets.toSeq.flatMap(_.toSeq)
      .groupBy(identity).map { case (k, v) => k -> v.size.toLong }
    assert(got.keySet === pairCnt.keySet)
    got.foreach { case (k, (nab, na, nb)) =>
      assert(nab === pairCnt(k), s"n_ab($k)")
      assert(na === itemCnt(k._1) && nb === itemCnt(k._2), s"n_a/n_b($k)")
    }
  }

  test("bhReject matches the naive step-up rule on random p-vectors") {
    import spark.implicits._
    for (trial <- 1 to 5) {
      val m = 3 + rnd.nextInt(30)
      val ps = (1 to m).map(i => (s"h$i", math.pow(rnd.nextDouble(), 2)))
      val q = 0.05 + rnd.nextDouble() * 0.3
      val got = graft.operators.Stats.bhReject(ps.toDF("k", "p"), "k", "p", q)
        .collect().map(r => r.getString(0) -> r.getAs[Boolean]("rejected")).toMap
      val sorted = ps.sortBy { case (k, p) => (p, k) }
      val rmax = sorted.zipWithIndex
        .filter { case ((_, p), i) => p <= (i + 1).toDouble * q / m }
        .map(_._2 + 1).lastOption.getOrElse(0)
      val expect = sorted.zipWithIndex
        .map { case ((k, _), i) => k -> (i + 1 <= rmax) }.toMap
      assert(got === expect, s"trial $trial (m=$m, q=$q)")
    }
  }

  test("rbo equals the per-depth set-intersection definition") {
    import spark.implicits._
    for (trial <- 1 to 5) {
      val k = 3 + rnd.nextInt(8)
      val universe: Vector[Long] = (1L to 30L).toVector
      def ranking(): Seq[Long] = rnd.shuffle(universe).take(k)
      val qs = Seq(1L, 2L, 3L)
      val ra: Map[Long, Seq[Long]] = qs.map(q => q -> ranking()).toMap
      val rb: Map[Long, Seq[Long]] = qs.map(q => q -> ranking()).toMap
      def frame(m: Map[Long, Seq[Long]]) =
        m.toSeq.flatMap { case (q, ids) =>
          ids.zipWithIndex.map { case (id, i) => (q, i + 1, id) } }
          .toDF("q", "rank", "id")
      val p = 0.85
      val got = graft.similarity.RetrievalEval
        .rbo(frame(ra), frame(rb), "q", "id", k, p)
        .collect().map(r => r.getLong(0) -> r.getAs[Double]("rbo")).toMap
      qs.foreach { q =>
        val expect = (1 - p) * (1 to k).map { d =>
          math.pow(p, d - 1) *
            ra(q).take(d).toSet.intersect(rb(q).take(d).toSet).size.toDouble / d
        }.sum
        assert(math.abs(got(q) - expect) < 1e-12, s"trial $trial query $q")
      }
    }
  }

  test("curriculumInterleave pos equals the global (rank, stratum) sort") {
    import spark.implicits._
    val rows = (1 to 300).map(i =>
      (i.toLong, s"s${rnd.nextInt(7)}", rnd.nextInt(20).toDouble))
    val df = rows.toDF("id", "st", "sc")
    val got = graft.operators.Splits.curriculumInterleave(df, "id", "st", "sc")
      .collect().map(r => r.getLong(0) -> r.getAs[Long]("pos")).toMap
    // naive: rank within stratum by (score desc, id), then sort (rank, stratum)
    val ranked = rows.groupBy(_._2).toSeq.flatMap { case (_, xs) =>
      xs.sortBy { case (id, _, sc) => (-sc, id) }.zipWithIndex
        .map { case ((id, st, _), i) => (id, st, i + 1) }
    }
    val expect = ranked.sortBy { case (_, st, rn) => (rn, st) }
      .zipWithIndex.map { case ((id, _, _), i) => id -> (i + 1).toLong }.toMap
    assert(got === expect)
  }

  test("harmonicCentrality equals per-seed BFS on random graphs") {
    import spark.implicits._
    for (trial <- 1 to 3) {
      val nodes = 12
      val edges = (1 to 25).map(_ =>
        (rnd.nextInt(nodes).toLong, rnd.nextInt(nodes).toLong))
        .filter(e => e._1 != e._2).distinct
      val sym = (edges ++ edges.map(_.swap)).distinct
      val adj = sym.groupBy(_._1).map { case (k, v) => k -> v.map(_._2).toSet }
      val seeds = Seq(0L, 1L, 2L)
      val maxHops = 4
      def bfs(src: Long): Map[Long, Int] = {
        var dist = Map(src -> 0)
        var frontier = Set(src)
        for (h <- 1 to maxHops if frontier.nonEmpty) {
          val next = frontier.flatMap(n => adj.getOrElse(n, Set.empty))
            .diff(dist.keySet)
          dist ++= next.map(_ -> h)
          frontier = next
        }
        dist
      }
      val expect = seeds.flatMap(s => bfs(s).toSeq.filter(_._2 > 0)
          .map { case (n, d) => n -> 1.0 / d })
        .groupBy(_._1).map { case (n, xs) => n -> (xs.size.toLong, xs.map(_._2).sum) }
      // at the session's partition count, on one partition and on seven
      for (parts <- Seq(spark.conf.get("spark.sql.shuffle.partitions"), "1", "7")
           if sym.nonEmpty) {
        val got = withConfs("spark.sql.shuffle.partitions" -> parts)(
            graft.operators.Graph.harmonicCentrality(
              sym.toDF("u", "v"), "u", "v", seeds, maxHops, 1000).collect())
          .map(r => r.getLong(0) -> (r.getLong(1), r.getAs[Double]("harmonic"))).toMap
        assert(got.keySet === expect.keySet, s"trial $trial, $parts parts: node sets")
        expect.foreach { case (n, (cnt, h)) =>
          assert(got(n)._1 === cnt, s"trial $trial, $parts parts: n_seeds($n)")
          assert(math.abs(got(n)._2 - BigDecimal(h)
            .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble) < 1e-9,
            s"trial $trial, $parts parts: harmonic($n)")
        }
      }
    }
  }
}
