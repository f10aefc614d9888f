package graft

import graft.operators.Graph

/** Deterministic synchronous label propagation. */
class LabelPropagationSpec extends SparkSpec {

  private def lpa(edges: Seq[(Long, Long)], rounds: Int): Map[Long, Long] = {
    import spark.implicits._
    Graph.labelPropagation(edges.toDF("s", "d"), "s", "d", rounds)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
  }

  test("triangle converges to the minimum label and stays there") {
    val tri = Seq((1L, 2L), (1L, 3L), (2L, 3L))
    // sweep 1: 1 ties {2,3}->2; 2,3 see label 1 -> (2,1,1)
    assert(lpa(tri, 1) === Map(1L -> 2L, 2L -> 1L, 3L -> 1L))
    // sweep 2: everyone majority-sees 1 -> converged
    assert(lpa(tri, 2) === Map(1L -> 1L, 2L -> 1L, 3L -> 1L))
    assert(lpa(tri, 3) === Map(1L -> 1L, 2L -> 1L, 3L -> 1L))
  }

  test("synchronous sweeps on a path 2-cycle deterministically") {
    val path = Seq((1L, 2L), (2L, 3L))
    assert(lpa(path, 2) === Map(1L -> 1L, 2L -> 2L, 3L -> 1L))
    assert(lpa(path, 3) === Map(1L -> 2L, 2L -> 1L, 3L -> 2L))
  }

  test("disconnected components keep separate labels") {
    val two = Seq((1L, 2L), (1L, 3L), (2L, 3L),
      (10L, 11L), (10L, 12L), (11L, 12L))
    val r = lpa(two, 3)
    assert(r.filter(_._1 < 10L).values.toSet === Set(1L))
    assert(r.filter(_._1 >= 10L).values.toSet === Set(10L))
  }

  test("adversarial mix equals a driver-side synchronous reference") {
    // adversarial mix: clique, path (2-cycling), star, isolated pair —
    // exercises ties, oscillation, and degree skew across several rounds
    val edges = Seq((1L, 2L), (1L, 3L), (2L, 3L), (3L, 4L), (4L, 5L),
      (6L, 4L), (6L, 7L), (6L, 8L), (6L, 9L), (20L, 21L))
    val nbrs = (edges ++ edges.map(_.swap)).groupBy(_._1)
      .map { case (u, es) => u -> es.map(_._2).distinct }
    var ref = nbrs.keys.map(v => v -> v).toMap
    (1 to 4).foreach { rounds =>
      ref = nbrs.map { case (u, vs) =>
        // most frequent neighbor label, ties to the smallest
        u -> vs.map(ref).groupBy(identity).toSeq
          .minBy { case (label, hits) => (-hits.size, label) }._1
      }
      assert(lpa(edges, rounds) === ref, s"rounds=$rounds")
    }
  }

  test("node and label keep the input's integral id type") {
    import spark.implicits._
    val out = Graph.labelPropagation(Seq((1, 2), (2, 3)).toDF("s", "d"), "s", "d", 2)
    assert(out.schema.map(_.dataType) ===
      Seq(org.apache.spark.sql.types.IntegerType, org.apache.spark.sql.types.IntegerType))
    assert(out.collect().map(r => r.getInt(0) -> r.getInt(1)).toMap ===
      Map(1 -> 1, 2 -> 2, 3 -> 1))
  }
}
