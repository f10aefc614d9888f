package graft

import org.apache.spark.sql.functions._
import graft.operators.Graph

class KCoreSpec extends SparkSpec {

  test("kCorePeel: K4 plus a pendant — the 3-core is exactly the K4") {
    val s = spark
    import s.implicits._
    val k4 = for (i <- 1 to 4; j <- (i + 1) to 4) yield (i.toLong, j.toLong)
    val edges = (k4 :+ ((4L, 99L))).toDF("src", "dst") // 99 is a pendant
    val out = Graph.kCorePeel(edges, "src", "dst", k = 3, rounds = 2)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(out == Map(1L -> 3L, 2L -> 3L, 3L -> 3L, 4L -> 3L))
  }

  test("kCorePeel: a path graph has no 2-core; a cycle IS its own 2-core") {
    val s = spark
    import s.implicits._
    val path = Seq((1L, 2L), (2L, 3L), (3L, 4L), (4L, 5L)).toDF("src", "dst")
    // endpoints peel first, then the cascade eats the whole path
    assert(Graph.kCorePeel(path, "src", "dst", k = 2, rounds = 4).isEmpty)
    val cycle = Seq((1L, 2L), (2L, 3L), (3L, 4L), (4L, 1L)).toDF("src", "dst")
    val out = Graph.kCorePeel(cycle, "src", "dst", k = 2, rounds = 2)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(out == Map(1L -> 2L, 2L -> 2L, 3L -> 2L, 4L -> 2L))
  }

  test("kCorePeel early exit: converged graph stops after one probe sweep") {
    val s = spark
    import s.implicits._
    // a triangle is already its own 2-core: the first sweep removes
    // nothing, so the fixpoint probe must stop the loop — rounds = 500
    // would otherwise run 500 sweeps (~4 jobs each). Count Spark jobs to
    // prove the exit fired.
    val tri = Seq((1L, 2L), (2L, 3L), (1L, 3L)).toDF("src", "dst")
    val jobs = new java.util.concurrent.atomic.AtomicInteger(0)
    val listener = new org.apache.spark.scheduler.SparkListener {
      override def onJobStart(j: org.apache.spark.scheduler.SparkListenerJobStart): Unit =
        jobs.incrementAndGet()
    }
    spark.sparkContext.addSparkListener(listener)
    try {
      val out = Graph.kCorePeel(tri, "src", "dst", k = 2, rounds = 500)
        .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
      assert(out == Map(1L -> 2L, 2L -> 2L, 3L -> 2L))
      Thread.sleep(500) // let the async listener bus drain
      // canonicalize + initial count + 1 sweep + probe counts + collect:
      // far under even 2 rounds' worth of 500
      assert(jobs.get() < 40, s"early exit did not fire: ${jobs.get()} jobs")
    } finally spark.sparkContext.removeSparkListener(listener)
  }

  test("kCorePeel early exit: result identical to the fixed-round run") {
    val s = spark
    import s.implicits._
    val k4 = for (i <- 1 to 4; j <- (i + 1) to 4) yield (i.toLong, j.toLong)
    val edges = (k4 :+ ((4L, 99L))).toDF("src", "dst")
    val few = Graph.kCorePeel(edges, "src", "dst", k = 3, rounds = 2)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val many = Graph.kCorePeel(edges, "src", "dst", k = 3, rounds = 100)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(few == many)
  }

  test("kCorePeel truncation is well-defined: one round = one synchronized sweep") {
    val s = spark
    import s.implicits._
    // long path: each round peels exactly the current endpoints
    val path = (1L to 6L).sliding(2).map(p => (p(0), p(1))).toSeq.toDF("src", "dst")
    val after1 = Graph.kCorePeel(path, "src", "dst", k = 2, rounds = 1)
      .collect().map(_.getLong(0)).sorted
    assert(after1.toSeq == Seq(2L, 3L, 4L, 5L)) // 1 and 6 peeled
    val after2 = Graph.kCorePeel(path, "src", "dst", k = 2, rounds = 2)
      .collect().map(_.getLong(0)).sorted
    assert(after2.toSeq == Seq(3L, 4L)) // next endpoints gone
  }

  test("kCorePeel rejects non-integral ids and keeps an integral id type") {
    val s = spark
    import s.implicits._
    val named = Seq(("a", "b"), ("b", "c"), ("c", "a")).toDF("src", "dst")
    val e = intercept[IllegalArgumentException](
      Graph.kCorePeel(named, "src", "dst", k = 2, rounds = 2))
    assert(e.getMessage.contains("kCorePeel needs integral node ids, got StringType"),
      e.getMessage)
    val ints = Seq((1, 2), (2, 3), (3, 1), (3, 4)).toDF("src", "dst")
    val out = Graph.kCorePeel(ints, "src", "dst", k = 2, rounds = 3)
    assert(out.schema("node").dataType === org.apache.spark.sql.types.IntegerType)
    assert(out.collect().map(r => r.getInt(0) -> r.getLong(1)).toMap ==
      Map(1 -> 2L, 2 -> 2L, 3 -> 2L))
  }

  test("kCorePeel equals a driver-side peel on random graphs, truncated and converged") {
    val s = spark
    import s.implicits._
    val rnd = new scala.util.Random(29)
    /** `rounds` synchronized sweeps, then each survivor's surviving degree. */
    def reference(edges: Seq[(Long, Long)], k: Int, rounds: Int): Map[Long, Long] = {
      val und = edges.filter(e => e._1 != e._2).map(e => (e._1 min e._2, e._1 max e._2)).distinct
      val adj = (und ++ und.map(_.swap)).groupBy(_._1).map { case (n, es) => n -> es.map(_._2) }
      def degrees(alive: Set[Long]) =
        alive.map(n => n -> adj(n).count(alive).toLong).toMap
      var alive = adj.keySet
      for (_ <- 1 to rounds) alive = degrees(alive).filter(_._2 >= k).keySet
      degrees(alive).filter(_._2 > 0)
    }
    for (trial <- 1 to 3; parts <- Seq("1", "7")) {
      val nodes = 10 + rnd.nextInt(30)
      val edges = Seq.fill(nodes * (2 + rnd.nextInt(4)))(
        (rnd.nextInt(nodes).toLong, rnd.nextInt(nodes).toLong))
      val df = edges.toDF("src", "dst")
      for (k <- 2 to 3; rounds <- Seq(1, 2, 50)) {
        val got = withConfs("spark.sql.shuffle.partitions" -> parts)(
          Graph.kCorePeel(df, "src", "dst", k, rounds).collect())
          .map(r => r.getLong(0) -> r.getLong(1)).toMap
        assert(got === reference(edges, k, rounds), s"trial $trial, $parts parts, k $k, $rounds rounds")
      }
    }
  }
}
