package graft

import org.apache.spark.sql.functions._
import graft.functions.DetMath

/** Round-8 additions: the q_heaps re-contract (distributed prefix scan +
  * DetMath-exact regression moments) and its building blocks. */
class Round8Spec extends SparkSpec {

  test("Prefix.cumSumLongs is bit-identical to the single-partition window") {
    import spark.implicits._
    val df = (1L to 257L).map(i => (i, i * 37 % 101, (i * i) % 53))
      .toDF("k", "v1", "v2").repartition(7)
    val out = graft.operators.Prefix.cumSumLongs(df, "k",
        Seq("v1", "v2"), Seq("c1", "c2"))
      .orderBy("k").collect()
    val w = org.apache.spark.sql.expressions.Window.orderBy("k")
    val exp = df.withColumn("c1", sum(col("v1")).over(w))
      .withColumn("c2", sum(col("v2")).over(w))
      .orderBy("k").collect()
    assert(out.map(r => (r.getLong(0), r.getLong(3), r.getLong(4))).toSeq ===
      exp.map(r => (r.getLong(0), r.getLong(3), r.getLong(4))).toSeq)
  }

  test("Prefix.cumSumLongs rejects non-long value columns") {
    import spark.implicits._
    val df = Seq((1L, 2)).toDF("k", "v")
    val ex = intercept[IllegalArgumentException] {
      graft.operators.Prefix.cumSumLongs(df, "k", Seq("v"), Seq("c"))
    }
    assert(ex.getMessage.contains("LongType"))
  }

  test("Prefix.cumSumLongs rejects duplicate order keys") {
    import spark.implicits._
    val longKeys = Seq((1L, 1L), (2L, 1L), (2L, 5L), (3L, 1L)).toDF("k", "v")
    val strKeys = Seq(("a", 1L), ("c", 1L), ("b", 2L), ("c", 3L)).toDF("k", "v")
    for ((df, dup) <- Seq(longKeys -> "2", strKeys -> "c")) {
      val ex = intercept[Exception](
        graft.operators.Prefix.cumSumLongs(df, "k", Seq("v"), Seq("c")).collect())
      assert(ex.getMessage.contains(s"cumSumLongs: duplicate k value $dup"), ex.getMessage)
    }
  }

  test("heapsLaw curve and slope match a hand-computed scalar replay") {
    import spark.implicits._
    val docs = Seq(
      (0L, "a b c"), (1L, "a b d d"), (2L, "a e"), (3L, "a b c"))
      .toDF("doc_id", "text")
    val out = graft.text.TextAnalysis.heapsLaw(docs, "doc_id", "text", 1)
      .orderBy("b").collect()
    // hand curve: per-batch (n_tokens, new_tokens, cum_tokens, cum_distinct)
    val curve = Seq((3L, 3L, 3L, 3L), (4L, 1L, 7L, 4L),
      (2L, 1L, 9L, 5L), (3L, 0L, 12L, 5L))
    assert(out.map(r => (r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4)))
      .toSeq === curve)
    // independent scalar replay of the exact-moment regression
    val pts = curve.map { case (_, _, ct, cd) =>
      def micro(n: Long) =
        math.floor(DetMath.lnPosIntScalar(n) * 1e6 + 0.5).toLong
      (BigInt(micro(ct)), BigInt(micro(cd)))
    }
    val n = BigInt(pts.length)
    val sx = pts.map(_._1).sum; val sy = pts.map(_._2).sum
    val sxx = pts.map(p => p._1 * p._1).sum
    val sxy = pts.map(p => p._1 * p._2).sum
    val beta = math.floor((n * sxy - sx * sy).toDouble /
      (n * sxx - sx * sx).toDouble * 1e6 + 0.5) / 1e6
    assert(out.forall(r => r.getDouble(5) === beta))
    // sanity: a sub-linear growth exponent in (0, 1)
    assert(beta > 0.0 && beta < 1.0)
  }

  test("heapsLaw: single batch yields a null slope (zero denominator)") {
    import spark.implicits._
    val docs = Seq((1L, "x y z")).toDF("doc_id", "text")
    val out = graft.text.TextAnalysis.heapsLaw(docs, "doc_id", "text", 100)
      .collect()
    assert(out.length === 1 && out.head.isNullAt(5))
  }

  // two 4-cliques sharing node 3, a pendant, and a chord — triangles,
  // truss structure, and degree spread without being symmetric
  private def cliqueGraph = {
    import spark.implicits._
    val c1 = for (a <- 0L to 3L; b <- (a + 1) to 3L) yield (a, b)
    val c2 = for (a <- 3L to 6L; b <- (a + 1) to 6L) yield (a, b)
    (c1 ++ c2 ++ Seq((6L, 7L), (0L, 4L))).toDF("s", "d")
  }

  test("clusteringCoefficient: no-broadcast path is bit-identical and broadcast-free") {
    val g = cliqueGraph
    val bc = graft.operators.Graph.clusteringCoefficient(g, "s", "d")
      .collect().map(_.toSeq).toSeq
    val nobc = graft.operators.Graph.clusteringCoefficient(g, "s", "d",
      broadcastAdjacency = false).collect().map(_.toSeq).toSeq
    assert(bc === nobc) // exact integer counts: identical under either plan
    // -1 threshold simulates an adjacency past broadcastable size — the
    // situation broadcastAdjacency = false exists for
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try {
      val off = graft.operators.Graph.clusteringCoefficient(g, "s", "d",
        broadcastAdjacency = false)
      off.collect()
      val offPlan = off.queryExecution.executedPlan.toString
      assert(!offPlan.contains("BroadcastExchange"),
        s"no-broadcast path must shuffle-join the adjacency:\n$offPlan")
      val on = graft.operators.Graph.clusteringCoefficient(g, "s", "d")
      on.collect()
      val onPlan = on.queryExecution.executedPlan.toString
      assert(onPlan.contains("BroadcastExchange"),
        "default path must keep the adjacency broadcast hint")
    } finally {
      spark.conf.set("spark.sql.adaptive.enabled", "true")
      spark.conf.unset("spark.sql.autoBroadcastJoinThreshold")
    }
  }

  test("kTruss: no-broadcast path is bit-identical") {
    val g = cliqueGraph
    val bc = graft.operators.Graph.kTruss(g, "s", "d", 4)
      .orderBy("a", "b").collect().map(_.toSeq).toSeq
    val nobc = graft.operators.Graph.kTruss(g, "s", "d", 4,
      broadcastAdjacency = false)
      .orderBy("a", "b").collect().map(_.toSeq).toSeq
    assert(bc === nobc && bc.nonEmpty)
    // both 4-cliques survive a 4-truss; the pendant and chord do not
    assert(bc.size === 12)
  }

  test("hits equals a driver-side integer reference at 1 and 7 shuffle partitions") {
    import spark.implicits._
    val big = Long.MaxValue - 3
    val small = Long.MinValue + 7
    // 1, 2, 3 and `small` only send; 11, 12 and `big` only receive; 4
    // has a self-loop; (3, 12) is duplicated
    val edges = Seq((1L, 10L), (1L, 11L), (2L, 10L), (3L, 12L), (3L, 12L), (4L, 4L),
      (4L, 10L), (10L, 5L), (5L, 11L), (small, big), (small, 10L))
    val scale = 1000000000000L
    var maxProduct = BigInt(0)
    def normalized(raw: Map[Long, BigInt]): Map[Long, BigInt] = {
      val t = raw.values.sum
      raw.map { case (n, s) => maxProduct = maxProduct max s * scale; n -> s * scale / t }
    }
    def reference(iters: Int): Set[(String, Long, Long)] = {
      val e = edges.distinct
      val hubs = e.map(_._1).distinct
      var hub = hubs.map(_ -> BigInt(scale / hubs.size)).toMap
      var auth = Map.empty[Long, BigInt]
      for (_ <- 1 to iters) {
        auth = normalized(e.groupBy(_._2).map { case (v, in) => v -> in.map(x => hub(x._1)).sum })
        hub = normalized(e.groupBy(_._1).map { case (u, out) => u -> out.map(x => auth(x._2)).sum })
      }
      hub.map { case (n, s) => ("hub", n, s.toLong) }.toSet ++
        auth.map { case (n, s) => ("authority", n, s.toLong) }
    }
    for (parts <- Seq("1", "7"); iters <- Seq(1, 3)) {
      val got = withConfs("spark.sql.shuffle.partitions" -> parts)(
        graft.operators.Graph.hits(edges.toDF("s", "d"), "s", "d", iters = iters).collect())
        .map(r => (r.getString(0), r.getLong(1), r.getLong(2))).toSet
      assert(got === reference(iters), s"$parts partitions, $iters iterations")
    }
    assert(maxProduct > BigInt(Long.MaxValue), "no score product needed 128 bits")
  }

  test("minHashLshPairsSharded is set-equal to the global minHashLshPairs") {
    import spark.implicits._
    // planted near-dup families + background noise; enough shingles that
    // banding actually spreads buckets across shards
    val docs = (0L until 60L).map { i =>
      val fam = i % 5
      val tail = if (i < 40) s"noise${i} x${i * 7 % 11} y${i * 13 % 17}"
      else s"t${i % 3}"
      (i, s"alpha$fam beta$fam gamma$fam delta$fam epsilon$fam zeta$fam $tail")
    }.toDF("doc_id", "text")
    def norm(df: org.apache.spark.sql.DataFrame) =
      df.select("ida", "idb", "jaccard").orderBy("ida", "idb")
        .collect().map(_.toSeq).toSeq
    val global = norm(graft.dedup.Dedup.minHashLshPairs(
      docs, "doc_id", "text", shingleN = 2, numHashes = 32, bands = 16,
      threshold = 0.5))
    for (nShards <- Seq(1, 4, 16)) {
      val sharded = norm(graft.dedup.Dedup.minHashLshPairsSharded(
        docs, "doc_id", "text", shingleN = 2, numHashes = 32, bands = 16,
        threshold = 0.5, nShards = nShards))
      assert(sharded === global, s"nShards=$nShards diverged")
    }
    assert(global.nonEmpty) // the equality must not be vacuous
  }

  test("adamicAdar maxDegree cap: capped output is a subset with equal scores") {
    import spark.implicits._
    // star hub 100 (degree 8, non-edge leaf pairs score only via the hub)
    // + two degree-2 midpoints 0/1 both linking the non-edge pair (10, 11)
    val hub = (0L until 8L).map(i => (100L, 200L + i))
    val low = Seq((0L, 10L), (0L, 11L), (1L, 10L), (1L, 11L))
    val e = (hub ++ low).toDF("s", "d")
    def pairs(maxDeg: Int) =
      graft.operators.Graph.adamicAdar(e, "s", "d", minCommon = 1, k = 100,
          maxDegree = maxDeg)
        .collect()
        .map(r => ((r.getLong(0), r.getLong(1)), (r.getLong(2), r.getDouble(3))))
        .toMap
    val full = pairs(0)
    val capped = pairs(4) // hub (deg 8) excluded as a midpoint
    assert(capped.keySet.subsetOf(full.keySet))
    assert(capped.size < full.size) // the hub's 28 leaf pairs are gone
    assert(capped.contains((10L, 11L)) && capped.contains((0L, 1L)))
    // pairs whose midpoints all survive the cap keep their exact scores;
    // a capped score can never exceed the uncapped one
    capped.foreach { case (k, (n, s)) =>
      assert(n <= full(k)._1 && s <= full(k)._2)
    }
    assert(capped((10L, 11L)) === full((10L, 11L)))
    // determinism: a pure threshold, not a sample
    assert(pairs(4) === capped)
  }

  test("oddsRatio fails loudly on an empty 2x2 cell") {
    import spark.implicits._
    // no (exposed=false, outcome=true) rows -> cell c = 0
    val df = Seq((true, true), (true, false), (false, false))
      .toDF("e", "o")
    val ex = intercept[Exception] {
      graft.operators.Stats.oddsRatio(df, col("e"), col("o")).collect()
    }
    assert(ex.getMessage.contains("empty 2x2 cell") ||
      Option(ex.getCause).exists(_.getMessage.contains("empty 2x2 cell")))
  }

  test("modularity matches the hand-computed two-community value") {
    import spark.implicits._
    // two triangles bridged by one edge; labels = triangle membership:
    // m=7, m_A=m_B=3, D_A=D_B=7 -> Q = (4·7·6 − 98)/196 = 70/196
    val e = Seq((0L, 1L), (1L, 2L), (0L, 2L), (3L, 4L), (4L, 5L), (3L, 5L),
      (2L, 3L)).toDF("s", "d")
    val lab = Seq((0L, "A"), (1L, "A"), (2L, "A"), (3L, "B"), (4L, "B"),
      (5L, "B")).toDF("node", "c")
    val r = graft.operators.Graph.modularity(e, "s", "d", lab, "node", "c")
      .collect().head
    assert(r.getLong(0) === 7L && r.getLong(1) === 2L)
    assert(math.abs(r.getDouble(2) - 70.0 / 196.0) < 1e-12)
  }

  test("modularity: unlabeled nodes count toward m but no community") {
    import spark.implicits._
    val e = Seq((0L, 1L), (1L, 2L), (2L, 9L)).toDF("s", "d") // 9 unlabeled
    val lab = Seq((0L, "A"), (1L, "A"), (2L, "A")).toDF("node", "c")
    val r = graft.operators.Graph.modularity(e, "s", "d", lab, "node", "c")
      .collect().head
    // m=3, m_A=2 (edge 2-9 not intra), D_A=5 -> Q = (4·3·2 − 25)/36
    assert(r.getLong(0) === 3L)
    assert(math.abs(r.getDouble(2) - (24.0 - 25.0) / 36.0) < 1e-12)
  }

  test("kruskalWallis matches hand-computed H with and without ties") {
    import spark.implicits._
    // no ties: ranks 1..6, H = 12/42·(36/3 + 225/3) − 21 = 27/7
    val a = Seq(("a", 1.0), ("a", 2.0), ("a", 3.0),
      ("b", 4.0), ("b", 5.0), ("b", 6.0)).toDF("g", "v")
    val r1 = graft.operators.Profiler.kruskalWallis(a, "v", "g").collect().head
    assert(r1.getLong(0) === 2L && r1.getLong(1) === 6L)
    assert(math.abs(r1.getDouble(2) - 27.0 / 7.0) < 1e-5)
    assert(math.abs(r1.getDouble(3) - 27.0 / 7.0) < 1e-5) // no ties: h_tie = h
    // ties: a=[1,1,2], b=[2,3,3] -> H = 64/21, tie-corrected = 10/3
    val b = Seq(("a", 1.0), ("a", 1.0), ("a", 2.0),
      ("b", 2.0), ("b", 3.0), ("b", 3.0)).toDF("g", "v")
    val r2 = graft.operators.Profiler.kruskalWallis(b, "v", "g").collect().head
    assert(math.abs(r2.getDouble(2) - 64.0 / 21.0) < 1e-5)
    assert(math.abs(r2.getDouble(3) - 10.0 / 3.0) < 1e-5)
  }

  test("kruskalWallis is invariant to input partitioning") {
    import spark.implicits._
    val df = (1L to 500L)
      .map(i => (s"g${i % 4}", (i * 31 % 97).toDouble)).toDF("g", "v")
    val x = graft.operators.Profiler.kruskalWallis(df.repartition(1), "v", "g")
      .collect().head
    val y = graft.operators.Profiler.kruskalWallis(df.repartition(13), "v", "g")
      .collect().head
    assert(x.getDouble(2) === y.getDouble(2) && x.getDouble(3) === y.getDouble(3))
  }

  test("chiSquareTerms matches a hand-computed 2x2 table") {
    import spark.implicits._
    val docs = Seq(
      (0L, "x", "apple apple banana"), (1L, "x", "apple"),
      (2L, "y", "banana"), (3L, "y", "cherry banana")).toDF("doc_id", "lang", "text")
    val out = graft.text.TextAnalysis
      .chiSquareTerms(docs, "doc_id", "text", "lang", topK = 10)
      .collect().map(r => ((r.getString(0), r.getString(1)),
        (r.getLong(2), r.getDouble(3)))).toMap
    // apple: a=2 b=0 c=0 d=2 -> chi2 = 4·(4−0)²/(2·2·2·2) = 4
    assert(out(("x", "apple")) === ((2L, 4.0)))
    // banana in x: a=1 b=1 c=2 d=0 -> chi2 = 4·(0−2)²/(2·2·3·1) = 4/3
    assert(out(("x", "banana")) === ((1L, 1.333333)))
  }

  test("exactHeavyHitters equals brute force and is partition-invariant") {
    import spark.implicits._
    // zipf-ish key skew: key j appears ~N/j times
    val rows = (1 to 40).flatMap(j => Seq.fill(400 / j)(s"k$j"))
    val df = rows.toDF("key")
    def brute(k: Int) = {
      val n = rows.length.toLong
      val th = (n + k - 1) / k
      rows.groupBy(identity).view.mapValues(_.length.toLong)
        .filter(_._2 >= th).toMap
    }
    for (parts <- Seq(1, 7); k <- Seq(10, 50)) {
      val got = graft.operators.HeavyHitters
        .exactHeavyHitters(df.repartition(parts), "key", k)
        .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
      assert(got === brute(k), s"parts=$parts k=$k")
    }
  }

  test("higherMoments matches hand-computed skewness and kurtosis") {
    import spark.implicits._
    val df = (Seq.fill(1)(("a", 1L)) ++ Seq(("a", 2L), ("a", 3L), ("a", 4L)) ++
      Seq(("b", 1L), ("b", 1L), ("b", 4L))).toDF("g", "v")
    val out = graft.operators.Profiler.higherMoments(df, "g", "v")
      .collect().map(r => r.getString(0) ->
        (r.getLong(1), r.getDouble(2), r.getDouble(3), r.getDouble(4),
          r.getDouble(5))).toMap
    val (na, mua, m2a, ga, ka) = out("a")
    assert(na === 4L && mua === 2.5 && m2a === 1.25)
    assert(math.abs(ga) < 1e-12) // symmetric: zero skew
    assert(math.abs(ka - (2.5625 / (1.25 * 1.25) - 3.0)) < 1e-12)
    val (nb, mub, m2b, gb, kb) = out("b")
    assert(nb === 3L && mub === 2.0 && m2b === 2.0)
    assert(math.abs(gb - 2.0 / (2.0 * math.sqrt(2.0))) < 1e-12)
    assert(math.abs(kb - (6.0 / 4.0 - 3.0)) < 1e-12)
  }

  test("signProjection reproduces the md5-parity sign matrix on unit vectors") {
    import spark.implicits._
    // e_i unit vectors: proj(j) = sign(j, i) * 1e6 exactly
    val vecs = Seq((0L, Array.tabulate(8)(d => if (d == 3) 1.0f else 0.0f)),
      (1L, Array.tabulate(8)(d => if (d == 5) 1.0f else 0.0f)))
      .toDF("vec_id", "embedding")
    val out = graft.similarity.Similarity
      .signProjection(vecs, "vec_id", "embedding", inDim = 8, outDim = 4)
      .collect().map(r => (r.getLong(0), r.getInt(1)) -> r.getLong(2)).toMap
    def sign(j: Int, i: Int): Long = {
      val md = java.security.MessageDigest.getInstance("MD5")
      val hex = md.digest(s"42:$j:$i".getBytes("UTF-8"))
        .map("%02x".format(_)).mkString
      if (java.lang.Long.parseLong(hex.substring(0, 15), 16) % 2 == 0) 1L else -1L
    }
    for (j <- 0 until 4) {
      assert(out((0L, j)) === sign(j, 3) * 1000000L)
      assert(out((1L, j)) === sign(j, 5) * 1000000L)
    }
    // both signs actually occur (the matrix is not degenerate)
    assert(out.values.toSet === Set(1000000L, -1000000L))
    // a double vector column is cast to float first (exact for these values)
    val dbl = vecs.withColumn("embedding", vecs("embedding").cast("array<double>"))
    assert(graft.similarity.Similarity
      .signProjection(dbl, "vec_id", "embedding", inDim = 8, outDim = 4)
      .collect().map(r => (r.getLong(0), r.getInt(1)) -> r.getLong(2)).toMap === out)
  }

  test("pqCodes recovers planted prototypes with zero quantization error") {
    import spark.implicits._
    // vectors alternate between two exact prototypes per subspace: with
    // k=2 the integer Lloyd recovers them exactly, so err_q must be 0
    val protoA = Array.fill(8)(0.25f)
    val protoB = Array.fill(8)(-0.5f)
    val vecs = (0L until 32L)
      .map(i => (i, if (i % 2 == 0) protoA else protoB)).toDF("vec_id", "embedding")
    val out = graft.similarity.Pq.pqCodes(vecs, "vec_id", "embedding",
        dim = 8, m = 2, k = 2, iters = 4, sampleSize = 32)
      .collect()
    assert(out.length === 64) // 32 vecs x 2 subspaces
    assert(out.forall(_.getLong(3) === 0L)) // exact prototype recovery
    // same-parity vectors share codes; opposite parity differ
    val byId = out.groupBy(_.getLong(0))
      .view.mapValues(_.sortBy(_.getInt(1)).map(_.getInt(2)).toSeq).toMap
    assert(byId(0L) === byId(2L) && byId(1L) === byId(3L))
    assert(byId(0L) !== byId(1L))
  }

  test("pqCodes assignment is truly the argmin over the trained codebook") {
    import spark.implicits._
    val vecs = (0L until 64L)
      .map(i => (i, Array.tabulate(8)(d => ((i * 13 + d * 7) % 19).toFloat / 19f)))
      .toDF("vec_id", "embedding")
    val books = graft.similarity.Pq.trainCodebooks(vecs, "vec_id", "embedding",
      dim = 8, m = 2, k = 4, iters = 3, sampleSize = 64)
    val out = graft.similarity.Pq.pqCodes(vecs, "vec_id", "embedding",
        dim = 8, m = 2, k = 4, iters = 3, sampleSize = 64)
      .collect().map(r => (r.getLong(0), r.getInt(1)) -> (r.getInt(2), r.getLong(3)))
      .toMap
    val raw = vecs.collect().map(r =>
      r.getLong(0) -> r.getSeq[Float](1).toArray.map(x =>
        math.floor(x.toDouble * 1e6).toLong)).toMap
    for ((id, v) <- raw; sub <- 0 until 2) {
      val sv = v.slice(sub * 4, sub * 4 + 4)
      val dists = books(sub).map(cv =>
        sv.zip(cv).map { case (a, b) => (a - b) * (a - b) }.sum)
      val best = dists.zipWithIndex.minBy { case (d, c) => (d, c) }
      assert(out((id, sub)) === ((best._2, best._1)), s"id=$id sub=$sub")
    }
  }

  test("pqAdcTopK distances equal the code-reconstruction sum") {
    import spark.implicits._
    val vecs = (0L until 64L)
      .map(i => (i, Array.tabulate(8)(d => ((i * 13 + d * 7) % 19).toFloat / 19f)))
      .toDF("vec_id", "embedding")
    val books = graft.similarity.Pq.trainCodebooks(vecs, "vec_id", "embedding",
      dim = 8, m = 2, k = 4, iters = 3, sampleSize = 64)
    val codes = graft.similarity.Pq.pqCodes(vecs, "vec_id", "embedding",
        dim = 8, m = 2, k = 4, iters = 3, sampleSize = 64)
      .collect().map(r => (r.getLong(0), r.getInt(1)) -> r.getInt(2)).toMap
    val out = graft.similarity.Pq.pqAdcTopK(vecs, vecs.filter(col("vec_id") < 2),
        "vec_id", "embedding", dim = 8, m = 2, kCodes = 4, topK = 64,
        iters = 3, sampleSize = 64)
      .collect()
    val raw = vecs.collect().map(r =>
      r.getLong(0) -> r.getSeq[Float](1).toArray.map(x =>
        math.floor(x.toDouble * 1e6).toLong)).toMap
    assert(out.nonEmpty)
    out.foreach { r =>
      val (q, v) = (r.getLong(0), r.getLong(2))
      val expect = (0 until 2).map { sub =>
        val qs = raw(q).slice(sub * 4, sub * 4 + 4)
        val cv = books(sub)(codes((v, sub)))
        qs.zip(cv).map { case (a, b) => (a - b) * (a - b) }.sum
      }.sum
      assert(r.getLong(3) === expect, s"q=$q v=$v")
    }
    // ranks are a permutation 1..n per query, total-ordered
    val perQ = out.groupBy(_.getLong(0)).view.mapValues(_.map(_.getInt(1)).sorted)
    perQ.foreach { case (_, rs) => assert(rs.toSeq === (1 to rs.length)) }
  }

  test("ppsSystematicSample: hand case, inclusion-count invariant, partition-proof") {
    import spark.implicits._
    // weights 1,1,1,1,6 with s=2: only the whale is selected, twice
    val small = Seq((1L, 1L), (2L, 1L), (3L, 1L), (4L, 1L), (5L, 6L))
      .toDF("id", "w")
    val got = graft.operators.Splits
      .ppsSystematicSample(small, "id", col("w"), s = 2)
      .collect().map(r => (r.getLong(0), r.getLong(2)))
    assert(got.toSeq === Seq((5L, 2L)))
    // sum of inclusions == s exactly, for any s and any partitioning
    val big = (1L to 500L).map(i => (i, (i * 37 % 91) + 1)).toDF("id", "w")
    for (s <- Seq(7, 50, 211); parts <- Seq(1, 13)) {
      val r = graft.operators.Splits
        .ppsSystematicSample(big.repartition(parts), "id", col("w"), s)
        .collect()
      assert(r.map(_.getLong(2)).sum === s.toLong, s"s=$s parts=$parts")
    }
    // partition invariance of the exact row set
    val a = graft.operators.Splits
      .ppsSystematicSample(big.repartition(1), "id", col("w"), 37)
      .collect().map(_.toSeq).sortBy(_.head.asInstanceOf[Long].toString)
    val b = graft.operators.Splits
      .ppsSystematicSample(big.repartition(13), "id", col("w"), 37)
      .collect().map(_.toSeq).sortBy(_.head.asInstanceOf[Long].toString)
    assert(a.toSeq === b.toSeq)
  }

  test("compactionPlan: hand case, byte conservation, contiguous file indexes") {
    import spark.implicits._
    // one shard, sizes 10/10/10, target 15: cursor-at-start rule packs
    // the first two rows into file 0 and the third into file 1
    val small = Seq((1L, 10), (2L, 10), (3L, 10)).toDF("id", "b")
    val hand = graft.operators.Routing
      .compactionPlan(small, "id", col("b"), nShards = 1, targetBytes = 15L)
      .orderBy("file_idx").collect()
      .map(r => (r.getLong(1), r.getLong(2), r.getLong(3)))
    assert(hand.toSeq === Seq((0L, 2L, 20L), (1L, 1L, 10L)))
    // many shards: bytes conserve, per-shard file indexes are 0..max with
    // no gaps, and the plan is partition-invariant
    val docs = (1L to 400L).map(i => (i, (i * 53 % 997 + 1).toInt)).toDF("id", "b")
    val plan = graft.operators.Routing
      .compactionPlan(docs.repartition(7), "id", col("b"), nShards = 4,
        targetBytes = 5000L)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)))
    assert(plan.map(_._4).sum === (1L to 400L).map(i => i * 53 % 997 + 1).sum)
    plan.groupBy(_._1).foreach { case (_, files) =>
      val idxs = files.map(_._2).sorted
      assert(idxs.toSeq === (0L until idxs.length).toSeq) // contiguous
    }
    val again = graft.operators.Routing
      .compactionPlan(docs.repartition(1), "id", col("b"), nShards = 4,
        targetBytes = 5000L)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)))
    assert(plan.sortBy(t => (t._1, t._2)).toSeq === again.sortBy(t => (t._1, t._2)).toSeq)
  }

  test("ivfPqTopK with all lists probed equals full PQ-ADC ranking") {
    import spark.implicits._
    val vecs = (0L until 96L)
      .map(i => (i, Array.tabulate(8)(d => ((i * 17 + d * 11) % 23).toFloat / 23f)))
      .toDF("vec_id", "embedding")
    val q = vecs.filter(col("vec_id") < 3)
    def norm(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(r => (r.getLong(0), r.getInt(1), r.getLong(2), r.getLong(3)))
        .sortBy(t => (t._1, t._2)).toSeq
    // topK=200 > corpus: nothing truncates, so "full" is the complete
    // ADC ranking and subset claims are non-vacuous
    val full = norm(graft.similarity.Pq.pqAdcTopK(vecs, q, "vec_id", "embedding",
      dim = 8, m = 2, kCodes = 4, topK = 200, iters = 3, sampleSize = 96))
    val ivfpqAll = norm(graft.similarity.Pq.ivfPqTopK(vecs, q, "vec_id", "embedding",
      dim = 8, nLists = 4, nProbe = 4, ivfIters = 3, m = 2, kCodes = 4,
      pqIters = 3, topK = 200, ivfSample = 96, pqSample = 96))
    assert(ivfpqAll === full) // probing every list = no candidate pruning
    // partial probing returns a SUBSET of pairs with identical distances
    val ivfpq1 = graft.similarity.Pq.ivfPqTopK(vecs, q, "vec_id", "embedding",
        dim = 8, nLists = 4, nProbe = 2, ivfIters = 3, m = 2, kCodes = 4,
        pqIters = 3, topK = 200, ivfSample = 96, pqSample = 96)
      .collect().map(r => (r.getLong(0), r.getLong(2)) -> r.getLong(3)).toMap
    val fullMap = full.map(t => (t._1, t._3) -> t._4).toMap
    assert(ivfpq1.nonEmpty && ivfpq1.size < fullMap.size)
    ivfpq1.foreach { case (k, d) =>
      assert(fullMap.contains(k) && fullMap(k) === d)
    }
  }

  test("seasonalNaiveEval matches hand-computed MAE/sMAPE/MASE") {
    import spark.implicits._
    val daily = (1 to 10).map(t => (t, t.toLong * 10)).toDF("day", "v")
    val r = graft.operators.TimeSeries.seasonalNaiveEval(daily, "day", "v", 2)
      .collect().head
    // scored t=3..10: |e|=20 each -> mae=20; naive1 |e|=10 -> mase=2
    assert(r.getLong(0) === 8L)
    assert(r.getDouble(1) === 20.0)
    assert(math.abs(r.getDouble(3) - 2.0) < 1e-9)
    // sMAPE replay with the same quantization
    val sm = (3 to 10).map { t =>
      math.floor(2.0 * 20 / (10.0 * (t - 2) + 10.0 * t) * 1e6 + 0.5) / 1e6
    }.sum / 8
    assert(math.abs(r.getDouble(2) - sm) < 1e-9)
  }

  test("medianCI matches the hand-computed order-statistic interval") {
    import spark.implicits._
    val df = (1 to 100).map(_.toDouble).toDF("v")
    val r = graft.operators.Profiler.medianCI(df.repartition(7), "v").collect().head
    assert(r.getLong(0) === 100L)
    assert(r.getDouble(1) === 50.5) // interpolated median
    // rank_lo = floor((100 - 1.959964·10)/2) = 40, rank_hi = 61
    assert(r.getLong(4) === 40L && r.getLong(5) === 61L)
    assert(r.getDouble(2) === 40.0 && r.getDouble(3) === 61.0)
  }

  test("passAtK matches the hand-computed unbiased estimator") {
    import spark.implicits._
    // task A: n=4, c=2; task B: n=4, c=0
    val trials = (Seq.tabulate(4)(i => ("A", i.toLong, i < 2)) ++
      Seq.tabulate(4)(i => ("B", i.toLong, false))).toDF("task", "trial", "ok")
    val out = graft.operators.EvalMetrics
      .passAtK(trials, "task", "trial", col("ok"), ks = Seq(1, 3, 5))
      .collect().map(r => r.getInt(0) -> (r.getLong(1), r.getDouble(2))).toMap
    // k=1: A: 1 − 2/4 = .5, B: 0 → mean .25
    assert(out(1)._1 === 2L && math.abs(out(1)._2 - 0.25) < 1e-9)
    // k=3: A: n−c=2 < 3 → 1, B: 0 → mean .5
    assert(out(3)._1 === 2L && math.abs(out(3)._2 - 0.5) < 1e-9)
    // k=5 > n=4: undefined for every task → no row
    assert(!out.contains(5))
  }

  test("paddingWaste buckets and pads by the hand rule") {
    import spark.implicits._
    val docs = Seq(Tuple1(Seq.fill(3)("w").mkString(" ")),
      Tuple1(Seq.fill(70)("w").mkString(" "))).toDF("text")
    val out = graft.operators.EvalMetrics.paddingWaste(docs, "text", 64)
      .orderBy("bucket_len").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)))
    assert(out.toSeq === Seq((64L, 1L, 3L, 61L), (128L, 1L, 70L, 58L)))
  }

  test("bradleyTerry converges to the analytic two-player strengths") {
    import spark.implicits._
    // A beats B 3:1 -> P(A wins) = 3/4 -> sigma_A/sigma_B = 3; with the
    // mean-1 normalization (sum = 2): sigma_A = 1.5, sigma_B = 0.5 — an
    // exact MM fixed point reached in one iteration
    val m = (Seq.fill(3)(("A", "B")) ++ Seq(("B", "A"))).toDF("w", "l")
    val out = graft.operators.EvalMetrics.bradleyTerry(m, "w", "l", iters = 5)
      .collect().map(r => r.getString(0) ->
        (r.getLong(1), r.getLong(2), r.getDouble(3))).toMap
    assert(out("A") === ((4L, 3L, 1.5)))
    assert(out("B") === ((4L, 1L, 0.5)))
    // result is a pure function of the match multiset, not partitioning
    val out2 = graft.operators.EvalMetrics
      .bradleyTerry(m.repartition(5), "w", "l", iters = 5)
      .collect().map(r => r.getString(0) -> r.getDouble(3)).toMap
    assert(out2("A") === 1.5 && out2("B") === 0.5)
  }

  test("sprt crosses the Wald boundary at the hand-computed step") {
    import spark.implicits._
    // p0=0.2 vs p1=0.8: llr = (2k−n)·ln4; all-success days cross
    // ln19 ≈ 2.944 after the 4th success (4·ln4 ≈ 5.545)
    val daily = Seq((1L, 2L, 2L), (2L, 2L, 2L), (3L, 2L, 0L))
      .toDF("day", "n", "k")
    val out = graft.operators.Stats.sprt(daily, "day", "n", "k", 0.2, 0.8)
      .orderBy("period").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getDouble(3),
        r.getString(4)))
    val ln4 = math.log(4.0)
    assert(out(0)._5 === "continue" && math.abs(out(0)._4 - 2 * ln4) < 1e-12)
    assert(out(1)._5 === "accept_h1" && math.abs(out(1)._4 - 4 * ln4) < 1e-12)
    // day 3 adds two failures: llr = (2·4 − 10)·... = (8−6−... ) recompute:
    // k=4,n=6 -> (2k−n)·ln4 = 2·ln4 ≈ 2.77 -> back to continue
    assert(out(2)._5 === "continue" && math.abs(out(2)._4 - 2 * ln4) < 1e-12)
  }

  test("ebShrinkage pulls small groups toward the global mean; degenerate raises") {
    import spark.implicits._
    val df = (Seq.fill(2)(("a", true)) ++ Seq.fill(8)(("a", false)) ++
      Seq.fill(8)(("b", true)) ++ Seq.fill(2)(("b", false))).toDF("g", "s")
    val out = graft.operators.Stats.ebShrinkage(df, "g", col("s"))
      .collect().map(r => r.getString(0) -> (r.getDouble(3), r.getDouble(4))).toMap
    // m = 0.5, v = 0.09, a+b = 0.25/0.09 − 1 ≈ 1.7778:
    // shrunk_a = (2 + 0.5·1.7778)/11.7778 ≈ 0.245283
    assert(math.abs(out("a")._2 - 0.2452830) < 1e-4)
    assert(out("a")._2 > out("a")._1 && out("a")._2 < 0.5) // pulled toward m
    assert(out("b")._2 < out("b")._1 && out("b")._2 > 0.5)
    val flat = Seq(("a", true), ("a", false), ("b", true), ("b", false)).toDF("g", "s")
    val ex = intercept[Exception] {
      graft.operators.Stats.ebShrinkage(flat, "g", col("s")).collect()
    }
    assert(ex.getMessage.contains("degenerate") ||
      Option(ex.getCause).exists(_.getMessage.contains("degenerate")))
  }

  test("ipsOffPolicy matches the hand-computed IPS/DM/match-rate") {
    import spark.implicits._
    // log split (in_log=true): ctx 0, action x q=.5 (wins), y q=0
    // eval split: (x, r=1), (x, r=0), (y, r=1)
    val rows = Seq(
      (0L, "x", 60.0, true), (0L, "x", 10.0, true),
      (0L, "y", 10.0, true), (0L, "y", 10.0, true),
      (0L, "x", 60.0, false), (0L, "x", 10.0, false), (0L, "y", 60.0, false))
      .toDF("c", "a", "v", "in_log")
    val r = graft.operators.EvalMetrics.ipsOffPolicy(rows,
        col("c"), col("a"), col("v") >= 50, col("in_log"))
      .collect().head
    assert(r.getLong(0) === 3L)
    assert(math.abs(r.getDouble(1) - 2.0 / 3.0) < 1e-6)  // 1·(4/2)/3
    assert(math.abs(r.getDouble(2) - 0.5) < 1e-6)        // 3·0.5/3
    assert(math.abs(r.getDouble(3) - 2.0 / 3.0) < 1e-6)
  }

  test("krippendorffAlpha matches the hand-computed nominal example") {
    import spark.implicits._
    // 2 raters x 4 units: Do = 2/8, De = (64−34)/56 -> alpha = 1 − .25/.5357
    val ratings = Seq(
      (1L, "x", "A"), (1L, "y", "A"),
      (2L, "x", "A"), (2L, "y", "B"),
      (3L, "x", "B"), (3L, "y", "B"),
      (4L, "x", "B"), (4L, "y", "B")).toDF("u", "rater", "cat")
    val r = graft.operators.Profiler
      .krippendorffAlpha(ratings, "u", "rater", "cat").collect().head
    assert(r.getLong(0) === 4L && r.getLong(1) === 8L)
    assert(math.abs(r.getDouble(2) - 0.25) < 1e-9)
    assert(math.abs(r.getDouble(3) - 30.0 / 56.0) < 1e-9)
    assert(math.abs(r.getDouble(4) - (1.0 - 0.25 / (30.0 / 56.0))) < 1e-6)
    // a unit rated once is unpairable and must drop out
    val withSingle = ratings.union(Seq((9L, "x", "A")).toDF("u", "rater", "cat"))
    val r2 = graft.operators.Profiler
      .krippendorffAlpha(withSingle, "u", "rater", "cat").collect().head
    assert(r2.getLong(0) === 4L && r2.getLong(1) === 8L)
  }

  test("friedman: perfect concordance gives chi2 = n(k−1) and W = 1") {
    import spark.implicits._
    val rows = for (b <- 1 to 4; t <- 1 to 3) yield (b.toLong, s"t$t", t.toLong * 10)
    val r = graft.operators.Stats.friedman(rows.toDF("b", "t", "v"), "b", "t", "v")
      .collect().head
    assert(r.getLong(0) === 4L && r.getLong(1) === 3L)
    assert(math.abs(r.getDouble(2) - 8.0) < 1e-9) // 12/48·224 − 48
    assert(math.abs(r.getDouble(3) - 1.0) < 1e-9)
    // an incomplete block is dropped
    val withPartial = (rows ++ Seq((9L, "t1", 5L))).toDF("b", "t", "v")
    val r2 = graft.operators.Stats.friedman(withPartial, "b", "t", "v")
      .collect().head
    assert(r2.getLong(0) === 4L)
  }

  test("heapsLaw is invariant to input partitioning (the r07 flake class)") {
    import spark.implicits._
    val docs = (0L until 40L)
      .map(i => (i, s"w${i % 7} w${i % 13} w${i * 31 % 97} common"))
      .toDF("doc_id", "text")
    val a = graft.text.TextAnalysis.heapsLaw(docs.repartition(1), "doc_id", "text", 10)
      .orderBy("b").collect().toSeq
    val b = graft.text.TextAnalysis.heapsLaw(docs.repartition(17), "doc_id", "text", 10)
      .orderBy("b").collect().toSeq
    assert(a === b)
  }
}
