package graft

import org.apache.spark.sql.functions._
import graft.operators.{Graph, Profiler, Reconcile, Retention}

class Round3cOperatorsSpec extends SparkSpec {

  // ---------- Retention ----------

  test("retentionMatrix: cohorts from first event; offsets count returning users") {
    import spark.implicits._
    // periods ARE the ts values (identity periodOf). u1 starts p0 and
    // returns p1, p2; u2 starts p0 only; u3 starts p1, returns p2.
    val ev = Seq((1L, 0L), (1L, 1L), (1L, 2L), (2L, 0L), (3L, 1L), (3L, 2L))
      .toDF("u", "ts")
    val got = Retention.retentionMatrix(ev, "u", "ts", identity)
      .orderBy("cohort", "offset")
      .select("cohort", "offset", "n_active", "cohort_size")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3))).toSeq
    assert(got === Seq(
      (0L, 0L, 2L, 2L), (0L, 1L, 1L, 2L), (0L, 2L, 1L, 2L),
      (1L, 0L, 1L, 1L), (1L, 1L, 1L, 1L)))
  }

  test("retentionMatrix: offset-0 retention is always 1.0") {
    import spark.implicits._
    val ev = Seq((1L, 3L), (2L, 5L), (2L, 9L), (3L, 5L)).toDF("u", "ts")
    val r0 = Retention.retentionMatrix(ev, "u", "ts", identity)
      .filter(col("offset") === 0).select("retention").collect().map(_.getDouble(0))
    assert(r0.nonEmpty && r0.forall(_ == 1.0))
  }

  test("cumulativeDistinct: n_cum is the exact distinct-to-date count") {
    import spark.implicits._
    // u1 first at p0 (reappears p2 — must NOT recount), u2 at p0, u3 at p2
    val ev = Seq((1L, 0L), (2L, 0L), (1L, 2L), (3L, 2L)).toDF("u", "ts")
    val got = Retention.cumulativeDistinct(ev, "u", "ts", identity)
      .orderBy("period")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSeq
    assert(got === Seq((0L, 2L, 2L), (2L, 1L, 3L)))
  }

  test("userFeatures: windows are trailing-inclusive; recency from last event") {
    import spark.implicits._
    val ev = Seq(
      (1L, 100L, 10.0), // inside the 50-window (ref 120, cut 70)
      (1L, 60L, 5.0),   // outside 50-window, inside 100-window (cut 20)
      (1L, 130L, 99.0), // after refTs: excluded entirely
      (2L, 70L, 1.0)    // exactly at the 50-window cut: included (>=)
    ).toDF("u", "ts", "v")
    val got = Retention.userFeatures(ev, "u", "ts", "v", refTs = 120L,
      windows = Seq("w50" -> 50L, "w100" -> 100L))
      .orderBy("u")
      .select("u", "n_w50", "value_w50", "n_w100", "value_w100", "recency")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2),
        r.getLong(3), r.getDouble(4), r.getLong(5))).toSeq
    assert(got === Seq(
      (1L, 1L, 10.0, 2L, 15.0, 20L),
      (2L, 1L, 1.0, 1L, 1.0, 50L)))
  }

  test("seasonalVolumeAnomaly: planted hour spike flagged, normal cells not") {
    import spark.implicits._
    // hour 0 volume is 10 on days 0-8 and 30 on day 9 (z ≈ 2.85 with the
    // spike included in the baseline); hour 1 is flat 10 across all days
    // -> sigma 0, z forced to 0, never flagged
    val rows = (for {
      d <- 0 to 9; h <- 0 to 1
      n = if (h == 0 && d == 9) 30 else 10
      i <- 1 to n
    } yield (d.toLong, h.toLong, i)).toDF("d", "h", "i")
    val got = Retention.seasonalVolumeAnomaly(rows, col("d"), col("h"), k = 2.0)
      .select("day", "hour").collect().map(r => (r.getLong(0), r.getLong(1))).toSeq
    assert(got === Seq((9L, 0L)))
  }

  // ---------- Reconcile ----------

  test("snapshotDiff: every row fate + null-safe column compare") {
    import spark.implicits._
    val prev = Seq(
      (1L, Some("a"), Some(1.0)), // unchanged
      (2L, Some("b"), Some(2.0)), // value change
      (3L, None, Some(3.0)),      // null -> value change
      (4L, Some("d"), None),      // value -> null change
      (5L, Some("e"), Some(5.0))  // removed
    ).toDF("k", "s", "v")
    val next = Seq(
      (1L, Some("a"), Some(1.0)),
      (2L, Some("B"), Some(2.0)),
      (3L, Some("c"), Some(3.0)),
      (4L, Some("d"), None: Option[Double]),
      (6L, Some("f"), Some(6.0))  // added
    ).toDF("k", "s", "v")
    // 4: v stays null on both sides -> NOT a change (null-safe compare)
    val d = Reconcile.snapshotDiff(prev, next, Seq("k"))
    val got = d.orderBy("k")
      .collect().map(r => (r.getLong(0), r.getString(1), r.getSeq[String](2))).toSeq
    assert(got === Seq(
      (1L, "unchanged", Seq()),
      (2L, "changed", Seq("s")),
      (3L, "changed", Seq("s")),
      (4L, "unchanged", Seq()),
      (5L, "removed", Seq()),
      (6L, "added", Seq())))
    val summary = Reconcile.diffSummary(d).orderBy("diff_status")
      .collect().map(r => (r.getString(0), r.getLong(1))).toSeq
    assert(summary === Seq(("added", 1L), ("changed", 2L), ("removed", 1L), ("unchanged", 2L)))
  }

  test("snapshotDiff: multi-column change lists every changed column sorted") {
    import spark.implicits._
    val prev = Seq((1L, "a", 1.0)).toDF("k", "s", "v")
    val next = Seq((1L, "z", 9.0)).toDF("k", "s", "v")
    val got = Reconcile.snapshotDiff(prev, next, Seq("k")).collect()
    assert(got.head.getString(1) === "changed")
    assert(got.head.getSeq[String](2) === Seq("s", "v"))
    val cols = Reconcile.changedColumnCounts(
      Reconcile.snapshotDiff(prev, next, Seq("k"))).orderBy("column")
      .collect().map(r => (r.getString(0), r.getLong(1))).toSeq
    assert(cols === Seq(("s", 1L), ("v", 1L)))
  }

  // ---------- Profiler additions ----------

  test("kAnonymity: min class size and rows at risk; nulls form a class") {
    import spark.implicits._
    val df = Seq(
      ("x", "m"), ("x", "m"), ("x", "m"), // class of 3
      ("y", "m"),                          // class of 1 (below k=3)
      (null, "m"), (null, "m")             // null class of 2 (below k=3)
    ).toDF("qa", "qb")
    val r = Profiler.kAnonymity(df, Seq("qa", "qb"), k = 3L).collect().head
    assert(r.getLong(0) === 1L)   // min_class_size
    assert(r.getLong(1) === 3L)   // n_classes
    assert(r.getLong(2) === 2L)   // classes_below_k
    assert(r.getLong(3) === 3L)   // rows_at_risk
    assert(r.getLong(4) === 6L)   // n_rows
    assert(r.getDouble(5) === 0.5)
  }

  test("lDiversity: distinct-sensitive-per-class with NULL counted as a value") {
    import spark.implicits._
    val df = Seq(
      ("x", "a"), ("x", "b"), ("x", "c"),   // class x: l=3 (ok at l=3)
      ("y", "a"), ("y", "a"), ("y", "a"),   // class y: l=1 — homogeneous, at risk
      ("z", "a"), ("z", null)               // class z: l=2 (null IS a value)
    ).toDF("q", "s")
    val r = Profiler.lDiversity(df, Seq("q"), "s", l = 3L).collect().head
    assert(r.getLong(0) === 1L)   // min_l (class y)
    assert(r.getLong(1) === 3L)   // n_classes
    assert(r.getLong(2) === 2L)   // classes_below_l (y and z)
    assert(r.getLong(3) === 5L)   // rows_at_risk
    assert(r.getLong(4) === 8L)   // n_rows
    assert(r.getDouble(5) === 0.625)
  }

  test("tCloseness: hand-computed total variation incl. absent cells; null quasi survives") {
    import spark.implicits._
    val df = Seq(
      ("x", "a"), ("x", "a"), ("x", "b"), ("x", "b"), // class x: a .5, b .5
      ("y", "a"), ("y", "a"), ("y", "a"), ("y", "a"), // class y: all a — skewed
      (null, "b"), (null, "b"), (null, "b"), (null, "b") // null class: all b
    ).toDF("q", "s")
    // global: a 6/12, b 6/12. TV(x) = 0; TV(y) = ½(|1−.5| + .5) = .5;
    // TV(null-class) = .5
    val r = Profiler.tCloseness(df, Seq("q"), "s", t = 0.2).collect().head
    assert(math.abs(r.getDouble(0) - 0.5) < 1e-8) // max_t (quantization < 1e-8 off)
    assert(r.getLong(1) === 3L)                   // n_classes (null class counted)
    assert(r.getLong(2) === 2L)                   // classes_above_t (y and null)
    assert(r.getLong(3) === 8L)                   // rows_at_risk
    assert(r.getLong(4) === 12L)                  // n_rows
    assert(math.abs(r.getDouble(5) - 8.0 / 12.0) < 1e-12)
  }

  test("deadColumns: all_null / constant / live verdicts") {
    import spark.implicits._
    val df = Seq(
      (1L, Option.empty[String], "same", "a"),
      (2L, Option.empty[String], "same", "b"),
      (3L, Option.empty[String], null, "c")
    ).toDF("id", "dead", "const", "live")
    val got = Profiler.deadColumns(df, Seq("dead", "const", "live", "id"))
      .orderBy("column")
      .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getString(3))).toSeq
    // 'const' has one distinct non-null value (+1 null) -> constant
    assert(got === Seq(
      ("const", 1L, 1L, "constant"),
      ("dead", 3L, 0L, "all_null"),
      ("id", 0L, 3L, "live"),
      ("live", 0L, 3L, "live")))
  }

  // ---------- Graph ----------

  test("triangleStats: K4 has 4 triangles and clustering 1.0") {
    import spark.implicits._
    val k4 = (for (a <- 1 to 4; b <- 1 to 4 if a < b) yield (a.toLong, b.toLong))
      .toDF("s", "d")
    val r = Graph.triangleStats(k4, "s", "d").collect().head
    assert((r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)) === (4L, 6L, 12L, 4L))
    assert(r.getDouble(4) === 1.0)
  }

  test("triangleStats: path graph has zero triangles; dup/reversed/self edges canonicalized") {
    import spark.implicits._
    // path 1-2-3-4 fed as duplicated, reversed, self-looped edges
    val messy = Seq((1L, 2L), (2L, 1L), (2L, 3L), (3L, 4L), (3L, 4L), (2L, 2L))
      .toDF("s", "d")
    val r = Graph.triangleStats(messy, "s", "d").collect().head
    assert((r.getLong(0), r.getLong(1), r.getLong(3)) === (4L, 3L, 0L))
    assert(r.getLong(2) === 2L) // wedges: middle nodes 2 and 3
  }

  test("triangleStats: empty edge list yields a zeroed summary row, not nulls") {
    import spark.implicits._
    val none = Seq.empty[(Long, Long)].toDF("s", "d")
    val r = Graph.triangleStats(none, "s", "d").collect().head
    assert((r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)) === (0L, 0L, 0L, 0L))
    assert(r.getDouble(4) === 0.0)
  }

  test("triangleStats: hub-and-triangle — orientation still finds the closed one") {
    import spark.implicits._
    // star center 0 with leaves 1..5, plus one closed edge between leaves
    val edges = ((1 to 5).map(i => (0L, i.toLong)) :+ (1L, 2L)).toDF("s", "d")
    val r = Graph.triangleStats(edges, "s", "d").collect().head
    assert(r.getLong(3) === 1L)
  }

  test("pageRank: symmetric 2-cycle sits at the uniform fixpoint") {
    import spark.implicits._
    val edges = Seq((1L, 2L), (2L, 1L)).toDF("s", "d")
    val got = Graph.pageRank(edges, "s", "d", iters = 3)
      .orderBy("node").collect().map(r => (r.getLong(0), r.getLong(1))).toSeq
    // N=2: init = 5e11; contrib = 5e11; next = 15%*5e11/100 + 85%*5e11/100 = 5e11
    assert(got === Seq((1L, 500000000000L), (2L, 500000000000L)))
  }

  test("pageRank: star center outranks leaves; ranks deterministic under repartition") {
    import spark.implicits._
    val und = (1 to 5).map(i => (0L, i.toLong))
    val sym = (und ++ und.map(_.swap)).toDF("s", "d")
    val r1 = Graph.pageRank(sym, "s", "d", iters = 5)
      .orderBy("node").collect().map(r => (r.getLong(0), r.getLong(1))).toSeq
    val r2 = Graph.pageRank(sym.repartition(7), "s", "d", iters = 5)
      .orderBy("node").collect().map(r => (r.getLong(0), r.getLong(1))).toSeq
    assert(r1 === r2)
    val ranks = r1.toMap
    assert((1 to 5).forall(i => ranks(0L) > ranks(i.toLong)))
    // leaves are symmetric: identical ranks
    assert((1 to 5).map(i => ranks(i.toLong)).distinct.size === 1)
    // scaled mass is conserved up to floor losses (never exceeds scale)
    val total = r1.map(_._2).sum
    assert(total <= 1000000000000L && total > 900000000000L)
  }

  test("pageRank equals a driver-side integer reference at any partition count") {
    import spark.implicits._
    val und = (1 to 6).map(i => (0L, i.toLong)) ++ Seq((1L, 2L), (3L, 4L))
    val edges = und ++ und.map(_.swap)
    val sym = edges.toDF("s", "d")
    // the update rule of the scaladoc, unrolled sequentially
    val nodes = edges.flatMap(e => Seq(e._1, e._2)).distinct
    val outdeg = edges.groupBy(_._1).map { case (u, es) => u -> es.size.toLong }
    val init = 1000000000000L / nodes.size
    val base = 15L * init / 100L
    var ref = nodes.map(_ -> init).toMap
    (1 to 3).foreach { _ =>
      val cs = edges.groupBy(_._2).map { case (v, es) =>
        v -> es.map(e => ref(e._1) / outdeg(e._1)).sum }
      ref = nodes.map(v => v -> (base + 85L * cs.getOrElse(v, 0L) / 100L)).toMap
    }
    val want = ref.toSeq.sorted
    def ranks() = Graph.pageRank(sym, "s", "d", iters = 3)
      .orderBy("node").collect().map(r => (r.getLong(0), r.getLong(1))).toSeq
    assert(ranks() === want)
    val parts = spark.conf.get("spark.sql.shuffle.partitions")
    try {
      Seq("1", "7").foreach { p =>
        spark.conf.set("spark.sql.shuffle.partitions", p)
        assert(ranks() === want, s"shuffle.partitions=$p")
      }
    } finally spark.conf.set("spark.sql.shuffle.partitions", parts)
  }

  test("clusterBest: representative is the highest-scoring member, ties to smallest id") {
    import spark.implicits._
    val pairs = Seq((1L, 2L), (2L, 3L), (10L, 11L)).toDF("ida", "idb")
    val scored = Seq((1L, 0.2), (2L, 0.9), (3L, 0.5), (10L, 0.7), (11L, 0.7))
      .toDF("doc_id", "q")
    val got = graft.dedup.Dedup.clusterBest(pairs, scored, "doc_id", "q")
      .orderBy("doc_id").collect().map(r => (r.getLong(0), r.getLong(1))).toSeq
    // cluster {1,2,3}: best is 2 (0.9); cluster {10,11}: tie -> 10
    assert(got === Seq((1L, 2L), (2L, 2L), (3L, 2L), (10L, 10L), (11L, 10L)))
  }

  test("zipfFit: slope/intercept match a hand-computed OLS on ln/ln") {
    import spark.implicits._
    // token frequencies: a=8, b=4, c=2, d=1 (one doc per occurrence)
    val docs = (Seq.fill(8)("a") ++ Seq.fill(4)("b") ++ Seq.fill(2)("c") ++ Seq("d"))
      .zipWithIndex.map { case (t, i) => (i.toLong, t) }.toDF("doc_id", "text")
    val r = graft.text.TextAnalysis.zipfFit(docs, "text", topK = 10).collect().head
    assert(r.getLong(0) === 4L)
    val xs = Seq(1.0, 2.0, 3.0, 4.0).map(math.log)
    val ys = Seq(8.0, 4.0, 2.0, 1.0).map(math.log)
    val xm = xs.sum / 4; val ym = ys.sum / 4
    val slope = xs.zip(ys).map { case (x, y) => (x - xm) * (y - ym) }.sum /
      xs.map(x => (x - xm) * (x - xm)).sum
    val intercept = ym - slope * xm
    assert(math.abs(r.getDouble(1) - slope) < 1e-5)
    assert(math.abs(r.getDouble(2) - intercept) < 1e-5)
  }

  test("mergeAggState: merged state equals one aggregation over the full history") {
    import spark.implicits._
    val full = Seq((1L, 10.0), (1L, 20.0), (1L, 5.0), (2L, 7.0), (3L, 1.0))
      .toDF("k", "v")
    val state = graft.operators.Incremental.aggState(full.filter($"v" >= 6), Seq("k"), "v")
    val merged = graft.operators.Incremental
      .mergeAggState(state, full.filter($"v" < 6), Seq("k"), "v")
    val direct = graft.operators.Incremental.aggState(full, Seq("k"), "v")
    assert(merged.orderBy("k").collect().toSeq === direct.orderBy("k").collect().toSeq)
  }

  test("mergeAggState: multi-generation merges keep a stable schema and exact totals") {
    import spark.implicits._
    val b1 = Seq((1L, 0.1), (1L, 0.2)).toDF("k", "v")
    val b2 = Seq((1L, 0.3), (2L, 9.0)).toDF("k", "v")
    val b3 = Seq((1L, 0.4)).toDF("k", "v")
    var st = graft.operators.Incremental.aggState(b1, Seq("k"), "v")
    st = graft.operators.Incremental.mergeAggState(st, b2, Seq("k"), "v")
    val schemaAfter1 = st.schema
    st = graft.operators.Incremental.mergeAggState(st, b3, Seq("k"), "v")
    assert(st.schema === schemaAfter1)
    val r = st.filter($"k" === 1).collect().head
    assert(r.getLong(1) === 4L)
    // decimal state: 0.1+0.2+0.3+0.4 is exactly 1.0 (doubles would drift)
    assert(r.getDecimal(2).compareTo(new java.math.BigDecimal("1.000000")) === 0)
    assert(r.getDouble(3) === 0.1 && r.getDouble(4) === 0.4)
  }

  test("funnelWindowed: stages expire past the gap bound; plain funnel keeps them") {
    import spark.implicits._
    // u1: view@0 -> click@5 (within gap 10); u2: view@0 -> click@50 (expired);
    // u3: view@0 -> click@5 -> purchase@100 (last step expired)
    val ev = Seq(
      (1L, "view", 0L), (1L, "click", 5L),
      (2L, "view", 0L), (2L, "click", 50L),
      (3L, "view", 0L), (3L, "click", 5L), (3L, "purchase", 100L)
    ).toDF("user_id", "event_type", "ts")
    val stages = Seq("view", "click", "purchase")
    val windowed = graft.operators.Funnel
      .funnelWindowed(ev, "user_id", "event_type", "ts", stages, maxGap = 10L)
      .orderBy("stage_idx").collect().map(_.getLong(2)).toSeq
    assert(windowed === Seq(3L, 2L, 0L))
    val plain = graft.operators.Funnel
      .funnel(ev, "user_id", "event_type", "ts", stages)
      .orderBy("stage_idx").collect().map(_.getLong(2)).toSeq
    assert(plain === Seq(3L, 3L, 1L))
  }

  test("resampleLocf: gaps densified, LOCF-filled and flagged; leading gap stays null") {
    import spark.implicits._
    val sparse = Seq((2L, 10.0), (5L, 50.0), (6L, 60.0)).toDF("day", "v")
    val got = graft.operators.TimeSeries.resampleLocf(sparse, "day", Seq("v"))
      .orderBy("day")
      .collect().map(r => (r.getLong(0), r.getDouble(1), r.getBoolean(2))).toSeq
    assert(got === Seq(
      (2L, 10.0, false), (3L, 10.0, true), (4L, 10.0, true),
      (5L, 50.0, false), (6L, 60.0, false)))
  }

  test("resampleLocf distributed sweep equals naive LOCF on random sparse series") {
    import spark.implicits._
    val rnd = new scala.util.Random(53)
    // sparse observations over a wide axis, three value columns with
    // independent null patterns, a leading gap before the first observation;
    // the string column's carry must outlive the scan's reused row buffer
    val obs = (0 until 400).map { _ =>
      val day = 100L + rnd.nextInt(5000)
      (day,
        if (rnd.nextInt(4) == 0) None else Some(rnd.nextInt(1000).toDouble),
        if (rnd.nextInt(3) == 0) None else Some(rnd.nextInt(1000).toLong),
        if (rnd.nextInt(3) == 0) None else Some(s"s${rnd.nextInt(1000)}"))
    }.distinctBy(_._1)
    val got = graft.operators.TimeSeries
      .resampleLocf(obs.toDF("day", "a", "b", "c"), "day", Seq("a", "b", "c"))
      .orderBy("day").collect()
      .map(r => (r.getLong(0), Option(r.get(1)), Option(r.get(2)), Option(r.get(3)),
        r.getBoolean(4)))
    val byDay = obs.map(o => o._1 -> o).toMap
    val lo = obs.map(_._1).min; val hi = obs.map(_._1).max
    var la: Option[Any] = None; var lb: Option[Any] = None; var lc: Option[Any] = None
    val want = (lo to hi).map { d =>
      val o = byDay.get(d)
      o.flatMap(_._2).foreach(v => la = Some(v))
      o.flatMap(_._3).foreach(v => lb = Some(v))
      o.flatMap(_._4).foreach(v => lc = Some(v))
      (d, la, lb, lc, o.flatMap(_._2).isEmpty)
    }
    assert(got.length == want.length)
    got.zip(want).foreach { case (g, w) => assert(g == w, s"day ${w._1}") }
    // partition boundaries were actually exercised (not a 1-partition run)
    assert(got.length > 1000)
  }

  test("resampleLocfByKey: each key spans its own bounds with its own fills") {
    import spark.implicits._
    val sparse = Seq(("a", 1L, 1.0), ("a", 3L, 3.0), ("b", 10L, 9.0)).toDF("k", "day", "v")
    val got = graft.operators.TimeSeries
      .resampleLocfByKey(sparse, "k", "day", Seq("v"))
      .orderBy("k", "day")
      .collect().map(r => (r.getString(0), r.getLong(1), r.getDouble(2), r.getBoolean(3))).toSeq
    assert(got === Seq(
      ("a", 1L, 1.0, false), ("a", 2L, 1.0, true), ("a", 3L, 3.0, false),
      ("b", 10L, 9.0, false)))
  }

  test("compaction: fragmented table rewritten to the computed file count, rows intact") {
    import spark.implicits._
    val inDir = "/tmp/graft_compact_in"
    val outDir = "/tmp/graft_compact_out"
    // 40 tiny files
    (1 to 2000).map(i => (i.toLong, s"row $i payload ${"x" * 50}"))
      .toDF("id", "payload")
      .repartition(40).write.mode("overwrite").parquet(inDir)
    val before = graft.sources.Compaction.fileStats(spark, inDir)
    assert(before.nFiles === 40)
    // target = half the total -> exactly 2 output files
    val (_, after) = graft.sources.Compaction.compact(spark, inDir, outDir,
      targetFileBytes = (before.totalBytes + 1) / 2)
    assert(after.nFiles === 2)
    assert(spark.read.parquet(outDir).count() === 2000)
    assert(spark.read.parquet(outDir).agg(org.apache.spark.sql.functions.sum("id"))
      .head().getLong(0) === (1 to 2000).map(_.toLong).sum)
  }

  test("joinExplosionAudit: projected rows equal the real join size without running it") {
    import spark.implicits._
    val left = Seq((1L, "a"), (1L, "b"), (1L, "c"), (2L, "d"), (9L, "z"))
      .toDF("k", "lv")
    val right = Seq((1L, 10), (1L, 20), (2L, 30), (7L, 70)).toDF("k", "rv")
    val r = Profiler.joinExplosionAudit(left, right, "k", "k").collect().head
    assert((r.getLong(0), r.getLong(1)) === (5L, 4L))   // rows
    assert((r.getLong(2), r.getLong(3)) === (3L, 2L))   // max per key
    assert(r.getLong(4) === 2L)                          // matching keys
    val projected = r.getLong(5)
    assert(projected === 3L * 2L + 1L * 1L)              // k=1: 3x2, k=2: 1x1
    assert(projected === left.join(right, "k").count())
  }

  test("joinExplosionAudit: disjoint keys project zero, not null") {
    import spark.implicits._
    val l = Seq((1L, "a")).toDF("k", "lv")
    val r = Seq((2L, "b")).toDF("k", "rv")
    val row = Profiler.joinExplosionAudit(l, r, "k", "k").collect().head
    assert(row.getLong(4) === 0L && row.getLong(5) === 0L)
  }

  test("groupQuantilesApprox: within GK rank-error bound of the exact path") {
    import spark.implicits._
    val df = (1 to 2000).flatMap(i => Seq(("a", i.toDouble), ("b", (i * 2).toDouble)))
      .toDF("k", "v")
    val exact = Profiler.groupQuantiles(df, "k", "v", Seq(0.5, 0.95))
      .collect().map(r => r.getString(0) -> (r.getDouble(2), r.getDouble(3))).toMap
    val approx = Profiler.groupQuantilesApprox(df, "k", "v", Seq(0.5, 0.95))
      .collect().map(r => r.getString(0) -> (r.getDouble(2), r.getDouble(3))).toMap
    // accuracy 10000 on 2000 values -> rank error < 1 -> within one step
    // of the exact value (approx returns an element; exact interpolates)
    for (k <- Seq("a", "b")) {
      val step = if (k == "a") 1.0 else 2.0
      assert(math.abs(exact(k)._1 - approx(k)._1) <= step)
      assert(math.abs(exact(k)._2 - approx(k)._2) <= step)
    }
  }

  test("stream-static broadcast join enriches a stream without stream state") {
    val s = spark
    import s.implicits._
    implicit val sqlCtx = spark.sqlContext
    val dim = Seq((1L, "gold"), (2L, "silver")).toDF("uid", "tier")
    val mem = org.apache.spark.sql.execution.streaming.runtime.MemoryStream[(Long, Double)]
    val joined = mem.toDF().toDF("uid", "amount")
      .join(org.apache.spark.sql.functions.broadcast(dim), Seq("uid"), "left")
    val q = joined.writeStream.format("memory").queryName("enriched")
      .outputMode("append").start()
    try {
      mem.addData((1L, 5.0), (2L, 7.0), (3L, 9.0))
      q.processAllAvailable()
      val rows = spark.table("enriched").collect()
        .map(r => (r.getLong(0), Option(r.getString(2)))).toSet
      assert(rows === Set((1L, Some("gold")), (2L, Some("silver")), (3L, None)))
    } finally q.stop()
  }

  test("cooccurrenceEdges: items sharing a basket, a<b, distinct") {
    import spark.implicits._
    val bi = Seq((10L, 1L), (10L, 2L), (10L, 3L), (20L, 2L), (20L, 3L), (30L, 9L))
      .toDF("basket", "item")
    val got = Graph.cooccurrenceEdges(bi, "basket", "item")
      .orderBy("a", "b").collect().map(r => (r.getLong(0), r.getLong(1))).toSeq
    assert(got === Seq((1L, 2L), (1L, 3L), (2L, 3L)))
  }
}
