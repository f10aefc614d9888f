package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import graft.core.{Checkpoints, Superstep}

/** Distributed graph statistics over an edge list — no graph library, just
  * joins shaped the way a 1000-executor cluster wants them.
  *
  * Triangle counting uses the degree-ordered node-iterator (the MapReduce
  * classic from Suri & Vassilvitskii, "Counting Triangles and the Curse of
  * the Last Reducer", WWW'11): orient every undirected edge from its
  * lower-(degree, id) endpoint to the higher one, build wedges only from
  * each node's OUT-edges, and close them against the oriented edge list.
  * Orientation bounds every out-degree by O(√E), so the wedge join — the
  * quadratic step — generates O(E^1.5) candidates instead of
  * Σ deg(v)² (which a hub node turns into the "last reducer" straggler).
  * Each triangle is produced exactly once, so the total equals the naive
  * id-ordered count an oracle computes.
  */
object Graph {

  /** Canonicalize an edge list: drop self-loops and nulls, undirect, and
    * dedup to one `(a, b)` row with `a < b`. */
  def canonicalEdges(edges: DataFrame, src: String, dst: String): DataFrame =
    edges.filter(col(src).isNotNull && col(dst).isNotNull && col(src) =!= col(dst))
      .select(least(col(src), col(dst)).as("a"), greatest(col(src), col(dst)).as("b"))
      .distinct()

  /** Per-node degree from a canonical edge list (one explode + one keyed
    * aggregation with map-side combine). */
  def degrees(canonical: DataFrame): DataFrame =
    canonical.select(explode(array(col("a"), col("b"))).as("node"))
      .groupBy("node").agg(count(lit(1)).as("degree"))

  /** One-row graph summary: node/edge/triangle counts plus the global
    * clustering coefficient `3·T / wedges`
    * (wedges = Σ deg·(deg−1)/2 — computed from the degree frame, no join).
    *
    * Input need not be canonical; it is canonicalized first. */
  def triangleStats(edges: DataFrame, src: String, dst: String,
      assumeCanonical: Boolean = false,
      broadcastAdjacency: Boolean = true): DataFrame = {
    // canon feeds degrees + orientation + the edge/summary aggregates, and
    // oriented feeds both the adjacency build and the per-edge intersect —
    // without caching, the (often expensive) upstream edge derivation
    // re-executes once per consumer. `assumeCanonical` skips the distinct
    // shuffle when the caller guarantees a<b dedup'd edges already.
    val canon =
      (if (assumeCanonical) edges.select(col(src).as("a"), col(dst).as("b"))
       else canonicalEdges(edges, src, dst))
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val deg = degrees(canon)
    // rank = (degree, id): a total order, so orientation is acyclic
    val ranked = deg.select(col("node"), struct(col("degree"), col("node")).as("rank"))
    // orient a->b where rank(a) < rank(b); carry ranks for the wedge order
    val oriented = canon
      .join(ranked.withColumnRenamed("node", "a").withColumnRenamed("rank", "ra"), "a")
      .join(ranked.withColumnRenamed("node", "b").withColumnRenamed("rank", "rb"), "b")
      .select(
        when(col("ra") < col("rb"), col("a")).otherwise(col("b")).as("u"),
        when(col("ra") < col("rb"), col("b")).otherwise(col("a")).as("v"),
        when(col("ra") < col("rb"), col("rb")).otherwise(col("ra")).as("rv"))
      // explicit partition count before the persist: the cached partitioning
      // is what the CPU-bound per-edge intersect runs at, and AQE's
      // byte-based coalescing would pin these few MB of edges to one task
      // (same fix as triangleCorners)
      .repartition(edges.sparkSession.sparkContext.defaultParallelism)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    // Count per oriented edge (u,v): |N+(u) ∩ N+(v)| — every triangle is
    // found exactly once at the edge between its two lowest-rank vertices.
    // The adjacency frame is O(E) total entries and arrives with accurate
    // post-shuffle stats, so AQE broadcasts it when it fits; the
    // intersection itself is a row-local linear merge over sorted arrays
    // (codegen kernel), so the O(Σ outdeg²) wedge set is never
    // materialized as join rows (measured 12.8 s → sub-second on the
    // 1.2 M-edge co-purchase graph vs the wedge-join formulation).
    // adjacency totals O(E) longs (~10 MB per 1.2 M edges) — above the
    // default auto-broadcast threshold yet far below executor memory, so
    // hint the broadcast: the alternative is TWO sort-merge passes over
    // the edge list. For graphs whose adjacency outgrows memory, pass
    // `broadcastAdjacency = false` to skip the hint and take the
    // sort-merge shuffles instead of an executor OOM.
    val adjBase = oriented.groupBy(col("u").as("node"))
      .agg(array_sort(collect_list(col("v").cast("long"))).as("nbrs"))
    val adj = if (broadcastAdjacency) broadcast(adjBase) else adjBase
    val empty = array().cast("array<long>")
    val tri = oriented
      .join(adj.select(col("node").as("u"), col("nbrs").as("nu")), Seq("u"), "left")
      .join(adj.select(col("node").as("v"), col("nbrs").as("nv")), Seq("v"), "left")
      .select(graft.functions.sorted_intersection_count(
        coalesce(col("nu"), empty), coalesce(col("nv"), empty)).as("t"))
      .agg(sum("t").cast("long").as("n_triangles"))
    // coalesce the empty-graph case: sums over zero rows are null, and a
    // "0 nodes, null wedges" summary row would poison downstream arithmetic
    val summary = canon.agg(count(lit(1)).as("n_edges"))
      .crossJoin(deg.agg(count(lit(1)).as("n_nodes"),
        coalesce(sum(col("degree") * (col("degree") - 1) / 2), lit(0L)).as("n_wedges")))
    val result = summary.crossJoin(tri)
      .select(col("n_nodes"), col("n_edges"), col("n_wedges").cast("long").as("n_wedges"),
        coalesce(col("n_triangles"), lit(0L)).as("n_triangles"),
        when(col("n_wedges") > 0,
          col("n_triangles") * 3.0 / col("n_wedges")).otherwise(lit(0.0))
          .as("global_clustering"))
      // one-row summary: materialize eagerly so the caches can be released
      .transform(Checkpoints.truncate)
    canon.unpersist(); oriented.unpersist()
    result
  }

  /** Fixed-iteration PageRank in EXACT integer arithmetic: ranks are
    * maintained as longs scaled by `scale` (default 1e12), every split and
    * damping step is an integer floor-division, so the result is bit-exact
    * and engine-independent — no floating-point partial-sum order effects,
    * which is what lets an external SQL oracle reproduce it row-for-row.
    *
    * Update rule (all ops integer; `//` = floor div, positive operands):
    * {{{
    *   init       = scale // N
    *   base       = (100 - dampingPct) * init // 100
    *   r_{k+1}(v) = base + dampingPct * (Σ_{u→v} r_k(u) // outdeg(u)) // 100
    * }}}
    * Floor losses leak a little mass (bounded by N·iters ulps of `scale`)
    * — irrelevant for ranking, essential for determinism. Sums that would
    * overflow a long fail with an `ArithmeticException`, never wrap.
    *
    * Cost model: iterations are [[graft.core.Superstep]] rounds — after
    * one shuffle of the edge list into co-partitioned CSR blocks, each
    * iteration is one Spark job with ONE message shuffle (per-source
    * shares, pre-summed per destination on the sending side) and
    * per-partition state of O((V+E)/p) longs; nothing is broadcast. An
    * iteration that changes no rank is a fixpoint and ends the loop early.
    * Rows with a null endpoint are dropped; duplicate edges count with
    * their multiplicity. Pass a symmetric edge list for an undirected
    * graph. Fails with "empty graph" when no edge remains. */
  def pageRank(edges: DataFrame, src: String, dst: String, iters: Int = 5,
      dampingPct: Int = 85, scale: Long = 1000000000000L): DataFrame = {
    require(iters >= 1 && dampingPct >= 0 && dampingPct <= 100)
    val run = Superstep.run(longEdges(edges, src, dst),
      undirected = false, simple = false, maxRounds = iters) { n =>
      require(n > 0, "empty graph")
      new RankProgram(scale / n, dampingPct, source = None)
    }
    run.frame(stateSchema("rank"))
  }

  /** `(src, dst)` as the two long columns [[graft.core.Superstep]] reads. */
  private def longEdges(edges: DataFrame, src: String, dst: String): DataFrame =
    edges.select(col(src).cast("long"), col(dst).cast("long"))

  /** Superstep output: `(node, <value>)`, both non-null longs. */
  private def stateSchema(value: String): StructType =
    StructType(Seq(StructField("node", LongType, nullable = false),
      StructField(value, LongType, nullable = false)))

  /** Integer PageRank's round: `base + dampingPct · Σ shares // 100`, each
    * share `rank // outDegree`. With a `source`, the initial mass and the
    * restart base belong to that vertex alone (personalized PageRank). */
  private final class RankProgram(initRank: Long, dampingPct: Int, source: Option[Long])
      extends Superstep.Program {
    private val base = (100L - dampingPct) * initRank / 100L
    private val everywhere = source.isEmpty
    private val at = source.getOrElse(0L)
    private def mass(id: Long, m: Long): Long = if (everywhere || id == at) m else 0L
    def init(id: Long): Long = mass(id, initRank)
    def message(rank: Long, outDegree: Int): Long = rank / outDegree
    override val combiner: (Long, Long) => Long = Math.addExact(_: Long, _: Long)
    def update(id: Long, rank: Long, msgs: Array[Long], from: Int, until: Int): Long = {
      var cs = 0L
      var i = from
      while (i < until) { cs = Math.addExact(cs, msgs(i)); i += 1 }
      Math.addExact(mass(id, base), Math.multiplyExact(dampingPct.toLong, cs) / 100L)
    }
  }

  /** Bounded-round k-core peeling: `rounds` synchronized sweeps of the
    * textbook fixpoint — drop every node whose degree in the surviving
    * subgraph is < `k`, shrink the edge set to surviving endpoints,
    * repeat. Returns the nodes remaining after the last sweep with their
    * subgraph degrees (the k-core once converged; peeling converges
    * rapidly, and a truncated run is still deterministic — the oracle
    * unrolls the SAME round count, so both engines agree converged or
    * not). Per round: one degree aggregation + two semi-joins on a
    * monotonically shrinking edge frame; each round's frame is
    * lineage-truncated by [[Checkpoints.truncate]] so the plan
    * doesn't grow with rounds.
    *
    * EARLY EXIT: peeling only ever removes edges, so an unchanged edge
    * count after a sweep IS the fixpoint — every surviving node already
    * has degree ≥ k. The O(1)-row driver probe (the Pregel termination
    * shape) stops the loop there; the count
    * scans the round's eagerly-truncated blocks, not recomputed lineage.
    * A truncated (`rounds` too small) run remains deterministic for the
    * oracle: the SQL twin unrolls the same round count, and once both
    * have converged extra unrolled rounds are no-ops. */
  def kCorePeel(edges: DataFrame, src: String, dst: String, k: Int,
      rounds: Int): DataFrame = {
    require(k >= 1 && rounds >= 1)
    // (the fused materialize+count of a constant-stat Checkpoints.leaf
    // was tried in this loop and MEASURED SLOWER: the leaf hides the
    // shrinking edge frame's real size from the planner, flipping the keep
    // semi-joins off their stats-justified broadcast — truncate's computed
    // stats are the size-adaptive shape here. Reverted.)
    var e = canonicalEdges(edges, src, dst).transform(Checkpoints.truncate)
    var prevEdges = e.count()
    var round = 0
    var converged = prevEdges == 0
    while (round < rounds && !converged) {
      round += 1
      val keep = degrees(e).filter(col("degree") >= k).select("node")
      e = e.join(keep.withColumnRenamed("node", "a"), Seq("a"), "left_semi")
        .join(keep.withColumnRenamed("node", "b"), Seq("b"), "left_semi")
        .select("a", "b")
        .transform(Checkpoints.truncate)
      val nEdges = e.count()
      converged = nEdges == prevEdges
      prevEdges = nEdges
    }
    degrees(e)
  }

  /** Synchronous label-propagation communities (Raghavan, Albert &
    * Kumara 2007, "Near linear time algorithm to detect community
    * structures in large-scale networks"), made DETERMINISTIC: every node
    * starts labeled with its own id; each sweep every node simultaneously
    * adopts the label held by the largest number of its neighbors, ties
    * broken by the SMALLEST label (the paper's random tie-break is what
    * makes vanilla LPA non-reproducible — min-label ties and synchronous
    * sweeps pin a unique fixed-`rounds` output, which is what lets a SQL
    * twin unroll the exact same sweeps). Synchronous LPA can 2-cycle on
    * bipartite structures; a fixed `rounds` makes the result well-defined
    * regardless (spec pins the oscillation semantics on a path graph).
    * The graph is the canonical one of [[canonicalEdges]]: nulls and
    * self-loops dropped, each undirected edge counted once.
    *
    * Cost model: sweeps are [[graft.core.Superstep]] rounds — after one
    * shuffle of the edge list into co-partitioned CSR blocks, each sweep
    * is one Spark job with ONE message shuffle (every node's label to
    * each neighbor) and per-partition state of O((V+E)/p) longs; the
    * receiving side sorts each node's incoming labels and takes the mode.
    * Nothing is broadcast. A sweep that changes no label is a fixpoint
    * and ends the loop early. Node ids must be integral; returns
    * `(node, label)` in the input's id type. */
  def labelPropagation(edges: DataFrame, src: String, dst: String,
      rounds: Int): DataFrame = {
    require(rounds >= 1)
    val idType = edges.select(least(col(src), col(dst))).schema.head.dataType
    require(Seq(ByteType, ShortType, IntegerType, LongType).contains(idType),
      s"labelPropagation needs integral node ids, got $idType")
    Superstep.run(longEdges(edges, src, dst),
        undirected = true, simple = true, maxRounds = rounds)(_ => ModeLabel)
      .frame(StructType(Seq(StructField("node", LongType, nullable = false),
        StructField("label", LongType, nullable = true))))
      .select(col("node").cast(idType).as("node"), col("label").cast(idType).as("label"))
  }

  /** Label propagation's sweep: adopt the most frequent neighbor label,
    * ties to the smallest. */
  private object ModeLabel extends Superstep.Program {
    def init(id: Long): Long = id
    def message(label: Long, outDegree: Int): Long = label
    def update(id: Long, label: Long, msgs: Array[Long], from: Int, until: Int): Long = {
      java.util.Arrays.sort(msgs, from, until)
      var best = label
      var bestCount = 0
      var i = from
      while (i < until) {
        var j = i + 1
        while (j < until && msgs(j) == msgs(i)) j += 1
        if (j - i > bestCount) { best = msgs(i); bestCount = j - i }
        i = j
      }
      best
    }
  }

  /** Personalized PageRank from a single `source` node — the
    * random-walk-with-restart similarity ranking behind
    * recommendation / related-item queries. Same INTEGER-EXACT algebra
    * as [[pageRank]] (scaled longs, floor-div shares, so results are
    * bit-stable under any partitioning and the oracle unrolls the exact
    * iterations in SQL): `source` starts with the full mass `scale` and
    * gets the restart mass `(100-dampingPct)% · scale` each round,
    * everything else only propagated mass. Duplicate edges and self-loops
    * count with their multiplicity; rows with a null endpoint are dropped.
    *
    * Cost model: iterations are [[graft.core.Superstep]] rounds — one
    * Spark job per round with ONE message shuffle (per-source shares,
    * pre-summed per destination on the sending side) and per-partition
    * state of O((V+E)/p) longs; nothing is broadcast. Far nodes keep
    * exact rank 0 (integer floor-div), and only nonzero ranks are
    * returned — plus the source, even at rank 0 (`dampingPct = 100`) or
    * outside the graph (where it keeps the restart mass). Sums that would
    * overflow a long fail with an `ArithmeticException`, never wrap. */
  def personalizedPageRank(edges: DataFrame, src: String, dst: String,
      source: Long, iters: Int = 4, dampingPct: Int = 85,
      scale: Long = 1000000000000L): DataFrame = {
    require(iters >= 1 && dampingPct >= 0 && dampingPct <= 100)
    val spark = edges.sparkSession
    import spark.implicits._
    val ranks = Superstep.run(longEdges(edges, src, dst),
        undirected = false, simple = false, maxRounds = iters)(
        _ => new RankProgram(scale, dampingPct, Some(source)))
      .frame(stateSchema("rank"))
      .filter(col("rank") =!= 0L || col("node") === source)
    // one job over the cached state: a source outside the graph is no
    // vertex, yet keeps its restart mass
    if (ranks.queryExecution.toRdd.filter(_.getLong(0) == source).count() > 0) ranks
    else ranks.unionByName(Seq((source, (100L - dampingPct) * scale / 100L)).toDF("node", "rank"))
  }

  /** Level-synchronous single-source BFS: `(node, hop)` for every node
    * reachable from `source` within `maxHops` (min-hop distance — level
    * order IS minimality, so the result is deterministic with no
    * tie-breaking). `source` itself is hop 0, even outside the graph or
    * at `maxHops = 0`; `hop` is an int.
    *
    * Cost model: hops are [[graft.core.Superstep]] rounds — one Spark job
    * per hop with ONE message shuffle (hop + 1 from each node reached in
    * the previous hop, pre-combined by min per destination) and
    * per-partition state of O((V+E)/p) longs; nothing is broadcast. A hop
    * that reaches no new node ends the loop early. `q_bfs_hops` checks
    * the result against a DuckDB recursive-CTE min-distance twin. */
  def bfsHops(edges: DataFrame, src: String, dst: String, source: Long,
      maxHops: Int): DataFrame = {
    require(maxHops >= 0)
    val spark = edges.sparkSession
    import spark.implicits._
    val origin = Seq((source, 0)).toDF("node", "hop")
    if (maxHops == 0) return origin
    Superstep.run(longEdges(edges, src, dst),
        undirected = false, simple = true, maxRounds = maxHops)(_ => new HopProgram(source))
      .frame(stateSchema("hop"))
      .filter(col("hop") =!= Long.MaxValue && col("node") =!= source)
      .select(col("node"), col("hop").cast("int").as("hop"))
      .unionByName(origin)
  }

  /** BFS's round: a node's hop is the least of its own and its
    * in-neighbors' hops + 1; unreached nodes hold `Long.MaxValue`, which
    * their messages keep (no wrap). */
  private final class HopProgram(source: Long) extends Superstep.Program {
    def init(id: Long): Long = if (id == source) 0L else Long.MaxValue
    def message(hop: Long, outDegree: Int): Long =
      if (hop == Long.MaxValue) hop else hop + 1
    override def deltaOnly: Boolean = true
    override val combiner: (Long, Long) => Long = math.min(_: Long, _: Long)
    def update(id: Long, hop: Long, msgs: Array[Long], from: Int, until: Int): Long = {
      var m = hop
      var i = from
      while (i < until) { if (msgs(i) < m) m = msgs(i); i += 1 }
      m
    }
  }

  /** Harmonic centrality from a pinned seed set, via MULTI-SOURCE
    * level-synchronous BFS with a bitmask frontier: all `sources` (≤ 64)
    * explore in ONE propagation loop — per node the visited state is a
    * single long whose bit `i` is set once seed `i` has reached it, so the
    * per-hop work is one frontier⋈edges join + one `bit_or` aggregate
    * regardless of seed count (64× cheaper than per-seed BFS). Newly set
    * bits at hop `h` contribute `popcount / h` to the node's harmonic sum
    * `h(v) = Σ_{seeds s ≠ v} 1 / d(s, v)` (unreachable seeds contribute
    * 0 — the property harmonic centrality has and closeness lacks).
    *
    * Scale shape: edges cached pre-partitioned on the source key, the O(F)
    * frontier shuffles into place, and each hop's merged state is one
    * [[graft.core.Checkpoints.leaf]] whose materialising job also counts
    * the next frontier (the O(1)-row termination probe). Returns the top-`k`
    * nodes: `(node, n_seeds, harmonic)`, ranked `(harmonic desc, node)` on
    * the 6-dp-rounded sum so the cut is engine-reproducible. */
  def harmonicCentrality(edges: DataFrame, src: String, dst: String,
      sources: Seq[Long], maxHops: Int, k: Int): DataFrame = {
    require(sources.nonEmpty && sources.size <= 64, "at most 64 seeds per mask")
    require(sources.distinct.size == sources.size, "seeds must be distinct")
    val spark = edges.sparkSession
    import spark.implicits._
    val e = edges.filter(col(src).isNotNull && col(dst).isNotNull)
      .select(col(src).cast("long").as("u"), col(dst).cast("long").as("v"))
      .distinct()
      .repartition(col("u"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    var visited = sources.zipWithIndex
      .map { case (s, i) => (s, 1L << i) }
      .toDF("node", "mask")
    var frontier = visited
    val contribs = scala.collection.mutable.ArrayBuffer[DataFrame]()
    var hop = 0
    var frontierSize = sources.size.toLong
    while (hop < maxHops && frontierSize > 0) {
      hop += 1
      val prop = e
        .join(frontier.select(col("node").as("u"), col("mask").as("fm")), Seq("u"))
        .groupBy(col("v").as("node"))
        .agg(expr("bit_or(fm)").as("pm"))
      // ONE fused job materializes the hop's merged state leaf AND counts
      // the new-bit frontier rows for the termination probe. Every hop's
      // leaf stays cached until the final contribution aggregate consumes
      // it.
      val mergedLeaf = Checkpoints.leaf(
        visited.join(prop, Seq("node"), "full_outer")
          .select(col("node"),
            coalesce(col("mask"), lit(0L)).as("old"),
            coalesce(col("pm"), lit(0L)).as("pm"))
          .withColumn("nw", expr("pm & ~old")))(_.getLong(3) != 0L)
      val merged = mergedLeaf.frame
      contribs += merged.filter(col("nw") =!= 0L)
        .select(col("node"),
          (expr("bit_count(nw)").cast("double") / hop).as("inv"),
          expr("bit_count(nw)").cast("long").as("cnt"))
      frontier = merged.filter(col("nw") =!= 0L)
        .select(col("node"), col("nw").as("mask"))
      frontierSize = mergedLeaf.matching
      visited = merged.select(col("node"), expr("old | pm").as("mask"))
    }
    e.unpersist()
    if (contribs.isEmpty) return Seq.empty[(Long, Long, Double)]
      .toDF("node", "n_seeds", "harmonic")
    contribs.reduce(_ unionByName _)
      .groupBy("node")
      .agg(sum(col("cnt")).as("n_seeds"), round(sum(col("inv")), 6).as("harmonic"))
      .orderBy(col("harmonic").desc, col("node").asc)
      .limit(k)
  }

  /** Co-occurrence edge list: items sharing a basket become edges (a<b,
    * distinct). The standard projection of a bipartite basket-item table
    * onto items; one self-join per basket key.
    *
    * Skew guard: the self-join's output is quadratic in basket size, so a
    * single mega-basket (one viral order, one catch-all session key) at
    * 100× scale becomes one quadratic straggler task. `maxBasketSize > 0`
    * caps each basket to its `maxBasketSize` smallest items BEFORE the
    * join — a deterministic truncation (ascending item order) costing one
    * row_number over the same key partitioning the distinct already
    * shuffled on, bounding every task at O(cap²). 0 (the default) keeps
    * the exact projection — TPC-H baskets are ≤ 7 items, so the shipped
    * graph queries are unchanged. */
  def cooccurrenceEdges(df: DataFrame, basketCol: String, itemCol: String,
      maxBasketSize: Int = 0): DataFrame = {
    require(maxBasketSize >= 0, "maxBasketSize must be >= 0 (0 = unlimited)")
    // One pass, one exchange: collapse each basket to its sorted distinct
    // item array with a map-side-combined aggregate, then emit the a<b
    // pairs ROW-LOCALLY from the array (codegen'd transform/slice — no
    // self-join, so the input is scanned once and never shuffled twice).
    // The old self-join formulation paid 2 scans + 2 distinct exchanges +
    // a sort-merge join before the final pair distinct; this pays 1 scan +
    // 1 groupBy exchange + the same pair distinct. Output is identical:
    // sorted distinct items per basket generate exactly the i<j pairs the
    // join's `__i < __j` filter kept. The basket cap keeps its semantics —
    // the `maxBasketSize` SMALLEST items (ascending slice of the sorted
    // array) — bounding the row-local pair work at O(cap²) per basket.
    val baskets = df.filter(col(basketCol).isNotNull && col(itemCol).isNotNull)
      .groupBy(col(basketCol).as("__k"))
      .agg(sort_array(collect_set(col(itemCol))).as("__items"))
    val items =
      if (maxBasketSize == 0) col("__items")
      else slice(col("__items"), 1, maxBasketSize)
    baskets.select(items.as("__items"))
      .filter(size(col("__items")) >= 2)
      .select(explode(expr(
        "flatten(transform(__items, (x, i) -> " +
          "transform(slice(__items, i + 2, size(__items)), y -> struct(x AS a, y AS b))))"))
        .as("__p"))
      .select(col("__p.a").as("a"), col("__p.b").as("b")).distinct()
  }

  /** Symmetric `(u, v)` view of an undirected `a < b` edge list: each edge
    * emitted in both directions by one row-local explode. Equivalent to
    * `e.select(a,b) unionByName e.select(b,a)` but evaluates the upstream
    * edge-derivation subtree ONCE instead of once per union leg — the
    * union formulation plans two full copies of the (often expensive)
    * pair-generation pipeline. */
  def symmetrize(edges: DataFrame, src: String, dst: String): DataFrame =
    edges.select(explode(array(
        struct(col(src).as("u"), col(dst).as("v")),
        struct(col(dst).as("u"), col(src).as("v")))).as("__e"))
      .select(col("__e.u").as("u"), col("__e.v").as("v"))

  /** Adamic-Adar link prediction over an undirected `a < b` edge list:
    * for every NON-adjacent pair `(u, v)` with at least `minCommon` common
    * neighbors, `score = Σ_z 1/ln(deg z)` over the common neighbors z —
    * the classic "low-degree mutual friends predict a future edge" score.
    *
    * Shape: two-hop wedge join through the midpoint z (Σ deg(z)² pairs —
    * bounded by the same degree profile the triangle/k-core family
    * handles; feed [[cooccurrenceEdges]] with a basket cap if a hub would
    * dominate), minus existing edges via left-anti. Determinism: `ln` is
    * [[graft.functions.DetMath.lnPosInt]] over the exact integer degree,
    * the per-pair sum quantizes `1/ln` to exact nano-longs, and the top-k
    * cut orders by the EXACT long score (desc, then u, v). Returns
    * `(u, v, n_common, aa_score)`.
    *
    * `maxDegree` (0 = unlimited) is the 100 TB dial on the deg² blow-up:
    * midpoints with more than `maxDegree` neighbors are EXCLUDED from
    * wedge generation entirely (the [[cooccurrenceEdges]] basket-cap
    * discipline). The bias is documented and one-sided: capped output is
    * a subset of the uncapped pair set with scores ≤ the uncapped scores
    * — and it is the principled subset, because a hub contributes only
    * `1/ln(deg)` → 0 per pair while costing deg² wedges. Deterministic:
    * the cap is a pure degree threshold, not a sample. */
  def adamicAdar(edges: DataFrame, srcCol: String, dstCol: String,
      minCommon: Int = 2, k: Int = 20, maxDegree: Int = 0): DataFrame = {
    import graft.functions.DetMath.lnPosInt
    require(maxDegree >= 0, "maxDegree must be >= 0 (0 = unlimited)")
    val e = edges.select(col(srcCol).cast("long").as("a"), col(dstCol).cast("long").as("b"))
    val sym = symmetrize(e, "a", "b")
      .select(col("u").as("a"), col("v").as("b"))
    // Midpoint weight floor(1/ln(deg)·1e9 + 0.5) attaches BEFORE the wedge
    // join (the weighted side is Σdeg rows, so the weight never joins
    // against the Σdeg² wedge set), and the wedge join itself distributes
    // by midpoint key — a row-local per-midpoint pair explosion was tried
    // and REGRESSED (22.5 s → 33 s): it concentrates each hub's deg² pair
    // generation in one task, where the join spreads it. deg >= 2 for any
    // midpoint, so ln(deg) >= ln 2 > 0.
    val withW = sym.groupBy(col("a").as("__z")).agg(count(lit(1)).as("__d"))
      .filter(col("__d") >= 2)
      .filter(if (maxDegree == 0) lit(true) else col("__d") <= maxDegree)
      .select(col("__z"),
        floor(lit(1.0) / lnPosInt(col("__d")) * lit(1e9) + lit(0.5)).as("__w"))
    val symW = sym.select(col("a").as("__z"), col("b").as("__u"))
      .join(withW, "__z")
    val wedges = symW
      .join(sym.select(col("a").as("__z"), col("b").as("__v")), "__z")
      .filter(col("__u") < col("__v"))
    val scored = wedges
      .groupBy(col("__u"), col("__v"))
      .agg(count(lit(1)).as("n_common"), sum("__w").as("__q"))
      .filter(col("n_common") >= minCommon)
      .join(e, col("__u") === col("a") && col("__v") === col("b"), "left_anti")
    scored
      .orderBy(col("__q").desc, col("__u").asc, col("__v").asc)
      .limit(k)
      .select(col("__u").as("u"), col("__v").as("v"), col("n_common"),
        (col("__q").cast("double") / lit(1e9)).as("aa_score"))
  }

  /** Newman modularity of a GIVEN node partition over an undirected graph
    * (Newman & Girvan 2004): `Q = Σ_c [ m_c/m − (D_c/2m)² ]` with `m` the
    * edge count, `m_c` the intra-community edge count and `D_c` the total
    * degree of community `c`. Rewritten over exact integers as
    * `Q = (4m·Σm_c − ΣD_c²) / 4m²` — every sum is an integer aggregated
    * in `decimal(38,0)` (merge-order-proof), and only the final single
    * division is floating point, so the value is bit-stable across
    * engines and partitionings.
    *
    * `labels(nodeCol, labelCol)` assigns communities; edges keep counting
    * toward `m` even if an endpoint is unlabeled (the classic definition
    * over the full graph — an unlabeled node just belongs to no
    * community). Shape: canonicalize, two keyed joins of the edge list
    * against the label frame (both shuffle joins at scale; AQE broadcasts
    * when the label frame fits), one degree aggregation, two label-keyed
    * aggregations — no step exceeds O(E) rows. Returns one row
    * `(n_edges, n_communities, modularity)`. */
  def modularity(edges: DataFrame, src: String, dst: String,
      labels: DataFrame, nodeCol: String, labelCol: String): DataFrame = {
    val canon = canonicalEdges(edges, src, dst)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val lab = labels.select(col(nodeCol).as("__n"), col(labelCol).as("__c"))
      .filter(col("__n").isNotNull && col("__c").isNotNull).distinct()
    val dec = "decimal(38,0)"
    // intra-community edges per label: both endpoints in the same community
    val intra = canon
      .join(lab.select(col("__n").as("a"), col("__c").as("__ca")), "a")
      .join(lab.select(col("__n").as("b"), col("__c").as("__cb")), "b")
      .filter(col("__ca") === col("__cb"))
      .groupBy(col("__ca").as("__c")).agg(count(lit(1)).as("__mc"))
    // community degree totals from the degree frame (never the edge list)
    val degC = degrees(canon)
      .join(lab.withColumnRenamed("__n", "node"), "node")
      .groupBy("__c").agg(sum("degree").as("__dc"))
    val per = degC.join(intra, Seq("__c"), "left")
      .select(col("__c"), coalesce(col("__mc"), lit(0L)).as("__mc"), col("__dc"))
    val m = canon.agg(count(lit(1)).as("n_edges"))
    val agg = per.agg(
      count(lit(1)).as("n_communities"),
      sum(col("__mc").cast(dec)).as("__sm"),
      sum((col("__dc").cast(dec) * col("__dc").cast(dec))).as("__sd2"))
    val out = m.crossJoin(agg).select(
      col("n_edges"), col("n_communities"),
      ((lit(4).cast(dec) * col("n_edges").cast(dec) * col("__sm") - col("__sd2"))
        .cast("double")
        / (lit(4.0) * col("n_edges").cast("double") * col("n_edges").cast("double")))
        .as("modularity"))
    // eager one-row truncation so canon can be released immediately
    val res = out.transform(Checkpoints.truncate)
    canon.unpersist()
    res
  }

  /** Triangle corner enumeration via degree-ordered orientation: every
    * triangle appears EXACTLY once as `(u, v, w)` where `(u, v)` is the
    * edge between its two lowest-rank corners and `w` their common
    * out-neighbor (found by a row-local `array_intersect` against the
    * broadcast oriented adjacency — the same O(Σ outdeg·log) shape that
    * took [[triangleStats]] from 12.8 s to sub-second; no wedge join is
    * ever materialized). Input must be canonical `a < b` distinct edges
    * with long ids.
    *
    * `broadcastAdjacency = false` drops the broadcast HINT (it does not
    * forbid broadcasting): the adjacency side becomes an ordinary keyed
    * join input, so Spark shuffle-joins it when its post-shuffle stats
    * exceed the auto-broadcast threshold — two keyed exchanges instead of
    * an executor OOM on a graph whose O(E) adjacency outgrows memory —
    * while AQE still upgrades to broadcast when it genuinely fits. */
  private def triangleCorners(canon: DataFrame,
      broadcastAdjacency: Boolean = true,
      rankedOpt: Option[DataFrame] = None,
      spread: Boolean = false): DataFrame = {
    // any total order keeps the orientation acyclic, so iterative callers
    // (k-truss) pass the INITIAL degree ranking once instead of re-ranking
    // every shrinking round
    val ranked = rankedOpt.getOrElse {
      val deg = degrees(canon)
      deg.select(col("node"), struct(col("degree"), col("node")).as("rank"))
    }
    val oriented0 = canon
      .join(ranked.withColumnRenamed("node", "a").withColumnRenamed("rank", "ra"), "a")
      .join(ranked.withColumnRenamed("node", "b").withColumnRenamed("rank", "rb"), "b")
      .select(
        when(col("ra") < col("rb"), col("a")).otherwise(col("b")).as("u"),
        when(col("ra") < col("rb"), col("b")).otherwise(col("a")).as("v"))
    // `spread`: EXPLICIT partition count (AQE honors user repartitions) —
    // the per-edge intersect below is CPU-bound at O(deg) per row while
    // the edge frame is only a few MB, so AQE's byte-based coalescing
    // packs it into ONE post-shuffle partition and serializes the whole
    // enumeration (measured inside q_clustering_coeff: a 4.3 s single-task
    // stage; spread 10.3 s -> 4.5 s same-window). OPT-IN because iterative
    // callers (k-truss) enumerate over rounds of shrinking edge sets where
    // the forced per-round shuffle costs more than it parallelizes
    // (measured 3.5 s -> 5.0 s with it always on).
    val oriented = if (spread)
      oriented0.repartition(canon.sparkSession.sparkContext.defaultParallelism)
    else oriented0
    val adjBase = oriented.groupBy(col("u").as("node"))
      .agg(collect_list(col("v").cast("long")).as("nbrs"))
    val adj = if (broadcastAdjacency) broadcast(adjBase) else adjBase
    val empty = array().cast("array<long>")
    oriented
      .join(adj.select(col("node").as("u"), col("nbrs").as("nu")), Seq("u"), "left")
      .join(adj.select(col("node").as("v"), col("nbrs").as("nv")), Seq("v"), "left")
      .select(col("u"), col("v"),
        explode(array_intersect(coalesce(col("nu"), empty), coalesce(col("nv"), empty)))
          .as("w"))
  }

  /** The three canonical undirected edges of each triangle from
    * [[triangleCorners]], as `(a, b)` rows with `a < b`. */
  private def triangleEdgeIncidence(canon: DataFrame,
      rankedOpt: Option[DataFrame] = None,
      broadcastAdjacency: Boolean = true): DataFrame =
    triangleCorners(canon, broadcastAdjacency, rankedOpt)
      .select(explode(array(
        struct(least(col("u"), col("v")).as("a"), greatest(col("u"), col("v")).as("b")),
        struct(least(col("u"), col("w")).as("a"), greatest(col("u"), col("w")).as("b")),
        struct(least(col("v"), col("w")).as("a"), greatest(col("v"), col("w")).as("b"))))
        .as("__e"))
      .select(col("__e.a").as("a"), col("__e.b").as("b"))

  /** Local clustering coefficient per node: `2·T(v) / (d(v)·(d(v)−1))`
    * with T(v) = triangles through v — "how clique-like is this node's
    * neighborhood". Triangles enumerate once each via the `a<b<c` wedge
    * join (edges (a,b),(a,c) with b<c, closed by (b,c)), then explode to
    * the three corners; the quadratic term is Σ deg², the same bound as
    * [[adamicAdar]]. cc derives from exact integer counts in one pinned
    * division. Returns the top-`k` rows `(node, degree, n_triangles,
    * clustering_coeff)` among nodes with `degree >= minDegree`, ordered
    * by (cc desc, node asc) — cc is one pinned division of exact integers,
    * so the ordering replays identically in any engine.
    * `broadcastAdjacency = false` takes the shuffle-join adjacency path of
    * [[triangleCorners]] for graphs whose adjacency outgrows memory. */
  def clusteringCoefficient(edges: DataFrame, srcCol: String, dstCol: String,
      minDegree: Int = 2, k: Int = 20,
      broadcastAdjacency: Boolean = true): DataFrame = {
    val e = edges.select(col(srcCol).cast("long").as("a"), col(dstCol).cast("long").as("b"))
    val sym = symmetrize(e, "a", "b")
      .select(col("u").as("a"), col("v").as("b"))
    val deg = sym.groupBy(col("a").as("node")).agg(count(lit(1)).as("degree"))
    val perNode = triangleCorners(e, broadcastAdjacency, spread = true)
      .select(explode(array(col("u"), col("v"), col("w"))).as("node"))
      .groupBy("node").agg(count(lit(1)).as("n_triangles"))
    deg.filter(col("degree") >= minDegree)
      .join(perNode, Seq("node"), "left")
      .withColumn("n_triangles", coalesce(col("n_triangles"), lit(0L)))
      .withColumn("clustering_coeff",
        (col("n_triangles") * 2).cast("double") /
          (col("degree") * (col("degree") - 1)).cast("double"))
      .orderBy(col("clustering_coeff").desc, col("node").asc)
      .limit(k)
      .select(col("node"), col("degree"), col("n_triangles"), col("clustering_coeff"))
  }

  /** k-truss decomposition: iteratively drop edges supported by fewer than
    * `k − 2` triangles until a fixpoint — the standard "community core
    * stricter than k-core" (every surviving edge closes ≥ k−2 triangles
    * with surviving edges). Each round is one oriented wedge enumeration
    * (`a<b<c`, closed by a semi-join — the same Σ deg² shape as
    * [[clusteringCoefficient]]) plus a support count; rounds needed is the
    * peeling depth (small on co-occurrence graphs — near-clique overlap
    * collapses in 1–3 sweeps). Lineage truncates per round; monotone edge
    * count gives the convergence test (edges only ever leave). Returns the
    * surviving `(a, b, support)` edges.
    * `broadcastAdjacency = false` takes the shuffle-join adjacency path of
    * [[triangleCorners]] in every peeling round. */
  def kTruss(edges: DataFrame, srcCol: String, dstCol: String, k: Int,
      maxIter: Int = 20, broadcastAdjacency: Boolean = true): DataFrame = {
    require(k >= 3, "k-truss needs k >= 3")
    val spark = edges.sparkSession
    import spark.implicits._
    // (the fused materialize+count of a constant-stat Checkpoints.leaf was
    // tried in this loop and MEASURED SLOWER — same stats reasoning as
    // kCorePeel. Reverted.)
    var e = edges
      .select(col(srcCol).cast("long").as("a"), col(dstCol).cast("long").as("b"))
      .distinct()
      .transform(Checkpoints.truncate)
    var nEdges = e.count()
    // rank once on the initial graph (a total order stays acyclic on every
    // peeled subgraph) and keep it cached across rounds
    val ranked = degrees(e)
      .select(col("node"), struct(col("degree"), col("node")).as("rank"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    var iter = 0
    var converged = nEdges == 0L
    while (iter < maxIter && !converged) {
      val support = triangleEdgeIncidence(e, Some(ranked), broadcastAdjacency)
        .groupBy("a", "b").agg(count(lit(1)).as("support"))
      val next = e.join(support, Seq("a", "b"))
        .filter(col("support") >= k - 2)
        .transform(Checkpoints.truncate)
      val nNext = next.count()
      converged = nNext == nEdges
      e = next.select(col("a"), col("b"))
      nEdges = nNext
      iter += 1
    }
    val out =
      if (nEdges == 0L)
        Seq.empty[(Long, Long, Long)].toDF("a", "b", "support")
      else
        // one final support pass on the converged edge set, materialized
        // so the rank cache can be released before returning
        triangleEdgeIncidence(e, Some(ranked), broadcastAdjacency)
          .groupBy("a", "b").agg(count(lit(1)).as("support"))
          .transform(Checkpoints.truncate)
    ranked.unpersist()
    out
  }

  /** HITS (Kleinberg hubs & authorities) on a directed/bipartite edge list,
    * integer-exact so the fixed-iteration scores reproduce bit-for-bit in
    * any engine (the same contract as [[pageRank]]).
    *
    * Per iteration: `auth'(v) = Σ_{u→v} hub(u)` then L1-normalize to total
    * `scale`, then `hub'(u) = Σ_{u→v} auth(v)` normalized likewise. Sums
    * are exact BIGINT; each normalization is one `DECIMAL(38,0)` multiply
    * followed by integral `div` (floor for the non-negative operands here),
    * so no float enters the loop and addition order cannot matter. L1
    * (not the textbook L2) keeps the arithmetic closed over integers; the
    * ranking it induces is identical because normalization is a positive
    * per-side constant.
    *
    * Scale shape: the O(E) edge frame is cached once, pre-partitioned on
    * the side each aggregation groups by; per iteration the O(N) score
    * frame broadcasts into it (scores are ≤ |nodes| rows, ~16 bytes a
    * node, so the hint holds while that frame fits executor and driver
    * memory), the normalizer is a one-row aggregate, and lineage
    * truncates per round.
    * Nodes with no in-edges (resp. out-edges) hold authority (resp. hub)
    * score 0, matching the algebra.
    *
    * `broadcastScores = false` is the beyond-the-threshold fallback: the
    * per-iteration score joins drop the broadcast hint and become ordinary
    * keyed joins — the O(N) score frame shuffles on its node key instead
    * of materializing on
    * every executor, so a graph whose score frame outgrows the broadcast
    * limit degrades to two exchanges per iteration instead of dying. */
  def hits(edges: DataFrame, src: String, dst: String, iters: Int = 3,
      scale: Long = 1000000000000L,
      broadcastScores: Boolean = true): DataFrame = {
    require(iters >= 1)
    // Two cached copies pre-partitioned per aggregation side: on the
    // broadcast path the auth pass streams the v-partitioned copy against
    // the broadcast hub frame so its groupBy(v) runs with NO per-iteration
    // O(E) exchange, and the hub pass uses the u-partitioned copy the same
    // way — previously every half-iteration re-shuffled the full edge
    // list (6 O(E) exchanges at iters = 3). On the no-broadcast fallback
    // the roles swap: the score join is co-partitioned and only the
    // groupBy side pays the one unavoidable Pregel-superstep exchange.
    val e0 = edges
      .filter(col(src).isNotNull && col(dst).isNotNull)
      .select(col(src).cast("long").as("u"), col(dst).cast("long").as("v"))
      .distinct()
    val ev = e0.repartition(col("v"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val eu = ev.repartition(col("u"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    // auth pass groups by v, hub pass by u; pick the copy whose cached
    // partitioning the pass's expensive side keeps
    val (eAuth, eHub) = if (broadcastScores) (ev, eu) else (eu, ev)
    val hubs = eu.select(col("u")).distinct()
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val nHubs = hubs.count()
    require(nHubs > 0, "empty graph")
    // L1-normalize a (node, s) frame to total `scale`: exact decimal
    // product, integral div (both engines floor non-negatives identically)
    def normalized(scores: DataFrame): DataFrame = {
      val total = scores.agg(sum(col("s")).cast("decimal(38,0)").as("t"))
      scores.crossJoin(broadcast(total))
        .select(col("node"),
          expr(s"cast(cast(s as decimal(38,0)) * $scale as decimal(38,0)) div t")
            .as("s"))
        .transform(Checkpoints.truncate)
    }
    val maybeBc = (d: DataFrame) => if (broadcastScores) broadcast(d) else d
    var hub = hubs.select(col("u").as("node"), lit(scale / nHubs).as("s"))
    var auth: DataFrame = null
    (1 to iters).foreach { _ =>
      auth = normalized(
        eAuth.join(maybeBc(hub), eAuth("u") === hub("node"))
          .groupBy(col("v").as("node")).agg(sum(col("s")).as("s")))
      hub = normalized(
        eHub.join(maybeBc(auth), eHub("v") === auth("node"))
          .groupBy(col("u").as("node")).agg(sum(col("s")).as("s")))
    }
    val out = hub.select(lit("hub").as("role"), col("node"), col("s").as("score"))
      .unionByName(auth.select(lit("authority").as("role"), col("node"),
        col("s").as("score")))
      .transform(Checkpoints.truncate) // eager: safe to unpersist
    ev.unpersist(); eu.unpersist(); hubs.unpersist()
    out
  }

  /** Min-label fixpoint with a HASH-TO-MIN composition step: `label(v)`
    * converges to `min({v} ∪ {label(u) : (u → v) ∈ adj})` transitively.
    * Each iteration takes the min of (a) the node's own label, (b) labels
    * propagated one hop along `adj(fromCol → toCol)`, and (c) the label's
    * label (`f(f(v))` — path composition; O(log D) iterations when labels
    * form a gradient along the propagation direction, O(D) when the
    * minimum enters against the gradient and must crawl hop by hop).
    *
    * ITERATION COST IS THE DESIGN POINT, not iteration count: each
    * iteration truncates through a [[graft.core.Checkpoints.leaf]], whose
    * stats are CONSTANT defaults, instead of [[Checkpoints.truncate]]. A
    * truncated plan inherits its COMPUTED stats, and `visitJoin` stats are
    * the PRODUCT of the children's — with the state appearing in 3 join
    * legs per iteration, inherited stats grow as digits×3 per iteration
    * and by iteration ~15 the driver burns minutes in BigInteger Karatsuba
    * inside the stats visitor (measured: a 20-node cycle took >17 min
    * before this fix, 100 iterations of constant-stat leaves take
    * seconds). The constant leaf keeps every iteration's stats pass O(1),
    * and its materialising job also counts the changed labels. `adj`
    * should be cached by the caller, pre-partitioned on `fromCol`. Fails
    * with "did not converge" after `maxIters` iterations; no leaf outlives
    * the call on any exit path. */
  private def minLabelFixpoint(init: DataFrame, adj: DataFrame,
      fromCol: String, toCol: String, maxIters: Int): DataFrame = {
    var f = init // (node, label)
    var leaf: Checkpoints.Leaf = null
    var changed = 1L
    var it = 0
    try {
      while (changed > 0 && it < maxIters) {
        it += 1
        // FUSED MESSAGES: the three candidate sources — one-hop propagation,
        // the node's own label, and the label's label (path composition) —
        // union into ONE min-aggregate, with the old label carried through
        // the same aggregate on the self message (exactly one per node).
        // min over the message union IS least(own, one-hop, composed), so
        // no merge join re-reads the state.
        val oneHop = adj
          .join(f.select(col("node").as(fromCol), col("label").as("pl")), Seq(fromCol))
          .select(col(toCol).as("node"), col("pl"), lit(false).as("self"))
        val selfMsg = f.select(col("node"), col("label").as("pl"),
          lit(true).as("self"))
        val composed = f.select(col("node").as("__v"), col("label").as("__l"))
          .join(f.select(col("node").as("__l"), col("label").as("pl")), Seq("__l"))
          .select(col("__v").as("node"), col("pl"), lit(false).as("self"))
        val merged = oneHop.unionByName(selfMsg).unionByName(composed)
          .groupBy("node")
          .agg(max(when(col("self"), col("pl"))).as("label"),
            min(col("pl")).as("nl"))
          // a message target outside the state set has no self message
          // (callers never produce them — adj endpoints are always seeded
          // in init)
          .filter(col("label").isNotNull)
          .select(col("node"), col("label"), col("nl"))
        val next = Checkpoints.leaf(merged)(r => r.getLong(2) < r.getLong(1))
        if (leaf != null) leaf.release()
        leaf = next
        changed = next.matching
        f = next.frame.select(col("node"), col("nl").as("label"))
      }
      require(changed == 0, s"min-label fixpoint did not converge in $maxIters iters")
      // copy the result out of the leaf (cheap: constant-leaf stats)
      f.transform(Checkpoints.truncate)
    } finally if (leaf != null) leaf.release()
  }

  /** Strongly connected components of a DIRECTED graph, by forward +
    * backward min-label coloring (the Orzan / FW-BW family — the shape
    * that distributes, unlike Tarjan's stack), with hash-to-min doubling
    * so both fixpoints run in O(log D) iterations instead of O(D).
    *
    * Each outer round over the still-active subgraph:
    *   1. FORWARD  — `f(v)` = min id that REACHES v (propagate along edge
    *      direction). `f(v) = c` proves `c →* v`, and `c` is the minimum
    *      id of its color class (`f(v) ≤ v` always).
    *   2. BACKWARD — within each color class (paths between same-color
    *      nodes never leave the class — anything smaller on the path
    *      would have lowered the color), `b(v)` = min id v REACHES,
    *      propagated along REVERSED class-internal edges. `b(v) = c`
    *      proves `v →* c`.
    *   3. SETTLE — nodes with `f(v) = b(v) = c` are mutually reachable
    *      with `c`, hence exactly `SCC(c)`; assign `scc_id = c` (the
    *      component's min id), drop them, repeat.
    *
    * Termination: the SCC of the globally-minimal active id settles every
    * round (rounds ≤ #SCCs; in practice a handful — all current color
    * roots settle in parallel). Scale shape: edges cached pre-partitioned
    * per direction, state one long per active node, every step a
    * key-partitioned join + min aggregate — no transitive closure, no V²
    * anywhere. The vertex set is the edge-list endpoints; callers wanting
    * isolated vertices (their own singleton SCCs) union them in.
    *
    * Returns `(node, scc_id)` where `scc_id` is the minimum node id of
    * the component — the same labeling an oracle derives from mutual
    * reachability, so results are engine-comparable. */
  def stronglyConnectedComponents(edges: DataFrame, src: String, dst: String,
      maxRounds: Int = 20, maxIters: Int = 100): DataFrame = {
    val spark = edges.sparkSession
    import spark.implicits._
    val e0 = edges.filter(col(src).isNotNull && col(dst).isNotNull)
      .select(col(src).cast("long").as("u"), col(dst).cast("long").as("v"))
      .filter(col("u") =!= col("v"))
      .distinct()
      .transform(Checkpoints.truncate)
    var active = e0.select(col("u").as("node"))
      .unionByName(e0.select(col("v").as("node")))
      .distinct()
      .transform(Checkpoints.truncate)
    var settled = Seq.empty[(Long, Long)].toDF("node", "scc_id")
    var remaining = active.count()
    var round = 0
    while (remaining > 0 && round < maxRounds) {
      round += 1
      val eAct = e0
        .join(active.select(col("node").as("u")), Seq("u"), "left_semi")
        .join(active.select(col("node").as("v")), Seq("v"), "left_semi")
        .select("u", "v")
        .repartition(col("u"))
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      var eBack: DataFrame = null
      try {
        // FAST PATH: no edges between still-active nodes means every one of
        // them is a singleton SCC — settle them all directly instead of
        // paying two label fixpoints + the confirm joins over an empty edge
        // relation (the common last round once the nontrivial components
        // settled; the head(1) probe reads the just-persisted frame)
        if (eAct.head(1).isEmpty) {
          settled = settled.unionByName(active.withColumn("scc_id", col("node")))
            .transform(Checkpoints.truncate)
          remaining = 0L
        } else {
          // 1. forward: f(v) = min id reaching v
          val f = minLabelFixpoint(active.withColumn("label", col("node")),
            eAct, "u", "v", maxIters)
          // 2. backward within color: reversed class-internal edges
          val fU = f.select(col("node").as("u"), col("label").as("fu"))
          val fV = f.select(col("node").as("v"), col("label").as("fv"))
          eBack = eAct.join(fU, Seq("u")).join(fV, Seq("v"))
            .filter(col("fu") === col("fv"))
            // reverse: propagate b from edge head w back to tail v
            .select(col("v").as("bu"), col("u").as("bv"))
            .repartition(col("bu"))
            .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
          val b = minLabelFixpoint(active.withColumn("label", col("node")),
            eBack, "bu", "bv", maxIters)
          // 3. settle where f = b
          val confirmed = f.join(b.select(col("node"), col("label").as("blabel")),
              Seq("node"))
            .filter(col("label") === col("blabel"))
            .select(col("node"), col("label").as("scc_id"))
            .transform(Checkpoints.truncate)
          settled = settled.unionByName(confirmed)
            .transform(Checkpoints.truncate)
          active = active.join(confirmed.select("node"), Seq("node"), "left_anti")
            .transform(Checkpoints.truncate)
          val nowRemaining = active.count()
          require(nowRemaining < remaining,
            s"SCC round $round settled nothing (${remaining} active)")
          remaining = nowRemaining
        }
      } finally {
        eAct.unpersist()
        if (eBack != null) eBack.unpersist()
      }
    }
    require(remaining == 0, s"SCC did not settle all nodes in $maxRounds rounds")
    settled
  }

  /** Condensation of a directed graph: contract every SCC to one node and
    * report the component DAG's shape — `(n_components, n_dag_edges,
    * n_source_components, max_level)`, where `max_level` is the longest
    * path length in the DAG (the depth of the dependency structure — for
    * a crawl graph, how many SCC "layers" a signal crosses end to end).
    *
    * Composition: [[stronglyConnectedComponents]] → map both edge ends to
    * their `scc_id` → distinct cross-component edges → longest-path levels
    * (`level(v) = max over in-edges of level(u)+1`, from 0) as
    * [[graft.core.Superstep]] rounds: one Spark job per round with ONE
    * message shuffle (level + 1 from the components whose level rose last
    * round, pre-combined by max) and per-partition state of O((V+E)/p)
    * longs. A DAG of depth D settles in D rounds and round D + 1 confirms
    * it, so the depth must stay below `maxIters`; a deeper DAG fails
    * descriptively. Components without a cross edge stay at level 0. One
    * output row; no cache outlives the call on any exit path. */
  def sccCondensation(edges: DataFrame, src: String, dst: String,
      maxIters: Int = 100): DataFrame = {
    val scc = stronglyConnectedComponents(edges, src, dst)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val e = edges.filter(col(src).isNotNull && col(dst).isNotNull)
      .select(col(src).cast("long").as("u"), col(dst).cast("long").as("v"))
      .filter(col("u") =!= col("v")).distinct()
    val ce = e
      .join(scc.select(col("node").as("u"), col("scc_id").as("cu")), Seq("u"))
      .join(scc.select(col("node").as("v"), col("scc_id").as("cv")), Seq("v"))
      .select("cu", "cv").filter(col("cu") =!= col("cv")).distinct()
      .repartition(col("cu"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    var levels: Superstep.Result = null
    try {
      levels = Superstep.run(ce, undirected = false, simple = false,
        maxRounds = maxIters)(_ => LongestPath)
      // the components are SCCs, so their graph is a DAG: only its depth
      // can outrun the rounds
      require(levels.lastChanged == 0, s"condensation levels did not converge in " +
        s"$maxIters rounds: the component DAG's depth exceeds ${maxIters - 1}")
      val comps = scc.select(col("scc_id").as("node")).distinct()
      val sources = comps
        .join(ce.select(col("cv").as("node")).distinct(), Seq("node"), "left_anti")
      comps.join(levels.frame(stateSchema("level")), Seq("node"), "left")
        .agg(count(lit(1)).as("n_components"),
          max(coalesce(col("level"), lit(0L))).as("max_level"))
        .crossJoin(broadcast(ce.agg(count(lit(1)).as("n_dag_edges"))))
        .crossJoin(broadcast(sources.agg(count(lit(1)).as("n_source_components"))))
        .select("n_components", "n_dag_edges", "n_source_components", "max_level")
        .transform(Checkpoints.truncate)
    } finally {
      if (levels != null) levels.release()
      scc.unpersist(); ce.unpersist()
    }
  }

  /** Condensation's round: a component's level is the greatest of its own
    * and its in-neighbors' levels + 1. */
  private object LongestPath extends Superstep.Program {
    def init(id: Long): Long = 0L
    def message(level: Long, outDegree: Int): Long = level + 1
    override def deltaOnly: Boolean = true
    override val combiner: (Long, Long) => Long = math.max(_: Long, _: Long)
    def update(id: Long, level: Long, msgs: Array[Long], from: Int, until: Int): Long = {
      var m = level
      var i = from
      while (i < until) { if (msgs(i) > m) m = msgs(i); i += 1 }
      m
    }
  }

  /** Seeded uniform random walks (the DeepWalk / node2vec(p=q=1) corpus
    * generator): `walksPerNode` walks of `steps` hops from every node.
    * Each hop picks the `(hash mod degree)`-th neighbor in ascending
    * neighbor order, where the hash is the repo's engine-reproducible
    * md5-15-hex of `(seed, start, walk, step, node)` — walks are
    * bit-identical across engines, partitionings, and reruns (no JVM
    * RNG), which is what makes a 100 TB walk corpus regenerable instead
    * of stored.
    *
    * Scale shape: the adjacency is ranked once (`row_number` over the
    * same partitioning the per-step probe joins on) and cached; each hop
    * is one O(walks) equi-join against `(u, rn)` — never the
    * O(walks·degree) expand-then-filter — plus a lineage truncation.
    * Walks ending on a sink node simply stop (their emitted prefix
    * stays). Returns `(start, walk, step, node)`, step 0 = the start
    * row itself. */
  def seededWalks(edges: DataFrame, src: String, dst: String,
      walksPerNode: Int, steps: Int, seed: Long): DataFrame = {
    require(walksPerNode >= 1 && steps >= 1)
    val e = edges.filter(col(src).isNotNull && col(dst).isNotNull)
      .select(col(src).cast("long").as("u"), col(dst).cast("long").as("v"))
      .filter(col("u") =!= col("v")).distinct()
    val wu = org.apache.spark.sql.expressions.Window.partitionBy("u").orderBy("v")
    val adj = e.withColumn("rn", row_number().over(wu).cast("long"))
      .repartition(col("u"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val deg = adj.groupBy("u").agg(count(lit(1)).as("deg"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    var frontier = adj.select(col("u").as("start")).distinct()
      .select(col("start"),
        explode(sequence(lit(1L), lit(walksPerNode.toLong))).as("walk"))
      .withColumn("node", col("start"))
      .transform(Checkpoints.truncate)
    var out = frontier.withColumn("step", lit(0L))
    for (t <- 1 to steps) {
      val h = conv(substring(md5(concat_ws(":", lit(seed), col("start"),
        col("walk"), lit(t.toLong), col("node"))), 1, 15), 16, 10).cast("long")
      val picked = frontier
        .join(deg, deg("u") === frontier("node"))
        .select(col("start"), col("walk"), col("node"),
          (pmod(h, col("deg")) + 1L).as("pick"))
      frontier = picked
        .join(adj, adj("u") === picked("node") && adj("rn") === picked("pick"))
        .select(col("start"), col("walk"), col("v").as("node"))
      // lineage grows two joins per hop — truncate only every few hops
      // (each truncation is a full materialization job)
      if (t % 4 == 0 && t < steps)
        frontier = frontier.transform(Checkpoints.truncate)
      out = out.unionByName(frontier.withColumn("step", lit(t.toLong)))
    }
    adj.unpersist(); deg.unpersist()
    out.select("start", "walk", "step", "node")
  }

  /** Skip-gram (center, context) pairs from a walk corpus — the training
    * examples a DeepWalk/node2vec embedding actually consumes. Every
    * ordered pair of positions within the same walk at distance
    * `1..window` emits one row. The self-join key is the walk id, so the
    * expansion is bounded by walk length (steps+1 rows per key) — never
    * corpus-quadratic; with [[seededWalks]]' deterministic walks the pair
    * corpus is regenerable and engine-reproducible end to end. */
  def skipGramPairs(walks: DataFrame, window: Int): DataFrame = {
    require(window >= 1)
    val a = walks.select(col("start"), col("walk"),
      col("step").as("si"), col("node").as("center"))
    val b = walks.select(col("start"), col("walk"),
      col("step").as("sj"), col("node").as("context"))
    a.join(b, Seq("start", "walk"))
      .filter(col("si") =!= col("sj") &&
        abs(col("si") - col("sj")) <= window)
      .select("center", "context")
  }
}
