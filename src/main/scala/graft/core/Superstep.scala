package graft.core

import org.apache.spark.HashPartitioner
import org.apache.spark.rdd.RDD
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.codegen.UnsafeRowWriter
import org.apache.spark.sql.types.StructType
import org.apache.spark.storage.StorageLevel
import scala.collection.mutable.ArrayBuilder

/** Pregel superstep kernel over primitive, co-partitioned vertex state —
  * the vertex-centric model of Pregel (Malewicz et al., SIGMOD 2010) in
  * GraphX's layout (Gonzalez et al., OSDI 2014): vertex state lives with
  * the edges it sends along, so a round moves only messages.
  *
  * LAYOUT. The edge list is shuffled ONCE under the
  * `HashPartitioner(spark.sql.shuffle.partitions)` vertex mapping into one
  * [[Block]] per partition: the ascending ids of the vertices that
  * partition owns, and their out-edges as a [[Csr]] whose rows are
  * DESTINATION partitions (each row sorted by destination id, so messages
  * to one vertex are adjacent and pre-combine in one linear pass). On
  * request the same shuffle also routes every edge to its destination's
  * partition, which builds the reversed [[Csr]] for programs that send
  * against edge direction. Vertex state is a fixed number of fields, one
  * `Array[Long]` each, aligned with the block's ids — co-partitioned with
  * the edges, so `zipPartitions` pairs them without a shuffle.
  *
  * COST MODEL. Each round is ONE Spark job of two stages:
  *  - `zipPartitions(blocks, state)` computes each sending vertex's message
  *    once, walks the CSR rows and ships one pair of primitive
  *    `(keys, values)` long arrays per destination partition — the round's
  *    single message shuffle, O(E) messages at most (pre-combined to O(V)
  *    when the program has a combiner, and only from the previous round's
  *    changed vertices for delta programs);
  *  - `zipPartitions(blocks, state, messages)` applies them, counts the
  *    changed vertices and sums the program's aggregator in the same job,
  *    which also materialises the round's state through
  *    [[Checkpoints.materialize]] (lineage cut; reliable checkpoint under
  *    `spark.graft.checkpointDir`).
  * Per-partition memory is the block plus two states of `width` longs a
  * vertex: O((V+E)/p) longs at a fixed width. Nothing is broadcast, and no
  * SQL plan is re-planned per round.
  *
  * RELEASE. [[run]] releases the edge blocks and every intermediate state
  * on every exit path (empty graph, a throwing program factory, task
  * failure); the caller owns the one materialised state a [[Result]]
  * holds and either returns its frame or calls [[Result.release]]. */
object Superstep {

  /** A vertex program over `width` long fields per vertex: `state(f)(i)`
    * is field `f` of the partition's `i`-th vertex. Rounds count from 1;
    * `agg` is the previous round's aggregator sum (0 in round 1). */
  abstract class WideProgram extends Serializable {
    def width: Int = 1
    /** Sets vertex `i`'s fields before round 1 (default: zeros). */
    def init(id: Long, state: Array[Array[Long]], i: Int): Unit = ()
    /** What vertex `i` ships along each of its `degree` (> 0) edges. */
    def message(round: Int, agg: Long, state: Array[Array[Long]], i: Int, degree: Int): Long
    /** Whether the round sends against edge direction (needs `reverse`). */
    def reverse(round: Int): Boolean = false
    /** Only vertices whose state changed in the previous round send
      * (round 1: every vertex). Sound when the update is monotone and
      * idempotent in its messages, e.g. min-label propagation. */
    def deltaOnly: Boolean = false
    /** Associative, commutative merge of two messages to one vertex,
      * applied on the sending side; `null` ships every message. */
    def combiner: (Long, Long) => Long = null
    /** Writes vertex `i`'s new fields into `next` from its `old` ones and
      * the messages `msgs(from until until)` (possibly none; may reorder). */
    def update(round: Int, agg: Long, id: Long, old: Array[Array[Long]],
        next: Array[Array[Long]], i: Int, msgs: Array[Long], from: Int, until: Int): Unit
    /** Vertex `i`'s share of the round's aggregator, from its new fields. */
    def aggregate(round: Int, state: Array[Array[Long]], i: Int): Long = 0L
    /** Whether a round that changes no vertex ends the run: off for a
      * program whose next round would not repeat it. */
    def halts: Boolean = true
  }

  /** A [[WideProgram]] over one long, blind to the round and aggregator. */
  abstract class Program extends WideProgram {
    def init(id: Long): Long
    def message(value: Long, outDegree: Int): Long
    def update(id: Long, value: Long, msgs: Array[Long], from: Int, until: Int): Long

    final override def width: Int = 1
    final override def init(id: Long, state: Array[Array[Long]], i: Int): Unit =
      state(0)(i) = init(id)
    final def message(round: Int, agg: Long, state: Array[Array[Long]], i: Int, degree: Int) =
      message(state(0)(i), degree)
    final def update(round: Int, agg: Long, id: Long, old: Array[Array[Long]],
        next: Array[Array[Long]], i: Int, msgs: Array[Long], from: Int, until: Int): Unit =
      next(0)(i) = update(id, old(0)(i), msgs, from, until)
  }

  /** One direction's edges of a partition: `degree(i)` edges leave its
    * `i`-th vertex; row `q` holds those into partition `q`, from local
    * vertex `edgeSrc(e)` to vertex id `edgeDst(e)`. */
  final class Csr(val degree: Array[Int], val rowStart: Array[Int], val edgeSrc: Array[Int],
      val edgeDst: Array[Long]) extends Serializable

  /** One partition's share of the graph (see LAYOUT); `in` is null unless
    * [[run]] built the reversed edges. */
  final class Block(val ids: Array[Long], val out: Csr, val in: Csr) extends Serializable

  /** One partition's vertex state, aligned with its block's `ids`, with
    * the last round's changed vertices and aggregator share. */
  final class State(val ids: Array[Long], val fields: Array[Array[Long]],
      val changed: java.util.BitSet, val nChanged: Long, val agg: Long) extends Serializable

  /** Messages to one destination partition: `values(i)` goes to vertex
    * `keys(i)`. */
  private final class Messages(val keys: Array[Long], val values: Array[Long])
    extends Serializable

  /** Edges routed to one partition during the build: `src(i) -> dst(i)`
    * leave its vertices, `rsrc(i) -> rdst(i)` are reversed edges (empty
    * unless requested), and `vertices` are known to exist only as
    * destinations. */
  private final class Edges(val src: Array[Long], val dst: Array[Long],
      val rsrc: Array[Long], val rdst: Array[Long],
      val vertices: Array[Long]) extends Serializable

  /** Outcome of [[run]]: the final materialised state, how many vertices
    * the last round changed (0 = fixpoint reached), and its aggregator
    * sum. */
  final class Result private[Superstep] (spark: SparkSession,
      state: RDD[State], val lastChanged: Long, val aggregate: Long) {

    /** `(id, field 0, field 1, …)` rows under `schema` (1 + width long
      * columns). The frame reads the materialised state, which stays
      * cached as its backing. */
    def frame(schema: StructType): DataFrame =
      if (state == null)
        spark.createDataFrame(spark.sparkContext.emptyRDD[Row], schema)
      else {
        val rows = state.mapPartitions { it =>
          val w = new UnsafeRowWriter(schema.length)
          it.flatMap { s =>
            Iterator.tabulate(s.ids.length) { i =>
              w.reset(); w.zeroOutNullBytes()
              w.write(0, s.ids(i))
              var f = 0
              while (f < s.fields.length) { w.write(f + 1, s.fields(f)(i)); f += 1 }
              w.getRow: InternalRow
            }
          }
        }
        org.apache.spark.sql.graft.Bridge.internalCreateDataFrame(spark, rows, schema)
      }

    /** Drops the state cache, for callers that reject the result. */
    def release(): Unit = if (state != null) state.unpersist(false)
  }

  /** Fault-injection seam for specs: when set, called on the driver after
    * each round with the round number and its materialised state. Unset,
    * it costs one null check per round. */
  @volatile private[graft] var afterRound: (Int, RDD[State]) => Unit = null

  /** HashPartitioner's vertex mapping, without boxing the id. */
  private def owner(id: Long, parts: Int): Int = {
    val h = java.lang.Long.hashCode(id) % parts
    if (h < 0) h + parts else h
  }

  /** Runs a vertex program over `edges` — two long columns `(src, dst)`;
    * rows with a null endpoint are dropped — for at most `maxRounds`
    * rounds, stopping after the first round that changes no vertex when
    * the program [[WideProgram.halts]].
    *
    * @param undirected each row also yields the edge `dst -> src`
    * @param simple     drop parallel edges, and an undirected graph's
    *                   self-loops (a directed self-loop is kept once)
    * @param reverse    also build the reversed edges of a directed graph,
    *                   for a program that sends against edge direction
    * @param program    builds the program from the vertex count; it may
    *                   throw to reject the graph */
  def run(edges: DataFrame, undirected: Boolean, simple: Boolean, maxRounds: Int,
      reverse: Boolean = false)(program: Long => WideProgram): Result = {
    require(maxRounds >= 1 && !(undirected && reverse))
    val spark = edges.sparkSession
    val parts = spark.conf.get("spark.sql.shuffle.partitions").toInt
    val blocks = buildBlocks(edges, parts, undirected, simple, reverse)
      .persist(StorageLevel.MEMORY_AND_DISK)
    try {
      val n = spark.sparkContext.runJob(blocks, (it: Iterator[Block]) =>
        it.map(_.ids.length.toLong).sum).sum
      val prog = program(n)
      if (n == 0) new Result(spark, null, 0L, 0L)
      else loop(spark, blocks, parts, prog, maxRounds)
    } finally blocks.unpersist(false)
  }

  private def loop(spark: SparkSession, blocks: RDD[Block], parts: Int,
      prog: WideProgram, maxRounds: Int): Result = {
    var state: RDD[State] = blocks.mapPartitions(_.map { b =>
      val n = b.ids.length
      val fields = Array.fill(prog.width)(new Array[Long](n))
      var i = 0
      while (i < n) { prog.init(b.ids(i), fields, i); i += 1 }
      val all = new java.util.BitSet(n)
      all.set(0, n)
      new State(b.ids, fields, all, n, 0L)
    }, preservesPartitioning = true)
    var prev: RDD[State] = null
    try {
      var round = 0
      var changed = 1L
      var agg = 0L
      while (round < maxRounds && (changed > 0 || !prog.halts)) {
        round += 1
        prev = state
        val (r, a) = (round, agg)
        val messages = blocks.zipPartitions(prev)((bs, ss) =>
          send(bs.next(), ss.next(), prog, r, a)).partitionBy(new HashPartitioner(parts))
        state = blocks.zipPartitions(prev, messages) { (bs, ss, ms) =>
          Iterator.single(receive(bs.next(), ss.next(), ms, prog, r, a))
        }
        val stats = Checkpoints.materialize(spark, state) { it =>
          val s = it.next(); (s.nChanged, s.agg)
        }
        changed = stats.map(_._1).sum
        agg = stats.map(_._2).foldLeft(0L)(Math.addExact(_: Long, _: Long))
        prev.unpersist(false)
        prev = null
        if (afterRound != null) afterRound(round, state)
      }
      new Result(spark, state, changed, agg)
    } catch {
      case t: Throwable =>
        // unpersisting the never-persisted initial state is a no-op
        state.unpersist(false)
        if (prev != null) prev.unpersist(false)
        throw t
    }
  }

  /** Ships the round's messages: one `(keys, values)` pair per destination
    * partition, walking the CSR rows of the round's direction. */
  private def send(b: Block, s: State, prog: WideProgram, round: Int,
      agg: Long): Iterator[(Int, Messages)] = {
    val csr = if (prog.reverse(round)) b.in else b.out
    val combine = prog.combiner
    val delta = prog.deltaOnly
    val msg = new Array[Long](b.ids.length)
    var v = 0
    while (v < msg.length) {
      if (csr.degree(v) > 0 && (!delta || s.changed.get(v)))
        msg(v) = prog.message(round, agg, s.fields, v, csr.degree(v))
      v += 1
    }
    val out = Iterator.newBuilder[(Int, Messages)]
    var q = 0
    while (q < csr.rowStart.length - 1) {
      val from = csr.rowStart(q)
      val until = csr.rowStart(q + 1)
      val keys = new Array[Long](until - from)
      val values = new Array[Long](until - from)
      var m = 0
      var i = from
      while (i < until) {
        val src = csr.edgeSrc(i)
        if (!delta || s.changed.get(src)) {
          val dst = csr.edgeDst(i)
          if (combine != null && m > 0 && keys(m - 1) == dst)
            values(m - 1) = combine(values(m - 1), msg(src))
          else { keys(m) = dst; values(m) = msg(src); m += 1 }
        }
        i += 1
      }
      if (m > 0)
        out += q -> new Messages(java.util.Arrays.copyOf(keys, m),
          java.util.Arrays.copyOf(values, m))
      q += 1
    }
    out.result()
  }

  /** Applies one round's messages to a partition's state: buckets them
    * per local vertex (counting sort), updates every vertex, and counts
    * the changed ones and sums the aggregator. */
  private def receive(b: Block, s: State, in: Iterator[(Int, Messages)],
      prog: WideProgram, round: Int, agg: Long): State = {
    val n = b.ids.length
    val batches = in.map(_._2).toArray
    // local vertex index of every message, and per-vertex counts
    val local = new Array[Array[Int]](batches.length)
    val start = new Array[Int](n + 1)
    var j = 0
    while (j < batches.length) {
      val keys = batches(j).keys
      val idx = new Array[Int](keys.length)
      var k = 0
      while (k < keys.length) {
        idx(k) = java.util.Arrays.binarySearch(b.ids, keys(k))
        start(idx(k) + 1) += 1
        k += 1
      }
      local(j) = idx
      j += 1
    }
    var i = 0
    while (i < n) { start(i + 1) += start(i); i += 1 }
    val fill = java.util.Arrays.copyOf(start, n)
    val msgs = new Array[Long](start(n))
    j = 0
    while (j < batches.length) {
      val idx = local(j)
      val vs = batches(j).values
      var k = 0
      while (k < idx.length) { msgs(fill(idx(k))) = vs(k); fill(idx(k)) += 1; k += 1 }
      j += 1
    }
    val fields = Array.fill(s.fields.length)(new Array[Long](n))
    val changed = new java.util.BitSet(n)
    var nChanged = 0L
    var sum = 0L
    i = 0
    while (i < n) {
      prog.update(round, agg, b.ids(i), s.fields, fields, i, msgs, start(i), start(i + 1))
      var f = 0
      while (f < fields.length && fields(f)(i) == s.fields(f)(i)) f += 1
      if (f < fields.length) { changed.set(i); nChanged += 1 }
      sum = Math.addExact(sum, prog.aggregate(round, fields, i))
      i += 1
    }
    new State(b.ids, fields, changed, nChanged, sum)
  }

  /** The one edge shuffle: routes every edge to its source's partition
    * (and, when directed, each destination id — or with `reverse` the
    * reversed edge — to the destination's partition) as primitive arrays,
    * then assembles one [[Block]] per partition. */
  private def buildBlocks(edges: DataFrame, parts: Int, undirected: Boolean,
      simple: Boolean, reverse: Boolean): RDD[Block] =
    edges.queryExecution.toRdd.mapPartitions { rows =>
      def builders() = Array.fill(parts)(new ArrayBuilder.ofLong)
      val (src, dst, rsrc, rdst, vertices) =
        (builders(), builders(), builders(), builders(), builders())
      rows.foreach { r =>
        if (!r.isNullAt(0) && !r.isNullAt(1)) {
          val a = r.getLong(0)
          val c = r.getLong(1)
          if (!simple || !undirected || a != c) {
            val pa = owner(a, parts)
            src(pa).addOne(a); dst(pa).addOne(c)
            val pc = owner(c, parts)
            if (undirected) { src(pc).addOne(c); dst(pc).addOne(a) }
            else if (reverse) { rsrc(pc).addOne(c); rdst(pc).addOne(a) }
            else vertices(pc).addOne(c)
          }
        }
      }
      Iterator.tabulate(parts)(q => q -> new Edges(src(q).result(), dst(q).result(),
        rsrc(q).result(), rdst(q).result(), sortedUnique(vertices(q).result())))
        .filter { case (_, e) => e.src.nonEmpty || e.rsrc.nonEmpty || e.vertices.nonEmpty }
    }.partitionBy(new HashPartitioner(parts))
      .mapPartitions(in => Iterator.single(assemble(in.map(_._2).toArray, parts, simple,
        reverse)), preservesPartitioning = true)

  /** One partition's [[Block]] from the edges routed to it. */
  private def assemble(in: Array[Edges], parts: Int, simple: Boolean,
      reverse: Boolean): Block = {
    def concat(f: Edges => Array[Long]) = Array.concat(in.map(f).toIndexedSeq: _*)
    val (src, dst, rsrc) = (concat(_.src), concat(_.dst), concat(_.rsrc))
    val ids = sortedUnique(Array.concat(src, rsrc, concat(_.vertices)))
    new Block(ids, csr(ids, src, dst, parts, simple),
      if (reverse) csr(ids, rsrc, concat(_.rdst), parts, simple) else null)
  }

  /** The [[Csr]] of the edges `src(e) -> dst(e)` leaving the vertices
    * `ids`; `simple` keeps each distinct edge once. */
  private def csr(ids: Array[Long], src: Array[Long], dst: Array[Long], parts: Int,
      simple: Boolean): Csr = {
    // order edges by (destination, source) through one primitive sort of
    // packed (destination rank, source index) keys; a stable counting
    // sort by destination partition then yields the CSR rows
    val dsts = sortedUnique(dst.clone())
    val packed = new Array[Long](src.length)
    var e = 0
    while (e < src.length) {
      packed(e) = (java.util.Arrays.binarySearch(dsts, dst(e)).toLong << 32) |
        java.util.Arrays.binarySearch(ids, src(e)).toLong
      e += 1
    }
    val keep = if (simple) sortedUnique(packed) else { java.util.Arrays.sort(packed); packed }
    val dstOwner = new Array[Int](dsts.length)
    var d = 0
    while (d < dsts.length) { dstOwner(d) = owner(dsts(d), parts); d += 1 }
    val rowStart = new Array[Int](parts + 1)
    e = 0
    while (e < keep.length) { rowStart(dstOwner((keep(e) >>> 32).toInt) + 1) += 1; e += 1 }
    var q = 0
    while (q < parts) { rowStart(q + 1) += rowStart(q); q += 1 }
    val fill = java.util.Arrays.copyOf(rowStart, parts)
    val edgeSrc = new Array[Int](keep.length)
    val edgeDst = new Array[Long](keep.length)
    val degree = new Array[Int](ids.length)
    e = 0
    while (e < keep.length) {
      val dr = (keep(e) >>> 32).toInt
      val at = fill(dstOwner(dr))
      fill(dstOwner(dr)) += 1
      edgeSrc(at) = keep(e).toInt; edgeDst(at) = dsts(dr)
      degree(edgeSrc(at)) += 1
      e += 1
    }
    new Csr(degree, rowStart, edgeSrc, edgeDst)
  }

  /** Sorts `a` in place and returns its distinct values. */
  private def sortedUnique(a: Array[Long]): Array[Long] = {
    java.util.Arrays.sort(a)
    var m = 0
    var i = 0
    while (i < a.length) {
      if (m == 0 || a(i) != a(m - 1)) { a(m) = a(i); m += 1 }
      i += 1
    }
    java.util.Arrays.copyOf(a, m)
  }
}
