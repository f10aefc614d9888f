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
  * partition owns, their out-degrees, and their out-edges as CSR arrays
  * whose rows are DESTINATION partitions (each row sorted by destination
  * id, so messages to one vertex are adjacent and pre-combine in one
  * linear pass). Vertex state is one `Array[Long]` per partition, aligned
  * with the block's ids — co-partitioned with the edges, so `zipPartitions`
  * pairs them without a shuffle.
  *
  * COST MODEL. Each round is ONE Spark job of two stages:
  *  - `zipPartitions(blocks, state)` walks the CSR rows and ships one pair
  *    of primitive `(keys, values)` long arrays per destination partition
  *    — the round's single message shuffle, O(E) messages at most
  *    (pre-combined to O(V) when the program has a combiner, and only
  *    from the previous round's changed vertices for delta programs);
  *  - `zipPartitions(blocks, state, messages)` applies them and counts
  *    the changed vertices in the same job, which also materialises the
  *    round's state through [[Checkpoints.materialize]] (lineage cut;
  *    reliable checkpoint under `spark.graft.checkpointDir`).
  * Per-partition memory is the block plus two state arrays: O((V+E)/p)
  * longs. Nothing is broadcast, and no SQL plan is re-planned per round.
  *
  * RELEASE. [[run]] releases the edge blocks and every intermediate state
  * on every exit path (empty graph, a throwing program factory, task
  * failure); the caller owns the one materialised state a [[Result]]
  * holds and either returns its frame or calls [[Result.release]]. */
object Superstep {

  /** A vertex program over long-valued vertex state. */
  abstract class Program extends Serializable {
    /** State of vertex `id` before round 1. */
    def init(id: Long): Long
    /** Message a sending vertex ships along each of its out-edges. */
    def message(value: Long, outDegree: Int): Long
    /** Only vertices whose state changed in the previous round send
      * (round 1: every vertex). Sound when the update is monotone and
      * idempotent in its messages, e.g. min-label propagation. */
    def deltaOnly: Boolean = false
    /** Associative, commutative merge of two messages to one vertex,
      * applied on the sending side; `null` ships every message. */
    def combiner: (Long, Long) => Long = null
    /** New state of vertex `id` from its old state and the messages
      * `msgs(from until until)` it received (possibly none). May reorder
      * that slice. */
    def update(id: Long, value: Long, msgs: Array[Long], from: Int, until: Int): Long
  }

  /** One partition's share of the graph (see the LAYOUT note above). */
  final class Block(
      val ids: Array[Long],
      val outDegree: Array[Int],
      val rowStart: Array[Int],
      val edgeSrc: Array[Int],
      val edgeDst: Array[Long]) extends Serializable

  /** One partition's vertex state, aligned with its block's `ids`. */
  final class State(
      val ids: Array[Long],
      val value: Array[Long],
      val changed: java.util.BitSet,
      val nChanged: Long) extends Serializable

  /** Messages to one destination partition: `values(i)` goes to vertex
    * `keys(i)`. */
  private final class Messages(val keys: Array[Long], val values: Array[Long])
    extends Serializable

  /** Edges routed to one partition during the build: `src(i) -> dst(i)`,
    * plus `vertices` known to exist only as destinations. */
  private final class Edges(val src: Array[Long], val dst: Array[Long],
      val vertices: Array[Long]) extends Serializable

  /** Outcome of [[run]]: the final materialised state, and how many
    * vertices the last round changed (0 = fixpoint reached). */
  final class Result private[Superstep] (spark: SparkSession,
      state: RDD[State], val lastChanged: Long) {

    /** `(id, state)` rows under `schema` (two long columns). The frame
      * reads the materialised state, which stays cached as its backing. */
    def frame(schema: StructType): DataFrame =
      if (state == null)
        spark.createDataFrame(spark.sparkContext.emptyRDD[Row], schema)
      else {
        val rows = state.mapPartitions { it =>
          val w = new UnsafeRowWriter(2)
          it.flatMap { s =>
            Iterator.tabulate(s.ids.length) { i =>
              w.reset(); w.zeroOutNullBytes()
              w.write(0, s.ids(i)); w.write(1, s.value(i))
              w.getRow: InternalRow
            }
          }
        }
        org.apache.spark.sql.graft.Bridge.internalCreateDataFrame(spark, rows, schema)
      }

    /** Drops the state cache, for callers that reject the result. */
    def release(): Unit = if (state != null) state.unpersist(false)
  }

  /** HashPartitioner's vertex mapping, without boxing the id. */
  private def owner(id: Long, parts: Int): Int = {
    val h = java.lang.Long.hashCode(id) % parts
    if (h < 0) h + parts else h
  }

  /** Runs a vertex program over `edges` — two long columns `(src, dst)`;
    * rows with a null endpoint are dropped — for at most `maxRounds`
    * rounds, stopping after the first round that changes no vertex (the
    * programs are deterministic, so every later round would repeat it).
    *
    * @param undirected each row also yields the edge `dst -> src`
    * @param simple     drop self-loops and parallel edges
    * @param program    builds the program from the vertex count; it may
    *                   throw to reject the graph */
  def run(edges: DataFrame, undirected: Boolean, simple: Boolean,
      maxRounds: Int)(program: Long => Program): Result = {
    require(maxRounds >= 1)
    val spark = edges.sparkSession
    val parts = spark.conf.get("spark.sql.shuffle.partitions").toInt
    val blocks = buildBlocks(edges, parts, undirected, simple)
      .persist(StorageLevel.MEMORY_AND_DISK)
    try {
      val n = spark.sparkContext.runJob(blocks, (it: Iterator[Block]) =>
        it.map(_.ids.length.toLong).sum).sum
      val prog = program(n)
      if (n == 0) new Result(spark, null, 0L)
      else loop(spark, blocks, parts, prog, maxRounds)
    } finally blocks.unpersist(false)
  }

  private def loop(spark: SparkSession, blocks: RDD[Block], parts: Int,
      prog: Program, maxRounds: Int): Result = {
    var state: RDD[State] = blocks.mapPartitions(_.map { b =>
      val n = b.ids.length
      val all = new java.util.BitSet(n)
      all.set(0, n)
      new State(b.ids, b.ids.map(prog.init), all, n)
    }, preservesPartitioning = true)
    var prev: RDD[State] = null
    try {
      var round = 0
      var changed = 1L
      while (round < maxRounds && changed > 0) {
        prev = state
        val messages = blocks.zipPartitions(prev)((bs, ss) => send(bs.next(), ss.next(), prog))
          .partitionBy(new HashPartitioner(parts))
        state = blocks.zipPartitions(prev, messages) { (bs, ss, ms) =>
          Iterator.single(receive(bs.next(), ss.next(), ms, prog))
        }
        changed = Checkpoints.materialize(spark, state)(_.map(_.nChanged).sum)
        prev.unpersist(false)
        prev = null
        round += 1
      }
      new Result(spark, state, changed)
    } catch {
      case t: Throwable =>
        // unpersisting the never-persisted initial state is a no-op
        state.unpersist(false)
        if (prev != null) prev.unpersist(false)
        throw t
    }
  }

  /** Ships the round's messages: one `(keys, values)` pair per destination
    * partition, walking the block's CSR rows. */
  private def send(b: Block, s: State, prog: Program): Iterator[(Int, Messages)] = {
    val combine = prog.combiner
    val delta = prog.deltaOnly
    val out = Iterator.newBuilder[(Int, Messages)]
    var q = 0
    while (q < b.rowStart.length - 1) {
      val from = b.rowStart(q)
      val until = b.rowStart(q + 1)
      val keys = new Array[Long](until - from)
      val values = new Array[Long](until - from)
      var m = 0
      var i = from
      while (i < until) {
        val src = b.edgeSrc(i)
        if (!delta || s.changed.get(src)) {
          val v = prog.message(s.value(src), b.outDegree(src))
          val dst = b.edgeDst(i)
          if (combine != null && m > 0 && keys(m - 1) == dst)
            values(m - 1) = combine(values(m - 1), v)
          else { keys(m) = dst; values(m) = v; m += 1 }
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
    * per local vertex (counting sort), updates every vertex and counts
    * the changed ones. */
  private def receive(b: Block, s: State, in: Iterator[(Int, Messages)],
      prog: Program): State = {
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
    val value = new Array[Long](n)
    val changed = new java.util.BitSet(n)
    var nChanged = 0L
    i = 0
    while (i < n) {
      value(i) = prog.update(b.ids(i), s.value(i), msgs, start(i), start(i + 1))
      if (value(i) != s.value(i)) { changed.set(i); nChanged += 1 }
      i += 1
    }
    new State(b.ids, value, changed, nChanged)
  }

  /** The one edge shuffle: routes every edge to its source's partition
    * (and, when directed, each destination id to its own partition) as
    * primitive arrays, then assembles one [[Block]] per partition. */
  private def buildBlocks(edges: DataFrame, parts: Int, undirected: Boolean,
      simple: Boolean): RDD[Block] =
    edges.queryExecution.toRdd.mapPartitions { rows =>
      val src = Array.fill(parts)(new ArrayBuilder.ofLong)
      val dst = Array.fill(parts)(new ArrayBuilder.ofLong)
      val vertices = Array.fill(parts)(new ArrayBuilder.ofLong)
      rows.foreach { r =>
        if (!r.isNullAt(0) && !r.isNullAt(1)) {
          val a = r.getLong(0)
          val c = r.getLong(1)
          if (!simple || a != c) {
            val pa = owner(a, parts)
            src(pa).addOne(a); dst(pa).addOne(c)
            val pc = owner(c, parts)
            if (undirected) { src(pc).addOne(c); dst(pc).addOne(a) }
            else vertices(pc).addOne(c)
          }
        }
      }
      Iterator.tabulate(parts)(q => q -> new Edges(src(q).result(), dst(q).result(),
        sortedUnique(vertices(q).result())))
        .filter { case (_, e) => e.src.nonEmpty || e.vertices.nonEmpty }
    }.partitionBy(new HashPartitioner(parts))
      .mapPartitions(in => Iterator.single(assemble(in.map(_._2).toArray, parts, simple)),
        preservesPartitioning = true)

  /** One partition's [[Block]] from the edges routed to it. */
  private def assemble(in: Array[Edges], parts: Int, simple: Boolean): Block = {
    val src = Array.concat(in.map(_.src).toIndexedSeq: _*)
    val dst = Array.concat(in.map(_.dst).toIndexedSeq: _*)
    val ids = sortedUnique(Array.concat(src +: in.map(_.vertices).toIndexedSeq: _*))
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
    val outDegree = new Array[Int](ids.length)
    e = 0
    while (e < keep.length) {
      val dr = (keep(e) >>> 32).toInt
      val at = fill(dstOwner(dr))
      fill(dstOwner(dr)) += 1
      edgeSrc(at) = keep(e).toInt; edgeDst(at) = dsts(dr)
      outDegree(edgeSrc(at)) += 1
      e += 1
    }
    new Block(ids, outDegree, rowStart, edgeSrc, edgeDst)
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
