package graft.similarity

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Trained quantizers of a disk PQ index — persist alongside the index
  * (both are bounded driver-side arrays: `nLists·dim` + `m·k·dim/m`
  * longs) so future sessions can search without re-training. */
final case class PqIndexModel(
    coarse: Array[Array[Long]],
    books: Array[Array[Array[Long]]],
    dim: Int,
    m: Int)

/** The production ANN path composed end-to-end (Jégou et al., TPAMI 2011
  * §VI "IVFADC-R", as one queryable disk operator): an on-disk code store
  * partitioned by IVF list, searched by partition-pruned ADC, with a
  * bounded exact re-rank.
  *
  *  - BUILD ([[buildIndex]]): train the integer-exact coarse quantizer
  *    ([[Ivf.centroidsFromSample]]) and PQ codebooks
  *    ([[Pq.codebooksFromSample]]) on one shared sample; assign every
  *    corpus vector its list and its `m`-byte code IN ONE ROW-LOCAL
  *    PROJECTION — two compiled
  *    kernel calls per row ([[graft.functions.q6_dots]] for the list
  *    argmax, [[graft.functions.pq_assign]] for the codes), no explode,
  *    no shuffle; write `(id, codes, v)` rows `partitionBy(list_id)`.
  *  - SEARCH ([[searchIndex]]): each query probes its `nProbe` best
  *    lists, so the scan reads ONLY the probed lists' directories
  *    (`PartitionFilters` — spec-asserted) and ONLY the code columns
  *    (the raw-vector column is pruned out of the corpus-wide pass —
  *    `ReadSchema` spec-asserted): per query, `nProbe/nLists` of the
  *    corpus × `m` integer LUT adds. The ADC shortlist (rank ≤
  *    `shortlist`, `WindowGroupLimit` bounds the sort before the
  *    exchange) is then re-ranked EXACTLY by one second pruned read of
  *    `|queries|·shortlist` raw vectors. That is the 100 TB contract:
  *    codes on disk are ~32× smaller than the vectors, the vectors are
  *    touched only for the shortlist, and probing is directory pruning —
  *    no custom reader, no index server.
  *
  * Row-identical to the in-memory [[Pq.ivfPqRerankTopK]] twin
  * (spec-asserted): the disk detour changes I/O shape, never results.
  * Recall@5 0.94 at the shipped (nProbe=12/16, shortlist=100) config —
  * floor 0.90 pinned in RecallFloorSpec. */
object AnnIndex {

  /** Driver thread pool for overlapping INDEPENDENT lifecycle actions
    * (guide §2.6: Spark schedules concurrent jobs FIFO, so the next
    * action's tasks back-fill executors the current one leaves idle —
    * the lifecycle's many small sequential jobs otherwise serialize
    * their per-job planning + scheduling latency). Every overlapped pair
    * below is data-independent and individually deterministic, so
    * concurrency cannot change any result. */
  private lazy val lifecyclePool: java.util.concurrent.ExecutorService =
    java.util.concurrent.Executors.newCachedThreadPool(r => {
      val t = new Thread(r, "ann-lifecycle")
      t.setDaemon(true)
      t
    })

  /** Run two independent actions concurrently; both settle before the
    * first failure (if any) is rethrown, so a failure path never races a
    * straggler still writing. Each action runs under the caller's local
    * properties (job group, description, scheduler pool) and active
    * session, captured at submission as AQE does for its stage jobs: a
    * pooled thread otherwise keeps the properties of the caller that
    * created it. */
  private def awaitBoth[A, B](spark: SparkSession)(fa: => A, fb: => B): (A, B) = {
    import org.apache.spark.sql.graft.Bridge
    val f1 = Bridge.submitCaptured(spark, lifecyclePool)(fa)
    val f2 = Bridge.submitCaptured(spark, lifecyclePool)(fb)
    def settle[T](f: java.util.concurrent.CompletableFuture[T]) =
      scala.util.Try(f.get()).recoverWith {
        case e: java.util.concurrent.ExecutionException => scala.util.Failure(e.getCause)
      }
    val r1 = settle(f1)
    val r2 = settle(f2)
    (r1.get, r2.get)
  }

  /** Train both quantizers from ONE sample collect over `corpus`: the
    * first `max(ivfSample, pqSample)` valid rows by id
    * ([[Ivf.trainingSampleQuery]]), each trainer taking its own prefix — the
    * rows its own sample collect would return, as the id order is total.
    * With `nLists = 0` the row count [[suggestNLists]] needs rides on the
    * same job as an observed metric, taken BEFORE the validity filter, so
    * it is `corpus.count()` (null and wrong-length rows included) without
    * a second evaluation of a lazy corpus. That automatic count is capped
    * at the rows the IVF trainer receives (at most `ivfSample`): k-means
    * cannot seed more lists than it has sample rows. */
  private[similarity] def trainModel(
      corpus: DataFrame,
      idCol: String,
      vecCol: String,
      dim: Int,
      nLists: Int,
      m: Int,
      kCodes: Int,
      ivfIters: Int = 8,
      pqIters: Int = 4,
      ivfSample: Int = 2048,
      pqSample: Int = 512
  ): PqIndexModel = {
    val rows = "graft_ann_corpus_rows"
    val query = Ivf.trainingSampleQuery(
      if (nLists > 0) corpus else corpus.observe(rows, count(lit(1))),
      idCol, vecCol, dim, math.max(ivfSample, pqSample))
    val sample = Ivf.trainingSample(query)
    val ivfRows = sample.take(ivfSample)
    val nl = if (nLists > 0) nLists else math.min(math.max(ivfRows.length, 1), suggestNLists(
      // an optimizer that drops the sample plan (say, a zero limit) drops
      // the metric with it: count directly then
      query.queryExecution.observedMetrics.get(rows).map(_.getLong(0))
        .getOrElse(corpus.count())))
    PqIndexModel(Ivf.centroidsFromSample(ivfRows, dim, nl, ivfIters),
      Pq.codebooksFromSample(sample.take(pqSample), dim, m, kCodes, pqIters), dim, m)
  }

  /** Train both quantizers and materialize the index at `path`.
    * Append new batches with [[appendToIndex]] (frozen quantizers);
    * re-train offline ([[retrain]]) when [[Ivf.indexStats]] over `path`
    * shows list drift.
    *
    * A lazy `corpus` (say, a join) is evaluated exactly twice: once by
    * the training-sample collect ([[trainModel]]) and once by the store
    * write. It is not persisted: two streaming reads scale with the
    * corpus, a cached copy of it does not.
    *
    * `nLists = 0` (the default) sizes the list count by
    * [[suggestNLists]] (≈ √N; the row count is an observed metric of the
    * sample collect, so it costs no job of its own), so a user following
    * the README path gets the corpus-scaled store, not a toy constant. The
    * automatic count never exceeds `ivfSample` (nor the valid rows the
    * IVF trainer receives): from about 4.2M rows on, √N would outgrow the
    * training sample, so raise `ivfSample` with the corpus to keep √N
    * lists. An explicit `nLists` above the sample fails with a `require`.
    * The GATED queries pin `nLists = 16` explicitly: the DuckDB oracle
    * replays the assignment algebra with a fixed list count, so oracle
    * reproducibility requires pinning it — that pin is a property of the
    * gate, not a recommended production setting. */
  def buildIndex(
      corpus: DataFrame,
      idCol: String,
      vecCol: String,
      path: String,
      dim: Int,
      nLists: Int = 0,
      m: Int = 8,
      kCodes: Int = 16,
      ivfIters: Int = 8,
      pqIters: Int = 4,
      ivfSample: Int = 2048,
      pqSample: Int = 512
  ): PqIndexModel = {
    val model = trainModel(corpus, idCol, vecCol, dim, nLists, m, kCodes,
      ivfIters, pqIters, ivfSample, pqSample)
    writeRows(corpus, idCol, vecCol, path, model, overwrite = true)
    model
  }

  /** Frozen-quantizer incremental append: assign a new batch with the
    * EXISTING model and add its rows to the partitioned store. Search
    * over a grown index equals one built in one shot with the same
    * model (spec-asserted): assignment is per-row, the store append-only,
    * probes read whole lists. Freezing the quantizers is the standard IVF
    * practice — re-training moves every list boundary and forces a full
    * rebuild, so a standing index re-trains offline ([[retrain]]) when
    * [[Ivf.indexStats]] shows drift. */
  def appendToIndex(
      batch: DataFrame,
      idCol: String,
      vecCol: String,
      path: String,
      model: PqIndexModel
  ): Unit = writeRows(batch, idCol, vecCol, path, model, overwrite = false)

  private def writeRows(
      df: DataFrame,
      idCol: String,
      vecCol: String,
      path: String,
      model: PqIndexModel,
      overwrite: Boolean
  ): Unit = {
    // the encode spreads the corpus before the per-row codes and list
    // argmax; the list_id repartition below still bounds the store at ~one
    // file per list, and row order within a list never affects results
    val rows = Pq.encode(df, idCol, vecCol, model.dim, model.books, Some(model.coarse))
      // co-locate each list before the partitioned write: without this,
      // EVERY write task emits a file into EVERY list directory — at
      // nLists = √N the store degenerates into tasks·nLists tiny files
      // (measured: 176k files for a 500k-vector/707-list build, and
      // every subsequent search pays the full listing+open cost). One
      // hash shuffle on list_id bounds the store at ~one file per list.
      .repartition(col("list_id"))
    rows.write.mode(if (overwrite) "overwrite" else "append")
      .partitionBy("list_id").parquet(path)
    // a fresh store reads back as the schema just written, with list_id
    // inferred as int (a string without partition type inference): prime
    // the cache with it, so the first search runs no inference job
    val spark = df.sparkSession
    if (overwrite && spark.conf.get(
        "spark.sql.sources.partitionColumnTypeInference.enabled", "true").toBoolean)
      graft.sources.CachedParquet.prime(spark, path, rows.schema)
  }

  /** Tombstone DELETE — the remaining CRUD piece of a standing index
    * (takedown requests, dedup-driven removals): deleted ids append to a
    * side log under `path/_tombstones` (underscore-prefixed, so the main
    * partitioned scan never sees it), and [[searchIndex]] anti-joins the
    * broadcast tombstone set so deleted vectors cannot surface. Physical
    * removal happens at the next [[rebuildIndex]] — the standard LSM
    * discipline: rewriting list partitions per delete would be pure
    * write amplification, while the tombstone set stays
    * deleted-count-sized and broadcastable. */
  def deleteFromIndex(ids: DataFrame, idCol: String, path: String): Unit = {
    // tombstones carry the INDEX's own id type (read from the store
    // schema), never a hard-coded long: [[writeRows]] stores `idCol`
    // verbatim, and an anti-join between mismatched types would coerce
    // through double (or null out under a cast) and silently fail to
    // suppress deleted string/decimal ids
    val idType = graft.sources.CachedParquet.schemaOf(ids.sparkSession, path)("id").dataType
    ids.select(col(idCol).cast(idType).as("id")).distinct()
      .write.mode("append").parquet(s"$path/_tombstones")
  }

  /** The current tombstone set (empty frame — typed like the store's id
    * column — when none were ever written). */
  def tombstones(spark: SparkSession, path: String): DataFrame = {
    val p = new org.apache.hadoop.fs.Path(s"$path/_tombstones")
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (fs.exists(p)) graft.sources.CachedParquet.read(spark, p.toString).distinct()
    else {
      import org.apache.spark.sql.types._
      val idType = graft.sources.CachedParquet.schemaOf(spark, path)("id").dataType
      spark.createDataFrame(spark.sparkContext.emptyRDD[org.apache.spark.sql.Row],
        StructType(Seq(StructField("id", idType, nullable = false))))
    }
  }

  private def hasTombstones(spark: SparkSession, path: String): Boolean = {
    val p = new org.apache.hadoop.fs.Path(s"$path/_tombstones")
    p.getFileSystem(spark.sparkContext.hadoopConfiguration).exists(p)
  }

  /** Compact the store: rewrite `(id, codes, v)` rows minus the tombstone
    * set to `newPath` under the SAME frozen model (assignment columns are
    * already materialized, so this is a pure pruned-scan → anti-join →
    * write — no re-training, no re-encoding). Search over the rebuilt
    * index equals tombstone-filtered search over the old one
    * (spec-asserted). */
  def rebuildIndex(spark: SparkSession, path: String, newPath: String): Unit = {
    val ts = tombstones(spark, path)
    graft.sources.CachedParquet.read(spark, path)
      .join(broadcast(ts.select(col("id"))), Seq("id"), "left_anti")
      .select("id", "codes", "v", "list_id")
      .write.mode("overwrite").partitionBy("list_id").parquet(newPath)
  }

  /** Persist the trained quantizers alongside the index — the other half
    * of the disk lifecycle: a future session (or another cluster) loads
    * the model and searches/appends WITHOUT re-training, which is what
    * keeps the frozen-quantizer contract honest across restarts. Three
    * tiny parquet frames under `path`: `coarse(cid, cv)`,
    * `books(sub, code, cv)`, `meta(dim, m)` — `nLists·dim + m·k·dim/m`
    * longs total, written single-file. */
  def saveModel(spark: SparkSession, model: PqIndexModel, path: String): Unit = {
    import spark.implicits._
    // three independent single-file writes to three directories —
    // overlapped (guide §2.6): each is one tiny job + a commit, and the
    // commits' driver-side latency otherwise serializes
    val (_, _) = awaitBoth(spark)(
      model.coarse.zipWithIndex.map { case (cv, i) => (i, cv.toSeq) }.toSeq
        .toDF("cid", "cv")
        .coalesce(1).write.mode("overwrite").parquet(s"$path/coarse"),
      awaitBoth(spark)(
        (for {
          (book, sub) <- model.books.zipWithIndex.toSeq
          (cv, code) <- book.zipWithIndex
        } yield (sub, code, cv.toSeq)).toDF("sub", "code", "cv")
          .coalesce(1).write.mode("overwrite").parquet(s"$path/books"),
        Seq((model.dim, model.m)).toDF("dim", "m")
          .coalesce(1).write.mode("overwrite").parquet(s"$path/meta")))
    ()
  }

  /** Load a model written by [[saveModel]] (search/append round-trip is
    * spec-asserted identical to the in-session model). */
  def loadModel(spark: SparkSession, path: String): PqIndexModel = {
    // the three frames' schemas are fixed by [[saveModel]] — supply them
    // (schema inference costs a driver footer read + one scheduled Spark
    // job PER read; that is 3 pure-overhead jobs per load on frames whose
    // shape cannot vary)
    import org.apache.spark.sql.types._
    val metaSchema = StructType(Seq(StructField("dim", IntegerType),
      StructField("m", IntegerType)))
    val coarseSchema = StructType(Seq(StructField("cid", IntegerType),
      StructField("cv", ArrayType(LongType))))
    val booksSchema = StructType(Seq(StructField("sub", IntegerType),
      StructField("code", IntegerType), StructField("cv", ArrayType(LongType))))
    // collect unsorted and order on the driver: the frames are
    // nLists / m·k rows, and a distributed orderBy on them costs an AQE
    // sort exchange + an extra job per frame — measured 10 jobs per load
    // vs the 3 collects this shape pays (the model is driver-resident
    // either way, so sorting it there is free). The three single-file
    // reads are independent — overlapped (guide §2.6).
    val (meta, (coarse, books)) = awaitBoth(spark)(
      spark.read.schema(metaSchema).parquet(s"$path/meta").head(),
      awaitBoth(spark)(
        spark.read.schema(coarseSchema).parquet(s"$path/coarse").collect()
          .map(r => (r.getInt(0), r.getSeq[Long](1).toArray))
          .sortBy(_._1).map(_._2),
        {
          val flat = spark.read.schema(booksSchema).parquet(s"$path/books").collect()
            .map(r => (r.getInt(0), r.getInt(1), r.getSeq[Long](2).toArray))
          flat.groupBy(_._1).toSeq.sortBy(_._1)
            .map(_._2.sortBy(_._2).map(_._3).toArray).toArray
        }))
    PqIndexModel(coarse, books, meta.getInt(0), meta.getInt(1))
  }

  // ===== versioned blue/green lifecycle (round 11) ======================
  //
  // A STANDING index can't be retrained in place: searches run while the
  // new store builds, and a half-written store must never be visible. The
  // lifecycle below keeps full index versions under `base/v<k>` (each with
  // its model at `v<k>/_model`) and ONE pointer file `base/CURRENT`,
  // updated by atomic rename — searches resolve the pointer at call time,
  // so during a cutover they read a complete store (old or new, never a
  // mix), and after promotion the old version is GC'd.

  /** Outcome of one [[retrain]] attempt: the candidate is PROMOTED only
    * when its measured recall@k on the probe set clears the floor;
    * otherwise it is deleted and the current version keeps serving. */
  final case class RetrainResult(fromVersion: Int, toVersion: Int,
      promoted: Boolean, recall: Double)

  /** Corpus-sized `nLists` rule: `nLists ≈ √N` balances the two per-query
    * costs — the centroid scan (∝ nLists) and the probed-list scan
    * (∝ nProbe·N/nLists) — the standard IVF sizing (FAISS guidelines use
    * √N..16√N; at the √N point an average list holds √N vectors, so
    * probe pruning reads nProbe·√N rows instead of N). Clamped so an
    * average list still holds ≥ `minListSize` vectors: tiny corpora
    * degrade gracefully to fewer lists rather than 1-vector lists whose
    * centroid table outweighs the data. */
  def suggestNLists(n: Long, minListSize: Long = 64): Int =
    math.max(1L, math.min(math.round(math.sqrt(n.toDouble)),
      n / math.max(minListSize, 1L))).toInt

  private def fsOf(spark: SparkSession, p: String) =
    new org.apache.hadoop.fs.Path(p)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)

  /** The currently-serving version number (None before the first build). */
  def currentVersion(spark: SparkSession, base: String): Option[Int] = {
    val ptr = new org.apache.hadoop.fs.Path(s"$base/CURRENT")
    val fs = fsOf(spark, base)
    if (!fs.exists(ptr)) None
    else {
      val in = fs.open(ptr)
      try {
        val buf = new java.io.BufferedReader(new java.io.InputStreamReader(in, "UTF-8"))
        // an empty/blank pointer means the temp-then-rename discipline was
        // violated (possible on object stores without atomic rename) —
        // fail descriptively instead of NPE-ing deep in the search path
        val line = Option(buf.readLine()).map(_.trim).getOrElse("")
        if (line.isEmpty) throw new IllegalStateException(
          s"corrupt CURRENT pointer $ptr: empty/blank — repoint assumes " +
          "atomic same-directory rename (POSIX/HDFS); a store without it " +
          "can tear this file and needs manual repair")
        Some(line.toInt)
      } finally in.close()
    }
  }

  /** Store path of a version. */
  def versionPath(base: String, v: Int): String = s"$base/v$v"

  /** Atomically repoint `base/CURRENT` at version `v`: the new pointer is
    * written complete to a temp file first, then renamed over CURRENT
    * (`Options.Rename.OVERWRITE` — an atomic same-directory rename on
    * POSIX and HDFS), so a concurrent [[searchCurrent]] reads either the
    * old pointer or the new one, never a torn write. */
  def repoint(spark: SparkSession, base: String, v: Int): Unit = {
    val conf = spark.sparkContext.hadoopConfiguration
    val tmp = new org.apache.hadoop.fs.Path(s"$base/.CURRENT.tmp")
    val dst = new org.apache.hadoop.fs.Path(s"$base/CURRENT")
    val fs = fsOf(spark, base)
    val out = fs.create(tmp, true)
    try out.write(s"$v\n".getBytes("UTF-8")) finally out.close()
    org.apache.hadoop.fs.FileContext.getFileContext(dst.toUri, conf)
      .rename(tmp, dst, org.apache.hadoop.fs.Options.Rename.OVERWRITE)
  }

  /** First build of a versioned index: train + materialize at `v1` (or
    * the next version if some exist), persist the model INSIDE the
    * version (`v<k>/_model` — underscore-prefixed, invisible to the
    * store scan), and repoint. Returns the version number. Pass
    * `nLists = 0` to size by [[suggestNLists]]. */
  def buildVersioned(
      corpus: DataFrame,
      idCol: String,
      vecCol: String,
      base: String,
      dim: Int,
      nLists: Int = 0,
      m: Int = 8,
      kCodes: Int = 16
  ): Int = {
    val spark = corpus.sparkSession
    val v = currentVersion(spark, base).getOrElse(0) + 1
    val vp = versionPath(base, v)
    val model = trainModel(corpus, idCol, vecCol, dim, nLists, m, kCodes)
    // NOT overlapped with the store write: writeRows' overwrite mode
    // clears the whole version directory at job start, which would race
    // a concurrent _model write inside it
    writeRows(corpus, idCol, vecCol, vp, model, overwrite = true)
    saveModel(spark, model, s"$vp/_model")
    repoint(spark, base, v)
    v
  }

  /** Search whatever version `base/CURRENT` points at — resolved at CALL
    * time, so a search issued during a [[retrain]] cutover is served by a
    * complete store (the promotion is one atomic pointer swap). */
  def searchCurrent(
      spark: SparkSession,
      base: String,
      queries: DataFrame,
      idCol: String,
      vecCol: String,
      topK: Int,
      nProbe: Int,
      shortlist: Int = 100
  ): DataFrame = {
    val v = currentVersion(spark, base).getOrElse(
      throw new IllegalStateException(s"no CURRENT index under $base"))
    val vp = versionPath(base, v)
    val model = loadModel(spark, s"$vp/_model")
    searchIndex(spark, vp, model, queries, idCol, vecCol, topK,
      math.min(nProbe, model.coarse.length), shortlist)
  }

  /** STORE COMPACTION under the versioned lifecycle — the LSM maintenance
    * step between append-heavy ingest and a full [[retrain]]: a standing
    * index accumulates one `b<batchId>-` file per touched list per
    * streaming micro-batch (the exactly-once publish discipline of
    * [[graft.streaming.StreamingAnnIngest]]) plus a growing tombstone
    * log, and at √N lists × thousands of batches that is a small-files
    * incident and a per-search anti-join, forever. Compaction rewrites
    * the CURRENT version's live rows (tombstones physically removed)
    * into the next version — one hash shuffle on `list_id`, so the new
    * store is bounded at ~one file per list again — copies the SAME
    * frozen model (no re-training, no re-encoding: the assignment
    * columns are already materialized), and cuts over with the same
    * atomic pointer swap as retrain. Searches during compaction read a
    * complete store (old or new, never a mix); search results are
    * IDENTICAL before and after (the tombstone filter becomes physical —
    * spec-asserted). The ingest marker lives at `base`, so a batch
    * re-delivered across the compaction cutover is still recognized as
    * committed. Returns the new version number.
    *
    * CATCH-UP + POST-CUTOVER SWEEP (round 13, the seams [[retrain]]
    * closes): a streaming micro-batch published into `v<from>` DURING the
    * (potentially long) rewrite would otherwise be absent from the
    * compacted version while the base-level ingest marker records it
    * committed — and `gcOldVersion = true` would delete the only copy.
    * Two gap passes close this. (1) CATCH-UP, before the pointer swap:
    * the old store's live rows are re-read and anti-joined against the
    * just-written compacted store; the delta (already carrying codes and
    * list assignment under the SAME frozen model) is appended verbatim,
    * and ids tombstoned in the old store but physically present in the
    * new one are re-tombstoned there (deleted-count-sized, broadcast).
    * (2) SWEEP, after the swap and before GC: the same gap copy once
    * more, catching anything that landed in `v<from>` between the
    * catch-up read and the swap (sweep rows become visible file-by-file
    * — the ingest contract's searchable-while-growing visibility). A
    * batch still IN FLIGHT at the swap needs no sweep: its own
    * post-publish version re-check sees the new CURRENT and re-publishes
    * (deduped) via the write-ahead-intent protocol
    * ([[graft.streaming.StreamingAnnIngest.appendBatchVersioned]]). With
    * ingest and maintenance on one driver (the `onBatch` pattern, or any
    * serialized scheduler) no batch is ever lost or doubled; OUT-OF-BAND
    * maintenance racing an in-flight batch from another process can
    * double-carry (sweep and self-heal copying the same rows
    * concurrently) — serialize via the `onBatch` quiesce point.
    * `onBeforeCatchup` / `onBeforeCutover` run before the catch-up read /
    * before the pointer swap (telemetry, or the deterministic interleave
    * points the seam specs drive). */
  def compactVersioned(
      spark: SparkSession,
      base: String,
      gcOldVersion: Boolean = true,
      onBeforeCatchup: () => Unit = () => (),
      onBeforeCutover: () => Unit = () => ()
  ): Int = {
    val from = currentVersion(spark, base).getOrElse(
      throw new IllegalStateException(s"compact: no CURRENT index under $base"))
    val cand = from + 1
    val vp = versionPath(base, from)
    val np = versionPath(base, cand)
    graft.sources.CachedParquet.read(spark, vp)
      .join(broadcast(tombstones(spark, vp).select(col("id"))),
        Seq("id"), "left_anti")
      .select("id", "codes", "v", "list_id")
      .repartition(col("list_id"))
      .write.mode("overwrite").partitionBy("list_id").parquet(np)
    // the frozen model copies VERBATIM (compaction never re-trains):
    // a driver-side file copy of the _model directory replaces the
    // loadModel + saveModel round-trip (3 reads + 2 collects + 3 writes
    // ≈ 6 Spark jobs) with zero jobs and byte-identical files
    copyModelDir(spark, s"$vp/_model", s"$np/_model")
    onBeforeCatchup()
    // the signature brackets the catch-up read: equal at sweep time means
    // nothing landed since, and the sweep's corpus-wide id probe is skipped
    val sig = storeSignature(spark, vp)
    carryGap(spark, vp, np)
    onBeforeCutover()
    repoint(spark, base, cand)
    if (storeSignature(spark, vp) != sig) carryGap(spark, vp, np)
    if (gcOldVersion) {
      fsOf(spark, base).delete(
        new org.apache.hadoop.fs.Path(vp), true)
      ()
    }
    cand
  }

  /** Recursive driver-side copy of a persisted `_model` directory — used
    * by [[compactVersioned]], whose contract is the SAME frozen model in
    * the new version: copying the files is byte-identical to re-writing
    * the loaded model and costs no Spark jobs. */
  private def copyModelDir(spark: SparkSession, from: String, to: String): Unit = {
    val conf = spark.sparkContext.hadoopConfiguration
    val src = new org.apache.hadoop.fs.Path(from)
    val dst = new org.apache.hadoop.fs.Path(to)
    val fs = src.getFileSystem(conf)
    if (fs.exists(dst)) { fs.delete(dst, true); () }
    org.apache.hadoop.fs.FileUtil.copy(fs, src, fs, dst,
      /* deleteSource = */ false, /* overwrite = */ true, conf)
    ()
  }

  /** Driver-side content signature of a store directory: every file's
    * (path, length), recursively. Two equal signatures bracketing a time
    * window prove no publish/tombstone landed in it — the post-cutover
    * sweep uses this to skip its gap scan entirely in the common quiet
    * case (O(nLists) namenode listing vs a corpus-wide id-column job; a
    * transient staging file only makes the signatures differ, which
    * errs toward running the sweep). */
  private def storeSignature(spark: SparkSession, path: String): Set[(String, Long)] = {
    val fs = fsOf(spark, path)
    val root = new org.apache.hadoop.fs.Path(path)
    if (!fs.exists(root)) Set.empty
    else {
      val it = fs.listFiles(root, true)
      val b = Set.newBuilder[(String, Long)]
      while (it.hasNext) {
        val st = it.next()
        b += ((st.getPath.toString, st.getLen))
      }
      b.result()
    }
  }

  /** Copy the live-row gap (and late tombstones) from `fromPath` into
    * `toPath` — both stores under the SAME frozen model, so rows copy
    * verbatim with their materialized codes and list assignment. The gap
    * is batch-sized; the id-only anti-join probe is the corpus-wide
    * cost. No-op when the gap is empty. */
  private def carryGap(spark: SparkSession, fromPath: String,
      toPath: String): Unit = {
    val oldLive = graft.sources.CachedParquet.read(spark, fromPath)
      .join(broadcast(tombstones(spark, fromPath).select(col("id"))),
        Seq("id"), "left_anti")
      .select("id", "codes", "v", "list_id")
    val newIds = graft.sources.CachedParquet.read(spark, toPath).select(col("id"))
    val delta = oldLive.join(newIds, Seq("id"), "left_anti")
    if (delta.head(1).nonEmpty)
      delta.repartition(col("list_id"))
        .write.mode("append").partitionBy("list_id").parquet(toPath)
    if (hasTombstones(spark, fromPath)) {
      val lateTombs = tombstones(spark, fromPath)
        .join(graft.sources.CachedParquet.read(spark, toPath).select(col("id")),
          Seq("id"), "left_semi")
        .join(tombstones(spark, toPath), Seq("id"), "left_anti")
      if (lateTombs.head(1).nonEmpty)
        lateTombs.write.mode("append").parquet(s"$toPath/_tombstones")
    }
  }

  /** DRIFT-DRIVEN RETRAIN with blue/green cutover — what composes the
    * three existing pieces ([[Ivf.indexStats]] emits the drift signal,
    * [[buildIndex]] the mechanism, the pointer the atomicity): train
    * FRESH quantizers on `corpus` into the next version, measure
    * recall@`topK` of the candidate against exact brute force on
    * `probeQueries`, and PROMOTE (atomic repoint + GC of the old store)
    * only if recall ≥ `recallFloor` — a bad candidate is deleted and the
    * old version keeps serving, so the floor is a safety gate, not a
    * hope. Searches issued at any point see a complete store: before the
    * swap the old one, after it the new one (spec-asserted,
    * `AnnRetrainSpec`). The promoted index equals a one-shot
    * [[buildIndex]] on the same corpus (training is deterministic), which
    * is what the q_ann_retrain oracle replays in SQL. */
  def retrain(
      corpus: DataFrame,
      idCol: String,
      vecCol: String,
      base: String,
      dim: Int,
      probeQueries: DataFrame,
      nLists: Int = 0,
      m: Int = 8,
      kCodes: Int = 16,
      topK: Int = 5,
      nProbe: Int = 12,
      shortlist: Int = 100,
      recallFloor: Double = 0.90,
      /** Delete the old version immediately on promotion. A deployment
        * with long-running searches sets `false` and GCs `v<from>` after
        * a grace period instead — a search that resolved the pointer
        * BEFORE the swap keeps reading the old (complete, untouched)
        * store and stays result-correct (spec-asserted). */
      gcOldVersion: Boolean = true,
      /** CATCH-UP (closes the retrain ↔ streaming-ingest seam): vectors
        * that reached the SERVING store after the caller snapshotted
        * `corpus` — e.g. a concurrent [[graft.streaming
        * .StreamingAnnIngest]] batch — would otherwise vanish from the
        * promoted version. When `true`, the serving store's live rows
        * (tombstones excluded) are anti-joined against the candidate's
        * ids and the delta is re-encoded into the candidate under its
        * FRESH model before the recall gate, which then verifies against
        * brute force over `corpus ∪ delta`; after the pointer swap the
        * same gap pass runs ONCE MORE (the post-cutover sweep — see
        * [[compactVersioned]]'s doc), so a batch committed into the old
        * version between the catch-up read and the swap is re-encoded
        * before GC, and an in-flight batch self-heals via the
        * write-ahead-intent protocol. When the snapshot covers the store
        * (the gated q_ann_retrain shape) both passes are no-op id-only
        * anti-joins. */
      catchupFromCurrent: Boolean = true,
      /** Runs after the recall gate passes, before the pointer swap —
        * telemetry, or the deterministic interleave point the sweep spec
        * drives. */
      onBeforeCutover: () => Unit = () => ()
  ): RetrainResult = {
    val spark = corpus.sparkSession
    val from = currentVersion(spark, base).getOrElse(
      throw new IllegalStateException(s"retrain: no CURRENT index under $base"))
    val cand = from + 1
    val vp = versionPath(base, cand)
    val model = trainModel(corpus, idCol, vecCol, dim, nLists, m, kCodes)
    val nl = model.coarse.length
    // NOT overlapped: writeRows' overwrite clears the whole candidate
    // directory at job start (see buildVersioned)
    writeRows(corpus, idCol, vecCol, vp, model, overwrite = true)
    saveModel(spark, model, s"$vp/_model")
    // the signature brackets the catch-up read (see compactVersioned): an
    // unchanged old store at promotion time skips the sweep's id probe
    val preCatchupSig =
      if (catchupFromCurrent) storeSignature(spark, versionPath(base, from))
      else Set.empty[(String, Long)]
    val delta: Option[DataFrame] =
      if (!catchupFromCurrent) None
      else reencodeGap(spark, versionPath(base, from), vp, model, idCol, vecCol)
    // recall@topK of the candidate vs exact brute force on the probe set
    // (over corpus ∪ caught-up delta — what the candidate actually holds).
    // The candidate search and the brute-force pass are independent reads
    // of settled state — overlapped (guide §2.6)
    val exactCorpus = delta match {
      case Some(d) => corpus.select(col(idCol), col(vecCol)).unionByName(d)
      case None => corpus
    }
    val (got, exact) = awaitBoth(spark)(
      searchIndex(spark, vp, model, probeQueries, idCol, vecCol, topK,
          math.min(nProbe, nl), shortlist)
        .select(col("query_id"), col("neighbor_id"))
        .collect().map(r => (r.get(0), r.get(1))).toSet,
      Similarity.bruteForceTopK(exactCorpus, probeQueries, idCol, vecCol, topK)
        .select(col("query_id"), col("neighbor_id"))
        .collect().map(r => (r.get(0), r.get(1))).toSet)
    delta.foreach { d => d.unpersist(); () }
    val recall = if (exact.isEmpty) 0.0
      else got.intersect(exact).size.toDouble / exact.size
    val fs = fsOf(spark, base)
    if (recall >= recallFloor) {
      onBeforeCutover()
      repoint(spark, base, cand)
      // post-cutover sweep (see compactVersioned doc): a batch committed
      // into the old version between the catch-up read and the swap is
      // re-encoded under the fresh model before GC; an in-flight batch
      // self-heals via the write-ahead-intent protocol; an unchanged
      // file signature proves the window was quiet and skips the probe
      if (catchupFromCurrent &&
          storeSignature(spark, versionPath(base, from)) != preCatchupSig)
        reencodeGap(spark, versionPath(base, from), vp, model, idCol, vecCol)
          .foreach { d => d.unpersist(); () }
      if (gcOldVersion) {
        fs.delete(new org.apache.hadoop.fs.Path(versionPath(base, from)), true)
        ()
      }
      RetrainResult(from, cand, promoted = true, recall)
    } else {
      fs.delete(new org.apache.hadoop.fs.Path(vp), true)
      RetrainResult(from, cand, promoted = false, recall)
    }
  }

  /** Re-encode the live-row gap between `oldPath` and `newPath` into
    * `newPath` under `model` (the NEW store's quantizers — unlike
    * [[carryGap]], which copies verbatim under a shared frozen model).
    * The existence probe runs on the ID COLUMN ONLY: the common case
    * (the new store covers the old) must not pay a vector-column scan —
    * at scale the raw vectors are ~32x the codes, and reading them
    * corpus-wide to discover an empty gap would make every retrain cost
    * a full corpus pass. Ids vs ids is a plain keyed anti-join
    * (sort-merge at scale); vectors are fetched only for the gap ids.
    * Returns the appended gap rows (caller unpersists), None when
    * empty. */
  private def reencodeGap(
      spark: SparkSession,
      oldPath: String,
      newPath: String,
      model: PqIndexModel,
      idCol: String,
      vecCol: String
  ): Option[DataFrame] = {
    val liveIds0 = graft.sources.CachedParquet.read(spark, oldPath).select(col("id"))
    val liveIds = if (hasTombstones(spark, oldPath))
      liveIds0.join(broadcast(tombstones(spark, oldPath)), Seq("id"), "left_anti")
    else liveIds0
    val deltaIds = liveIds
      .join(graft.sources.CachedParquet.read(spark, newPath).select(col("id")), Seq("id"), "left_anti")
      .persist()
    if (deltaIds.head(1).isEmpty) { deltaIds.unpersist(); None }
    else {
      val d = graft.sources.CachedParquet.read(spark, oldPath).select(col("id"), col("v"))
        .join(deltaIds, Seq("id"), "left_semi")
        .select(col("id").as(idCol), col("v").as(vecCol))
        .persist()
      deltaIds.unpersist()
      appendToIndex(d, idCol, vecCol, newPath, model)
      Some(d)
    }
  }

  /** MAINTENANCE POLICY over a disk store — the decision operator that
    * composes the lifecycle: reads the store's own telemetry (id and
    * list_id columns only — vectors and codes pruned out) plus the
    * tombstone log and emits ONE row recommending the next maintenance
    * action by documented thresholds:
    *
    *  - `retrain` when the hottest list's live-row load ratio reaches
    *    `retrainMaxLoadRatio` — assignment drift: probes of that list
    *    scan `ratio/nLists` of the corpus, and fresh quantizers are the
    *    only fix (a compact rewrites the same skew);
    *  - `compact` when the tombstoned fraction reaches
    *    `compactTombstoneFrac` — every search pays the anti-join and the
    *    dead rows' I/O until a [[compactVersioned]]/[[rebuildIndex]];
    *  - `none` otherwise.
    *
    * Output: `(n_rows, n_live, tombstone_frac, occupied_lists,
    * max_load_ratio, action)`. The thresholds compare UNROUNDED ratios
    * (integer divisions are IEEE-deterministic, so the oracle's CASE
    * reproduces the decision bit-exactly); the reported columns round to
    * 6 dp. Cost: one pruned two-column scan + two scalar aggregates —
    * safe to run per ingest batch at any corpus size. */
  def maintenancePlan(
      spark: SparkSession,
      path: String,
      nLists: Int,
      compactTombstoneFrac: Double = 0.10,
      retrainMaxLoadRatio: Double = 3.0
  ): DataFrame = {
    val rows = graft.sources.CachedParquet.read(spark, path).select(col("id"), col("list_id"))
    val ts = tombstones(spark, path).select(col("id")).withColumn("__t", lit(1))
    val flagged = rows.join(broadcast(ts), Seq("id"), "left")
      .select(col("list_id"), coalesce(col("__t"), lit(0)).as("tomb"))
    val per = flagged.filter(col("tomb") === 0).groupBy("list_id")
      .agg(count(lit(1)).as("n_live_list"))
    val totals = flagged.agg(count(lit(1)).as("n_rows"),
      sum("tomb").cast("long").as("n_tomb"))
    val liveAgg = per.agg(sum("n_live_list").as("n_live"),
      count(lit(1)).as("occupied_lists"), max("n_live_list").as("max_live"))
    // two 1-row aggregates: broadcast scalar join, never a real cartesian
    totals.crossJoin(broadcast(liveAgg))
      .withColumn("__frac", col("n_tomb").cast("double") / col("n_rows"))
      .withColumn("__load",
        col("max_live").cast("double") * nLists / col("n_live"))
      .select(col("n_rows"), col("n_live"),
        round(col("__frac"), 6).as("tombstone_frac"),
        col("occupied_lists"),
        round(col("__load"), 6).as("max_load_ratio"),
        when(col("__load") >= retrainMaxLoadRatio, "retrain")
          .when(col("__frac") >= compactTombstoneFrac, "compact")
          .otherwise("none").as("action"))
  }

  /** Query the disk index: ADC over pruned code partitions → shortlist →
    * exact cosine re-rank over a bounded pruned raw read. Output schema
    * matches [[Similarity.bruteForceTopK]]:
    * `(query_id, rank, neighbor_id, cosine)`, `rank ≤ topK`. */
  def searchIndex(
      spark: SparkSession,
      path: String,
      model: PqIndexModel,
      queries: DataFrame,
      idCol: String,
      vecCol: String,
      topK: Int,
      nProbe: Int,
      shortlist: Int = 100
  ): DataFrame = {
    val nLists = model.coarse.length
    require(nProbe >= 1 && nProbe <= nLists, s"nProbe=$nProbe not in 1..$nLists")
    require(shortlist >= topK, s"shortlist=$shortlist < topK=$topK")
    val qBase = Ivf.validRows(queries, vecCol, model.dim)
    val probes = Ivf.probeLists(qBase, idCol, vecCol, model.coarse, nProbe)
    // partition pruning: the union of probed lists, a bounded
    // |queries|·nProbe-row fetch; dedup on the driver — a distributed
    // distinct on these few rows costs a shuffle + an extra AQE job
    val probedLists = probes.select("list_id")
      .collect().map(_.getInt(0)).distinct.sorted.toSeq
    // ONE pruned store frame feeds the code scan and the re-rank read:
    // each read builds its own file index, and listing a store of more
    // than 32 list directories is a Spark job of its own
    val store = graft.sources.CachedParquet.read(spark, path)
      .filter(col("list_id").isin(probedLists: _*))
    // corpus-wide pass: code columns ONLY (ReadSchema excludes v)
    val codes0 = store.select(col("id").as("neighbor_id"), col("codes"), col("list_id"))
    // deleted ids can never surface: broadcast anti-join against the
    // tombstone log (joined only when the log exists, so tombstone-free
    // indexes keep the exact audited plan); the shortlist and re-rank
    // inherit the exclusion downstream
    val codes =
      if (hasTombstones(spark, path))
        codes0.join(broadcast(tombstones(spark, path)
          .select(col("id").as("neighbor_id"))), Seq("neighbor_id"), "left_anti")
      else codes0
    // per-query LUT as ONE nested array + row-local ADC fold
    // ([[graft.functions.adc_sum]]): the candidate rows flow straight from
    // the pruned code scan into the shortlist window's single query_id
    // exchange
    val short = Pq.adcTopN(Pq.probedCandidates(codes, probes,
        Pq.lutFrame(qBase, idCol, vecCol, model.books)), shortlist)
      .select("query_id", "neighbor_id")
    // exact re-rank: second pruned scan, raw vectors for shortlist rows only
    Pq.rerank(store.select(col("id").as("neighbor_id"), col("v"))
      .join(broadcast(short), Seq("neighbor_id")), qBase, idCol, vecCol, topK)
  }
}
