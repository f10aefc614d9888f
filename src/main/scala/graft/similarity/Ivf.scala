package graft.similarity

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import graft.functions.{cosine_sim, q6_dots, QuantOps}

/** IVF (inverted-file) coarse quantizer — the routing half of the
  * IVFADC stack (Jégou et al., TPAMI 2011; [[Pq]] is the compression
  * half, [[AnnIndex]] the disk store), re-expressed as Spark dataflow.
  * One quantizer, integer-exact end to end so plain SQL replays it:
  *
  *  1. TRAIN ([[trainCentroidsQuantized]] / [[centroidsFromSample]]):
  *     integer Lloyd iterations on a bounded driver-side sample (the
  *     first `sampleSize` valid rows by id) → `nLists` centroids of
  *     [[QuantOps.q6]] longs. The sample bounds the list count:
  *     `nLists` can never exceed the rows it holds.
  *  2. ASSIGN: every corpus vector goes to its first-max centroid's list
  *     ([[firstMax]] over one [[graft.functions.q6_dots]] kernel call per
  *     row) — a pure map, no shuffle.
  *  3. PROBE ([[probeLists]]): each query probes its `nProbe` best lists
  *     ([[probeOrder]]); candidates = corpus rows in those lists
  *     (equi-join on `list_id`, queries broadcast), then an exact cosine
  *     re-rank ([[ivfTopKExact]]) or ADC over PQ codes ([[Pq.ivfPqTopK]],
  *     [[AnnIndex.searchIndex]]).
  *
  * Recall < 1 by design (a true neighbor can live in an unprobed list);
  * raise `nProbe` toward `nLists` to trade compute for recall — at
  * `nProbe = nLists` [[ivfTopKExact]] equals [[Similarity.bruteForceTopK]].
  */
object Ivf {

  /** Column: 0-based index of the first maximum of a score array — ties
    * to the SMALLER index, null scores ignored (null when all are). */
  private[graft] def firstMax(scores: Column): Column =
    (array_position(scores, array_max(scores)) - 1).cast("int")

  /** Column: the `nProbe` best `(s, i)` structs of an `nLists` score
    * array, best first — descending `(score, index)`, so ties go to the
    * HIGHER index and null scores rank last. */
  private[graft] def probeOrder(scores: Column, nLists: Int, nProbe: Int): Column =
    slice(sort_array(arrays_zip(scores.as("s"), sequence(lit(0), lit(nLists - 1)).as("i")),
      asc = false), 1, nProbe)

  /** The rows every trainer, index writer and query side admits: a
    * non-null vector of exactly `dim` components. */
  private[similarity] def validRows(df: DataFrame, vecCol: String, dim: Int): DataFrame =
    df.filter(col(vecCol).isNotNull && size(col(vecCol)) === dim)

  /** `(query_id, list_id)`, one row per probe: each query's `nProbe` best
    * lists of `coarse` ([[probeOrder]] — ties to the HIGHER centroid id).
    * `queries` holds [[validRows]] only. */
  private[similarity] def probeLists(
      queries: DataFrame,
      idCol: String,
      vecCol: String,
      coarse: Array[Array[Long]],
      nProbe: Int
  ): DataFrame =
    queries
      .select(col(idCol).as("query_id"),
        explode(probeOrder(q6_dots(col(vecCol), coarse), coarse.length, nProbe)).as("__p"))
      .select(col("query_id"), col("__p.i").cast("int").as("list_id"))

  /** Per-list occupancy report for a disk index: `(list_id, n_vectors,
    * load_ratio)` with `load_ratio` relative to perfect balance — the
    * operator that decides when the frozen quantizer has drifted enough
    * to re-train (a hot list degrades probe cost toward a scan). One
    * aggregation over the index's partition column (list sizes only; the
    * vectors are never read — column pruning reaches the scan). */
  def indexStats(spark: org.apache.spark.sql.SparkSession, path: String,
      nLists: Int): DataFrame = {
    val per = graft.sources.CachedParquet.read(spark, path)
      .groupBy("list_id").agg(count(lit(1)).as("n_vectors"))
    val tot = per.agg(sum("n_vectors").as("__tot"))
    per.crossJoin(broadcast(tot))
      .select(col("list_id"), col("n_vectors"),
        (col("n_vectors").cast("double") * nLists / col("__tot")).as("load_ratio"))
  }

  /** The one training-sample query of the quantized IVF and PQ trainers:
    * the first `n` rows by ascending id, skipping null vectors and vectors
    * whose length is not `dim` (the rows the index writers also skip).
    * Numeric ids sort exactly (the oracle's ORDER BY id); ids that do not
    * cast to a long (try_cast → null) fall back to string order instead
    * of throwing under ANSI. With unique ids the order is total, so the
    * first `n'` rows of this sample ARE the `n'`-row sample: one collect
    * of the larger size serves both trainers ([[AnnIndex.trainModel]]). */
  def trainingSampleQuery(
      df: DataFrame,
      idCol: String,
      vecCol: String,
      dim: Int,
      n: Int
  ): DataFrame =
    validRows(df, vecCol, dim)
      .select(col(idCol).try_cast("long").as("id"),
        col(idCol).cast("string").as("ids"), col(vecCol).as("v"))
      .orderBy("id", "ids").limit(n)

  /** Collects a [[trainingSampleQuery]] (one job) as [[QuantOps.q6]] longs. */
  def trainingSample(query: DataFrame): Array[Array[Long]] =
    query.collect().map(_.getSeq[Float](2).toArray.map(QuantOps.q6))

  /** INTEGER-EXACT spherical-ish k-means on the deterministic sample of
    * [[trainingSampleQuery]] (first `sampleSize` valid rows by ascending id),
    * re-expressed so an external SQL engine can replay training bit-for-bit
    * (the md5-twin playbook applied to k-means — exact long algebra instead
    * of drift-prone float means):
    *
    *  - components quantize once: [[QuantOps.q6]], `floor(x·1e6)` as a long (the
    *    corpus embeddings are unit-norm, so inner-product assignment IS
    *    cosine assignment and no per-vector normalization is needed);
    *  - E-step: argmax of LONG dot products (≤ 64·1e12 per dot — no
    *    overflow, no float rounding), ties to the lowest centroid index;
    *  - M-step: component means as `floorDiv(Σ q6, count)` — exact
    *    integer division, an empty list keeps its centroid.
    *
    * Every quantity is an integer below 2^53, so a DOUBLE-arithmetic SQL
    * engine reproduces each step exactly; that is what graduates the IVF
    * query from rows-only to a full hash-match oracle. Quantization moves
    * centroids by ≤ 1e-6 per component vs float training — irrelevant to
    * recall, decisive for reproducibility. A thin wrapper: sample, then
    * [[centroidsFromSample]]; a caller that also trains PQ codebooks
    * shares one sample instead ([[AnnIndex.trainModel]]). */
  def trainCentroidsQuantized(
      df: DataFrame,
      idCol: String,
      vecCol: String,
      dim: Int,
      nLists: Int,
      iters: Int = 8,
      sampleSize: Int = 2048
  ): Array[Array[Long]] =
    centroidsFromSample(trainingSample(trainingSampleQuery(df, idCol, vecCol, dim, sampleSize)),
      dim, nLists, iters)

  /** The driver-side Lloyd loop of [[trainCentroidsQuantized]] over a
    * [[trainingSample]] (`dim`-long quantized vectors in id order). */
  def centroidsFromSample(
      sample: Array[Array[Long]],
      dim: Int,
      nLists: Int,
      iters: Int = 8
  ): Array[Array[Long]] = {
    require(sample.length >= nLists, s"sample ${sample.length} < nLists $nLists")
    var centroids = Array.tabulate(nLists)(i => sample((i * sample.length) / nLists).clone())
    var it = 0
    while (it < iters) {
      val sums = Array.fill(nLists)(new Array[Long](dim))
      val counts = new Array[Int](nLists)
      sample.foreach { v =>
        var best = 0; var bestDot = Long.MinValue; var i = 0
        while (i < nLists) {
          var dot = 0L; var d = 0
          val c = centroids(i)
          while (d < dim) { dot += c(d) * v(d); d += 1 }
          if (dot > bestDot) { bestDot = dot; best = i } // strict >: first max wins ties
          i += 1
        }
        counts(best) += 1
        var d = 0
        while (d < dim) { sums(best)(d) += v(d); d += 1 }
      }
      centroids = Array.tabulate(nLists) { i =>
        if (counts(i) == 0) centroids(i) // empty list keeps its centroid
        else sums(i).map(s => Math.floorDiv(s, counts(i).toLong))
      }
      it += 1
    }
    centroids
  }

  /** End-to-end IVF top-k with INTEGER-EXACT training + assignment +
    * probing ([[trainCentroidsQuantized]]): the coarse-quantizer routing is
    * reproducible in plain SQL, so the whole query carries a full
    * hash-match oracle; only the final rerank uses float cosine, rounded
    * like every other ANN query. The IVF-Flat shape: assignment is a
    * row-local argmax map, probes broadcast, candidates = corpus rows in
    * probed lists only, ranked by exact cosine. Vectors
    * whose length is not `dim` (or null) are neither trained on nor
    * assigned a list, so they are never candidates. */
  def ivfTopKExact(
      corpus: DataFrame,
      queries: DataFrame,
      idCol: String,
      vecCol: String,
      dim: Int,
      k: Int,
      nLists: Int = 16,
      nProbe: Int = 6,
      iters: Int = 8,
      sampleSize: Int = 2048
  ): DataFrame = {
    require(nProbe >= 1 && nProbe <= nLists)
    val centroids = trainCentroidsQuantized(corpus, idCol, vecCol, dim, nLists, iters, sampleSize)
    val assigned = corpus
      .repartition(corpus.sparkSession.sparkContext.defaultParallelism)
      .select(col(idCol).as("id"), col(vecCol).as("v"))
      .withColumn("list_id", firstMax(q6_dots(col("v"), centroids)))
    // nProbe best lists per query, ties to the HIGHER centroid index —
    // mirrored by the oracle's ORDER BY dot DESC, cid DESC
    val probes = queries
      .select(col(idCol).as("query_id"), col(vecCol).as("qv"))
      .withColumn("__probe", explode(probeOrder(q6_dots(col("qv"), centroids), nLists, nProbe)))
      .withColumn("list_id", col("__probe.i").cast("int"))
      .drop("__probe")
    val scored = assigned.join(broadcast(probes), Seq("list_id"))
      .filter(col("id") =!= col("query_id"))
      .select(col("query_id"), col("id").as("neighbor_id"),
        cosine_sim(col("qv"), col("v")).as("cosine"))
    Similarity.topKByKey(scored, "query_id", "cosine", "neighbor_id", k)
  }
}
