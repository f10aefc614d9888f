package graft.similarity

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import graft.functions.{cosine_sim, dot_product, q6_dots, QuantOps}

/** IVF (inverted-file) approximate nearest-neighbor search — the classic
  * coarse-quantizer scale path for embedding search (public design: FAISS
  * IVF-Flat; here re-expressed as Spark dataflow):
  *
  *  1. TRAIN: spherical k-means → `nLists` unit centroids. Two trainers:
  *     a bounded driver-side sample (fast, fine while nLists is small),
  *     and [[trainCentroidsDistributed]] — full-corpus E/M over Spark
  *     (select it with `sampleSize <= 0`), required once nLists grows
  *     with corpus size past what a fixed sample can seed.
  *  2. ASSIGN: every corpus vector goes to its nearest centroid's list —
  *     a pure map (argmax of `nLists` dot products: one `dot_product`
  *     kernel call per centroid, compiled built-ins for the argmax), no
  *     shuffle.
  *  3. PROBE: each query is scored against the same centroids and probes
  *     its `nProbe` best lists; candidates = corpus rows in those lists
  *     (equi-join on `list_id`, queries broadcast), then exact cosine +
  *     bounded-heap top-k rerank.
  *
  * Recall < 1 by design (a true neighbor can live in an unprobed list);
  * raise `nProbe` toward `nLists` to trade compute for recall — at
  * `nProbe = nLists` results equal [[Similarity.bruteForceTopK]].
  */
object Ivf {

  /** Spherical k-means (Lloyd's, cosine assignment) on a deterministic
    * sample: first `sampleSize` rows by ascending id. Returns unit-norm
    * centroids. */
  def trainCentroids(
      df: DataFrame,
      idCol: String,
      vecCol: String,
      nLists: Int,
      iters: Int = 8,
      sampleSize: Int = 2048
  ): Array[Array[Float]] = {
    val sample: Array[Array[Float]] = df
      .select(col(idCol).cast("long").as("id"), col(vecCol).as("v"))
      .orderBy("id").limit(sampleSize)
      .collect()
      .map(_.getSeq[Float](1).toArray)
      .map(normalize)
    require(sample.length >= nLists, s"sample ${sample.length} < nLists $nLists")
    val dim = sample.head.length
    // init: evenly spaced sample points (deterministic, spread across ids)
    var centroids = Array.tabulate(nLists)(i => sample((i * sample.length) / nLists).clone())
    var it = 0
    while (it < iters) {
      val sums = Array.fill(nLists)(new Array[Double](dim))
      val counts = new Array[Int](nLists)
      sample.foreach { v =>
        val a = nearest(centroids, v)
        counts(a) += 1
        var d = 0
        while (d < dim) { sums(a)(d) += v(d); d += 1 }
      }
      centroids = Array.tabulate(nLists) { i =>
        if (counts(i) == 0) centroids(i) // empty list keeps its centroid
        else normalize(sums(i).map(_.toFloat))
      }
      it += 1
    }
    centroids
  }

  /** Full-corpus spherical k-means — the trainer that scales past what a
    * driver sample supports: nLists must grow with corpus size (FAISS
    * guidance ~√N lists), and at 100 TB a 2048-row sample cannot even
    * seed 4096 lists. Same E/M shape as
    * [[Similarity.kmeansAssign]]/[[Similarity.kmeansUpdate]], specialized
    * to the cosine objective:
    *
    *  - E-step: centroids BROADCAST as a literal matrix; assignment is a
    *    row-local argmax of dot products (codegen'd kernels, no shuffle —
    *    the corpus streams through map tasks once per iteration);
    *  - M-step: `posexplode` each unit vector and hash-aggregate
    *    `(list, dim)` partial sums — map-side combine bounds the shuffle
    *    at `nLists·dim` rows regardless of corpus size; only that frame
    *    reaches the driver to rebuild the broadcast matrix.
    *
    * Per-component sums are floor-quantized to integer nano-units and
    * summed as longs (the [[Similarity.kmeansAssign]] trick), so every
    * iteration is EXACT and partition-order independent — distributed
    * training is as deterministic as the driver-sample path. Init =
    * vectors at `nLists` evenly spaced id quantiles (one
    * `percentile_approx` pass, a bounded nLists-row fetch). */
  def trainCentroidsDistributed(
      df: DataFrame,
      idCol: String,
      vecCol: String,
      nLists: Int,
      iters: Int = 4
  ): Array[Array[Float]] = {
    val nrm2 = aggregate(transform(col("v0"), x => x.cast("double") * x),
      lit(0.0), (a, x) => a + x)
    val unit = df
      .select(col(idCol).cast("long").as("id"), col(vecCol).as("v0"))
      .withColumn("v",
        when(sqrt(nrm2) === 0.0, col("v0").cast("array<double>"))
          .otherwise(transform(col("v0"), x => x.cast("double") / sqrt(nrm2))))
      .select(col("id"), col("v").cast("array<float>").as("v"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    try {
      // init: rows at evenly spaced id quantiles (deterministic, one pass)
      val ps = (0 until nLists).map(i => (i + 0.5) / nLists)
      val cutIds = unit.agg(percentile_approx(col("id"),
          typedLit(ps), lit(100000)).as("cuts"))
        .head().getSeq[Long](0).distinct
      require(cutIds.length >= nLists,
        s"corpus has only ${cutIds.length} distinct id quantiles < nLists $nLists")
      var centroids: Array[Array[Float]] = unit
        .filter(col("id").isin(cutIds: _*))
        .dropDuplicates("id").orderBy("id").limit(nLists)
        .collect().map(_.getSeq[Float](1).toArray)
      var it = 0
      while (it < iters) {
        val summed = unit
          .withColumn("list_id", argmaxList(col("v"), centroids))
          .select(col("list_id"), posexplode(col("v")).as(Seq("pos", "x")))
          .groupBy("list_id", "pos")
          .agg(sum(floor(col("x").cast("double") * 1e9).cast("long")).as("s"))
          .collect()
        val dim = centroids.head.length
        val sums = Array.fill(nLists)(new Array[Double](dim))
        val touched = new Array[Boolean](nLists)
        summed.foreach { r =>
          val l = r.getInt(0); touched(l) = true
          sums(l)(r.getInt(1)) = r.getLong(2).toDouble / 1e9
        }
        centroids = Array.tabulate(nLists) { i =>
          if (!touched(i)) centroids(i) // empty list keeps its centroid
          else normalize(sums(i).map(_.toFloat))
        }
        it += 1
      }
      centroids
    } finally unit.unpersist()
  }

  private def normalize(v: Array[Float]): Array[Float] = {
    var s = 0.0; var i = 0
    while (i < v.length) { s += v(i).toDouble * v(i); i += 1 }
    val n = math.sqrt(s)
    if (n == 0.0) v else v.map(x => (x / n).toFloat)
  }

  private def nearest(centroids: Array[Array[Float]], v: Array[Float]): Int = {
    var best = 0; var bestDot = Double.MinValue; var i = 0
    while (i < centroids.length) {
      var dot = 0.0; var d = 0
      val c = centroids(i)
      while (d < v.length) { dot += c(d).toDouble * v(d); d += 1 }
      if (dot > bestDot) { bestDot = dot; best = i }
      i += 1
    }
    best
  }

  /** Column: array of dot products of `vec` against each centroid. */
  private def centroidScores(vec: Column, centroids: Array[Array[Float]]): Column =
    array(centroids.toIndexedSeq.map(c => dot_product(vec, typedLit(c.toSeq))): _*)

  /** Column: 0-based index of the best-scoring centroid (ties → first). */
  private def argmaxList(vec: Column, centroids: Array[Array[Float]]): Column =
    firstMax(centroidScores(vec, centroids))

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

  /** Materialize an IVF index on disk: corpus assigned to lists and
    * written `partitionBy(list_id)` — every probe then reads ONLY the
    * probed lists' files (partition pruning, visible as PartitionFilters
    * in the scan). This is how the coarse quantizer actually pays off at
    * 100 TB: the per-query scan cost drops to nProbe/nLists of the corpus
    * without any custom reader. Returns the trained centroids (persist
    * them alongside the index for future sessions). */
  def buildIndex(
      corpus: DataFrame,
      idCol: String,
      vecCol: String,
      path: String,
      nLists: Int = 16,
      iters: Int = 8,
      sampleSize: Int = 2048
  ): Array[Array[Float]] = {
    val centroids =
      if (sampleSize <= 0) trainCentroidsDistributed(corpus, idCol, vecCol, nLists, iters)
      else trainCentroids(corpus, idCol, vecCol, nLists, iters, sampleSize)
    corpus
      .select(col(idCol).as("id"), col(vecCol).as("v"))
      .withColumn("list_id", argmaxList(col("v"), centroids))
      .write.mode("overwrite").partitionBy("list_id").parquet(path)
    centroids
  }

  /** INCREMENTAL index maintenance — the daily-ingest shape: assign a new
    * batch to the EXISTING centroids (frozen quantizer, the standard IVF
    * practice: re-training moves every list boundary and forces a full
    * rebuild, so production indexes freeze the quantizer and re-train
    * offline when [[indexStats]] shows drift) and APPEND the rows to the
    * partitioned store. `searchIndex` over an incrementally-grown index is
    * row-identical to one built in one shot with the same centroids
    * (spec-asserted): assignment is per-row, the store is append-only, and
    * probing reads whole lists. */
  def appendToIndex(
      batch: DataFrame,
      idCol: String,
      vecCol: String,
      path: String,
      centroids: Array[Array[Float]]
  ): Unit =
    batch
      .select(col(idCol).as("id"), col(vecCol).as("v"))
      .withColumn("list_id", argmaxList(col("v"), centroids))
      .write.mode("append").partitionBy("list_id").parquet(path)

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

  /** Query a disk IVF index built by [[buildIndex]]: per-query probe lists
    * become a pushed-down `list_id IN (...)` partition filter. */
  def searchIndex(
      spark: org.apache.spark.sql.SparkSession,
      path: String,
      centroids: Array[Array[Float]],
      queries: DataFrame,
      idCol: String,
      vecCol: String,
      k: Int,
      nProbe: Int
  ): DataFrame = {
    val nLists = centroids.length
    require(nProbe >= 1 && nProbe <= nLists)
    val probes = probeLists(queries, idCol, vecCol, centroids, nProbe)
    // partition pruning: restrict the scan to the union of probed lists
    val probedListIds = probes.select("list_id").distinct()
      .collect().map(_.getInt(0)).toSeq
    val index = graft.sources.CachedParquet.read(spark, path)
      .filter(col("list_id").isin(probedListIds: _*))
    val scored = index.join(broadcast(probes), Seq("list_id"))
      .filter(col("id") =!= col("query_id"))
      .select(col("query_id"), col("id").as("neighbor_id"),
        cosine_sim(col("qv"), col("v")).as("cosine"))
    Similarity.topKByKey(scored, "query_id", "cosine", "neighbor_id", k)
  }

  /** (query_id, qv, list_id) rows: each query's nProbe best centroid lists. */
  private def probeLists(
      queries: DataFrame,
      idCol: String,
      vecCol: String,
      centroids: Array[Array[Float]],
      nProbe: Int
  ): DataFrame = {
    val probeIdx = probeOrder(centroidScores(col("qv"), centroids), centroids.length, nProbe)
    queries
      .select(col(idCol).as("query_id"), col(vecCol).as("qv"))
      .withColumn("__probe", explode(probeIdx))
      .withColumn("list_id", col("__probe.i").cast("int"))
      .drop("__probe")
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
    df
      .filter(col(vecCol).isNotNull && size(col(vecCol)) === dim)
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
    * like every other ANN query. Same dataflow shape (and the same 100 TB
    * story) as [[ivfTopK]]: assignment is a row-local argmax map, probes
    * broadcast, candidates = corpus rows in probed lists only. Vectors
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

  /** End-to-end IVF top-k. Output schema matches
    * [[Similarity.bruteForceTopK]]: (query_id, rank, neighbor_id, cosine). */
  def ivfTopK(
      corpus: DataFrame,
      queries: DataFrame,
      idCol: String,
      vecCol: String,
      k: Int,
      nLists: Int = 16,
      nProbe: Int = 4,
      iters: Int = 8,
      sampleSize: Int = 2048
  ): DataFrame = {
    require(nProbe >= 1 && nProbe <= nLists)
    val centroids =
      if (sampleSize <= 0) trainCentroidsDistributed(corpus, idCol, vecCol, nLists, iters)
      else trainCentroids(corpus, idCol, vecCol, nLists, iters, sampleSize)
    val assigned = corpus
      .repartition(corpus.sparkSession.sparkContext.defaultParallelism)
      .select(col(idCol).as("id"), col(vecCol).as("v"))
      .withColumn("list_id", argmaxList(col("v"), centroids))
    val probes = probeLists(queries, idCol, vecCol, centroids, nProbe)
    val scored = assigned.join(broadcast(probes), Seq("list_id"))
      .filter(col("id") =!= col("query_id"))
      .select(col("query_id"), col("id").as("neighbor_id"),
        cosine_sim(col("qv"), col("v")).as("cosine"))
    Similarity.topKByKey(scored, "query_id", "cosine", "neighbor_id", k)
  }
}
