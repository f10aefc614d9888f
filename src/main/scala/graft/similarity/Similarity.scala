package graft.similarity

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.dedup.Dedup
import graft.functions.cosine_sim

/** Approximate-nearest-neighbor search over an embedding column
  * (`array<float>`) — SURVEY.md §2c north-star extension; fixture:
  * `embeddings.parquet` (64-dim float vectors).
  *
  * Scale design: the query set is broadcast (it is small by construction —
  * you search FOR a few thousand probes, not 100 TB of them), so the scan
  * of the corpus is shuffle-free; the per-partition top-k is folded by the
  * ranking window on (query, -cosine). The LSH variant prunes the corpus to
  * sign-bucket collisions first — recall < 1 traded for touching only
  * ~1/2^bitsPerBand of the corpus per band.
  */
object Similarity {

  /** Exact brute-force top-k: every query scored against every corpus row.
    * One broadcast join; ranking via the bounded-heap [[graft.functions.topk_pairs]]
    * aggregate, so the map side reduces each partition to ≤ k rows per query
    * BEFORE the shuffle — the exchange carries k × partitions rows instead
    * of the whole scored corpus (a full ranking window would sort and
    * shuffle all |corpus| × |queries| scores). */
  def bruteForceTopK(
      corpus: DataFrame,
      queries: DataFrame,
      idCol: String,
      vecCol: String,
      k: Int
  ): DataFrame = {
    val c = corpus.repartition(corpus.sparkSession.sparkContext.defaultParallelism)
      .select(col(idCol).as("id"), col(vecCol).as("v"))
    val q = queries.select(col(idCol).as("query_id"), col(vecCol).as("qv"))
    val scored = c.join(broadcast(q), col("id") =!= col("query_id"))
      .select(col("query_id"), col("id").as("neighbor_id"),
        cosine_sim(col("qv"), col("v")).as("cosine"))
    topKByKey(scored, "query_id", "cosine", "neighbor_id", k)
  }

  /** Hard-negative mining for contrastive training: for each query vector,
    * the k most-similar corpus vectors carrying a DIFFERENT label — the
    * "hard" negatives that sit close in embedding space but belong to
    * another class, which is exactly the pair set contrastive losses
    * (InfoNCE, triplet) learn most from.
    *
    * Same scale shape as [[bruteForceTopK]]: queries broadcast, corpus
    * streams through map tasks once, the bounded-heap aggregate reduces
    * each partition to ≤ k rows per query BEFORE the shuffle. The negative
    * label is re-attached afterwards by broadcasting the tiny
    * |queries| × k result back against the corpus — the corpus side is
    * never shuffled. */
  def hardNegativesTopK(
      corpus: DataFrame,
      queries: DataFrame,
      idCol: String,
      vecCol: String,
      labelCol: String,
      k: Int
  ): DataFrame = {
    val c = corpus.repartition(corpus.sparkSession.sparkContext.defaultParallelism)
      .select(col(idCol).as("id"), col(vecCol).as("v"), col(labelCol).as("__nl"))
    val q = queries.select(col(idCol).as("query_id"), col(vecCol).as("qv"),
      col(labelCol).as("__ql"))
    val scored = c.join(broadcast(q), col("__nl") =!= col("__ql"))
      .select(col("query_id"), col("id").as("neighbor_id"),
        cosine_sim(col("qv"), col("v")).as("cosine"))
    val tk = topKByKey(scored, "query_id", "cosine", "neighbor_id", k)
    corpus.select(col(idCol).as("__lid"), col(labelCol).as("neg_label"))
      .join(broadcast(tk), col("__lid") === col("neighbor_id"))
      .select(col("query_id"), col("rank"), col("neighbor_id"),
        col("neg_label"), col("cosine"))
  }

  /** Per-key exact top-k of a scored frame via the heap aggregate; output
    * ranks match `row_number() OVER (PARTITION BY key ORDER BY score DESC,
    * id)` exactly. */
  def topKByKey(scored: DataFrame, keyCol: String, scoreCol: String, idCol: String, k: Int): DataFrame =
    scored
      .groupBy(keyCol)
      .agg(graft.functions.topk_pairs(col(scoreCol), col(idCol), k).as("__tk"))
      .select(col(keyCol), posexplode(col("__tk")).as(Seq("__pos", "__p")))
      .select(col(keyCol), (col("__pos") + 1).cast("int").as("rank"),
        col("__p.id").as(idCol), col("__p.score").as(scoreCol))

  /** Window-ranking variant (full sort + shuffle of all scores) — kept as
    * the correctness baseline for [[bruteForceTopK]] and for callers that
    * need arbitrary extra columns carried through. */
  def bruteForceTopKWindow(
      corpus: DataFrame,
      queries: DataFrame,
      idCol: String,
      vecCol: String,
      k: Int
  ): DataFrame = {
    val c = corpus.select(col(idCol).as("id"), col(vecCol).as("v"))
    val q = queries.select(col(idCol).as("query_id"), col(vecCol).as("qv"))
    val scored = c.join(broadcast(q), col("id") =!= col("query_id"))
      .select(col("query_id"), col("id").as("neighbor_id"),
        cosine_sim(col("qv"), col("v")).as("cosine"))
    val w = Window.partitionBy("query_id").orderBy(col("cosine").desc, col("neighbor_id"))
    scored.withColumn("rank", row_number().over(w)).filter(col("rank") <= k)
  }

  /** Per-vector L2-norm + symmetric int8 quantization summary — the audit
    * pass before shipping embeddings to a vector store (norm for
    * normalization checks, scale + code checksums for quantization QA).
    * One row-local [[graft.functions.quantize_stats]] kernel call per
    * vector. No shuffle: one narrow projection at scan speed. Quantization: `scale = max|x|/127`,
    * `code = floor(x/scale + 0.5)` (explicit floor keeps ties engine-
    * independent; codes span [-127, 127]). */
  def quantizeSummary(df: DataFrame, idCol: String, vecCol: String): DataFrame = {
    // one codegen kernel call per row (graft.functions.QuantizeStats); the
    // earlier 6-HOF formulation re-walked the array with an interpreted
    // lambda per metric — measured ~10× slower on the sf0.1 audit
    val s = graft.functions.quantize_stats(col(vecCol))
    df.select(
      col(idCol),
      round(s.getField("l2_norm"), 4).as("l2_norm"),
      s.getField("n_pos").as("n_pos"),
      s.getField("code_sum").as("code_sum"),
      s.getField("code_l1").as("code_l1"),
      round(s.getField("scale"), 6).as("scale"))
  }

  /** LSH-bucketed ANN top-k: corpus and queries signed with the same random
    * hyperplanes; candidates = rows sharing any band bucket with the query;
    * exact cosine + ranking within candidates only.
    *
    * `probes` adds MULTI-PROBE search: per band the query also probes the
    * buckets at Hamming distance 1 from its own (first `probes` bit
    * flips, 0..bitsPerBand) — the standard recall/scan-cost dial. Probing
    * happens on the QUERY side only (tiny frame, broadcast), so the
    * corpus index is untouched and scan cost grows with the candidate
    * union, not with corpus passes. Measured on the sf0.01 fixtures at
    * the shipped 16-plane/4-band config: recall@5 0.56 at probes=0 →
    * 0.96 at probes=4 (`RecallFloorSpec`). */
  def lshTopK(
      corpus: DataFrame,
      queries: DataFrame,
      idCol: String,
      vecCol: String,
      k: Int,
      dim: Int,
      nPlanes: Int = 16,
      bands: Int = 4,
      seed: Long = 7L,
      probes: Int = 0
  ): DataFrame = {
    require(nPlanes % bands == 0)
    val bitsPerBand = nPlanes / bands
    require(probes >= 0 && probes <= bitsPerBand)
    val mask = (1L << bitsPerBand) - 1
    val planes = Dedup.hyperplanes(nPlanes, dim, seed)
    def banded(df: DataFrame, id: String, v: String) =
      df.select(col(idCol).as(id), col(vecCol).as(v))
        .withColumn("sig", Dedup.signBits(col(v), planes))
        .select(col(id), col(v),
          posexplode(array((0 until bands).map(b =>
            shiftrightunsigned(col("sig"), b * bitsPerBand).bitwiseAND(lit(mask))): _*))
            .as(Seq("band", "bucket")))
    val c = banded(corpus, "id", "v")
    val q0 = banded(queries, "query_id", "qv")
    val q = if (probes == 0) q0
      else q0.withColumn("bucket",
        explode(array(col("bucket") +: (0 until probes).map(b =>
          col("bucket").bitwiseXOR(lit(1L << b))): _*)))
    val candidates = c.join(broadcast(q), Seq("band", "bucket"))
      .filter(col("id") =!= col("query_id"))
      .select(col("query_id"), col("id").as("neighbor_id"), col("qv"), col("v"))
      .distinct()
    val scored = candidates
      .select(col("query_id"), col("neighbor_id"), cosine_sim(col("qv"), col("v")).as("cosine"))
    topKByKey(scored, "query_id", "cosine", "neighbor_id", k)
  }

  /** Exact per-cluster component means as a (label, pos, c) frame —
    * decimal-exact accumulation, so the centroid is identical under any
    * partitioning (the [[kmeansAssign]] seeding and the M-step both use
    * this). */
  def centroidComponents(emb: DataFrame, vecCol: String, labelCol: String): DataFrame =
    emb.select(col(labelCol).as("__label"), posexplode(col(vecCol)).as(Seq("pos", "x")))
      .groupBy("__label", "pos")
      .agg((sum(col("x").cast("double").cast("decimal(30,12)")).cast("double") /
        count(lit(1))).as("c"))

  /** One exact Lloyd E-step at scale: assign every vector to its nearest
    * centroid (squared L2). Centroids are the per-`labelCol` exact means
    * ([[centroidComponents]]); the k×d centroid matrix is assembled into
    * array rows and BROADCAST, so assignment is one row-local
    * `zip_with`/`aggregate` pass over the corpus — no explode, no keyed
    * shuffle of vectors, the only exchange is the k-row centroid frame.
    * That is the shape that survives 100 TB: the corpus streams through
    * map tasks once per iteration.
    *
    * Per-element squared differences are floor-quantized to integer
    * nano-units and summed as longs, so distances are EXACT integers:
    * the argmin (ties → smallest label, via one struct-min hash
    * aggregation — no window sort) is deterministic across engines and
    * partitionings. Output: `idCol`, `assigned`, `dist_sq` (de-quantized
    * double). */
  def kmeansAssign(emb: DataFrame, idCol: String, vecCol: String,
      labelCol: String): DataFrame = {
    val cents = centroidComponents(emb, vecCol, labelCol)
      .groupBy("__label")
      .agg(transform(array_sort(collect_list(struct(col("pos"), col("c")))),
        s => s.getField("c")).as("cent"))
    val sqDiffQ = zip_with(col(vecCol).cast("array<double>"), col("cent"),
      (a, b) => floor((a - b) * (a - b) * lit(1e9)).cast("long"))
    // argmin as ONE plain `min` over a packed long (dq·2^20 + label):
    // min-of-struct and min_by(_, struct) both plan as SortAggregate
    // (struct orderings aren't hash-agg buffer types — measured on the
    // plan dump), while a long min stays a codegen'd HashAggregate with
    // map-side partials. Envelope: labels in [0, 2^20), quantized
    // distances < 2^43 (dist² < ~8.8e3 at 1e9 quantization — generous
    // for normalized embeddings; rescale the quantization for wilder
    // feature scales).
    val labelType = emb.schema(labelCol).dataType
    emb.crossJoin(broadcast(cents))
      .withColumn("__dq", aggregate(sqDiffQ, lit(0L), (acc, x) => acc + x))
      .groupBy(col(idCol))
      .agg(min(col("__dq") * lit(1048576L) + col("__label").cast("long")).as("__packed"))
      .select(col(idCol),
        pmod(col("__packed"), lit(1048576L)).cast(labelType).as("assigned"),
        (shiftrightunsigned(col("__packed"), 20).cast("double") / 1e9).as("dist_sq"))
  }

  /** Simplified (centroid-based) silhouette per cluster — the standard
    * cheap clustering-quality readout: for each vector, `a` = squared
    * distance to its assigned (nearest) centroid, `b` = squared distance
    * to the closest OTHER centroid, `s = (b − a) / max(a, b)` (0 when both
    * are 0), averaged per cluster. True silhouette needs all pairwise
    * distances (O(n²)); the centroid form is the one that scales — one
    * row-local pass against the broadcast k×d centroid matrix, identical
    * to [[kmeansAssign]]'s shape, plus a k-bounded `collect_list` per
    * vector (k = #clusters, never corpus-sized).
    *
    * Distances reuse the exact nano-quantized longs, so the a/b pair and
    * therefore `s` are deterministic rationals any engine reproduces
    * bit-for-bit. Output: `(cluster, n_vecs, avg_silhouette)`. */
  def silhouetteByCluster(emb: DataFrame, idCol: String, vecCol: String,
      labelCol: String): DataFrame = {
    val cents = centroidComponents(emb, vecCol, labelCol)
      .groupBy("__label")
      .agg(transform(array_sort(collect_list(struct(col("pos"), col("c")))),
        s => s.getField("c")).as("cent"))
    val sqDiffQ = zip_with(col(vecCol).cast("array<double>"), col("cent"),
      (a, b) => floor((a - b) * (a - b) * lit(1e9)).cast("long"))
    val labelType = emb.schema(labelCol).dataType
    val packed = emb.crossJoin(broadcast(cents))
      .withColumn("__dq", aggregate(sqDiffQ, lit(0L), (acc, x) => acc + x))
      .groupBy(col(idCol))
      .agg(sort_array(collect_list(col("__dq") * lit(1048576L)
        + col("__label").cast("long"))).as("__ps"))
    val a = shiftrightunsigned(col("__ps")(0), 20).cast("double")
    val b = shiftrightunsigned(col("__ps")(1), 20).cast("double")
    val s = when(greatest(a, b) === 0.0, lit(0.0))
      .otherwise((b - a) / greatest(a, b))
    packed
      .select(pmod(col("__ps")(0), lit(1048576L)).cast(labelType).as("cluster"),
        s.as("__s"))
      .groupBy("cluster")
      .agg(count(lit(1)).as("n_vecs"), avg(col("__s")).as("avg_silhouette"))
  }

  /** The matching M-step: re-compute exact centroids under a new
    * assignment and roll each cluster up to (size, centroid L2 norm) —
    * the convergence signature of the iteration. */
  def kmeansUpdate(emb: DataFrame, assign: DataFrame, idCol: String,
      vecCol: String): DataFrame = {
    val relabeled = emb.join(assign.select(col(idCol), col("assigned")), idCol)
    val comps = centroidComponents(relabeled, vecCol, "assigned")
    comps.groupBy(col("__label").as("cluster"))
      .agg(round(sqrt(sum(col("c") * col("c"))), 4).as("centroid_norm"))
      .join(relabeled.groupBy(col("assigned").as("cluster"))
        .agg(count(lit(1)).as("n_vecs")), Seq("cluster"))
  }

  /** Contrastive triplet mining: for every anchor that has a semantic
    * near-duplicate, emit `(anchor, positive, negative)` where the
    * positive is its best near-dup (highest cosine, ties → smaller id) and
    * the negative is the HARDEST non-positive — the highest-cosine corpus
    * vector that is not the anchor itself and not one of its positives.
    * The margin `pos_cos − neg_cos` is the triplet-loss headroom; mining
    * these is the standard embedding-model fine-tuning data pass.
    *
    * `posPairs` is an `(ida, idb, cosine)` near-dup pair frame (e.g.
    * [[graft.dedup.Dedup.embeddingNearDupPairs]] at scale, or the brute
    * variant for the oracle-exact path). Scale shape: anchors broadcast
    * against one corpus scan, per-partition heap top-1 before the shuffle
    * (the proven ANN shape) — the positive-exclusion anti-join is
    * |anchors|·|their positives|-sized, never corpus². Returns
    * `(anchor_id, positive_id, negative_id, pos_cos, neg_cos, margin)`. */
  /** Matryoshka truncation audit: how much of the exact top-k neighborhood
    * survives when cosine ranking uses only the FIRST `dims` components —
    * the decision metric for shipping truncated (MRL-style) embeddings to
    * a cheaper vector index. Two brute-force rankings (full vs truncated,
    * both the broadcast-queries/heap-top-k shape) joined on
    * (query, neighbor). Returns `(query_id, n_overlap, overlap_frac)` per
    * query. */
  def truncationRecall(emb: DataFrame, queries: DataFrame, idCol: String,
      vecCol: String, dims: Int, k: Int): DataFrame = {
    require(dims >= 1, "dims must be positive")
    def trunc(df: DataFrame) =
      df.withColumn(vecCol, slice(col(vecCol), 1, dims))
    val full = bruteForceTopK(emb, queries, idCol, vecCol, k)
      .select(col("query_id"), col("neighbor_id"))
    val cut = bruteForceTopK(trunc(emb), trunc(queries), idCol, vecCol, k)
      .select(col("query_id"), col("neighbor_id"))
    full.join(cut, Seq("query_id", "neighbor_id"), "left_semi")
      .groupBy("query_id").agg(count(lit(1)).as("n_overlap"))
      .join(queries.select(col(idCol).as("query_id")), Seq("query_id"), "right")
      .select(col("query_id"), coalesce(col("n_overlap"), lit(0L)).as("n_overlap"),
        (coalesce(col("n_overlap"), lit(0L)).cast("double") / k).as("overlap_frac"))
  }

  def contrastiveTriplets(emb: DataFrame, idCol: String, vecCol: String,
      posPairs: DataFrame): DataFrame = {
    val sym = posPairs
      .select(col("ida").as("anchor"), col("idb").as("pos"), col("cosine"))
      .unionByName(posPairs
        .select(col("idb").as("anchor"), col("ida").as("pos"), col("cosine")))
    val wp = Window.partitionBy("anchor").orderBy(col("cosine").desc, col("pos").asc)
    val bestPos = sym.withColumn("__rn", row_number().over(wp))
      .filter(col("__rn") === 1)
      .select(col("anchor"), col("pos").as("positive_id"), col("cosine").as("pos_cos"))
    val anchors = bestPos.select(col("anchor"))
      .join(emb.select(col(idCol).as("anchor"), col(vecCol).as("__qv")), "anchor")
    val scored = emb.repartition(emb.sparkSession.sparkContext.defaultParallelism)
      .select(col(idCol).as("__id"), col(vecCol).as("__v"))
      .join(broadcast(anchors), col("__id") =!= col("anchor"))
      .select(col("anchor"), col("__id").as("negative_id"),
        cosine_sim(col("__qv"), col("__v")).as("neg_cos"))
    val excl = sym.select(col("anchor"), col("pos").as("negative_id"))
    val negs = topKByKey(
      scored.join(excl, Seq("anchor", "negative_id"), "left_anti"),
      "anchor", "neg_cos", "negative_id", 1)
    bestPos.join(negs, "anchor")
      .select(col("anchor").as("anchor_id"), col("positive_id"), col("negative_id"),
        col("pos_cos"), col("neg_cos"), (col("pos_cos") - col("neg_cos")).as("margin"))
  }

  /** Johnson–Lindenstrauss sign projection (Achlioptas 2003: ±1 entries
    * preserve pairwise distances like Gaussian ones, database-friendly):
    * project `vecCol` (dim `inDim`) down to `outDim` coordinates
    * `p_j = Σ_i sign(j,i) · q6(v_i)` with the sign matrix derived from
    * md5 parity of `"seed:j:i"` — engine-reproducible (any SQL engine with
    * md5 rebuilds the identical matrix) and EXACT: `q6` is the repo's
    * `floor(x·1e6)` long quantization, so every projected coordinate is an
    * exact integer sum. Scaling by `1/√outDim` is left to the caller (it
    * would reintroduce floats).
    *
    * Shape: the sign matrix is built ONCE at plan time (one primitive
    * outDim×inDim `long[]`) and the projection is one row-local kernel
    * call ([[graft.functions.q6_dots]]) — no shuffle, no join, no per-row
    * hashing; embarrassingly parallel at any scale. The kernel quantizes
    * floats, so `vecCol` is read as `array<float>`: another numeric array
    * is cast first, and a double component keeps only float precision
    * before `q6`. Returns `(id, dim, proj_q)` exploded per output
    * coordinate. */
  def signProjection(df: DataFrame, idCol: String, vecCol: String,
      inDim: Int, outDim: Int, seed: Long = 42L): DataFrame = {
    require(inDim >= 1 && outDim >= 1 && outDim <= 256, s"dims $inDim->$outDim")
    val mdSigns: Array[Array[Long]] = Array.tabulate(outDim, inDim) { (j, i) =>
      val md = java.security.MessageDigest.getInstance("MD5")
      val hex = md.digest(s"$seed:$j:$i".getBytes("UTF-8"))
        .map("%02x".format(_)).mkString
      val w = java.lang.Long.parseLong(hex.substring(0, 15), 16)
      if (w % 2 == 0) 1L else -1L
    }
    df.filter(col(vecCol).isNotNull && size(col(vecCol)) === inDim)
      .select(col(idCol).as("id"),
        posexplode(graft.functions.q6_dots(col(vecCol).cast("array<float>"), mdSigns)).as(Seq("dim", "proj_q")))
  }
}
