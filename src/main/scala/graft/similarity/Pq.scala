package graft.similarity

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.functions.{adc_sum, cosine_sim, pq_assign, pq_lut, q6_dots, QuantOps}

/** Product quantization (Jégou, Douze & Schmid, TPAMI 2011) — the
  * compressed-vector half of the canonical billion-scale ANN stack
  * (IVF routes, PQ compresses; [[Ivf]] is the routing half).
  *
  * The vector space is split into `m` contiguous subspaces of `dim/m`
  * coordinates; each subspace gets its own `k`-centroid codebook, and a
  * vector's code is the per-subspace nearest centroid — `m·log₂k` bits
  * instead of `dim` floats (64 float dims → 8 nibbles here).
  *
  * Determinism discipline (the [[Ivf.trainCentroidsQuantized]] recipe,
  * with L2 instead of dot): vectors quantize to exact `floor(x·1e6)`
  * longs; training runs on a bounded ordered sample entirely on the
  * driver with integer Lloyd steps (L2 argmin, ties to the smaller code,
  * `floorDiv` centroid means, empty codes keep their centroid), so the
  * codebook is a pure function of the data that plain SQL replays; and
  * assignment is one row-local kernel call per vector
  * ([[graft.functions.pq_assign]]) — `argmin_c Σ_d (v_d − c_d)²` per
  * subspace over exact longs (≤ 3·10¹³, exact in double too, so engines
  * agree bit-for-bit). Codes scale embarrassingly: no shuffle, no join,
  * the codebook rides the plan as one primitive `long[]`.
  */
object Pq {

  /** Train per-subspace codebooks on the first `sampleSize` vectors by
    * id: `codebooks(sub)(code)(d)` quantized longs. A thin wrapper: one
    * [[Ivf.trainingSample]] collect, then [[codebooksFromSample]]; a
    * caller that also trains the IVF coarse quantizer shares one sample
    * instead ([[AnnIndex.trainModel]]). */
  def trainCodebooks(
      df: DataFrame,
      idCol: String,
      vecCol: String,
      dim: Int,
      m: Int,
      k: Int,
      iters: Int = 4,
      sampleSize: Int = 512
  ): Array[Array[Array[Long]]] =
    codebooksFromSample(
      Ivf.trainingSample(Ivf.trainingSampleQuery(df, idCol, vecCol, dim, sampleSize)),
      dim, m, k, iters)

  /** The driver-side integer Lloyd loops of [[trainCodebooks]], one per
    * subspace, over a [[Ivf.trainingSample]] (`dim`-long quantized
    * vectors in id order). */
  def codebooksFromSample(
      sample: Array[Array[Long]],
      dim: Int,
      m: Int,
      k: Int,
      iters: Int = 4
  ): Array[Array[Array[Long]]] = {
    require(dim % m == 0, s"m=$m must divide dim=$dim")
    val subDim = dim / m
    require(sample.length >= k, s"sample ${sample.length} < k $k")
    Array.tabulate(m) { sub =>
      val off = sub * subDim
      val sv = sample.map(v => java.util.Arrays.copyOfRange(v, off, off + subDim))
      var centroids =
        Array.tabulate(k)(c => sv((c * sv.length) / k).clone())
      var it = 0
      while (it < iters) {
        val sums = Array.fill(k)(new Array[Long](subDim))
        val counts = new Array[Int](k)
        sv.foreach { v =>
          var best = 0; var bestDist = Long.MaxValue; var c = 0
          while (c < k) {
            var dist = 0L; var d = 0
            val cv = centroids(c)
            while (d < subDim) {
              val dd = v(d) - cv(d); dist += dd * dd; d += 1
            }
            if (dist < bestDist) { bestDist = dist; best = c } // strict <: first min wins
            c += 1
          }
          counts(best) += 1
          var d = 0
          while (d < subDim) { sums(best)(d) += v(d); d += 1 }
        }
        centroids = Array.tabulate(k) { c =>
          if (counts(c) == 0) centroids(c) // empty code keeps its centroid
          else sums(c).map(s => Math.floorDiv(s, counts(c).toLong))
        }
        it += 1
      }
      centroids
    }
  }

  /** Assign PQ codes: for each input vector, one row per subspace with
    * the nearest code and its exact squared quantization error.
    * Returns `(id, sub, code, err_q)`: one row per (vector, subspace),
    * `err_q` read from the vector's own lookup table at its code. */
  def pqCodes(
      df: DataFrame,
      idCol: String,
      vecCol: String,
      dim: Int,
      m: Int,
      k: Int,
      iters: Int = 4,
      sampleSize: Int = 512
  ): DataFrame = {
    val codebooks = trainCodebooks(df, idCol, vecCol, dim, m, k, iters, sampleSize)
    Ivf.validRows(df, vecCol, dim)
      .select(col(idCol).as("id"), pq_lut(col(vecCol), codebooks).as("__lut"),
        pq_assign(col(vecCol), codebooks).as("__codes"))
      // explode below the table lookup's projection, so each vector's
      // table is built once, not once per subspace row
      .select(col("id"), col("__lut"), posexplode(col("__codes")).as(Seq("sub", "code")))
      .select(col("id"), col("sub"), col("code"),
        element_at(element_at(col("__lut"), col("sub") + 1), col("code") + 1).as("err_q"))
  }

  /** PQ top-k search with asymmetric distance computation (ADC — Jégou
    * et al. §IV): the corpus is represented ONLY by its `m`-byte codes;
    * each query precomputes an `m×k` lookup table of exact subspace
    * distances to every codebook entry, and a candidate's approximate
    * L2² is the sum of `m` table lookups — the corpus' raw vectors are
    * never read again after encoding. That is the 100 TB contract: at
    * scale you store 8 bytes per vector instead of 256, and search pairs
    * every code row with the broadcast (tiny) LUT frame and folds `m`
    * lookups per pair ([[adcTopN]]). All distances are exact longs (quantized
    * inputs, integer codebooks), so ranking is total-ordered
    * (dist asc, neighbor asc) and fully oracle-replayable.
    *
    * Returns `(query_id, rank, neighbor_id, adc_dist)` with `rank ≤ k`
    * per query. */
  def pqAdcTopK(
      corpus: DataFrame,
      queries: DataFrame,
      idCol: String,
      vecCol: String,
      dim: Int,
      m: Int,
      kCodes: Int,
      topK: Int,
      iters: Int = 4,
      sampleSize: Int = 512
  ): DataFrame = {
    val codebooks = trainCodebooks(corpus, idCol, vecCol, dim, m, kCodes,
      iters, sampleSize)
    // corpus side: m-byte codes only (the compressed representation), ONE
    // array<int> per vector; query side: the m×k LUT as ONE nested array.
    // ADC is then a broadcast pairing + a row-local m-lookup fold.
    val codes = encode(corpus, idCol, vecCol, dim, codebooks, coarse = None)
      .select(col("id").as("neighbor_id"), col("codes"))
    // full-corpus ADC is the operator's contract — every query scores
    // every corpus vector — so the pairing is an EXPLICIT broadcast
    // nested-loop join against the bounded query side
    val qlut = lutFrame(Ivf.validRows(queries, vecCol, dim), idCol, vecCol, codebooks)
    adcTopN(codes.join(broadcast(qlut), col("neighbor_id") =!= col("query_id")), topK)
      .select(col("query_id"), col("rank"), col("neighbor_id"), col("adc_dist"))
  }

  /** IVF-PQ: the full billion-scale ANN stack in one operator (Jégou et
    * al. §V — "IVFADC"). The IVF coarse quantizer ([[Ivf
    * .trainCentroidsQuantized]], integer-exact dot assignment) routes
    * every corpus vector to one of `nLists` inverted lists; queries probe
    * their `nProbe` best lists; and within the probed candidates the
    * ranking is PQ-ADC — m LUT lookups per candidate over the 8-byte
    * codes, never the raw vectors. Cost per query: `nProbe/nLists` of the
    * corpus × m integer adds, plus one m×k LUT build. Both trainers are
    * bounded-sample driver loops and both assignments are row-local, so
    * the whole operator carries a full SQL oracle.
    *
    * Returns `(query_id, rank, neighbor_id, adc_dist)`, `rank ≤ topK`. */
  def ivfPqTopK(
      corpus: DataFrame,
      queries: DataFrame,
      idCol: String,
      vecCol: String,
      dim: Int,
      nLists: Int = 16,
      nProbe: Int = 6,
      ivfIters: Int = 8,
      m: Int = 8,
      kCodes: Int = 16,
      pqIters: Int = 4,
      topK: Int = 5,
      ivfSample: Int = 2048,
      pqSample: Int = 512
  ): DataFrame = {
    require(nProbe >= 1 && nProbe <= nLists)
    // both quantizers from ONE sample collect (see AnnIndex.trainModel)
    val PqIndexModel(coarse, books, _, _) = AnnIndex.trainModel(corpus, idCol, vecCol,
      dim, nLists, m, kCodes, ivfIters, pqIters, ivfSample, pqSample)
    // corpus: list id AND the m-byte code array in ONE row-local projection
    val codes = encode(corpus, idCol, vecCol, dim, books, Some(coarse))
      .select(col("id").as("neighbor_id"), col("codes"), col("list_id"))
    val qBase = Ivf.validRows(queries, vecCol, dim)
    adcTopN(probedCandidates(codes, Ivf.probeLists(qBase, idCol, vecCol, coarse, nProbe),
        lutFrame(qBase, idCol, vecCol, books)), topK)
      .select(col("query_id"), col("rank"), col("neighbor_id"), col("adc_dist"))
  }

  /** IVF-PQ → ADC shortlist → EXACT re-rank: the full IVFADC-R stack
    * ([[ivfPqTopK]] routing+compression, [[pqAdcRerankTopK]] re-rank
    * discipline) in one in-memory operator — the verification twin of
    * [[AnnIndex.searchIndex]], which runs the IDENTICAL algebra against
    * an on-disk partitioned code store (equality spec-asserted). Cost per
    * query: nProbe/nLists of the corpus × m LUT adds for the shortlist,
    * then |queries|·shortlist raw-vector reads for the exact pass.
    * Returns `(query_id, rank, neighbor_id, cosine)`, `rank ≤ topK`. */
  def ivfPqRerankTopK(
      corpus: DataFrame,
      queries: DataFrame,
      idCol: String,
      vecCol: String,
      dim: Int,
      nLists: Int = 16,
      nProbe: Int = 6,
      ivfIters: Int = 8,
      m: Int = 8,
      kCodes: Int = 16,
      pqIters: Int = 4,
      topK: Int = 5,
      shortlist: Int = 100,
      ivfSample: Int = 2048,
      pqSample: Int = 512
  ): DataFrame = {
    require(shortlist >= topK, s"shortlist=$shortlist < topK=$topK")
    val short = ivfPqTopK(corpus, queries, idCol, vecCol, dim, nLists, nProbe,
        ivfIters, m, kCodes, pqIters, shortlist, ivfSample, pqSample)
      .select("query_id", "neighbor_id")
    rerank(short.join(corpus.select(col(idCol).as("neighbor_id"), col(vecCol).as("v")),
      Seq("neighbor_id")), queries, idCol, vecCol, topK)
  }

  /** ADC shortlist → EXACT re-rank (Jégou et al. §VI, "IVFADC-R"): the
    * 32-bit codes alone rank coarsely (measured recall@5 = 0.26 at the
    * shipped m=8/k=16 — `RecallFloorSpec`), so production stacks re-rank
    * an ADC SHORTLIST of `shortlist` candidates with exact distances.
    * The raw vectors are read for only |queries|·shortlist rows — the
    * corpus-wide pass still touches codes only, which is the entire point
    * of PQ — and the re-rank join is broadcast-sized by construction.
    * Recall@5 ladder (sf0.01): 0.82 / 0.94 / 0.98 at shortlist
    * 50 / 100 / 150; the shipped query uses 100 (spec floor 0.90).
    *
    * Exact metric: cosine (the [[Similarity.bruteForceTopK]] twin — the
    * corpus embeddings are unit-norm, so L2 and cosine rank identically
    * and the oracle mirrors with `list_cosine_similarity`). Returns
    * `(query_id, rank, neighbor_id, cosine)`, `rank ≤ topK`. */
  def pqAdcRerankTopK(
      corpus: DataFrame,
      queries: DataFrame,
      idCol: String,
      vecCol: String,
      dim: Int,
      m: Int,
      kCodes: Int,
      topK: Int,
      shortlist: Int = 50,
      iters: Int = 4,
      sampleSize: Int = 512
  ): DataFrame = {
    require(shortlist >= topK, s"shortlist=$shortlist < topK=$topK")
    val short = pqAdcTopK(corpus, queries, idCol, vecCol, dim, m, kCodes,
        shortlist, iters, sampleSize)
      .select("query_id", "neighbor_id")
    rerank(short.join(corpus.select(col(idCol).as("neighbor_id"), col(vecCol).as("v")),
      Seq("neighbor_id")), queries, idCol, vecCol, topK)
  }

  // ===== the IVFADC query steps, written once ============================
  //
  // [[pqAdcTopK]], [[ivfPqTopK]], the two re-rank operators and
  // [[AnnIndex]]'s store writer and search all compose these, so the
  // in-memory operators and the disk path run the same algebra.

  /** The corpus encode: [[Ivf.validRows]], spread, then ONE row-local
    * projection `(id, codes, v, list_id)` — the `m`-code array
    * ([[graft.functions.pq_assign]]) and, given a `coarse` quantizer, the
    * list id (first max of [[graft.functions.q6_dots]], ties to the
    * SMALLER centroid id). Spreading the narrow projection BEFORE the
    * heavy per-row encode matters: a single-file corpus scan is
    * unsplittable, so without it the whole encode runs on ONE core
    * (measured 0.58 s single-task CPU at sf0.1); the per-row output never
    * depends on row order. */
  private[similarity] def encode(
      df: DataFrame,
      idCol: String,
      vecCol: String,
      dim: Int,
      books: Array[Array[Array[Long]]],
      coarse: Option[Array[Array[Long]]]
  ): DataFrame =
    Ivf.validRows(df, vecCol, dim)
      .select(col(idCol).as("id"), col(vecCol).as("v"))
      .repartition(df.sparkSession.sparkContext.defaultParallelism)
      .select(Seq(col("id"), pq_assign(col("v"), books).as("codes"), col("v")) ++
        coarse.map(c => Ivf.firstMax(q6_dots(col("v"), c)).as("list_id")): _*)

  /** `(query_id, __lut)`: each query's `m×k` ADC lookup table as ONE
    * nested array ([[graft.functions.pq_lut]]). */
  private[similarity] def lutFrame(
      queries: DataFrame,
      idCol: String,
      vecCol: String,
      books: Array[Array[Array[Long]]]
  ): DataFrame =
    queries.select(col(idCol).as("query_id"), pq_lut(col(vecCol), books).as("__lut"))

  /** The IVF candidates: code rows `(neighbor_id, codes, list_id)` of each
    * query's probed lists ([[Ivf.probeLists]]), self-pairs dropped, each
    * carrying its query's LUT. Probes and LUTs are |queries|-bounded, so
    * both pairings are broadcast hash joins. */
  private[similarity] def probedCandidates(
      codes: DataFrame,
      probes: DataFrame,
      qlut: DataFrame
  ): DataFrame =
    codes.join(broadcast(probes), Seq("list_id"))
      .filter(col("neighbor_id") =!= col("query_id"))
      .join(broadcast(qlut), Seq("query_id"))

  /** ADC over candidate rows `(query_id, neighbor_id, codes, __lut)`: the
    * row-local m-lookup fold ([[graft.functions.adc_sum]], exact longs),
    * then each query's `n` best by `(adc_dist, neighbor_id)` ascending —
    * `(query_id, neighbor_id, adc_dist, rank)`, `rank ≤ n`. */
  private[similarity] def adcTopN(cands: DataFrame, n: Int): DataFrame = {
    val w = Window.partitionBy("query_id").orderBy(col("adc_dist").asc, col("neighbor_id").asc)
    cands
      .select(col("query_id"), col("neighbor_id"),
        adc_sum(col("codes"), col("__lut")).as("adc_dist"))
      .withColumn("rank", row_number().over(w))
      .filter(col("rank") <= n)
  }

  /** Exact cosine re-rank of shortlist pairs `(query_id, neighbor_id, v)`
    * carrying each candidate's raw vector: the query vectors join
    * broadcast, and each query keeps its `topK` by `(cosine desc,
    * neighbor_id asc)` — `(query_id, rank, neighbor_id, cosine)`, cosine
    * rounded to 6 dp. The caller pairs the shortlist with the vectors:
    * [[AnnIndex.searchIndex]] broadcasts it into a pruned store scan, the
    * in-memory operators join it to the corpus. */
  private[similarity] def rerank(
      pairs: DataFrame,
      queries: DataFrame,
      idCol: String,
      vecCol: String,
      topK: Int
  ): DataFrame = {
    val qv = queries.select(col(idCol).as("query_id"), col(vecCol).as("__qv"))
    val w = Window.partitionBy("query_id").orderBy(col("c").desc, col("neighbor_id").asc)
    pairs
      .join(broadcast(qv), Seq("query_id"))
      .select(col("query_id"), col("neighbor_id"), cosine_sim(col("__qv"), col("v")).as("c"))
      .withColumn("rank", row_number().over(w))
      .filter(col("rank") <= topK)
      .select(col("query_id"), col("rank"), col("neighbor_id"), round(col("c"), 6).as("cosine"))
  }
}
