package graft

import org.apache.spark.sql.Column
import org.apache.spark.sql.graft.Bridge
import org.apache.spark.sql.{functions => F}

/** Public Column API for the graft extension functions.
  *
  * Catalyst-native expressions (with codegen) are preferred over UDFs per
  * the reference's own guidance (`/root/reference/README.md:168` steers away
  * from Python UDFs) and for whole-stage-codegen friendliness at scale.
  */
package object functions {

  private def expr(c: Column) = Bridge.expression(c)
  private def col(e: org.apache.spark.sql.catalyst.expressions.Expression): Column =
    Bridge.column(e)

  /** Cosine similarity of two `array<float>` vectors (codegen'd kernel). */
  def cosine_sim(a: Column, b: Column): Column = col(CosineSimilarity(expr(a), expr(b)))

  /** Dot product of two `array<float>` vectors. */
  def dot_product(a: Column, b: Column): Column = col(DotProduct(expr(a), expr(b)))

  /** Euclidean distance of two `array<float>` vectors. */
  def l2_distance(a: Column, b: Column): Column = col(L2Distance(expr(a), expr(b)))

  /** k-hash MinHash signature (`array<long>`) of a token/shingle array. */
  def minhash_signature(tokens: Column, numHashes: Int = 128, seed: Long = 42L): Column =
    col(MinHashSignature(expr(tokens), numHashes, seed))

  /** 64-bit SimHash of a token array. */
  def simhash64(tokens: Column, seed: Long = 0L): Column =
    col(SimHash64(expr(tokens), seed))

  /** md5-token-hash SimHash — SQL-reproducible twin of [[simhash64]]. */
  def simhash64_md5(tokens: Column): Column =
    col(SimHash64Md5(expr(tokens)))

  /** Intersection size of two pre-sorted distinct string/long arrays
    * (linear merge, no per-pair hash sets). */
  def sorted_intersection_count(a: Column, b: Column): Column =
    col(SortedIntersectionCount(expr(a), expr(b)))

  /** Sorted distinct winnowing fingerprint minima of a (pre-normalized)
    * string — byte k-grams, w-window minima (codegen'd one-pass kernel). */
  def winnow_fingerprints(text: Column, k: Int = 7, w: Int = 4, seed: Long = 42L): Column =
    col(WinnowFingerprints(expr(text), k, w, seed))

  /** Sorted distinct winnowing minima over 60-bit md5 CHAR-gram hashes —
    * the oracle-reproducible twin of [[winnow_fingerprints]] (one-pass
    * codegen kernel; values equal the relational
    * `conv(substr(md5(substr(text, pos, k)), 1, 15), 16, 10)` selection). */
  def winnow_md5_fingerprints(text: Column, k: Int = 7, w: Int = 4): Column =
    col(WinnowMd5Fingerprints(expr(text), k, w))

  /** Positional k-byte-gram XXH64 hashes of a string (one pass; element i
    * hashes bytes [i, i+k)). The gram index of exact-substring dedup. */
  def char_gram_hashes(text: Column, k: Int, seed: Long = 42L): Column =
    col(CharGramHashes(expr(text), k, seed))

  /** Cut every k-byte span starting at the sorted 0-based `starts` out of
    * `text`, merging overlaps → struct(clean_text, n_spans, n_removed). */
  def cut_spans(text: Column, starts: Column, k: Int): Column =
    col(CutSpans(expr(text), expr(starts), k))

  /** Content-defined chunking cut positions (Rabin-style rolling hash,
    * window `w` bytes, cut where hash % d == 0 → ~d-byte chunks). */
  def cdc_boundaries(text: Column, w: Int = 16, d: Int = 64): Column =
    col(CdcBoundaries(expr(text), w, d))

  /** Sorted distinct rolling word-n-gram hashes of a token array — the
    * allocation-free stand-in for string shingles in dedup pipelines. */
  def shingle_hashes(tokens: Column, n: Int = 3, seed: Long = 42L): Column =
    col(ShingleHashes(expr(tokens), n, seed))

  /** Int8-quantization audit struct of a float vector (one kernel pass). */
  def quantize_stats(vec: Column): Column =
    col(QuantizeStats(expr(vec)))

  /** Exact long dot products `q6(vec) · row` against every row of a
    * constant matrix (array<bigint>; see [[QuantOps]] for the null and
    * ANSI-overflow rules). */
  def q6_dots(vec: Column, matrix: Array[Array[Long]]): Column =
    col(QuantizedDots(expr(vec), new QuantMatrix(matrix.flatten), rectangular("q6_dots", matrix)))

  /** Nearest PQ code per subspace (array<int>, ties to the smaller code)
    * against `books(sub)(code)(d)`. */
  def pq_assign(vec: Column, books: Array[Array[Array[Long]]]): Column = {
    val (k, subDim) = codebookShape("pq_assign", books)
    col(PqAssign(expr(vec), new QuantMatrix(books.flatten.flatten), k, subDim))
  }

  /** PQ lookup table `lut[sub][code]`: exact squared L2 of each quantized
    * subvector against each code (array<array<bigint>>). */
  def pq_lut(vec: Column, books: Array[Array[Array[Long]]]): Column = {
    val (k, subDim) = codebookShape("pq_lut", books)
    col(PqLut(expr(vec), new QuantMatrix(books.flatten.flatten), k, subDim))
  }

  /** The common row length of a non-empty matrix; the kernels read it
    * flattened, so a ragged row would misalign every later one. */
  private def rectangular(fn: String, m: Array[Array[Long]]): Int = {
    require(m.nonEmpty && m.head.nonEmpty, s"$fn: empty matrix")
    val cols = m.head.length
    require(m.forall(_.length == cols), s"$fn: matrix rows differ in length")
    cols
  }

  /** `(codes per subspace, subspace width)` of `books(sub)(code)(d)`. */
  private def codebookShape(fn: String, books: Array[Array[Array[Long]]]): (Int, Int) = {
    require(books.nonEmpty, s"$fn: no codebooks")
    val k = books.head.length
    require(books.forall(_.length == k), s"$fn: codebooks differ in size")
    (k, rectangular(fn, books.flatten))
  }

  /** ADC distance `Σ_sub lut[sub][codes[sub]]` (bigint). */
  def adc_sum(codes: Column, lut: Column): Column = col(AdcSum(expr(codes), expr(lut)))

  /** Per-doc repetition counters over a token array (one kernel pass). */
  def repetition_counts(tokens: Column): Column =
    col(RepetitionStats(expr(tokens)))

  /** Alpha / punctuation character counts of a string (one kernel pass). */
  def char_class_counts(text: Column): Column =
    col(CharClassCounts(expr(text)))

  /** Unicode NFC canonical composition (ASCII fast path, zero-copy). */
  def nfc_normalize(text: Column): Column =
    col(NfcNormalize(expr(text)))

  /** Jaro similarity of two strings (record-linkage scorer). */
  def jaro_sim(a: Column, b: Column): Column =
    col(JaroSimilarity(expr(a), expr(b)))

  /** Jaro–Winkler similarity (prefix-boosted above 0.7, l ≤ 4, p = 0.1). */
  def jaro_winkler(a: Column, b: Column): Column =
    col(JaroWinklerSimilarity(expr(a), expr(b)))

  /** Rolling word-n-gram hashes in TOKEN ORDER (element i = gram starting
    * at token i) — the positional input to exact-substring span dedup. */
  def positional_shingle_hashes(tokens: Column, n: Int = 8, seed: Long = 42L): Column =
    col(PositionalShingleHashes(expr(tokens), n, seed))

  /** MinHash signature from precomputed shingle hashes. */
  def minhash_from_hashes(hashes: Column, numHashes: Int = 128): Column =
    col(MinHashFromHashes(expr(hashes), numHashes))

  /** Bounded-heap top-k aggregate: best-k (score, id) pairs per group,
    * (score desc, id asc), map-side combined — ≤ k rows per group per
    * partition reach the shuffle. */
  def topk_pairs(score: Column, id: Column, k: Int): Column =
    col(TopKPairs(expr(score), expr(id), k).toAggregateExpression())

  /** Bloom-filter aggregate over pre-hashed (xxhash64) long keys — the
    * build side of a manual runtime filter. Wraps Spark's internal
    * `BloomFilterAggregate` (what AQE's InjectRuntimeFilter plants); it is
    * not SQL-registered upstream, so this bridges it to the Column API.
    * Returns one binary bloom filter; pair with [[bloom_might_contain]]. */
  def bloom_filter_agg(hashedKey: Column, expectedItems: Long, numBits: Long): Column =
    col(new org.apache.spark.sql.catalyst.expressions.aggregate.BloomFilterAggregate(
      expr(hashedKey),
      org.apache.spark.sql.catalyst.expressions.Literal(expectedItems),
      org.apache.spark.sql.catalyst.expressions.Literal(numBits)
    ).toAggregateExpression())

  /** Membership probe against a [[bloom_filter_agg]] filter (false
    * positives possible, false negatives never — callers must re-verify
    * with the exact join). */
  def bloom_might_contain(bloom: Column, hashedKey: Column): Column =
    col(org.apache.spark.sql.catalyst.expressions.BloomFilterMightContain(
      expr(bloom), expr(hashedKey)))

  /** Portable (built-in HOF) cosine, for environments where the native
    * expression can't be used; slower — kept for cross-checking the kernel. */
  def cosine_sim_hof(a: Column, b: Column): Column = {
    val dot = F.aggregate(F.zip_with(a, b, (x, y) => x.cast("double") * y.cast("double")),
      F.lit(0.0), (acc, x) => acc + x)
    val na = F.sqrt(F.aggregate(a, F.lit(0.0), (acc, x) => acc + x.cast("double") * x.cast("double")))
    val nb = F.sqrt(F.aggregate(b, F.lit(0.0), (acc, x) => acc + x.cast("double") * x.cast("double")))
    F.when(na * nb === 0.0, 0.0).otherwise(dot / (na * nb))
  }
}
