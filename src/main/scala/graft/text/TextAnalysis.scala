package graft.text

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._

/** Text-analysis operators for large-scale training-data pipelines
  * (SURVEY.md §2c extension; `documents` table is the fixture).
  *
  * All operators are pure `org.apache.spark.sql.functions` compositions —
  * no UDFs; their higher-order functions (`transform`, `filter`,
  * `aggregate`) are not compiled but run as interpreted lambdas inside the
  * generated stage — so they pipeline inside one WholeStageCodegen over
  * the scan, shuffle nothing, and scale linearly with input bytes.
  * Regexes use plain ASCII character classes so DuckDB oracles can mirror
  * them exactly (Java vs RE2 dialect differences avoided).
  */
object TextAnalysis {

  /** Whitespace tokens, empty-free (split of trimmed text on `\s+`). */
  def tokens(text: Column): Column =
    filter(split(trim(text), "\\s+"), t => t =!= "")

  def tokenCount(text: Column): Column = size(tokens(text))

  /** BPE-ish subword count: letter runs, single digits, and non-alnum
    * punctuation each count as one token (a cheap stand-in for a real BPE
    * vocab; deliberately regex-only so it runs at scan speed). */
  def approxBpeTokenCount(text: Column): Column =
    size(regexp_extract_all(text, lit("[A-Za-z]+|[0-9]|[^A-Za-z0-9 ]"), lit(0)))

  /** PII scrubbing: replace emails, URLs, and long digit runs (phone/account
    * numbers) with typed placeholder tags — the standard redaction pass
    * before texts enter a training corpus. Regexes use only ASCII classes
    * valid in BOTH Java and RE2 dialects so the DuckDB oracle can mirror
    * them byte-for-byte; applied in fixed order (URL first, since URLs can
    * embed the other patterns). Scan-speed column ops, no UDFs. */
  final val UrlRe = "https?://[^ \\t\\n]+"
  final val EmailRe = "[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z][A-Za-z]+"
  final val LongDigitsRe = "[0-9][0-9][0-9][0-9][0-9][0-9][0-9]+"

  def scrubPii(text: Column): Column = {
    val noUrl = regexp_replace(text, UrlRe, "<URL>")
    val noEmail = regexp_replace(noUrl, EmailRe, "<EMAIL>")
    regexp_replace(noEmail, LongDigitsRe, "<NUM>")
  }

  /** BM25 relevance of every document against a bag of `queryTerms` —
    * the classic IR ranking function (Robertson/Spärck Jones; Lucene's
    * idf variant `ln(1 + (N - df + 0.5)/(df + 0.5))`), used in data
    * pipelines for retrieval-based curation ("find training docs about
    * X") and contamination triage.
    *
    * Distributed shape: one tokenize pass feeds (a) per-doc lengths and
    * the corpus (N, avgdl) scalars, (b) per-(doc, term) tf filtered to
    * the query terms BEFORE any shuffle — so the keyed aggregations only
    * carry query-term hits, and the term stats (≤ |queryTerms| rows) +
    * corpus scalars broadcast-join back. Per-term partial scores are
    * quantized to integer nano-units before the per-doc sum, so the sum
    * is exact under ANY accumulation order — ranking ties are decided by
    * bit-identical integers, reproducible across engines (the DuckDB
    * oracle mirrors the quantization).
    *
    * Output: one row per doc containing ≥1 query term: `idCol`,
    * `n_terms_hit`, `bm25`. */
  def bm25(df: org.apache.spark.sql.DataFrame, idCol: String, textCol: String,
      queryTerms: Seq[String], k1: Double = 1.2, b: Double = 0.75): org.apache.spark.sql.DataFrame = {
    require(queryTerms.nonEmpty)
    val toks = df.select(col(idCol), explode(tokens(col(textCol))).as("term"))
    val docLen = toks.groupBy(idCol).agg(count(lit(1)).as("dl"))
    // exact-integer corpus stats; avgdl derived by one double division
    val stats = docLen.agg(count(lit(1)).as("n_docs"), sum("dl").as("sum_dl"))
    val tf = toks.filter(col("term").isin(queryTerms: _*))
      .groupBy(col(idCol), col("term")).agg(count(lit(1)).as("tf"))
    val dfreq = tf.groupBy("term").agg(count(lit(1)).as("df"))
    val avgdl = col("sum_dl").cast("double") / col("n_docs")
    val idf = log(lit(1.0) + (col("n_docs") - col("df") + 0.5) / (col("df") + 0.5))
    val tfPart = (col("tf") * (k1 + 1)) /
      (col("tf") + lit(k1) * (lit(1.0) - b + lit(b) * col("dl") / avgdl))
    tf.join(broadcast(dfreq), "term")
      .join(docLen, idCol)
      .crossJoin(broadcast(stats))
      // nano-quantized per-term score -> order-independent exact sum
      .withColumn("score_q", floor(idf * tfPart * 1e9).cast("long"))
      .groupBy(idCol)
      .agg(count(lit(1)).as("n_terms_hit"),
        (sum("score_q").cast("double") / 1e9).as("bm25"))
  }

  /** Canonical text cleanup before fingerprinting/dedup: Unicode NFC
    * composition (native [[graft.functions.NfcNormalize]] kernel — ASCII
    * fast path returns the input uncopied) + whitespace runs collapsed to
    * one space + trim. `\s` is ASCII in both Java and RE2 regex dialects,
    * so the DuckDB oracle (`nfc_normalize` + the same regex) mirrors this
    * byte-for-byte. */
  def cleanText(text: Column): Column =
    trim(regexp_replace(graft.functions.nfc_normalize(text), "\\s+", " "))

  /** Count of PII hits per kind (pre-scrub), for corpus audits. */
  def piiCounts(text: Column): Seq[(String, Column)] = Seq(
    "n_urls" -> size(regexp_extract_all(text, lit(UrlRe), lit(0))),
    "n_emails" -> size(regexp_extract_all(text, lit(EmailRe), lit(0))),
    "n_long_digits" -> size(regexp_extract_all(text, lit(LongDigitsRe), lit(0))))

  /** Sliding token-window chunks (space-rejoined), `chunkSize` tokens with
    * `overlap` tokens shared between consecutive chunks — the standard
    * document-splitting step before training/embedding. The last chunk may
    * be shorter; a doc with <= chunkSize tokens yields exactly one chunk.
    * Pure HOF composition — chunking runs at scan speed, and the explode
    * that usually follows fans out WITHOUT shuffling (narrow). */
  def tokenChunks(text: Column, chunkSize: Int, overlap: Int): Column = {
    require(chunkSize > 0 && overlap >= 0 && overlap < chunkSize,
      "need 0 <= overlap < chunkSize")
    val stride = chunkSize - overlap
    val toks = tokens(text)
    val n = size(toks)
    // number of chunks = 1 + ceil(max(n - chunkSize, 0) / stride)
    val extra = greatest(n - chunkSize, lit(0))
    val nChunks = lit(1) + ceil(extra.cast("double") / stride).cast("int")
    when(n === 0, array().cast("array<string>"))
      .otherwise(transform(sequence(lit(0), nChunks - 1),
        i => concat_ws(" ", slice(toks, i * stride + 1, lit(chunkSize)))))
  }

  /** Content-defined chunks (the CCNet/RefinedWeb-family alternative to
    * [[tokenChunks]]'s fixed windows): cut positions come from
    * [[graft.functions.cdc_boundaries]]'s Rabin-style rolling hash — a
    * cut wherever the `w`-byte window hash ≡ 0 (mod `d`), expected chunk
    * ~`d` bytes — so an edit near the start of a document re-synchronizes
    * within ~`w` bytes and downstream chunk-level dedup still matches the
    * untouched remainder (spec-asserted; fixed-size chunking loses every
    * chunk after the edit). One row per chunk:
    * `(idCol, chunk_idx, chunk_start, chunk_len)` — 1-based byte
    * positions, partitioning `[1, len]` exactly. Kernel + HOF
    * composition: runs at scan speed, the explode is narrow, no shuffle.
    * Byte positions equal char positions on ASCII (as [[fingerprint]]
    * documents for its normalization); on non-ASCII text the hash still
    * runs over UTF-8 bytes but any cut at or past the CHAR length is
    * dropped, so the output is always a valid ascending partition of
    * `[1, length(text)]` in char units — cut placement inside multi-byte
    * runs is approximate, structural validity is not. */
  def cdcChunks(df: org.apache.spark.sql.DataFrame, idCol: String, textCol: String,
      w: Int = 16, d: Int = 64,
      /** extra columns copied onto every chunk row (e.g. a split label) */
      carryCols: Seq[String] = Nil,
      /** also emit the chunk's text slice as `chunk_text` */
      emitText: Boolean = false): org.apache.spark.sql.DataFrame = {
    val len = length(col(textCol))
    val cuts = graft.functions.cdc_boundaries(col(textCol), w, d)
    // chunk END positions: every cut strictly inside the CHAR range plus the
    // doc end. cdc_boundaries counts BYTES, so on non-ASCII text a cut can
    // land at or past the char length — keeping one would leave `ends`
    // unsorted (negative chunk_len, overlapping spans); dropping it keeps the
    // spans a valid partition. On ASCII this equals the old
    // array_distinct(cuts :+ len) exactly (cuts ascending, <= len).
    val ends = concat(filter(cuts, c => c < len), array(len))
    val starts = concat(array(lit(0)),
      slice(ends, lit(1), greatest(size(ends) - 1, lit(0))))
    val spans = zip_with(starts, ends, (p, e) => struct(p.as("p"), e.as("e")))
    val keep = (col(idCol) +: carryCols.map(col)) :+ col(textCol)
    val exploded = df.filter(col(textCol).isNotNull && len > 0)
      .select(keep :+ posexplode(spans).as(Seq("__pos", "__s")): _*)
    val chunkCols = Seq(
      (col("__pos") + 1).cast("long").as("chunk_idx"),
      (col("__s.p") + 1).cast("long").as("chunk_start"),
      (col("__s.e") - col("__s.p")).cast("long").as("chunk_len")) ++
      (if (emitText)
        Seq(col(textCol).substr(col("__s.p") + 1, col("__s.e") - col("__s.p"))
          .as("chunk_text"))
       else Nil)
    exploded.select(col(idCol) +: carryCols.map(col) ++: chunkCols: _*)
  }

  /** Word n-grams as space-joined strings (empty array when < n tokens). */
  def wordNgrams(text: Column, n: Int): Column = {
    val toks = tokens(text)
    when(size(toks) < n, array().cast("array<string>"))
      .otherwise(transform(sequence(lit(0), size(toks) - n),
        i => concat_ws(" ", slice(toks, i + 1, lit(n)))))
  }

  /** Distinct word n-gram shingles — the dedup/minhash input. */
  def shingles(text: Column, n: Int = 3): Column = array_distinct(wordNgrams(text, n))

  /** Character n-grams (for fingerprinting / language ID). */
  def charNgrams(text: Column, n: Int): Column = {
    val t = text
    when(length(t) < n, array().cast("array<string>"))
      .otherwise(transform(sequence(lit(1), length(t) - (n - 1)), i => t.substr(i, lit(n))))
  }

  // --- language ID (n-gram/stopword heuristic) ---

  /** Tiny public stopword marker sets per language — a heuristic scorer, not
    * a model: score(lang) = count of distinct marker words present. */
  val stopwords: Map[String, Seq[String]] = Map(
    "en" -> Seq("the", "of", "and", "to", "in", "is", "that", "it", "a"),
    "es" -> Seq("el", "la", "de", "que", "y", "en", "los", "se", "un"),
    "de" -> Seq("der", "die", "und", "das", "ist", "nicht", "mit", "ein"),
    "fr" -> Seq("le", "les", "des", "et", "une", "dans", "est", "pour")
  )

  def langScore(text: Column, lang: String): Column =
    size(array_intersect(array_distinct(tokens(lower(text))),
      array(stopwords(lang).map(lit): _*)))

  /** CJK character presence → zh short-circuit; otherwise argmax of marker
    * scores with a deterministic en>es>de>fr tie-break chain (expressed as a
    * CASE chain so a SQL oracle can mirror it verbatim). */
  def langId(text: Column): Column = {
    val en = langScore(text, "en"); val es = langScore(text, "es")
    val de = langScore(text, "de"); val fr = langScore(text, "fr")
    when(size(regexp_extract_all(text, lit("[\\x{4e00}-\\x{9fff}]"), lit(0))) > 0, "zh")
      .when(en >= es && en >= de && en >= fr, "en")
      .when(es >= de && es >= fr, "es")
      .when(de >= fr, "de")
      .otherwise("fr")
  }

  // --- quality scoring ---

  /** Length / punctuation / stopword / token-shape heuristics combined into
    * a [0,1] quality score (the standard pretraining-filter features). */
  def qualityFeatures(text: Column): Seq[(String, Column)] = {
    val nChars = length(text).cast("double")
    val toks = tokens(text)
    val nToks = size(toks).cast("double")
    // one kernel pass for both class counts — the regexp_extract_all
    // formulation walked the text twice through the regex machinery and
    // allocated the match arrays just to take their size
    val cc = graft.functions.char_class_counts(text)
    val alpha = cc.getField("n_alpha").cast("double")
    val punct = cc.getField("n_punct").cast("double")
    val stops = langScore(text, "en").cast("double")
    Seq(
      "n_chars" -> nChars,
      "n_tokens" -> nToks,
      "alpha_ratio" -> when(nChars > 0, alpha / nChars).otherwise(0.0),
      "punct_ratio" -> when(nChars > 0, punct / nChars).otherwise(0.0),
      "mean_token_len" -> when(nToks > 0, (nChars - nToks + 1.0) / nToks).otherwise(0.0),
      "stopword_hits" -> stops
    )
  }

  /** Composite score: rewards alpha-heavy, stopword-bearing, mid-length
    * docs; penalizes punctuation walls. Clamped to [0,1]. */
  def qualityScore(text: Column): Column = {
    val f = qualityFeatures(text).toMap
    val lengthOk = when(f("n_chars").between(20.0, 100000.0), 1.0).otherwise(0.0)
    val tokenShape = when(f("mean_token_len").between(2.0, 12.0), 1.0).otherwise(0.0)
    val stopSig = least(f("stopword_hits") / 4.0, lit(1.0))
    val raw = lit(0.3) * f("alpha_ratio") + lit(0.2) * (lit(1.0) - least(f("punct_ratio") * 5.0, lit(1.0))) +
      lit(0.2) * lengthOk + lit(0.15) * tokenShape + lit(0.15) * stopSig
    least(greatest(raw, lit(0.0)), lit(1.0))
  }

  /** Encoding-artifact (mojibake) flag: true when the text carries the
    * classic double-encoded UTF-8 signatures (`Ã` followed by a Latin-1
    * accent tail, `â€` from re-decoded smart punctuation, `ï¿½` — U+FFFD's
    * own bytes re-decoded), a literal replacement character, or raw C0
    * control bytes other than tab/newline/CR. One row-local RE2-safe
    * regex — the cheap first gate a crawl corpus runs before any model
    * sees the bytes. */
  def mojibakeFlag(text: Column): Column =
    text.rlike("\u00c3[\u00a9\u00a1\u00a8\u00b3\u00b1]|\u00e2\u20ac|\u00ef\u00bf\u00bd|\uFFFD|[\\x00-\\x08\\x0B\\x0C\\x0E-\\x1F]")

  /** Heuristic syllable count: per word, the number of vowel-letter runs
    * (`[aeiouy]+` on the lowercased word), floored at 1 so vowel-less
    * tokens (digits, CJK, punctuation runs) still count one — the standard
    * cheap approximation behind readability scores. Row-local array fold;
    * ASCII-only regex so DuckDB mirrors it exactly. */
  def syllableCount(text: Column): Column =
    aggregate(
      transform(tokens(text), w =>
        greatest(size(regexp_extract_all(lower(w), lit("[aeiouy]+"), lit(0))), lit(1))),
      lit(0L), (acc, x) => acc + x)

  /** Flesch reading-ease (Flesch 1948):
    * `206.835 − 1.015·(words/sentences) − 84.6·(syllables/words)`, with
    * sentence/word denominators floored at 1 so the score is total on
    * degenerate docs. Higher = easier; the classic pre-LLM readability
    * quality signal. One scan, pure column ops. */
  def fleschScore(text: Column): Column = {
    val words = greatest(tokenCount(text).cast("double"), lit(1.0))
    val sents = greatest(
      size(regexp_extract_all(text, lit("[.!?]"), lit(0))).cast("double"), lit(1.0))
    val syls = syllableCount(text).cast("double")
    lit(206.835) - lit(1.015) * (words / sents) - lit(84.6) * (syls / words)
  }

  /** Adjacent-token bigrams ("a b", "b c", …) — empty for docs under two
    * tokens. Row-local array fold (two slices zipped), no explode until
    * the caller chooses to. */
  def tokenBigrams(text: Column): Column = {
    val tk = tokens(text)
    val n = greatest(size(tk) - 1, lit(0))
    zip_with(slice(tk, lit(1), n), slice(tk, lit(2), n),
      (a, b) => concat(a, lit(" "), b))
  }

  /** C4-style line-level rule audit (Raffel et al. 2020, arXiv:1910.10683
    * §2.2 — the public cleaning recipe behind the C4 corpus): per document,
    * how many lines survive the "at least 5 words AND ends in terminal
    * punctuation" rule, how many sentences the doc has, and the two
    * discard tripwires (curly brace = code/markup, "lorem ipsum" =
    * placeholder text). `keep` is the document-level verdict: no tripwire,
    * ≥ 3 sentences, ≥ 1 surviving line.
    *
    * Pure column ops over one scan (split + an interpreted `filter`) —
    * ASCII-only regexes so the DuckDB oracle mirrors them byte-for-byte. */
  def c4LineAudit(text: Column): Seq[(String, Column)] = {
    val lines = split(text, "\n")
    val kept = filter(lines, l =>
      size(filter(split(trim(l), "\\s+"), t => t =!= "")) >= 5 &&
        l.rlike("[.!?][ \\t]*$"))
    val nSentences = size(regexp_extract_all(text, lit("[.!?]"), lit(0)))
    val hasBrace = text.contains("{")
    val hasLorem = lower(text).contains("lorem ipsum")
    Seq(
      "n_lines" -> size(lines),
      "n_kept_lines" -> size(kept),
      "n_sentences" -> nSentences,
      "has_brace" -> hasBrace,
      "has_lorem" -> hasLorem,
      "keep" -> (!hasBrace && !hasLorem && nSentences >= 3 && size(kept) >= 1))
  }

  // --- fingerprinting ---

  /** Content fingerprint of whitespace-normalized lowercase text (md5 —
    * identical in DuckDB, so exact-dedup keys are oracle-checkable). */
  def fingerprint(text: Column): Column =
    md5(regexp_replace(lower(trim(text)), "\\s+", " "))

  // --- TF-IDF ---

  /** Per-(doc, term) TF-IDF scores: `tf * ln(N / (1 + df))` with raw term
    * counts as TF and smoothed document frequency. Fully distributed —
    * explode → two keyed hash aggregations ((doc, term) counts and per-term
    * document frequencies) → equi-join on the term; the doc count `N` is a
    * 1-row aggregate broadcast back. The per-term DF frame is dimension-
    * sized (vocabulary), so AQE broadcasts it against the big (doc, term)
    * side at scale. Deterministic: counts are exact integers, the score is
    * one double multiply + log. */
  def tfIdf(df: org.apache.spark.sql.DataFrame, idCol: String,
      textCol: String): org.apache.spark.sql.DataFrame = {
    val id = col(idCol)
    val tf = df.select(id, explode(tokens(col(textCol))).as("term"))
      .groupBy(id, col("term")).agg(count(lit(1)).as("tf"))
    val docFreq = tf.groupBy("term").agg(count(lit(1)).as("df"))
    val n = df.agg(countDistinct(id).as("__n"))
    tf.join(docFreq, Seq("term"))
      .crossJoin(broadcast(n))
      .select(id, col("term"), col("tf"), col("df"),
        (col("tf") * log(col("__n").cast("double") / (col("df") + 1))).as("tfidf"))
  }

  /** Sparse TF-IDF cosine similarity join: all document pairs with
    * cosine ≥ `threshold` over L2-normalized `tf·ln(N/(df+1))` term
    * vectors — the sparse-vector twin of the dense embedding near-dup
    * path ([[graft.dedup.Dedup.embeddingNearDupBrute]]), computed WITHOUT
    * materializing any vectors: an inverted-index (postings) self-join on
    * the term key turns each shared term into one (a, b, w_a·w_b)
    * contribution row, and a keyed sum per pair finishes the dot product.
    * Only co-occurring terms generate work — the classic sparse-similarity
    * shape (term-at-a-time retrieval).
    *
    * Determinism: per-term weight-squares and per-pair contributions are
    * nano-quantized to longs before their sums, so norms and dot products
    * are exact under any accumulation order — the DuckDB oracle
    * reproduces them bit-for-bit.
    *
    * Scale: postings for a term with document frequency f expand to
    * O(f²) pair rows; ubiquitous terms dominate, so real corpora prune
    * them (`maxDf`) — the standard stop-postings cut (AllPairs family).
    * Output: (id_a, id_b, cosine) with id_a < id_b. */
  def sparseCosinePairs(df: org.apache.spark.sql.DataFrame, idCol: String,
      textCol: String, threshold: Double,
      maxDf: Long = Long.MaxValue): org.apache.spark.sql.DataFrame = {
    val id = col(idCol)
    val tf = df.select(id, explode(tokens(col(textCol))).as("term"))
      .groupBy(id, col("term")).agg(count(lit(1)).as("tf"))
    val docFreq = tf.groupBy("term").agg(count(lit(1)).as("df"))
      .filter(col("df") <= maxDf)
    val n = df.agg(countDistinct(id).as("__n"))
    val w = tf.join(docFreq, Seq("term")).crossJoin(broadcast(n))
      .select(id, col("term"),
        (col("tf") * log(col("__n").cast("double") / (col("df") + 1))).as("w"))
    val norms = w.groupBy(id)
      .agg(sqrt(sum(floor(col("w") * col("w") * 1e9).cast("long"))
        .cast("double") / 1e9).as("norm"))
    val nw = w.join(norms, idCol)
      .select(id, col("term"), (col("w") / col("norm")).as("nw"))
    val a = nw.select(col(idCol).as("ida"), col("term"), col("nw").as("nwa"))
    val b = nw.select(col(idCol).as("idb"), col("term"), col("nw").as("nwb"))
    a.join(b, Seq("term")).filter(col("ida") < col("idb"))
      .select(col("ida"), col("idb"),
        floor(col("nwa") * col("nwb") * 1e9).cast("long").as("cq"))
      .groupBy("ida", "idb")
      .agg((sum("cq").cast("double") / 1e9).as("cosine"))
      .filter(col("cosine") >= threshold)
  }

  /** Feature hashing ("hashing trick", Weinberger et al. 2009): project
    * each document's token bag into a fixed `dims`-dimensional sparse
    * vector WITHOUT a vocabulary pass — dimension = md5-bucket of the
    * token, with a second md5-derived sign bit so colliding tokens cancel
    * in expectation rather than pile up. Emits sparse (id, dim, weight)
    * rows (the COO layout downstream trainers consume); one tokenize
    * pass + one keyed aggregation, vocabulary-free and therefore
    * unbounded-corpus safe. md5 (not the engine's native hash) keeps the
    * projection engine-reproducible — the DuckDB oracle rebuilds it
    * bit-for-bit. */
  def featureHash(df: org.apache.spark.sql.DataFrame, idCol: String,
      textCol: String, dims: Int): org.apache.spark.sql.DataFrame = {
    require(dims > 0 && dims <= 65536, "dims must be in (0, 65536]")
    val h = md5(col("term"))
    val dim = conv(substring(h, 1, 4), 16, 10).cast("int") % dims
    val sign = when(conv(substring(h, 5, 1), 16, 10).cast("int") % 2 === 0, 1L)
      .otherwise(-1L)
    df.select(col(idCol), explode(tokens(col(textCol))).as("term"))
      .groupBy(col(idCol), dim.as("dim"))
      .agg(sum(sign).as("weight"))
      .filter(col("weight") =!= 0)
  }

  /** Unigram language-model document scoring — the CCNet-style
    * "perplexity" quality filter (Wenzek et al. 2020, public method) with
    * the corpus as its own LM: fit an add-one-smoothed unigram model on
    * corpus token counts and score each document by its mean token
    * log-probability, `logp(t) = ln((c(t)+1)/(N+V))`. Documents far below
    * the corpus-typical score are garbled/boilerplate outliers; a caller
    * thresholds on `avg_logp` (or its per-lang quantiles).
    * Returns `(idCol, n_tokens, avg_logp)` for every doc with ≥ 1 token.
    *
    * Scale shape: the exploded (doc, token) stream feeds (a) the vocab
    * count aggregation (map-side combined, vocabulary-sized output) and
    * (b) the scoring join on the token key — AQE broadcasts the vocab
    * frame when it fits, else it's a shuffle join on the token. The
    * explode is recomputed for the join branch rather than cached: at
    * 100 TB recomputing a row-local explode beats persisting it.
    * Determinism: per-token log-probs are rounded to 6 dp and summed as
    * exact DECIMAL, so the doc score is partition-order independent and
    * engine-exact (ln agrees across engines to 1 ulp; a 1e-6 grid absorbs
    * it). */
  def unigramLogProb(df: org.apache.spark.sql.DataFrame, idCol: String,
      textCol: String): org.apache.spark.sql.DataFrame = {
    val pairs = df.select(col(idCol), explode(tokens(col(textCol))).as("__tok"))
    val vocab = pairs.groupBy("__tok").agg(count(lit(1)).as("__c"))
    val totals = vocab.agg(sum("__c").as("__N"), count(lit(1)).as("__V"))
    pairs.join(vocab, Seq("__tok"))
      .crossJoin(broadcast(totals))
      .select(col(idCol),
        round(log((col("__c") + 1).cast("double") / (col("__N") + col("__V")).cast("double")), 6)
          .cast("decimal(18,6)").as("__lp"))
      .groupBy(col(idCol))
      .agg(count(lit(1)).as("n_tokens"),
        round(sum("__lp").cast("double") / count(lit(1)), 4).as("avg_logp"))
  }

  /** Interpolated Kneser-Ney bigram LM score (Kneser & Ney 1995; the
    * n-gram LM behind CCNet-style perplexity filtering of pretraining
    * corpora, Wenzek et al. 2020): fit the bigram model on the corpus and
    * score each document by its mean bigram log-probability
    * `P_KN(w2|w1) = max(c(w1,w2) − D, 0)/c(w1·)
    *              + D · N1+(w1·)/c(w1·) · N1+(·w2)/N1+(··)`
    * with absolute discount `D` (0.75 — the textbook value) and the
    * continuation-count backoff that makes KN the strongest fixed-order
    * smoother. `c(w1·)` counts bigram STARTS (so every row's
    * interpolation weights sum to one over the vocabulary — spec-checked).
    * Returns `(idCol, n_bigrams, avg_logp)` for docs with ≥ 2 tokens;
    * garbled/templated text scores far from the corpus-typical band.
    *
    * Scale shape: the exploded bigram stream is aggregated once per
    * model table — c(w1,w2) keyed on the bigram, N1+(w1·)/c(w1·) on w1,
    * N1+(·w2) on w2 — all map-side combined; scoring is three keyed
    * equi-joins on those tables (AQE broadcasts the unigram-sized ones
    * when they fit) plus one broadcast 1-row total. No driver-side state:
    * the model lives in DataFrames, never on the driver.
    * Determinism: counts are exact longs; each bigram's log-prob is one
    * `ln` over an identically-associated double expression, rounded to
    * 6 dp and summed as exact DECIMAL (same contract as
    * [[unigramLogProb]]). */
  def knBigramScore(df: org.apache.spark.sql.DataFrame, idCol: String,
      textCol: String, discount: Double = 0.75)
      : org.apache.spark.sql.DataFrame = {
    require(discount > 0 && discount < 1, "discount must be in (0, 1)")
    val n1 = greatest(size(col("__toks")) - 1, lit(0))
    val pairs = df
      // repartition before the tokenize + bigram explode — a single-file
      // source pins the pass to one scan task (guide §2.5); all model
      // counts are keyed aggregations and the per-doc close is a decimal
      // sum, so results are partition-order-independent
      .select(col(idCol), col(textCol))
      .repartition(df.sparkSession.sparkContext.defaultParallelism)
      .select(col(idCol), tokens(col(textCol)).as("__toks"))
      .select(col(idCol), explode(zip_with(
        slice(col("__toks"), lit(1), n1), slice(col("__toks"), lit(2), n1),
        (a, b) => struct(a.as("w1"), b.as("w2")))).as("__b"))
      .select(col(idCol), col("__b.w1").as("__w1"), col("__b.w2").as("__w2"))
    val big = pairs.groupBy("__w1", "__w2").agg(count(lit(1)).as("__c12"))
    val w1t = big.groupBy("__w1")
      .agg(sum("__c12").as("__c1"), count(lit(1)).as("__n1f"))
    val w2t = big.groupBy("__w2").agg(count(lit(1)).as("__cont"))
    val tot = big.agg(count(lit(1)).as("__nbb"))
    val d = lit(discount)
    val p = (col("__c12").cast("double") - d) / col("__c1").cast("double") +
      d * col("__n1f").cast("double") / col("__c1").cast("double") *
        (col("__cont").cast("double") / col("__nbb").cast("double"))
    pairs
      .join(big, Seq("__w1", "__w2"))
      .join(w1t, Seq("__w1"))
      .join(w2t, Seq("__w2"))
      .crossJoin(broadcast(tot))
      .select(col(idCol), round(log(p), 6).cast("decimal(18,6)").as("__lp"))
      .groupBy(col(idCol))
      .agg(count(lit(1)).as("n_bigrams"),
        round(sum("__lp").cast("double") / count(lit(1)), 4).as("avg_logp"))
  }

  /** DSIR-style importance weights (Data Selection via Importance
    * Resampling, Xie et al. 2023, public method): fit hashed n-gram
    * (unigram + word-bigram) bag-of-words models on a TARGET slice of the
    * corpus and on the rest (the raw/source slice), then score every
    * document by its summed smoothed log-likelihood ratio
    * `Σ_g ln(p_target(bucket(g)) / p_source(bucket(g)))` — documents that
    * "look like" the target distribution score high and are kept when
    * curating pretraining data toward a trusted domain. Hashing n-grams
    * into `buckets` buckets (the paper's trick) makes the model size O(B)
    * instead of O(vocab²), so both models broadcast at any corpus scale.
    *
    * Returns `(idCol, n_grams, avg_llr)` — per-doc mean bucket
    * log-likelihood ratio (importance weight in nats per gram) — for every
    * doc with ≥ 1 token; resampling is a caller-side top-k / threshold on
    * `avg_llr`.
    *
    * Scale shape: the exploded gram stream feeds (a) a B-row keyed count
    * (map-side combined) and (b) a broadcast join against the B-row
    * log-ratio frame — so the only data-sized shuffle is the final
    * per-doc aggregation. Bigrams are built row-local with
    * `zip_with(toks, toks[1:], concat)`, no self-join. Determinism: the
    * bucket is an md5 prefix (engine-reproducible; the DuckDB oracle
    * rebuilds it bit-for-bit); per-bucket log-ratios use
    * [[graft.functions.DetMath.lnPosInt]] — a fixed IEEE expression tree
    * over the exact integer counts, bit-identical in Spark and DuckDB,
    * immune to the libm-ulp 6-dp-boundary flip that broke the round-6
    * driver gate — and are floor-quantized to exact micro-nat longs before
    * the order-ambiguous per-doc sum. */
  def dsirWeights(df: org.apache.spark.sql.DataFrame, idCol: String,
      textCol: String, isTarget: Column, buckets: Int = 256)
      : org.apache.spark.sql.DataFrame = {
    require(buckets > 0 && buckets <= 65536, "buckets must be in (0, 65536]")
    val n1 = greatest(size(col("__toks")) - 1, lit(0))
    val bigrams = zip_with(
      slice(col("__toks"), lit(1), n1), slice(col("__toks"), lit(2), n1),
      (a, b) => concat(a, lit(" "), b))
    val grams = df
      // repartition the raw (id, flag, text) rows before tokenization: the
      // tokenize + bigram-zip + per-gram md5 below is the pass's CPU, and a
      // single-file source would pin it to one scan task (guide §2.5); all
      // downstream aggregates are exact-integer, partition-order-independent
      .select(col(idCol), isTarget.cast("boolean").as("__t"), col(textCol))
      .repartition(df.sparkSession.sparkContext.defaultParallelism)
      .select(col(idCol), col("__t"), tokens(col(textCol)).as("__toks"))
      .select(col(idCol), col("__t"),
        explode(concat(col("__toks"), bigrams)).as("__g"))
    val bucket = (conv(substring(md5(col("__g")), 1, 4), 16, 10)
      .cast("long") % buckets).cast("int")
    val bg = grams.select(col(idCol), col("__t"), bucket.as("__b"))
    val counts = bg.groupBy("__b").agg(
      sum(when(col("__t"), 1L).otherwise(0L)).as("__ct"),
      sum(when(!col("__t"), 1L).otherwise(0L)).as("__cs"))
    val totals = counts.agg(sum("__ct").as("__nt"), sum("__cs").as("__ns"))
    import graft.functions.DetMath.lnPosInt
    val lnr = (lnPosInt(col("__ct") + 1) - lnPosInt(col("__nt") + buckets)) -
      (lnPosInt(col("__cs") + 1) - lnPosInt(col("__ns") + buckets))
    val ratios = counts.crossJoin(broadcast(totals)).select(col("__b"),
      floor(lnr * lit(1e6) + lit(0.5)).as("__lrm"))
    bg.join(broadcast(ratios), Seq("__b"))
      .groupBy(col(idCol))
      .agg(count(lit(1)).as("n_grams"),
        (floor(sum("__lrm").cast("double") / lit(1e6) / count(lit(1)) * lit(1e4)
          + lit(0.5)) / lit(1e4)).as("avg_llr"))
  }

  // --- repetition signals (Gopher-style quality rules) ---

  /** Per-document repetition signals over whitespace tokens — the standard
    * "natural text vs degenerate repetition" pretraining filters:
    * `distinct_ratio` (type/token ratio), `top_token_frac` (most frequent
    * token's share), `top_bigram_frac` (most frequent word bigram's share
    * of all bigrams). ONE row-local kernel pass per doc
    * ([[graft.functions.repetition_counts]]) — a pure scan, no shuffles.
    * The earlier explode→two-keyed-aggregation formulation shuffled every
    * token twice for what is a per-document statistic (~5× this cost at
    * sf0.1); per-doc hash maps bound kernel memory by the document length.
    * Docs with no tokens are dropped; docs with one token get
    * `top_bigram_frac` 0. */
  def repetitionStats(df: org.apache.spark.sql.DataFrame, idCol: String,
      textCol: String): org.apache.spark.sql.DataFrame = {
    val s = graft.functions.repetition_counts(tokens(col(textCol)))
    df.select(col(idCol), s.as("__r"))
      .select(
        col(idCol),
        col("__r.n_tokens").as("n_tokens"),
        round(col("__r.n_distinct").cast("double") / col("__r.n_tokens"), 6).as("distinct_ratio"),
        round(col("__r.top_c").cast("double") / col("__r.n_tokens"), 6).as("top_token_frac"),
        when(col("__r.n_tokens") > 1,
          round(col("__r.top_bg_c").cast("double") / (col("__r.n_tokens") - 1), 6))
          .otherwise(0.0).as("top_bigram_frac"))
      .filter(col("n_tokens") > 0)
  }

  /** Corpus-boilerplate profile (the CCNet/RefinedWeb-style shared-span
    * signal): a word n-gram is "boilerplate" when it occurs in at least
    * `minDocs` DISTINCT documents (headers, footers, license blurbs,
    * navigation chrome). Returns one row per doc:
    * `(id, n_grams, n_boiler, boiler_ratio)` over the doc's distinct
    * n-grams — the filter feature for dropping template-heavy documents.
    *
    * Dataflow: repartition (a compacted single-file source would pin the
    * n-gram HOF generation to one core) → distinct-gram explode → per-gram
    * doc frequency as a COUNT WINDOW over the gram key (valid because
    * shingles are de-duplicated per doc) → per-doc aggregation. The window
    * replaces the naive groupBy-then-join-back shape, which would both
    * shuffle the grams twice AND re-evaluate the whole n-gram subtree per
    * branch (no cross-branch CSE — measured 3× this query's cost). Two
    * keyed shuffles total, grams computed once, no driver state. At
    * 100 TB, swap the gram STRING for its 64-bit hash
    * ([[graft.functions.shingle_hashes]]) to shrink the exchanged bytes —
    * kept as strings here so a SQL oracle can mirror the exact pipeline. */
  def boilerplateStats(df: org.apache.spark.sql.DataFrame, idCol: String,
      textCol: String, n: Int = 3, minDocs: Int = 5): org.apache.spark.sql.DataFrame = {
    require(n > 0 && minDocs >= 2, "need n > 0 and minDocs >= 2 (1 would flag every gram)")
    val id = col(idCol)
    val par = df.sparkSession.sparkContext.defaultParallelism
    val grams = df.repartition(par)
      .select(id, explode(shingles(col(textCol), n)).as("gram"))
    val w = org.apache.spark.sql.expressions.Window.partitionBy("gram")
    grams.withColumn("__n_docs", count(lit(1)).over(w))
      .groupBy(id).agg(
        count(lit(1)).as("n_grams"),
        sum(when(col("__n_docs") >= minDocs, 1L).otherwise(0L)).as("n_boiler"))
      .withColumn("boiler_ratio",
        round(col("n_boiler").cast("double") / col("n_grams"), 6))
  }

  /** The 100 TB twin of [[boilerplateStats]]: identical dataflow, but the
    * exchanged gram key is the 64-bit kernel shingle hash
    * ([[graft.functions.shingle_hashes]] — sorted distinct per doc, one
    * codegen pass) instead of the gram STRING, shrinking the two keyed
    * shuffles to 8 bytes per gram. Output is row-identical to the string
    * path up to 64-bit hash collisions (spec-asserted equal on the
    * fixture; collision odds |grams|²/2⁶⁴). The string path remains the
    * oracle surface — SQL replays its grams verbatim. */
  def boilerplateStatsHashed(df: org.apache.spark.sql.DataFrame, idCol: String,
      textCol: String, n: Int = 3, minDocs: Int = 5): org.apache.spark.sql.DataFrame = {
    require(n > 0 && minDocs >= 2, "need n > 0 and minDocs >= 2 (1 would flag every gram)")
    val id = col(idCol)
    val par = df.sparkSession.sparkContext.defaultParallelism
    val grams = df.repartition(par)
      .select(id, explode(graft.functions.shingle_hashes(
        tokens(col(textCol)), n)).as("gram"))
    val w = org.apache.spark.sql.expressions.Window.partitionBy("gram")
    grams.withColumn("__n_docs", count(lit(1)).over(w))
      .groupBy(id).agg(
        count(lit(1)).as("n_grams"),
        sum(when(col("__n_docs") >= minDocs, 1L).otherwise(0L)).as("n_boiler"))
      .withColumn("boiler_ratio",
        round(col("n_boiler").cast("double") / col("n_grams"), 6))
  }

  /** Sliding-window context chunks with overlap — the long-document prep
    * that feeds fixed-window training (stride < window duplicates the
    * boundary tokens so no span is ever split across examples without a
    * copy that contains it whole). Window starts are the arithmetic grid
    * `1, 1+stride, …` capped at `len − window + 1`, PLUS the clamped
    * final start so the tail tokens are always covered (spec-asserted:
    * every token index lies in some chunk); documents shorter than
    * `window` yield one short chunk. Row-local explode — no shuffle, no
    * state; one row per `(doc, chunk_idx)` with the chunk text and token
    * count. */
  def slidingChunks(df: org.apache.spark.sql.DataFrame, idCol: String,
      textCol: String, window: Int, stride: Int): org.apache.spark.sql.DataFrame = {
    require(window > 0 && stride > 0 && stride <= window,
      s"need 0 < stride <= window (got window=$window, stride=$stride)")
    val toks = tokens(col(textCol))
    val len = size(toks)
    val g = greatest(len - lit(window - 1), lit(1))
    val starts = array_sort(array_distinct(concat(
      sequence(lit(1), g, lit(stride)), array(g))))
    df.filter(col(textCol).isNotNull)
      .select(col(idCol), toks.as("__t"), starts.as("__s"))
      .filter(size(col("__t")) > 0)
      .select(col(idCol), col("__t"),
        posexplode(col("__s")).as(Seq("chunk_idx", "__start")))
      .select(col(idCol), col("chunk_idx"),
        array_join(slice(col("__t"), col("__start"), lit(window)), " ").as("chunk_text"),
        least(lit(window), size(col("__t")) - col("__start") + 1).as("n_tokens"))
  }

  /** Winnowing rolling fingerprints (Schleimer et al., SIGMOD'03): hash
    * every k-gram of the whitespace-normalized lowercase text, keep the
    * sorted distinct minima of all w-windows. Backed by a one-pass codegen
    * kernel ([[graft.functions.winnow_fingerprints]], monotonic-deque
    * window minima) — the earlier HOF formulation re-evaluated the full
    * hash array per `when` branch and allocated a slice per window, ~100×
    * slower on long documents. Grams are BYTE grams (== char grams on
    * ASCII corpora; multi-byte text shifts gram boundaries, acceptable for
    * a similarity fingerprint). */
  def winnowingFingerprints(text: Column, k: Int = 7, w: Int = 4): Column =
    graft.functions.winnow_fingerprints(
      regexp_replace(lower(trim(text)), "\\s+", " "), k, w)

  /** Winnowing with md5 CHAR-gram hashes — the oracle-reproducible twin of
    * [[winnowingFingerprints]]: identical selection structure (min of every
    * w-window of gram hashes, distinct per doc; single window when fewer
    * than w grams) over a gram hash any SQL engine can recompute. The gram
    * hash is the FIRST 60 BITS of the md5, materialized as a BIGINT
    * (`conv(substr(hex, 1, 15), 16, 10)` — 15 hex chars always fit a
    * signed long; DuckDB mirrors it as `('0x' || substr(md5(g),1,15))::
    * BIGINT`). Prefix ordering is a coarsening of full-md5 ordering, so
    * `min(prefix) == prefix(min)` — the selected fingerprints are the
    * prefixes of exactly the fingerprints the full-hash formulation picks —
    * while the window/shuffle compares 8-byte longs instead of 32-char
    * strings (the round-8 bench showed the string compare dominating at
    * one-row-per-character fan-out). Backed by the one-pass codegen
    * kernel [[graft.functions.winnow_md5_fingerprints]] (shared
    * monotonic-deque selection with the XXH64 kernel; one md5 per gram,
    * zero per-gram allocation on ASCII) — this replaced a relational
    * explode-to-rows + doc-keyed window formulation whose per-gram row
    * fan-out paid an exchange plus window sort over one row per
    * character (measured 6.0 s → sub-second at sf0.1), and before that
    * an HOF draft with O(grams²) md5 calls. Row-local: no shuffle at
    * any scale. Prefer the rolling-XXH64 kernel when the oracle surface
    * is not needed; values here equal the SQL
    * `conv(substr(md5(substr(text, pos, k)), 1, 15), 16, 10)` selection
    * fingerprint-for-fingerprint (spec-pinned vs an independent
    * in-memory winnower).
    *
    * Output: (idCol, fp BIGINT) — one row per distinct fingerprint per doc. */
  def winnowMd5(df: org.apache.spark.sql.DataFrame, idCol: String, textCol: String,
      k: Int = 7, w: Int = 4): org.apache.spark.sql.DataFrame = {
    require(k > 0 && w > 0, "k > 0, w > 0")
    df.select(col(idCol),
      explode(graft.functions.winnow_md5_fingerprints(
        regexp_replace(lower(trim(col(textCol))), "\\s+", " "), k, w)).as("fp"))
  }

  /** Zipf's-law fit of the corpus token-frequency distribution: OLS slope/
    * intercept of `ln(freq) ~ ln(rank)` over the `topK` most frequent
    * lowercased tokens (a healthy natural-language corpus slopes ≈ −1;
    * template/boilerplate-heavy or synthetic corpora flatten or steepen).
    *
    * Shape: one explode + keyed count (map-side combined), then a bounded
    * top-k (`TakeOrderedAndProject` — the full vocabulary is never globally
    * sorted), then the rank window + regression run over only `topK` rows.
    */
  def zipfFit(df: org.apache.spark.sql.DataFrame, textCol: String,
      topK: Int = 1000): org.apache.spark.sql.DataFrame = {
    val counts = df
      .select(explode(tokens(lower(col(textCol)))).as("token"))
      .groupBy("token").agg(count(lit(1)).as("freq"))
      .orderBy(col("freq").desc, col("token").asc).limit(topK)
    val w = org.apache.spark.sql.expressions.Window
      .orderBy(col("freq").desc, col("token").asc) // ≤ topK rows reach this
    counts.select(col("freq"), row_number().over(w).as("rank"))
      .agg(count(lit(1)).as("n_top"),
        round(regr_slope(log(col("freq")), log(col("rank"))), 6).as("slope"),
        round(regr_intercept(log(col("freq")), log(col("rank"))), 6).as("intercept"))
  }

  /** The BPE merge-step statistic — the inner kernel of byte-pair-encoding
    * tokenizer training (Sennrich et al. 2016, arXiv:1508.07909):
    * frequency of every adjacent character pair, weighted by word
    * frequency, top `topN`. At 100 TB this is the pass that dominates each
    * training round, and its shape here is the one that scales: the corpus
    * collapses to the WORD-FREQUENCY table first (one map-side-combined
    * shuffle over tokens — vocabulary-sized output, orders of magnitude
    * smaller than the corpus), then pair explosion runs over the
    * vocabulary only, never the raw text. */
  def bpePairStats(df: org.apache.spark.sql.DataFrame, textCol: String,
      topN: Int = 30): org.apache.spark.sql.DataFrame = {
    val wc = df.select(explode(split(col(textCol), "\\s+")).as("w"))
      .filter(length(col("w")) >= 2) // sequence(1, len-1) needs len >= 2
      .groupBy("w").agg(count(lit(1)).as("wc"))
    wc.select(col("wc"), explode(
        expr("transform(sequence(1, length(w) - 1), i -> substring(w, i, 2))")).as("pair"))
      .groupBy("pair").agg(sum(col("wc")).as("n"))
      .orderBy(col("n").desc, col("pair"))
      .limit(topN)
  }

  /** Full BPE tokenizer training: `nMerges` greedy rounds, each picking the
    * most frequent adjacent SYMBOL pair (count desc, then lexicographic —
    * deterministic) and merging its non-overlapping left-to-right
    * occurrences in every word. Returns the learned merge table
    * `(rank, left, right, n)` — the tokenizer artifact.
    *
    * Distribution: the corpus is read ONCE into the cached word-frequency
    * table; every round after that is (a) one vocabulary-sized pair count
    * (map-side combined), (b) a 1-row driver argmax, (c) a row-local
    * merge rewrite of the symbol arrays. The merge kernel is the
    * fold `out + s`, replacing `out`'s tail when `(last(out), s)` equals
    * the chosen pair — exactly greedy non-overlapping (a merged symbol
    * `left||right` can never equal `left` again since `right` is
    * non-empty), expressed as an `aggregate` HOF (an interpreted
    * lambda), no UDF. */
  def bpeTrain(df: org.apache.spark.sql.DataFrame, textCol: String,
      nMerges: Int): org.apache.spark.sql.DataFrame = {
    val spark = df.sparkSession
    import spark.implicits._
    var words = df.select(explode(split(col(textCol), "\\s+")).as("w"))
      .filter(length(col("w")) >= 1)
      .groupBy("w").agg(count(lit(1)).as("wc"))
      .select(expr("transform(sequence(1, length(w)), i -> substring(w, i, 1))").as("syms"),
        col("wc"))
      .cache()
    val merges = scala.collection.mutable.ArrayBuffer.empty[(Int, String, String, Long)]
    var rank = 1
    var done = false
    while (rank <= nMerges && !done) {
      val top = words
        .filter(size(col("syms")) >= 2)
        .select(col("wc"), explode(expr(
          "transform(sequence(1, size(syms) - 1), " +
            "i -> struct(element_at(syms, i) AS l, element_at(syms, i + 1) AS r))")).as("p"))
        .groupBy(col("p.l").as("l"), col("p.r").as("r"))
        .agg(sum(col("wc")).as("n"))
        .orderBy(col("n").desc, col("l"), col("r"))
        .limit(1).collect()
      if (top.isEmpty) done = true
      else {
        val (l, r, n) = (top(0).getString(0), top(0).getString(1), top(0).getLong(2))
        merges += ((rank, l, r, n))
        val merged = words.select(mergePair(col("syms"), l, r).as("syms"),
          col("wc")).cache()
        merged.count() // materialize before dropping the parent
        words.unpersist()
        words = merged
        rank += 1
      }
    }
    words.unpersist()
    merges.toSeq.toDF("rank", "left", "right", "n")
  }

  /** Greedy non-overlapping left-to-right merge of one symbol pair inside
    * a symbol array — the shared BPE kernel ([[bpeTrain]] round rewrite,
    * [[bpeEncode]] apply pass). An `aggregate` fold (an interpreted
    * lambda): append each
    * symbol, except replace the tail when `(last(out), s)` equals the
    * pair. Greedy because the merged symbol `l+r` can never re-match `l`
    * (`r` is non-empty). */
  private def mergePair(syms: Column, l: String, r: String): Column =
    aggregate(syms,
      lit(Array.empty[String]).cast("array<string>"),
      (out, s) => when(
        size(out) > 0 && element_at(out, -1) === lit(l) && s === lit(r),
        concat(slice(out, lit(1), size(out) - 1), array(lit(l + r))))
        .otherwise(concat(out, array(s))))

  /** Apply a trained BPE merge table to a corpus: per word, split to
    * characters and replay the merges in rank order; tokens across words
    * concatenate in document order. Entirely row-local (the merge table is
    * compiled INTO the expression tree — zero joins, zero shuffles, the
    * corpus streams through one WholeStageCodegen projection), which is
    * the right shape for the small merge tables this trainer produces.
    * A production 30k-merge vocabulary would blow up an expression tree —
    * that regime wants the merge table broadcast into a per-partition
    * trie kernel instead; this operator documents the cutover rather than
    * pretending one shape fits both.
    *
    * Output: every input column plus `tokens` (array) and `n_tokens`. */
  def bpeEncode(df: org.apache.spark.sql.DataFrame, textCol: String,
      merges: Seq[(String, String)]): org.apache.spark.sql.DataFrame = {
    val encodedWord = (w: Column) => merges.foldLeft(
      filter(split(w, ""), c => c =!= "")) { case (syms, (l, r)) => mergePair(syms, l, r) }
    df.withColumn("tokens", flatten(transform(tokens(col(textCol)), encodedWord)))
      .withColumn("n_tokens", size(col("tokens")))
  }

  /** Character-n-gram compressibility profile — the cheap "how repetitive
    * is this doc's byte stream" proxy (a low distinct ratio ≈ highly
    * compressible ≈ boilerplate/degenerate text, one of the standard
    * pretraining keep/drop signals). Row-local (one transform per doc, no
    * shuffle). Docs shorter than `n` chars get an EMPTY gram list — Spark's
    * `sequence(1, 0)` defaults to step −1 and would yield two spurious
    * grams where DuckDB's `range(1, 1)` is empty, a latent engine
    * divergence caught by the round-6 advisor; the degenerate case is
    * guarded explicitly and spec-covered. Returns
    * `(idCol, n_grams, n_distinct, distinct_ratio)`. */
  def compressibility(df: org.apache.spark.sql.DataFrame, idCol: String,
      textCol: String, n: Int = 4): org.apache.spark.sql.DataFrame = {
    require(n >= 1, "gram length must be positive")
    // repartition FIRST (per-row output, so placement is free): the gram
    // materialization + array_distinct is O(doc length) CPU per row, and a
    // compacted single-file source would otherwise pin the whole pass to
    // one scan task (guide §2.5 — measured 3.9 s serial vs parallel on 32)
    df.select(col(idCol), col(textCol))
      .repartition(df.sparkSession.sparkContext.defaultParallelism)
      .withColumn("__g",
        when(length(col(textCol)) >= n,
          expr(s"transform(sequence(1, length($textCol) - ${n - 1}), " +
            s"i -> substring($textCol, i, $n))"))
        .otherwise(expr("CAST(array() AS array<string>)")))
      .select(col(idCol), size(col("__g")).as("n_grams"),
        size(array_distinct(col("__g"))).as("n_distinct"),
        when(size(col("__g")) > 0,
          round(size(array_distinct(col("__g"))).cast("double") / size(col("__g")), 6))
          .otherwise(0.0).as("distinct_ratio"))
  }

  /** T5-style span-corruption planning (Raffel et al. 2020): for each doc,
    * how many fixed-length spans a `noisePct`% corruption budget buys, and
    * the resulting encoder/decoder sequence lengths (each span collapses
    * to one sentinel on the input side and expands to span + sentinel on
    * the target side). Pure per-row integer arithmetic — the planning pass
    * a pretraining pipeline runs over the whole corpus to size its packing
    * and its compute budget BEFORE materializing any corrupted text.
    * `n_spans = (n·noisePct) div 100 div spanLen`. Docs with no tokens are
    * dropped. Returns `(idCol, n_tokens, n_spans, n_corrupted, input_len,
    * target_len, corrupt_ratio)`. */
  def spanCorruptionPlan(df: org.apache.spark.sql.DataFrame, idCol: String,
      textCol: String, spanLen: Int = 3, noisePct: Int = 15)
      : org.apache.spark.sql.DataFrame = {
    require(spanLen >= 1 && noisePct >= 1 && noisePct <= 100,
      "spanLen >= 1 and noisePct in [1, 100]")
    val n = size(tokens(col(textCol)))
    df.select(col(idCol), n.as("n_tokens"))
      .filter(col("n_tokens") > 0)
      .withColumn("n_spans",
        expr(s"(n_tokens * $noisePct) div 100 div $spanLen").cast("long"))
      .withColumn("n_corrupted", col("n_spans") * spanLen)
      .withColumn("input_len", col("n_tokens") - col("n_corrupted") + col("n_spans"))
      .withColumn("target_len", col("n_corrupted") + col("n_spans"))
      .withColumn("corrupt_ratio",
        col("n_corrupted").cast("double") / col("n_tokens"))
  }

  /** Heaps'-law vocabulary-growth curve + log-log growth exponent
    * (corpus health: a collapsing exponent means the crawl stopped
    * finding novelty). Docs are grouped into arrival batches of
    * `batchSize` ids; per batch the curve reports new-token count,
    * total tokens, and the cumulative totals; every row also carries
    * the fitted OLS slope `heaps_beta` of
    * `ln(cum_distinct) ~ ln(cum_tokens)`.
    *
    * DETERMINISTIC BY CONSTRUCTION (the recipe that fixed the r07
    * covariance family — no order-ambiguous float sums anywhere):
    * the cumulative counts are exact longs from a two-sweep
    * distributed prefix scan ([[graft.operators.Prefix.cumSumLongs]] —
    * no single-partition window on the batch axis), their logs come
    * from [[graft.functions.DetMath.lnPosInt]] (bit-identical across
    * engines) floor-quantized to micro-nat longs, and the regression
    * moments `n·Σxy − Σx·Σy / n·Σx² − (Σx)²` are EXACT decimal(38,0)
    * sums of those longs — the only doubles are the final two exactly-
    * derived operands of one IEEE division, then a deterministic
    * floor-round. Merge order cannot change a single output bit.
    * Scale shape: one token shuffle for first-batch attribution, one
    * for batch totals; everything after runs on the batch axis.
    * Contract: `heaps_beta` is null when fewer than two distinct
    * quantized points exist (zero denominator). */
  def heapsLaw(df: org.apache.spark.sql.DataFrame, idCol: String,
      textCol: String, batchSize: Int = 100): org.apache.spark.sql.DataFrame = {
    require(batchSize >= 1, s"batchSize must be >= 1, got $batchSize")
    import graft.functions.DetMath
    val d = df.select(expr(s"$idCol div $batchSize").as("b"),
      explode(tokens(col(textCol))).as("tok"))
    val firstB = d.groupBy("tok").agg(min(col("b")).as("fb"))
      .groupBy(col("fb").as("b")).agg(count(lit(1)).as("new_tokens"))
    val tot = d.groupBy("b").agg(count(lit(1)).as("n_tokens"))
    val base = tot.join(firstB, Seq("b"), "left")
      .withColumn("new_tokens", coalesce(col("new_tokens"), lit(0L)))
    val curve = graft.operators.Prefix.cumSumLongs(base, "b",
      Seq("n_tokens", "new_tokens"), Seq("cum_tokens", "cum_distinct"))
    val micro = (c: Column) => // micro-nat quantization of the det ln
      floor(DetMath.lnPosInt(c) * lit(1e6) + lit(0.5)).cast("long")
    val dec = (c: Column) => c.cast("decimal(38,0)")
    val q = curve.select(micro(col("cum_tokens")).as("lx"),
      micro(col("cum_distinct")).as("ly"))
    val sums = q.agg(count(lit(1)).cast("decimal(38,0)").as("n"),
      sum(dec(col("lx"))).as("sx"), sum(dec(col("ly"))).as("sy"),
      sum(dec(col("lx")) * dec(col("lx"))).as("sxx"),
      sum(dec(col("lx")) * dec(col("ly"))).as("sxy"))
    val den = (col("n") * col("sxx") - col("sx") * col("sx")).cast("double")
    val num = (col("n") * col("sxy") - col("sx") * col("sy")).cast("double")
    val slope = sums.select(when(den === 0.0, lit(null).cast("double"))
      .otherwise(floor(num / den * lit(1e6) + lit(0.5)) / lit(1e6))
      .as("heaps_beta"))
    curve.crossJoin(broadcast(slope))
      .select(col("b"), col("n_tokens"), col("new_tokens"),
        col("cum_tokens"), col("cum_distinct"), col("heaps_beta"))
  }

  /** χ² term–class association (the classic supervised feature-selection
    * score — Yang & Pedersen, ICML'97): for each (term, class) 2×2 table
    * over DOCUMENT frequencies —
    * `a` = class docs containing the term, `b` = class docs without it,
    * `c` = other-class docs with it, `d` = the rest —
    * `χ² = N·(ad−bc)² / ((a+b)(c+d)(a+c)(b+d))`, keeping the `topK`
    * highest-scoring terms per class.
    *
    * Shape for scale: one distinct-exploded (doc, term) frame, one
    * (term, class)-keyed count, one term-keyed total, class totals
    * broadcast (rows = #classes). The only window is the per-class top-k,
    * partitioned BY class — never a single-partition sort. All table
    * cells are exact longs; the score is one fixed-order double
    * expression mirrored verbatim by the oracle, compared on the
    * micro-quantized value the rank also sorts on (ties by term asc, so
    * the cut is total-ordered and deterministic). Returns
    * `(class, term, df_in_class, chi2)`. */
  def chiSquareTerms(df: org.apache.spark.sql.DataFrame, idCol: String,
      textCol: String, classCol: String, topK: Int = 10):
      org.apache.spark.sql.DataFrame = {
    val base = df.filter(col(classCol).isNotNull && col(textCol).isNotNull)
      .select(col(idCol).as("__id"), col(classCol).as("class"),
        explode(array_distinct(tokens(col(textCol)))).as("term"))
    val tc = base.groupBy("term", "class").agg(count(lit(1)).as("a"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val perTerm = tc.groupBy("term").agg(sum("a").as("__dft"))
    val perClass = df.filter(col(classCol).isNotNull && col(textCol).isNotNull)
      .groupBy(col(classCol).as("class")).agg(count(lit(1)).as("__nc"))
    val total = perClass.agg(sum("__nc").as("__n"))
    val cells = tc
      .join(perTerm, "term")
      .join(broadcast(perClass), "class")
      .crossJoin(broadcast(total))
      .select(col("class"), col("term"), col("a"),
        (col("__nc") - col("a")).as("b"),
        (col("__dft") - col("a")).as("c"),
        (col("__n") - col("__nc") - (col("__dft") - col("a"))).as("d"),
        col("__n"))
    // fixed-order double algebra, micro-quantized: the SAME long both
    // ranks and ships, so the top-k cut and the value are order-proof
    val dd = (col("a").cast("double") * col("d").cast("double")) -
      (col("b").cast("double") * col("c").cast("double"))
    val chiQ = floor(col("__n").cast("double") * dd * dd
      / ((col("a") + col("b")).cast("double") * (col("c") + col("d")).cast("double"))
      / ((col("a") + col("c")).cast("double") * (col("b") + col("d")).cast("double"))
      * lit(1e6) + lit(0.5)).cast("long")
    val w = org.apache.spark.sql.expressions.Window.partitionBy("class")
      .orderBy(col("__chiq").desc, col("term").asc)
    val out = cells.withColumn("__chiq", chiQ)
      .withColumn("__rk", row_number().over(w))
      .filter(col("__rk") <= topK)
      .select(col("class"), col("term"), col("a").as("df_in_class"),
        (col("__chiq").cast("double") / lit(1e6)).as("chi2"))
    val res = out.transform(graft.core.Checkpoints.truncate)
    tc.unpersist()
    res
  }

  /** Blocklist scan — per-term document frequency and total occurrence
    * counts over a corpus, the primitive behind toxicity/PII blocklist
    * filters in curation pipelines. Occurrences are counted by exact
    * substring arithmetic (`(len(text) − len(replace(text, term))) / len
    * (term)`) — pure integer math both engines reproduce bit-for-bit.
    *
    * Scale shape: the corpus is scanned ONCE per term via a constant-size
    * literal-array explode (|terms| is a config constant, never data-sized),
    * then ONE |terms|-row aggregation; `doc_share` divides exact longs.
    * No UDF, no collect — every operation is codegen arithmetic.
    */
  def blocklistHits(df: org.apache.spark.sql.DataFrame, idCol: String,
      textCol: String, terms: Seq[String]): org.apache.spark.sql.DataFrame = {
    require(terms.nonEmpty && terms.forall(_.nonEmpty),
      "blocklistHits needs a non-empty list of non-empty terms")
    require(terms.distinct.size == terms.size, "blocklistHits: duplicate terms")
    val docs = df.filter(col(textCol).isNotNull)
    val tot = docs.agg(count(lit(1)).as("__n_total"))
    val occ = ((length(col(textCol)) -
      length(replace(col(textCol), col("term"), lit("")))) /
      length(col("term"))).cast("long")
    docs
      .select(col(idCol), col(textCol),
        explode(array(terms.map(lit): _*)).as("term"))
      .select(col("term"), occ.as("__occ"))
      .groupBy("term")
      .agg(sum(when(col("__occ") > 0, 1L).otherwise(0L)).as("n_docs"),
        sum(col("__occ")).as("n_occ"))
      .crossJoin(broadcast(tot))
      .select(col("term"), col("n_docs"), col("n_occ"),
        (col("n_docs").cast("double") / col("__n_total").cast("double"))
          .as("doc_share"))
  }

  /** Vocabulary coverage curve — for each target share `p`, the smallest
    * number of top-frequency types whose counts cover ≥ p of all token
    * occurrences: the number a tokenizer designer reads off to size a
    * vocab ("how many types buy 95% coverage?").
    *
    * Scale shape: ONE token-count aggregation (the corpus shuffle), then a
    * frequency-of-frequencies rollup whose row count is the number of
    * DISTINCT count values — the only frame the cumulative window touches
    * (≪ vocab, ≪ corpus). The within-class refinement is exact integer
    * ceiling division, and targets are exact rationals
    * (`ceil(N·num/den)` in longs), so the whole curve is integer-exact;
    * only `vocab_share` divides at the end. Returns one row per target:
    * `(p, target_tokens, k_types, vocab_share)`. */
  def vocabCoverage(df: org.apache.spark.sql.DataFrame, idCol: String,
      textCol: String,
      targets: Seq[(String, Int, Int)] = Seq(("0.50", 1, 2), ("0.90", 9, 10),
        ("0.95", 19, 20), ("0.99", 99, 100))): org.apache.spark.sql.DataFrame = {
    require(targets.nonEmpty &&
      targets.forall { case (_, n, d) => n > 0 && d >= n },
      "vocabCoverage: targets must be rationals in (0, 1]")
    val tk = df.filter(col(textCol).isNotNull)
      .select(explode(tokens(col(textCol))).as("t"))
      .groupBy("t").agg(count(lit(1)).as("c"))
    // bounded from here: one row per DISTINCT count value
    val ff = tk.groupBy("c").agg(count(lit(1)).as("n_types"))
      .withColumn("tok_c", col("c") * col("n_types"))
    val w = org.apache.spark.sql.expressions.Window.orderBy(col("c").desc)
      .rowsBetween(org.apache.spark.sql.expressions.Window.unboundedPreceding,
        org.apache.spark.sql.expressions.Window.currentRow)
    val cum = ff.withColumn("cum_types", sum("n_types").over(w))
      .withColumn("cum_tok", sum("tok_c").over(w))
    val tot = cum.agg(max("cum_tok").as("__n"), max("cum_types").as("__v"))
    val tgt = explode(array(targets.map { case (lbl, n, d) =>
      struct(lit(lbl).as("p"), lit(n.toLong).as("num"), lit(d.toLong).as("den"))
    }: _*)).as("__t")
    val crossed = cum.crossJoin(broadcast(tot.select(col("__n"), col("__v"), tgt)))
      .select(col("c"), col("n_types"), col("tok_c"), col("cum_types"),
        col("cum_tok"), col("__n"), col("__v"),
        col("__t.p").as("p"),
        // true integer ceiling division (`div`, == the oracle's `//`):
        // double `/` + cast loses exactness past 2^53 token counts
        expr("(__n * __t.num + __t.den - 1) div __t.den").as("target_tokens"))
    crossed
      .filter(col("cum_tok") >= col("target_tokens") &&
        (col("cum_tok") - col("tok_c")) < col("target_tokens"))
      .select(col("p"), col("target_tokens"),
        ((col("cum_types") - col("n_types")) +
          expr("(target_tokens - (cum_tok - tok_c) + c - 1) div c"))
          .as("k_types"),
        (col("__v")).as("n_types_total"))
      .withColumn("vocab_share",
        col("k_types").cast("double") / col("n_types_total").cast("double"))
  }

  /** Yule's K vocabulary-richness characteristic plus the hapax share —
    * the classic lexical-diversity pair a corpus-health report carries
    * next to Zipf/Heaps. `K = 10⁴·(S₂ − N)/N²` with `N` total tokens and
    * `S₂ = Σ_t c_t²` the sum of squared token counts (identically
    * `Σ_m m²·V_m` over the frequency-of-frequencies); K is
    * length-invariant where raw type/token ratio is not.
    *
    * Scale shape: ONE token-count aggregation (the corpus shuffle) and
    * ONE bounded rollup — every statistic (`N`, `S₂`, type and hapax
    * counts) is an exact long sum, so only the two closing divisions are
    * floating point and they are pinned single expressions. Returns one
    * row `(n_tokens, n_types, hapax, hapax_share, yule_k)`. */
  def yuleK(df: org.apache.spark.sql.DataFrame, idCol: String,
      textCol: String): org.apache.spark.sql.DataFrame = {
    val tk = df.filter(col(textCol).isNotNull)
      .select(explode(tokens(col(textCol))).as("t"))
      .groupBy("t").agg(count(lit(1)).as("c"))
    tk.agg(sum("c").as("n_tokens"), count(lit(1)).as("n_types"),
        sum(col("c") * col("c")).as("s2"),
        sum(when(col("c") === 1, 1L).otherwise(0L)).as("hapax"))
      .select(col("n_tokens"), col("n_types"), col("hapax"),
        (col("hapax").cast("double") / col("n_types").cast("double"))
          .as("hapax_share"),
        ((col("s2") - col("n_tokens")).cast("double") * lit(1e4) /
          (col("n_tokens").cast("double") * col("n_tokens").cast("double")))
          .as("yule_k"))
  }

  /** Canonical URL — the first dedup key of every web-crawl pipeline:
    * lowercase scheme+host, drop default ports (`:80`/`:443`), collapse
    * trailing path slashes (bare host → `/`), strip the fragment, drop
    * tracking params (`utm_*`, `fbclid`, `gclid`), and sort the remaining
    * query params. Pure regex/array compositions over ASCII classes
    * (`[[TextAnalysis]]`'s no-UDF rule): row-local (the param `filter`
    * and `array_sort` are interpreted lambdas), oracle-mirrorable. Non-URL strings (no `scheme://`) canonicalize to
    * `://` + whatever matched — callers filter those upstream. */
  def canonicalUrl(url: Column): Column = {
    val scheme = lower(regexp_extract(url, "^([A-Za-z][A-Za-z0-9+.-]*)://", 1))
    val host = regexp_replace(
      lower(regexp_extract(url, "^[A-Za-z][A-Za-z0-9+.-]*://([^/?#]+)", 1)),
      ":(80|443)$", "")
    val path0 = regexp_replace(
      regexp_extract(url, "^[A-Za-z][A-Za-z0-9+.-]*://[^/?#]+([^?#]*)", 1),
      "/+$", "")
    val path = when(path0 === "", lit("/")).otherwise(path0)
    val q = regexp_extract(url, "\\?([^#]*)", 1)
    val params = filter(split(q, "&"),
      p => p =!= "" && !p.rlike("^(utm_[^=]*|fbclid|gclid)="))
    val qs = array_join(array_sort(params), "&")
    concat(scheme, lit("://"), host, path,
      when(qs === "", lit("")).otherwise(concat(lit("?"), qs)))
  }
}
