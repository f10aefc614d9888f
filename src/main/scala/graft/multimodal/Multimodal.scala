package graft.multimodal

import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._

/** One media item: opaque binary payload + typed metadata. The Spark-side
  * contract for image/audio/video columns at 100 TB: payload stays an
  * opaque `binary` column (never parsed by Catalyst), metadata is columnar
  * and prunable, and decode runs partition-wise so one task amortizes
  * decoder init over a whole batch of rows. */
final case class MediaRecord(
    mediaId: Long,
    mediaType: String,
    payload: Array[Byte],
    meta: Map[String, String])

final case class MediaFeatures(
    mediaId: Long,
    mediaType: String,
    nBytes: Long,
    features: Array[Float])

/** Pluggable decoder. Decoding real image/audio bytes needs codec libraries
  * not present in this container — implementations are STUBS behind this
  * trait; the Spark plumbing (schema, partitioning, batch shape) is real. */
trait MediaDecoder extends Serializable {
  /** Fixed-length feature vector from raw bytes. */
  def decode(mediaType: String, payload: Array[Byte]): Array[Float]

  /** Batched decode hook — override when the real backend wants batches
    * (GPU inference, vectorized codecs). Default: per-item [[decode]]. */
  def decodeBatch(items: Seq[(String, Array[Byte])]): Seq[Array[Float]] =
    items.map { case (t, p) => decode(t, p) }
}

/** Deterministic fake decoder (clearly marked stand-in for a real codec):
  * features are a seeded hash-fold of the payload bytes — stable across
  * runs/executors so tests and oracles can pin outputs. A real deployment
  * swaps this for a JNI/FFI codec without touching the pipeline. */
final class DeterministicFakeDecoder(val dim: Int = 8) extends MediaDecoder {
  override def decode(mediaType: String, payload: Array[Byte]): Array[Float] = {
    val out = new Array[Float](dim)
    var h = 1125899906842597L // large prime seed
    var i = 0
    while (i < payload.length) {
      h = 31 * h + payload(i)
      out(i % dim) += (payload(i) & 0xff).toFloat / 255f
      i += 1
    }
    out(0) += (h & 0xffff).toFloat / 65535f
    out
  }
}

/** Multimodal-column operators (SURVEY.md §2c north-star extension).
  * Fixture: payloads are synthesized deterministically from `documents.text`
  * (UTF-8 bytes) so byte-level stats are DuckDB-oracle-checkable. */
object Multimodal {

  /** Attach a synthetic binary payload (UTF-8 bytes of a text column) plus
    * sniffed type + metadata — stands in for reading real media blobs. */
  def synthesizePayload(df: DataFrame, idCol: String, textCol: String): DataFrame =
    df.select(
      col(idCol).as("media_id"),
      encode(col(textCol), "UTF-8").as("payload"),
      map(lit("origin"), lit("synthetic"), lit("codec"), lit("utf8")).as("meta"))

  /** Deterministic REAL-format media payloads: `doc_id % 3` selects
    * PNG / JFIF-JPEG / RIFF-WAVE and [[MediaFixtures]] lays out genuine
    * container bytes whose header fields are closed forms of the row —
    * the encode half of the oracle-checked round trip through
    * [[HeaderParseDecoder]]. Row-local `Dataset.map` (no shuffle). */
  def synthesizeMediaPayload(df: DataFrame, idCol: String, textCol: String): DataFrame = {
    val spark = df.sparkSession
    import spark.implicits._
    df.select(col(idCol).cast("long"), col(textCol)).as[(Long, String)]
      .map { case (id, text) => (id, MediaFixtures.forDoc(id, text)) }
      .toDF("media_id", "payload")
      .withColumn("meta",
        map(lit("origin"), lit("synthetic-media"), lit("codec"), lit("header-fixture")))
  }

  /** Magic-byte content sniffing on the binary payload (first bytes; real
    * signatures for png/jpeg/riff, 'bin' otherwise). Pure column ops —
    * codegen'd, no decode. */
  def sniffType(payload: org.apache.spark.sql.Column): org.apache.spark.sql.Column =
    when(hex(substring(payload, 1, 4)) === "89504E47", "png")
      .when(hex(substring(payload, 1, 3)) === "FFD8FF", "jpeg")
      .when(hex(substring(payload, 1, 4)) === "52494646", "riff")
      .otherwise("bin")

  /** Byte-level stats per payload — scan-speed, no decode. */
  def byteStats(df: DataFrame): DataFrame =
    df.select(
      col("media_id"),
      length(col("payload")).as("n_bytes"),
      sha2(col("payload"), 256).as("sha256"),
      sniffType(col("payload")).as("sniffed_type"))

  /** Partition-wise feature extraction: the decoder is instantiated once per
    * partition (amortizing codec init), rows stream through in one pass.
    * This is the Scala/Dataset equivalent of a Pandas-UDF `mapInPandas`
    * batch loop. */
  def extractFeatures(
      ds: Dataset[MediaRecord],
      decoder: () => MediaDecoder
  ): Dataset[MediaFeatures] = {
    val spark = ds.sparkSession
    import spark.implicits._
    ds.mapPartitions { it =>
      val d = decoder() // one decoder per partition, not per row
      it.map { r =>
        MediaFeatures(r.mediaId, r.mediaType, r.payload.length.toLong,
          d.decode(r.mediaType, r.payload))
      }
    }
  }

  /** Batched variant of [[extractFeatures]] — the exact shape of a
    * Pandas-UDF `mapInPandas` loop: rows stream through in bounded
    * `batchSize` groups so a GPU/vectorized decoder sees full batches while
    * peak memory stays `batchSize × payload` regardless of partition size.
    * Output order within each partition is preserved. */
  def extractFeaturesBatched(
      ds: Dataset[MediaRecord],
      decoder: () => MediaDecoder,
      batchSize: Int = 64
  ): Dataset[MediaFeatures] = {
    require(batchSize > 0)
    val spark = ds.sparkSession
    import spark.implicits._
    ds.mapPartitions { it =>
      val d = decoder()
      it.grouped(batchSize).flatMap { batch =>
        val feats = d.decodeBatch(batch.map(r => (r.mediaType, r.payload)))
        require(feats.size == batch.size,
          s"decodeBatch returned ${feats.size} results for ${batch.size} inputs " +
            "(a silent zip would drop or mispair records)")
        batch.iterator.zip(feats.iterator).map { case (r, f) =>
          MediaFeatures(r.mediaId, r.mediaType, r.payload.length.toLong, f)
        }
      }
    }
  }

  /** Fixed-size frame sampling over a binary payload: the payload is cut
    * into `frameBytes`-sized frames and every `step`-th frame is kept — the
    * Spark-side shape of video frame sampling (schema, fan-out, per-frame
    * stats); a real deployment swaps byte-chunking for codec keyframe
    * extraction inside the same plumbing. One row per sampled frame,
    * all column ops (substring/sha2 are compiled; the frame `filter` is an
    * interpreted lambda), no UDFs.
    * Expects `media_id` + `payload` columns. */
  def sampleFrames(df: DataFrame, frameBytes: Int, step: Int): DataFrame = {
    require(frameBytes > 0 && step > 0)
    val nFrames = ceil(length(col("payload")).cast("double") / frameBytes).cast("int")
    df.filter(length(col("payload")) > 0)
      .withColumn("frame_idx", explode(filter(
        sequence(lit(0), nFrames - 1), i => i % step === 0)))
      .withColumn("frame", substring_index_bytes(col("payload"), col("frame_idx"), frameBytes))
      .select(
        col("media_id"), col("frame_idx"),
        length(col("frame")).as("frame_bytes"),
        sha2(col("frame"), 256).as("frame_sha256"))
  }

  /** `substring` on binary with a column offset (frame_idx * frameBytes). */
  private def substring_index_bytes(
      payload: org.apache.spark.sql.Column,
      frameIdx: org.apache.spark.sql.Column,
      frameBytes: Int): org.apache.spark.sql.Column =
    expr(s"substring(payload, frame_idx * $frameBytes + 1, $frameBytes)")

  /** Deterministic feature "resize": mean-pool an `array<float>` vector
    * down to `outDim` buckets (the plumbing twin of image resize — a real
    * pipeline resizes inside the decoder; this keeps downstream schema and
    * cost shape honest). Built-in HOFs only. */
  def resizeVector(vec: org.apache.spark.sql.Column, inDim: Int, outDim: Int): org.apache.spark.sql.Column = {
    require(outDim > 0 && inDim >= outDim)
    // adaptive pooling boundaries: bucket i covers
    // [i*inDim/outDim, (i+1)*inDim/outDim) — every bucket non-empty for any
    // inDim >= outDim (a fixed ceil(inDim/outDim) pool width would leave
    // trailing buckets empty, e.g. inDim=4/outDim=3, and divide by zero).
    // Reduces to equal-width pooling when outDim divides inDim.
    transform(sequence(lit(0), lit(outDim - 1)), i => {
      val start = floor(i.cast("double") * inDim / outDim).cast("int")
      val end = floor((i + 1).cast("double") * inDim / outDim).cast("int")
      val chunk = slice(vec, start + 1, end - start)
      (aggregate(chunk, lit(0.0d), (a, x) => a + x.cast("double")) / size(chunk)).cast("float")
    })
  }

  /** Container-header length of the fixture formats — where the payload
    * BODY (the re-encodable content a near-dup hash should cover) starts.
    * Closed forms for the single-chunk containers [[MediaFixtures]]
    * writes (PNG sig+IHDR+IEND = 45, JFIF SOI+APP0+SOF0+EOI = 41, WAV
    * RIFF header = 44); a production pipeline takes body offsets from its
    * decoder instead — general PNGs/JPEGs have variable chunk lists. */
  def bodyOffset(kind: org.apache.spark.sql.Column): org.apache.spark.sql.Column =
    when(kind === "png", 45).when(kind === "jpeg", 41)
      .when(kind === "riff", 44).otherwise(0)

  /** MEDIA-BYTE near-dup pairs — the dedup modality for the multimodal
    * pillar (text dedup hashes tokens; this hashes the PAYLOAD BYTES, the
    * signal that survives metadata edits and catches re-uploads /
    * re-muxes of the same asset): fixed-stride byte `gramBytes`-grams of
    * the payload body (header stripped via [[bodyOffset]] — two assets
    * differing only in container metadata still collide), each gram
    * hashed and majority-voted into a 64-bit SimHash, banded 4×16-bit
    * WITHIN (sniffed format) blocks, exact-Hamming verified — the
    * [[graft.dedup.Dedup.simHashPairs]] machinery applied to bytes
    * (shared core: `Dedup.bandedHammingPairs`; same pigeonhole
    * guarantees: distance ≤ 3 loss-free, ≤ 7 with `probeBits`).
    *
    * Scale shape: grams and signatures are ROW-LOCAL (the gram list is a
    * bounded `transform` over the hex body — never exploded per gram),
    * so the corpus-wide pass is one projection; only the 8-byte
    * signatures shuffle into band buckets. Format blocking keeps pairs
    * within a modality; block further by parsed dims/duration buckets
    * upstream (filter or add to the payload frame) when a corpus is
    * format-skewed. Grams are hashed with md5 so an external SQL engine
    * replays the signature bit-for-bit (the `simhash64_md5` oracle path).
    *
    * Fixed-stride byte grams are deliberately alignment-SENSITIVE: an
    * insertion shifts every later gram (unlike rolling-window text
    * shingles), which is the right trade for media — re-encodes preserve
    * byte alignment, and content-defined chunking covers the shifted
    * case ([[graft.text.TextAnalysis.cdcChunks]] on bytes).
    *
    * Output: `(kind, ida, idb, hamming)`, `hamming <= maxHamming`. */
  def mediaNearDupPairs(
      df: DataFrame,
      idCol: String,
      payloadCol: String,
      gramBytes: Int = 8,
      strideBytes: Int = 8,
      maxHamming: Int = 6,
      maxBucketSize: Int = Int.MaxValue,
      probeBits: Boolean = false
  ): DataFrame = {
    require(gramBytes > 0 && strideBytes > 0)
    val kind = sniffType(col(payloadCol))
    val off = bodyOffset(kind)
    val bodyHex = hex(col(payloadCol).substr(off + 1, lit(Int.MaxValue)))
    val bodyLen = octet_length(col(payloadCol)) - off
    // integer division (Column / is double division; lengths < 2^31 so the
    // floor-double detour is exact)
    val nGrams = floor((bodyLen - gramBytes).cast("double") / strideBytes).cast("int") + 1
    val grams = transform(sequence(lit(0), nGrams - 1),
      i => bodyHex.substr(i * (strideBytes * 2) + 1, lit(gramBytes * 2)))
    val sigs = df
      .repartition(df.sparkSession.sparkContext.defaultParallelism)
      .filter(col(payloadCol).isNotNull && bodyLen >= gramBytes)
      .select(col(idCol).as("id"),
        graft.functions.simhash64_md5(grams).as("sig"),
        kind.as("__blk"))
    graft.dedup.Dedup.bandedHammingPairs(sigs, maxHamming, maxBucketSize, probeBits)
      .select(col("__blk").as("kind"), col("ida"), col("idb"), col("hamming"))
  }

  /** Typed view over a payload DataFrame. */
  def asRecords(spark: SparkSession, df: DataFrame): Dataset[MediaRecord] = {
    import spark.implicits._
    df.select(
      col("media_id").as("mediaId"),
      sniffType(col("payload")).as("mediaType"),
      col("payload"),
      col("meta")).as[MediaRecord]
  }
}
