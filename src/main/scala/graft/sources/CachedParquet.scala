package graft.sources

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.types.StructType

/** Parquet reads with a METADATA-only schema cache (never data, never
  * results): a bare `spark.read.parquet(path)` infers the schema on every
  * call — a driver-side footer read plus one scheduled Spark job
  * ("parquet at ..." in the UI) before the real query starts. Operators
  * that make many passes over stores they themselves just wrote (the
  * disk-ANN lifecycle reads its store 5-10 times per maintenance call)
  * pay that fixed job each time for an answer that cannot change while
  * the path is unchanged.
  *
  * Safety: the cache key is the path and the entry is validated against
  * the path's (mtime, length) on EVERY read, so an overwrite re-infers.
  * Partitioned-store appends can leave the top directory's mtime
  * untouched, so this helper is ONLY for paths whose schema is invariant
  * across appends (true of every call site: a store's column set and id
  * type are fixed at creation by its writer). Results never depend on
  * the cache — a hit supplies the identical StructType inference would.
  *
  * A writer that knows the schema it just wrote [[prime]]s the cache with
  * it, so even the first read of a fresh store skips inference. It must
  * prime what inference would return: the written columns, partition
  * columns last with their inferred types (the reader makes every field
  * nullable either way).
  */
object CachedParquet {

  private val cache =
    new java.util.concurrent.ConcurrentHashMap[String, (String, StructType)]()

  def read(spark: SparkSession, path: String): DataFrame = {
    val stamp = stampOf(spark, path)
    if (stamp == null) return spark.read.parquet(path) // let Spark raise its usual error
    val hit = cache.get(path)
    if (hit != null && hit._1 == stamp) spark.read.schema(hit._2).parquet(path)
    else {
      val fresh = spark.read.parquet(path)
      cache.put(path, (stamp, fresh.schema))
      fresh
    }
  }

  /** Cache `schema` for `path` as it stands now (the next change to the
    * path's stamp re-infers). */
  def prime(spark: SparkSession, path: String, schema: StructType): Unit = {
    val stamp = stampOf(spark, path)
    if (stamp != null) cache.put(path, (stamp, schema))
    ()
  }

  /** The cached (or freshly inferred) schema of `path` — for callers that
    * need only a column's type, not a frame. */
  def schemaOf(spark: SparkSession, path: String): StructType = read(spark, path).schema

  private def stampOf(spark: SparkSession, path: String): String =
    try {
      val hp = new org.apache.hadoop.fs.Path(path)
      val fs = hp.getFileSystem(spark.sessionState.newHadoopConf())
      val st = fs.getFileStatus(hp)
      s"${st.getModificationTime}:${st.getLen}"
    } catch { case _: java.io.IOException => null }
}
