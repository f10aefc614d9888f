package graft.core

import org.apache.spark.rdd.RDD
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.storage.StorageLevel

/** Session-conf-driven lineage truncation for iterative operators
  * (connected components, PageRank, k-core peeling, skyline frontiers,
  * pair-pipeline hand-offs). Every iteration must cut its lineage or the
  * plan grows with rounds; HOW it cuts is a deployment decision:
  *
  *  - `spark.graft.checkpointDir` UNSET (default): `localCheckpoint` —
  *    executor-local block storage, no distributed filesystem needed.
  *    Right for local mode and interactive work, but blocks die with
  *    their executor, so a lost executor mid-iteration fails the job on
  *    a real cluster.
  *  - `spark.graft.checkpointDir=<dir>`: RELIABLE `checkpoint` into that
  *    directory (HDFS/object store on a cluster) — recomputable after
  *    executor loss, the shape a 1000-executor run needs. One conf flips
  *    every iterative operator at once; no code changes.
  *
  * Both variants are EAGER (materialize now), which the call sites rely
  * on to unpersist upstream caches immediately after. [[materialize]] is
  * the same switch for RDD-level state (the [[Superstep]] kernel). */
object Checkpoints {

  final val ConfKey = "spark.graft.checkpointDir"

  // last conf value applied per application: setCheckpointDir mints a
  // fresh unique subdirectory every call, so only re-apply on change
  // (getCheckpointDir returns the QUALIFIED subdir, never equal to the
  // raw conf value — it can't serve as the change detector)
  private val applied = new java.util.concurrent.ConcurrentHashMap[String, String]()

  def truncate(df: DataFrame): DataFrame =
    if (reliable(df.sparkSession)) df.checkpoint() else df.localCheckpoint()

  /** RDD twin of [[truncate]]: marks `rdd` for the conf's truncation and
    * materialises it in ONE job that also sums `measure` over its
    * partitions (the fused materialise-and-count of an iterative round).
    * Call it before any other job touches `rdd`. Local mode cuts the
    * lineage in that job; reliable mode keeps the blocks cached and adds
    * Spark's checkpoint-write job, which reads them back from the cache. */
  def materialize[T](spark: SparkSession, rdd: RDD[T])(measure: Iterator[T] => Long): Long = {
    if (reliable(spark)) rdd.persist(StorageLevel.MEMORY_AND_DISK).checkpoint()
    else rdd.localCheckpoint()
    spark.sparkContext.runJob(rdd, measure).sum
  }

  /** Whether the conf asks for reliable checkpoints; points the context's
    * checkpoint dir at it when it does. */
  private def reliable(spark: SparkSession): Boolean =
    spark.conf.getOption(ConfKey).filter(_.nonEmpty) match {
      case Some(dir) =>
        val sc = spark.sparkContext
        if (applied.put(sc.applicationId, dir) != dir || sc.getCheckpointDir.isEmpty)
          sc.setCheckpointDir(dir)
        true
      case None => false
    }
}
