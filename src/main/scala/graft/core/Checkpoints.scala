package graft.core

import org.apache.spark.rdd.RDD
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.InternalRow
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
  * the same switch for RDD-level state (the [[Superstep]] kernel), and
  * [[leaf]] for round state that must plan with constant stats. */
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

  /** A round's state materialised by [[leaf]]: the frame reading it, and
    * how many of its rows matched the leaf's predicate. */
  final class Leaf private[Checkpoints] (val frame: DataFrame, val matching: Long,
      rdd: RDD[InternalRow]) {
    /** Drops the cache once no later round reads [[frame]]. */
    def release(): Unit = { rdd.unpersist(false); () }
  }

  /** The fused materialise-and-count step of a DataFrame fixpoint: ONE job
    * materialises `df`'s internal rows through [[materialize]] (so the
    * conf's truncation applies) and counts the rows satisfying `pred`,
    * which must read only fields valid on an [[InternalRow]]. The leaf is
    * a `LogicalRDD` with CONSTANT default stats: a state frame that joins
    * itself every round would otherwise inherit stats that multiply per
    * round (see `Graph.minLabelFixpoint`). The price is the planner's view
    * of the real size — a frame whose joins want a stats-justified
    * broadcast should go through [[truncate]] instead. */
  def leaf(df: DataFrame)(pred: InternalRow => Boolean): Leaf = {
    // the scan reuses one mutable row, so the cached rows are copies
    val rdd = df.queryExecution.toRdd.map(_.copy())
    val matching =
      try materialize(df.sparkSession, rdd)(_.foldLeft(0L)((n, r) => if (pred(r)) n + 1 else n))
      catch { case t: Throwable => rdd.unpersist(false); throw t }
    new Leaf(org.apache.spark.sql.graft.Bridge.internalCreateDataFrame(
      df.sparkSession, rdd, df.schema), matching, rdd)
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
