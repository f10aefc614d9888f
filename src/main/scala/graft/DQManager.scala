package graft

import scala.collection.mutable.ArrayBuffer
import org.apache.spark.rdd.RDD
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.functions.{array, col, explode, lit, when}
import org.apache.spark.sql.graft.Bridge
import org.apache.spark.storage.StorageLevel
import graft.checks.{BaseCheck, ConsistencyCheck, RowCheck, UniqueCheck, Verdict}
import graft.core.{CacheObject, MetricResult}

/** Orchestrator — parity target `DQManager`
  * (`/root/reference/src/pyspark_data_quality/dq_manager.py:20-50`).
  *
  * Deviation D3: the cache is per-manager (the reference's process-wide
  * singleton leaks `"df_count"` and the cached DataFrames across managers —
  * bug B7).
  */
final class DQManager(val spark: SparkSession, val dataset: String = "") {
  val cacheObj: CacheObject = new CacheObject
  private val checks = ArrayBuffer.empty[BaseCheck]
  private var originalDf: Option[DataFrame] = None

  def addCheck(check: BaseCheck): this.type = {
    check.cacheObj = cacheObj // injection, `dq_manager.py:28-30`
    checks += check
    this
  }

  def setData(df: DataFrame): this.type = { originalDf = Some(df); this }

  /** Identity hook for future pre-check transforms (`dq_manager.py:33`). */
  protected def transform(df: DataFrame): DataFrame = df

  /** Purely lazy — no Spark action (`dq_manager.py:32-47`). */
  def run(): ResultObj = {
    val orig = originalDf.getOrElse(throw new IllegalStateException("data not set"))
    val transformed = transform(orig)
    cacheObj.set("dq_manager_original_df", orig)
    cacheObj.set("dq_manager_transformed_df", transformed)
    new ResultObj(checks.toList, transformed, spark)
  }
}

/** Result facade — parity target `ResultObj` (`result_obj.py:32-70`).
  *
  * Spark-native improvement (SURVEY.md §4 O1): the outputs read one marked
  * frame, the input plus the verdicts that need a join (a reference-key flag
  * per [[ConsistencyCheck]], a duplicate-key flag per keyed [[UniqueCheck]]),
  * built lazily at most once and persisted `MEMORY_AND_DISK`, so a lost
  * block is recomputed from lineage. Without such a check it is the input.
  * [[getMetricResults]] is one aggregate (outlier and drift checks add their
  * own jobs), [[getInvalidUnionDf]] one scan, and [[getValidDf]]
  * deduplicates only the rows of a duplicated key. Every output first checks
  * every check's columns.
  */
final class ResultObj(
    val checks: List[BaseCheck],
    val df: DataFrame,
    val spark: SparkSession
) {

  private val inputCols: Seq[Column] = df.columns.toSeq.map(col)

  /** Per check, its flag column in the marked frame, if any. */
  private val flags: List[Option[String]] = checks.zipWithIndex.map {
    case (_: ConsistencyCheck, i) => Some(s"__graft_ref_hit_$i")
    case (u: UniqueCheck, i) if u.inputAttributes.nonEmpty => Some(s"__graft_dup_$i")
    case _ => None
  }

  private lazy val validated: Unit = checks.foreach(_.preCheck(df))

  @volatile private var markedRdd: Option[RDD[InternalRow]] = None

  private lazy val marked: DataFrame = {
    validated
    val joined = checks.zip(flags).foldLeft(df) {
      case (m, (c: ConsistencyCheck, Some(f))) => c.markReferenced(m, f)
      case (m, (u: UniqueCheck, Some(f))) => u.markDuplicates(m, df, f)
      case (m, _) => m
    }
    if (joined eq df) df
    else {
      // the scan reuses one mutable row, so the cached rows are copies
      val rdd = joined.queryExecution.toRdd.map(_.copy()).persist(StorageLevel.MEMORY_AND_DISK)
      markedRdd = Some(rdd)
      Bridge.rddFrame(joined, rdd)
    }
  }

  /** Per check: its step of the valid fold and, if it has one, its fail
    * verdict on the marked frame (an outlier's bounds are a statistic of the
    * rows it sees). Built once: an anchorless freshness horizon is fixed. */
  private lazy val steps: List[(BaseCheck, DataFrame => DataFrame, Option[Column])] = {
    val m = marked
    def rowLocal(c: BaseCheck, v: Verdict) = (c, (d: DataFrame) => d.filter(v.pass), Some(v.fail))
    checks.zip(flags).map {
      case (r: RowCheck, _) => rowLocal(r, r.scopedVerdict(m))
      case (c: ConsistencyCheck, Some(f)) =>
        rowLocal(c, Verdict(col(f), !col(f)).within(c.scope.toColumn(m)))
      case (u: UniqueCheck, Some(f)) =>
        (u, (d: DataFrame) => u.validMarked(d, col(f)), Some(u.failMarked(m, col(f))))
      case (c, _) => (c, (d: DataFrame) => c.valid(d), None)
    }
  }

  /** Fold of all checks' valid filters — intersection (AND) semantics
    * (`result_obj.py:44-50`): check k sees only the rows that passed checks
    * 1..k-1, so an outlier check's bounds come from the rows it sees. */
  def getValidDf: DataFrame = {
    val folded = steps.foldLeft(marked) { case (d, (_, keep, _)) => keep(d) }
    if (marked eq df) folded else folded.select(inputCols: _*)
  }

  /** Fold of all checks' invalid filters (`result_obj.py:52-58`). Works
    * across checks because every default `invalid` here is schema-preserving
    * (deviation D2 fixes reference bug B4). Stays a fold of the per-check
    * `invalid`s: a unique check's duplicates depend on the rows folded into
    * it. */
  def getInvalidDf: DataFrame = {
    validated
    checks.foldLeft(df)((d, c) => c.getInvalidDf(d))
  }

  /** Per-check invalid rows as ONE schema-preserving union, each row tagged
    * with the failing check's metric name (`__graft_failed_check`). This is
    * the D2 companion to the fold: the fold composes filters (rows invalid
    * under check 1 never reach check 2's invalid set), while this union
    * attributes every row to every check it violates — the shape a
    * quarantine/repair pipeline wants. One scan of the marked frame emits a
    * row per failing check; a check without a fail column adds its own
    * `invalid`. */
  def getInvalidUnionDf(tagCol: String = "__graft_failed_check"): DataFrame = {
    val m = marked
    val fails = steps.collect { case (c, _, Some(f)) => (c.metricName, f) }
    val scanned = if (fails.isEmpty) None else Some(
      m.filter(fails.map(_._2).reduce(_ || _))
        .select(inputCols :+ explode(array(fails.map { case (n, f) => when(f, n) }: _*)).as(tagCol): _*)
        .filter(col(tagCol).isNotNull)
        .withColumn(tagCol, Bridge.knownNotNull(col(tagCol))))
    val own = steps.collect { case (c, _, None) =>
      c.invalid(m).select(inputCols :+ lit(c.metricName).as(tagCol): _*)
    }
    (scanned ++ own).reduceOption(_.union(_))
      .getOrElse(df.filter(lit(false)).withColumn(tagCol, lit(null).cast("string")))
  }

  /** All checks' metric rows: the fusable checks' and the consistency
    * checks' from ONE aggregation job, the rest each its own way over the
    * input (an outlier check's mean and deviation sum the rows in the
    * input's order). */
  def metricRows: Seq[MetricResult] = {
    validated
    val hits = checks.zip(flags).collect { case (c: ConsistencyCheck, Some(f)) => (c, f) }
    val in = if (hits.isEmpty) df else marked
    val (fusable, standalone) = checks.partition(_.metricAggs(in).nonEmpty)
    val aggs = fusable.flatMap(_.metricAggs(in)) ++
      hits.flatMap { case (c, f) => c.orphanAggs(in, col(f)) }
    lazy val row = in.agg(aggs.head, aggs.tail: _*).head()
    fusable.flatMap(_.metricsFromRow(row)) ++ standalone.flatMap {
      case c: ConsistencyCheck => c.metricsFromRow(row)
      case c => c.metricResults(df)
    }
  }

  /** Metrics as a DataFrame with the exact reference schema
    * (`result_obj.py:60-70`); empty input → empty DF with same schema. */
  def getMetricResults: DataFrame = MetricResult.toDF(spark, metricRows)

  /** Releases the marked frame's cached blocks. */
  def unpersist(): Unit = markedRdd.foreach(_.unpersist(false))
}
