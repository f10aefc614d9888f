package graft.checks

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions.lit
import graft.core.MetricResult

/** The per-check formulation of `ResultObj`'s three outputs, in which every
  * check re-derives its verdict from the input once per output: the valid
  * split a fold of each check's `valid`, the invalid union one `invalid`
  * branch per check, the metrics one fused aggregate over the input plus
  * each other check's own job. Kept as the parity reference of the marked
  * frame (as `QuantHof` is for the quantization kernels). */
object ResultFold {

  def validDf(checks: Seq[BaseCheck], df: DataFrame): DataFrame =
    checks.foldLeft(df)((d, c) => c.valid(d))

  def invalidUnion(checks: Seq[BaseCheck], df: DataFrame, tagCol: String): DataFrame =
    checks.map(c => c.invalid(df).withColumn(tagCol, lit(c.metricName))).reduceLeft(_.unionByName(_))

  def metricRows(checks: Seq[BaseCheck], df: DataFrame): Seq[MetricResult] = {
    val (fusable, standalone) = checks.partition(_.metricAggs(df).nonEmpty)
    val fused =
      if (fusable.isEmpty) Seq.empty
      else {
        val aggs = fusable.flatMap(_.metricAggs(df))
        val row = df.agg(aggs.head, aggs.tail: _*).head()
        fusable.flatMap(_.metricsFromRow(row))
      }
    fused ++ standalone.flatMap(_.metricResults(df))
  }
}
