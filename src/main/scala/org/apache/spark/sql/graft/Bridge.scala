package org.apache.spark.sql.graft

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.classic.ExpressionUtils

/** Thin forwarder to Spark's `private[sql]` Column↔Expression converters —
  * the supported way for an external library to wrap a custom Catalyst
  * `Expression` into a user-facing `Column` on Spark 4 (the pre-4.0
  * `new Column(expr)` constructor is gone). Lives in the
  * `org.apache.spark.sql` package tree solely for access; no Spark
  * internals are reimplemented here. */
object Bridge {
  def column(e: Expression): Column = ExpressionUtils.column(e)
  def expression(c: Column): Expression = ExpressionUtils.expression(c)

  /** `c`, typed nullable whatever its expression's own nullability. */
  def nullable(c: Column): Column =
    column(org.apache.spark.sql.catalyst.expressions.KnownNullable(expression(c)))

  /** `c`, typed non-nullable (a filter already keeps it non-null). */
  def knownNotNull(c: Column): Column =
    column(org.apache.spark.sql.catalyst.expressions.KnownNotNull(expression(c)))

  /** DataFrame from a (resolved) logical plan — the `Dataset.ofRows`
    * doorway custom operators need to surface a custom `LogicalPlan`
    * node through the public Column API. */
  def ofRows(spark: org.apache.spark.sql.SparkSession,
      plan: org.apache.spark.sql.catalyst.plans.logical.LogicalPlan): org.apache.spark.sql.DataFrame =
    org.apache.spark.sql.classic.Dataset.ofRows(
      spark.asInstanceOf[org.apache.spark.sql.classic.SparkSession], plan)

  /** DataFrame over an RDD of INTERNAL rows (the `internalCreateDataFrame`
    * doorway). Iterative operators cache their per-round state as an RDD
    * leaf; the public `df.rdd` / `createDataFrame(rdd, schema)` round trip
    * decodes every UnsafeRow into a boxed external Row on write and
    * re-encodes it on read — per-row allocation that scales with state
    * size every single iteration. Caching the query's own InternalRows
    * (copied — Spark reuses the mutable instance) keeps the loop in the
    * internal format end to end. Same constant-stat `LogicalRDD` leaf as
    * the public path, so the stats-inheritance truncation the loops rely
    * on is unchanged. */
  def internalCreateDataFrame(spark: org.apache.spark.sql.SparkSession,
      rdd: org.apache.spark.rdd.RDD[org.apache.spark.sql.catalyst.InternalRow],
      schema: org.apache.spark.sql.types.StructType): org.apache.spark.sql.DataFrame =
    spark.asInstanceOf[org.apache.spark.sql.classic.SparkSession]
      .internalCreateDataFrame(rdd, schema)

  /** DataFrame over `rdd`, a copy of `df`'s internal rows, with `df`'s
    * output attributes, so a column bound to `df`'s input still resolves. */
  def rddFrame(df: org.apache.spark.sql.DataFrame,
      rdd: org.apache.spark.rdd.RDD[org.apache.spark.sql.catalyst.InternalRow]): org.apache.spark.sql.DataFrame = {
    val s = df.sparkSession.asInstanceOf[org.apache.spark.sql.classic.SparkSession]
    ofRows(s, org.apache.spark.sql.execution.LogicalRDD(df.queryExecution.analyzed.output, rdd)(s))
  }

  /** Runs `body` on `pool` under the calling thread's local properties
    * (job group, description, scheduler pool) and active session — the
    * capture AQE uses for its query-stage jobs. */
  def submitCaptured[T](spark: org.apache.spark.sql.SparkSession,
      pool: java.util.concurrent.ExecutorService)(body: => T): java.util.concurrent.CompletableFuture[T] =
    org.apache.spark.sql.execution.SQLExecution.withThreadLocalCaptured(
      spark.asInstanceOf[org.apache.spark.sql.classic.SparkSession], pool)(body)

  /** `element_at`'s errors, for kernels that index with its semantics. */
  def elementAtIndexError(index: Int, numElements: Int): ArrayIndexOutOfBoundsException =
    org.apache.spark.sql.errors.QueryExecutionErrors.invalidElementAtIndexError(
      index, numElements, null)
  def indexOfZeroError(): RuntimeException =
    org.apache.spark.sql.errors.QueryExecutionErrors.invalidIndexOfZeroError(null)
}
