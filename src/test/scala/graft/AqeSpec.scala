package graft

import org.apache.spark.sql.functions._
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec

/** Runtime (AQE) scale behaviors the engine relies on at 100 TB: skewed
  * shuffle-join partitions split WITHOUT manual salting, and small
  * shuffle partitions coalesced — both asserted on the executed
  * adaptive plan, not assumed. Manual salting
  * ([[graft.operators.Joins.saltedJoin]]) remains for aggregation skew
  * and pre-AQE-compatible paths; this spec pins down that the runtime
  * handles the join case on its own. */
class AqeSpec extends SparkSpec {

  private def finalPlan(df: org.apache.spark.sql.DataFrame) = {
    df.collect()
    df.queryExecution.executedPlan match {
      case a: AdaptiveSparkPlanExec => a.executedPlan
      case p => p
    }
  }

  test("AQE splits a skewed sort-merge-join partition without manual salting") {
    val s = spark
    import s.implicits._
    withConfs(
      "spark.sql.adaptive.enabled" -> "true",
      "spark.sql.autoBroadcastJoinThreshold" -> "-1",
      "spark.sql.adaptive.autoBroadcastJoinThreshold" -> "-1",
      "spark.sql.adaptive.skewJoin.enabled" -> "true",
      "spark.sql.adaptive.skewJoin.skewedPartitionFactor" -> "2",
      "spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes" -> "64KB",
      "spark.sql.adaptive.advisoryPartitionSizeInBytes" -> "16KB",
      "spark.sql.adaptive.coalescePartitions.enabled" -> "true") {
      // one whale key carrying ~200x the median partition's bytes
      val left = spark.range(0, 200000).select(
        when(col("id") < 190000, lit(0L)).otherwise(col("id") % 100).as("k"),
        concat(lit("payload_"), col("id")).as("p"))
      val right = spark.range(0, 100).select(col("id").as("k"), lit("dim").as("d"))
      val joined = left.join(right, "k")
      // query-stage boundaries hide subtrees from collect(): assert on
      // the executed plan's own rendering instead
      val plan = finalPlan(joined).toString
      assert(plan.contains("SortMergeJoin(skew=true)"), s"no skew-split join in:\n$plan")
      assert(plan.contains("AQEShuffleRead coalesced and skewed"), s"no skewed read in:\n$plan")
    }
  }

  test("AQE coalesces an over-partitioned shuffle down to the data size") {
    val s = spark
    import s.implicits._
    withConfs(
      "spark.sql.adaptive.enabled" -> "true",
      "spark.sql.shuffle.partitions" -> "200",
      "spark.sql.adaptive.coalescePartitions.enabled" -> "true",
      "spark.sql.adaptive.coalescePartitions.initialPartitionNum" -> "200") {
      val agg = spark.range(0, 10000).groupBy(col("id") % 50).count()
      val agged = agg
      val plan = finalPlan(agged).toString
      assert(plan.contains("AQEShuffleRead coalesced"), s"no coalesced read in:\n$plan")
      // and the run's shuffle really read far fewer than 200 partitions
      assert(agged.rdd.getNumPartitions < 200,
        s"shuffle not coalesced: ${agged.rdd.getNumPartitions} partitions")
    }
  }
}
