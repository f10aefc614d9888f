package graft

import org.apache.spark.sql.functions._
import graft.core.Checkpoints
import graft.operators.Graph

class CheckpointSpec extends SparkSpec {

  private def withConf[T](dir: String)(body: => T): T =
    try { spark.conf.set(Checkpoints.ConfKey, dir); body }
    finally spark.conf.unset(Checkpoints.ConfKey)

  test("one conf flips every iterative op to reliable checkpoints, results unchanged") {
    import spark.implicits._
    val rnd = new scala.util.Random(83)
    val edges = (0 until 600).map(_ => (rnd.nextInt(150).toLong, rnd.nextInt(150).toLong))
      .toDF("src", "dst")
    def all() = Seq(
      graft.dedup.Dedup.connectedComponents(edges, "src", "dst").orderBy("node"),
      Graph.pageRank(edges, "src", "dst", iters = 5).orderBy("node"),
      Graph.kCorePeel(edges, "src", "dst", k = 3, rounds = 4).orderBy("node"),
      Graph.labelPropagation(edges, "src", "dst", rounds = 3).orderBy("node"),
      Graph.stronglyConnectedComponents(edges, "src", "dst").orderBy("node"),
      Graph.sccCondensation(edges, "src", "dst"),
      Graph.bfsHops(edges, "src", "dst", source = 0L, maxHops = 3).orderBy("node"),
      Graph.personalizedPageRank(edges, "src", "dst", source = 0L, iters = 3)
        .orderBy("node"),
      Graph.harmonicCentrality(edges, "src", "dst", Seq(0L, 1L, 2L), maxHops = 3, k = 20))
      .map(_.collect().toSeq)
    val local = all() // default path: localCheckpoint
    val dir = "/tmp/graft_ckpt_spec"
    val reliable = withConf(dir)(all())
    assert(reliable === local, "reliable-checkpoint run must equal local run")
    // the reliable path actually wrote RDD checkpoints into the conf dir
    assert(fileCount(new java.io.File(dir)) > 0, s"no checkpoint data under $dir")
  }

  private def fileCount(f: java.io.File): Int =
    if (f.isDirectory) f.listFiles().map(fileCount).sum
    else if (f.exists) 1 else 0

  /** Runs `op` alone under a fresh conf dir and asserts it wrote there. */
  private def writesUnderConf(name: String)(op: => Any): Unit = {
    val dir = java.nio.file.Files.createTempDirectory(s"graft_ckpt_$name").toString
    withConf(dir)(op)
    assert(fileCount(new java.io.File(dir)) > 0, s"$name wrote no checkpoint data under $dir")
  }

  test("each superstep operator alone writes its rounds under the conf dir") {
    import spark.implicits._
    val edges = Seq((1L, 2L), (2L, 3L), (3L, 4L), (10L, 11L)).toDF("src", "dst")
    writesUnderConf("cc")(graft.dedup.Dedup.connectedComponents(edges, "src", "dst").collect())
    writesUnderConf("pagerank")(Graph.pageRank(edges, "src", "dst", iters = 2).collect())
    writesUnderConf("lpa")(Graph.labelPropagation(edges, "src", "dst", rounds = 2).collect())
    writesUnderConf("bfs")(Graph.bfsHops(edges, "src", "dst", source = 1L, maxHops = 2).collect())
    writesUnderConf("ppr")(
      Graph.personalizedPageRank(edges, "src", "dst", source = 1L, iters = 2).collect())
    writesUnderConf("condensation")(Graph.sccCondensation(edges, "src", "dst").collect())
  }

  test("harmonicCentrality alone writes its hop leaves under the conf dir") {
    import spark.implicits._
    val edges = Seq((1L, 2L), (2L, 3L), (3L, 4L), (10L, 11L)).toDF("src", "dst")
    writesUnderConf("harmonic")(
      Graph.harmonicCentrality(edges, "src", "dst", Seq(1L), maxHops = 2, k = 5).collect())
  }

  test("truncate cuts lineage in both modes (no growth across iterations)") {
    import spark.implicits._
    var df = (1 to 100).toDF("x")
    (1 to 5).foreach { _ =>
      df = Checkpoints.truncate(df.withColumn("x", col("x") + 1))
    }
    // a truncated frame plans as a scan of materialized rows, not 5
    // stacked projections
    val plan = df.queryExecution.optimizedPlan.toString
    assert(plan.contains("LogicalRDD") || plan.contains("Scan ExistingRDD"),
      s"expected materialized scan after truncation:\n$plan")
    assert(df.agg(sum("x")).head().getLong(0) === (6 to 105).sum.toLong)
  }
}
