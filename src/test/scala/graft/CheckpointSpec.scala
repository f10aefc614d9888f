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
      Graph.harmonicCentrality(edges, "src", "dst", Seq(0L, 1L, 2L), maxHops = 3, k = 20),
      Graph.hits(edges, "src", "dst", iters = 2).orderBy("role", "node"))
      .map(_.collect().toSeq)
    val local = all() // default path: localCheckpoint
    val dir = "/tmp/graft_ckpt_spec"
    val reliable = withConf(dir)(all())
    assert(reliable === local, "reliable-checkpoint run must equal local run")
    // the reliable path actually wrote RDD checkpoints into the conf dir
    assert(fileCount(new java.io.File(dir)) > 0, s"no checkpoint data under $dir")
  }

  test("a superstep round's lost state blocks: reliable mode recovers row-identically, local mode fails descriptively") {
    import spark.implicits._
    // a 12-node chain (12 CC rounds) plus two small components
    val edges = ((0L until 11L).map(i => (i + 1, i)) ++ Seq((20L, 21L), (22L, 21L), (30L, 31L)))
      .toDF("src", "dst")
    def cc() = graft.dedup.Dedup.connectedComponents(edges, "src", "dst")
      .orderBy("node").collect().toSeq
    val want = cc()
    assert(want.map(_.getLong(1)).distinct.sorted == Seq(0L, 20L, 30L))
    // between rounds 3 and 4, the finished round's cached state blocks go
    // as a dead executor's would: the state keeps its storage level, the
    // blocks are gone
    var dropped = 0
    def losingRound3[T](body: => T): T = {
      graft.core.Superstep.afterRound = (round, state) =>
        if (round == 3) { org.apache.spark.LostBlocks.drop(state); dropped += 1 }
      try body finally graft.core.Superstep.afterRound = null
    }
    val dir = java.nio.file.Files.createTempDirectory("graft_ckpt_lost").toString
    assert(withConf(dir)(losingRound3(cc())) == want,
      "reliable checkpoints must recover the lost round row-identically")
    assert(dropped == 1)
    // local checkpoints keep no copy: the next round fails, naming the
    // missing block, instead of answering from partial state
    val err = intercept[org.apache.spark.SparkException](losingRound3(cc()))
    assert(dropped == 2)
    val messages = Iterator.iterate[Throwable](err)(_.getCause).takeWhile(_ != null)
      .map(e => String.valueOf(e.getMessage)).toSeq
    assert(messages.exists(m => m.contains("Checkpoint block") && m.contains("not found")),
      messages.mkString("\n"))
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
    writesUnderConf("kcore")(Graph.kCorePeel(edges, "src", "dst", k = 1, rounds = 2).collect())
    writesUnderConf("hits")(Graph.hits(edges, "src", "dst", iters = 1).collect())
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
