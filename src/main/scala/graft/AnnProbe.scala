package graft

import org.apache.spark.sql.functions._

/** Dev-only stage timer for the disk-ANN lifecycle (not part of the
  * contract): times each phase of the q_ann_disk_rerank shape so
  * optimization work targets the real cost, not a guess. */
object AnnProbe {
  def main(args: Array[String]): Unit = {
    val sfDir = if (args.nonEmpty) args(0) else "/root/testdata/sf0.1"
    val spark = GraftSession.builder()
      .master("local[32]")
      .config("spark.sql.shuffle.partitions", "32")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    val jobStarts = new java.util.concurrent.ConcurrentHashMap[Int, Long]()
    val jobCount = new java.util.concurrent.atomic.AtomicInteger(0)
    val jobTime = new java.util.concurrent.atomic.AtomicLong(0L)
    spark.sparkContext.addSparkListener(new org.apache.spark.scheduler.SparkListener {
      override def onJobStart(js: org.apache.spark.scheduler.SparkListenerJobStart): Unit =
        { jobStarts.put(js.jobId, System.nanoTime()); () }
      override def onJobEnd(je: org.apache.spark.scheduler.SparkListenerJobEnd): Unit = {
        val t0 = Option(jobStarts.remove(je.jobId)).getOrElse(0L)
        jobCount.incrementAndGet()
        jobTime.addAndGet(System.nanoTime() - t0)
        ()
      }
    })
    def time[T](label: String)(f: => T): T = {
      jobCount.set(0); jobTime.set(0L)
      val t0 = System.nanoTime()
      val r = f
      println(f"[probe] $label: ${(System.nanoTime() - t0) / 1e9}%.3f s " +
        f"(${jobCount.get()} jobs, ${jobTime.get() / 1e9}%.3f s in jobs)")
      r
    }
    val e = graft.sources.Tables.load(spark, sfDir, "embeddings")
    println(s"[probe] corpus rows: ${e.count()}")
    (1 to 2).foreach { round =>
      println(s"[probe] --- round $round ---")
      val path = s"${System.getProperty("java.io.tmpdir")}/graft_ann_probe_${spark.sparkContext.applicationId}_$round"
      val coarse = time("trainCentroidsQuantized")(
        graft.similarity.Ivf.trainCentroidsQuantized(e, "vec_id", "embedding", 64, 16, 8, 2048))
      val books = time("trainCodebooks")(
        graft.similarity.Pq.trainCodebooks(e, "vec_id", "embedding", 64, 8, 16, 4, 512))
      val model = time("buildIndex (full incl. above twice)")(
        graft.similarity.AnnIndex.buildIndex(e, "vec_id", "embedding", path,
          dim = 64, nLists = 16, m = 8, kCodes = 16))
      time("saveModel")(graft.similarity.AnnIndex.saveModel(spark, model, s"$path/_model"))
      time("loadModel")(graft.similarity.AnnIndex.loadModel(spark, s"$path/_model"))
      time("searchIndex")(
        graft.similarity.AnnIndex.searchIndex(spark, path, model,
          e.filter(col("vec_id") < 10), "vec_id", "embedding",
          topK = 5, nProbe = 12, shortlist = 100).queryExecution.toRdd.count())
    }
    spark.stop()
  }
}
