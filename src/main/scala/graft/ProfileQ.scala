package graft

/** Scratch per-query profiler: runs the named query N times in one JVM and
  * prints each wall time plus scheduler accounting (how many Spark jobs the
  * query launched and how much wall time was inside jobs vs driver-side
  * planning/between-job latency) — the first question §1 of the
  * optimization guide asks: is this query compute-bound or job-count-bound?
  * Usage: runMain graft.ProfileQ <sfDir> <query>[,query...] [n]
  */
object ProfileQ {
  def main(args: Array[String]): Unit = {
    val sfDir = args(0)
    val names = args(1).split(",").map(_.trim).filter(_.nonEmpty)
    val n = if (args.length > 2) args(2).toInt else 5
    val spark = GraftSession.builder()
      .master("local[32]")
      .config("spark.sql.shuffle.partitions", "32")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    val jobStarts = new java.util.concurrent.ConcurrentHashMap[Int, Long]()
    val jobCount = new java.util.concurrent.atomic.AtomicInteger(0)
    val jobTime = new java.util.concurrent.atomic.AtomicLong(0L)
    val taskTime = new java.util.concurrent.atomic.AtomicLong(0L)
    val jobNames = new java.util.concurrent.ConcurrentHashMap[Int, String]()
    val jobAgg = new java.util.concurrent.ConcurrentHashMap[String, (Int, Long)]()
    // sentinel jobs that flush the listener bus (see `flush`), never counted
    val flushGroup = "profileq-listener-flush"
    val flushStages = java.util.concurrent.ConcurrentHashMap.newKeySet[Int]()
    val flushJobs = java.util.concurrent.ConcurrentHashMap.newKeySet[Int]()
    val flushed = new java.util.concurrent.Semaphore(0)
    spark.sparkContext.addSparkListener(new org.apache.spark.scheduler.SparkListener {
      override def onJobStart(js: org.apache.spark.scheduler.SparkListenerJobStart): Unit =
        if (Option(js.properties).exists(_.getProperty("spark.jobGroup.id") == flushGroup)) {
          flushJobs.add(js.jobId)
          js.stageIds.foreach(flushStages.add)
        } else {
          jobStarts.put(js.jobId, System.nanoTime())
          val cs = js.stageInfos.lastOption.map(_.name.takeWhile(_ != '\n').take(90)).getOrElse("?")
          jobNames.put(js.jobId, cs)
          ()
        }
      override def onJobEnd(je: org.apache.spark.scheduler.SparkListenerJobEnd): Unit =
        if (flushJobs.remove(je.jobId)) flushed.release()
        else {
          val t0 = Option(jobStarts.remove(je.jobId)).getOrElse(0L)
          jobCount.incrementAndGet()
          val dt = System.nanoTime() - t0
          jobTime.addAndGet(dt)
          val nm = Option(jobNames.remove(je.jobId)).getOrElse("?")
          jobAgg.merge(nm, (1, dt),
            (a, b) => (a._1 + b._1, a._2 + b._2))
          ()
        }
      override def onTaskEnd(te: org.apache.spark.scheduler.SparkListenerTaskEnd): Unit = {
        if (te.taskInfo != null && !flushStages.contains(te.stageId))
          taskTime.addAndGet(te.taskInfo.duration * 1000000L)
        ()
      }
    })
    // The bus delivers events in order, so once a sentinel job's end event
    // arrives every earlier job's has been counted — without this, late
    // onJobEnd events are charged to the next run.
    def flush(): Unit = {
      spark.sparkContext.setJobGroup(flushGroup, "listener flush")
      try spark.sparkContext.parallelize(Seq(1), 1).count()
      finally spark.sparkContext.clearJobGroup()
      require(flushed.tryAcquire(60, java.util.concurrent.TimeUnit.SECONDS),
        "listener bus not flushed within 60 s")
    }
    // optional per-stage breakdown: top stages by total task run time, with
    // CPU vs run split — separates real compute from per-task overhead
    val stageStats = new java.util.concurrent.ConcurrentLinkedQueue[(Int, String, Int, Long, Long)]()
    val dumpStages = sys.env.contains("SPARK_GRAFT_PROFILE_STAGES")
    if (dumpStages) spark.sparkContext.addSparkListener(new org.apache.spark.scheduler.SparkListener {
      override def onStageCompleted(sc: org.apache.spark.scheduler.SparkListenerStageCompleted): Unit = {
        val si = sc.stageInfo
        val m = si.taskMetrics
        stageStats.add((si.stageId, si.name.takeWhile(_ != '\n').take(90), si.numTasks,
          if (m != null) m.executorRunTime else 0L,
          if (m != null) m.executorCpuTime / 1000000L else 0L))
        ()
      }
    })
    names.foreach { name =>
      val fn = SparkEntry.queries(name)
      (1 to n).foreach { i =>
        jobCount.set(0); jobTime.set(0L); taskTime.set(0L)
        val t0 = System.nanoTime()
        // same materialization as Bench: the query's own output rows, so
        // computed projections / final sorts are not pruned from the timing
        val c = fn(spark, sfDir).queryExecution.toRdd.count()
        val wall = (System.nanoTime() - t0) / 1e9
        // release per-query caches exactly like Bench so repeat runs are honest
        spark.catalog.clearCache()
        spark.sparkContext.getPersistentRDDs.values.foreach(_.unpersist(false))
        flush()
        println(f"[profileq] $name run $i: $wall%.3f s ($c rows, " +
          f"${jobCount.get()} jobs, ${jobTime.get() / 1e9}%.3f s in jobs, " +
          f"${taskTime.get() / 1e9}%.3f s task-sum)")
        if (dumpStages && i == n) {
          import scala.jdk.CollectionConverters._
          val top = stageStats.asScala.toSeq.sortBy(-_._4).take(15)
          top.foreach { case (id, nm, nt, run, cpu) =>
            println(f"[profileq]   stage $id%5d run=${run / 1e3}%8.2fs cpu=${cpu / 1e3}%8.2fs tasks=$nt%4d  $nm")
          }
          jobAgg.asScala.toSeq.sortBy(-_._2._2).take(15).foreach { case (nm, (cnt, dt)) =>
            println(f"[profileq]   jobs x$cnt%3d wall=${dt / 1e9}%7.3fs  $nm")
          }
        }
        stageStats.clear(); jobAgg.clear()
      }
    }
    spark.stop()
  }
}
