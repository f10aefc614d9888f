package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite
import org.scalatest.BeforeAndAfterAll

/** Shared one-session-per-suite fixture (mirrors the reference's
  * `tests/conftest.py:5-7`). */
trait SparkSpec extends AnyFunSuite with BeforeAndAfterAll {
  lazy val spark: SparkSession = SparkSpec.session
  def sfDir: String = "/root/testdata/sf0.001"

  /** Spark jobs `body` submits from this thread. A sentinel job after it
    * flushes the (ordered) listener bus, so the count is complete. */
  protected def jobsOf(body: => Any): Int = {
    val sc = spark.sparkContext
    val group = s"job-pin-${System.nanoTime()}"
    val jobs = new java.util.concurrent.atomic.AtomicInteger
    val flushed = new java.util.concurrent.CountDownLatch(1)
    val listener = new org.apache.spark.scheduler.SparkListener {
      override def onJobStart(e: org.apache.spark.scheduler.SparkListenerJobStart): Unit =
        Option(e.properties).map(_.getProperty("spark.jobGroup.id")) match {
          case Some(`group`) => jobs.incrementAndGet()
          case Some(g) if g == group + "-end" => flushed.countDown()
          case _ =>
        }
    }
    sc.addSparkListener(listener)
    try {
      sc.setJobGroup(group, "job-count pin")
      body
      sc.setJobGroup(group + "-end", "listener flush")
      sc.parallelize(Seq(1), 1).count()
      assert(flushed.await(60, java.util.concurrent.TimeUnit.SECONDS))
      jobs.get()
    } finally {
      sc.clearJobGroup()
      sc.removeSparkListener(listener)
    }
  }

  /** Runs `body` with the given session confs, restoring them after. */
  protected def withConfs[A](kvs: (String, String)*)(body: => A): A = {
    val old = kvs.map { case (k, _) => k -> spark.conf.getOption(k) }
    kvs.foreach { case (k, v) => spark.conf.set(k, v) }
    try body finally old.foreach {
      case (k, Some(v)) => spark.conf.set(k, v)
      case (k, None) => spark.conf.unset(k)
    }
  }

  /** Persistent RDDs after dropping those earlier tests left behind
    * (the registry holds them weakly, so a stale count could shrink by GC). */
  protected def releaseAll(): Unit =
    spark.sparkContext.getPersistentRDDs.values.foreach(_.unpersist(true))

  protected def persisted: Int = spark.sparkContext.getPersistentRDDs.size

  /** [[persisted]] once garbage collection has dropped the truncated
    * frames (`Checkpoints.truncate`) that no frame references any more;
    * a cache something still holds — a persisted frame, a live leaf —
    * stays counted. */
  protected def retainedAbove(before: Int): Int = {
    var tries = 0
    while (persisted > before && tries < 20) { System.gc(); Thread.sleep(100); tries += 1 }
    persisted
  }
}

object SparkSpec {
  lazy val session: SparkSession = {
    val s = GraftSession.builder()
      .master("local[4]")
      .appName("graft-test")
      .config("spark.sql.shuffle.partitions", "4")
      .config("spark.sql.warehouse.dir", "/tmp/graft_warehouse")
      .getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }
}
