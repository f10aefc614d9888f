package graftbench

import scala.collection.mutable
import org.apache.spark.{SparkContext, Success}
import org.apache.spark.scheduler.graftbench.SparkBridge
import org.apache.spark.scheduler._

/** The aggregate listener, registered on every run: task CPU, the largest
  * task peak execution memory and retries (failed tasks plus re-attempted
  * stages). Read it only after [[SparkBridge.drainListeners]]. */
final class TotalsListener extends SparkListener {
  private var cpuNs = 0L
  private var peakBytes = 0L
  private var retries = 0L

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    val m = e.taskMetrics
    if (m != null) {
      cpuNs += m.executorCpuTime
      peakBytes = math.max(peakBytes, m.peakExecutionMemory)
    }
    if (e.reason != Success) retries += 1
  }

  override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit = synchronized {
    if (e.stageInfo.attemptNumber() > 0) retries += 1
  }

  def cpuSeconds: Double = synchronized(cpuNs / 1e9)
  def retryCount: Long = synchronized(retries)
  /** Largest task peak since the last call. */
  def takePeakBytes(): Long = synchronized { val p = peakBytes; peakBytes = 0; p }
}

/** Raw job, stage and task events of one traced iteration. Jobs are mapped
  * to spans by job id, stages to the first job that lists them, tasks to
  * their stage. */
final class TraceListener extends SparkListener {
  final case class Task(stage: Int, cpuNs: Long, runMs: Long, shuffleWrite: Long,
      spill: Long, gcMs: Long)

  val jobStages = mutable.Map.empty[Int, Seq[Int]]
  val stageAttempts = mutable.ArrayBuffer.empty[Int]
  val tasks = mutable.ArrayBuffer.empty[Task]

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    jobStages(e.jobId) = e.stageIds
  }

  override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit = synchronized {
    stageAttempts += e.stageInfo.stageId
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    val m = e.taskMetrics
    if (m != null) tasks += Task(e.stageId, m.executorCpuTime, m.executorRunTime,
      m.shuffleWriteMetrics.bytesWritten, m.diskBytesSpilled, m.jvmGCTime)
  }
}

/** Times one iteration's measured section, from [[start]] to [[stop]]
  * (`onStop` then reads the counters, before any answer checking), and
  * records spans around each call into a layer. A span remembers the job-id
  * range it submitted; with tracing off it only runs the body. */
final class Tracer(sc: SparkContext, val traced: Boolean, onStop: () => Unit) {
  final case class Span(name: String, firstJob: Int, endJob: Int, wallNs: Long)
  val spans = mutable.ArrayBuffer.empty[Span]
  private var t0 = 0L

  def start(): Unit = t0 = System.nanoTime()

  /** Ends the measured section; returns its wall seconds. */
  def stop(): Double = {
    val wall = (System.nanoTime() - t0) / 1e9
    onStop()
    wall
  }

  def span[T](name: String)(body: => T): T = {
    val j0 = if (traced) SparkBridge.nextJobId(sc) else 0
    val t0 = System.nanoTime()
    val r = body
    val dt = System.nanoTime() - t0
    if (traced) spans += Span(name, j0, SparkBridge.nextJobId(sc), dt)
    r
  }

  def spanWallNs: Long = spans.map(_.wallNs).sum

  /** Per span name: the eight per-layer figures, summed over the calls of
    * this iteration. */
  def summarize(l: TraceListener, cores: Int): Map[String, Map[String, Double]] = l.synchronized {
    val owner = mutable.Map.empty[Int, Int]
    l.jobStages.toSeq.sortBy(_._1).foreach { case (job, stages) =>
      stages.foreach(s => if (!owner.contains(s)) owner(s) = job)
    }
    def spanOfJob(job: Int): Option[String] =
      spans.find(s => job >= s.firstJob && job < s.endJob).map(_.name)
    val stageSpan = owner.flatMap { case (s, j) => spanOfJob(j).map(s -> _) }
    spans.groupBy(_.name).map { case (name, ss) =>
      val wall = ss.map(_.wallNs).sum / 1e9
      val ts = l.tasks.filter(t => stageSpan.get(t.stage).contains(name))
      val runS = ts.map(_.runMs).sum / 1e3
      name -> Map(
        "wall_s" -> wall,
        "jobs" -> ss.map(s => s.endJob - s.firstJob).sum.toDouble,
        "stages" -> l.stageAttempts.count(s => stageSpan.get(s).contains(name)).toDouble,
        "task_cpu_s" -> ts.map(_.cpuNs).sum / 1e9,
        "core_util" -> (if (wall > 0) runS / (wall * cores) else 0.0),
        "shuffle_write_mb" -> ts.map(_.shuffleWrite).sum / 1048576.0,
        "spill_mb" -> ts.map(_.spill).sum / 1048576.0,
        "gc_s" -> ts.map(_.gcMs).sum / 1e3)
    }
  }
}
