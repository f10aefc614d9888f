package graftbench

import scala.collection.mutable
import org.apache.spark.scheduler.graftbench.SparkBridge
import org.apache.spark.sql.SparkSession

/** One benchmark run in one JVM:
  *
  *  1. set-up: start a session and run `--warmups` warm-up iterations (the
  *     first loads the inputs); the wall from session start to the first
  *     timed iteration is `setup_s`, cold JVM included;
  *  2. timed iterations back to back (closed loop, one client) until
  *     `--seconds` have passed and at least `--min-iterations` ran; with
  *     `--trace 1` they come in pairs of one traced and one untraced
  *     iteration, in alternating order (U T, T U, ...), so the pairs'
  *     wall differences give the tracing overhead;
  *  3. raw figures and every iteration's answer go to `--out` as JSON.
  *
  * Usage: `graftbench.Main --workload W --data DIR --work DIR --seconds S
  *   --min-iterations M --trace 0|1 --cores N --warmups K --out FILE`
  */
object Main {

  def main(args: Array[String]): Unit = {
    val opt = args.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    val cores = opt("cores").toInt
    val work = opt("work")
    val trace = opt("trace") == "1"
    val workload = Workload(opt("workload"), opt("data"), work)

    val iterations = mutable.ArrayBuffer.empty[Map[String, Any]]
    var iter = 0

    val setupT0 = System.nanoTime()
    val spark = Session.start(cores)
    val totals = new TotalsListener
    spark.sparkContext.addSparkListener(totals)
    val session = Workload.seconds(setupT0)

    def runOne(traced: Boolean): Map[String, Any] = {
      val sc = spark.sparkContext
      val tl = new TraceListener
      if (traced) sc.addSparkListener(tl)
      SparkBridge.drainListeners(sc)
      val threads0 = threadCpuNanos()
      val cpu0 = totals.cpuSeconds
      val retries0 = totals.retryCount
      totals.takePeakBytes()
      val rec = mutable.LinkedHashMap[String, Any]("traced" -> traced)
      val tracer = new Tracer(sc, traced, () => {
        SparkBridge.drainListeners(sc)
        rec ++= Seq("cpu_s" -> cpuSecondsSince(threads0),
          "task_cpu_s" -> (totals.cpuSeconds - cpu0),
          "peak_task_mem_mb" -> totals.takePeakBytes() / 1048576.0,
          "retries" -> (totals.retryCount - retries0))
      })
      val t0 = System.nanoTime()
      try {
        val r = workload.run(spark, tracer, iter)
        rec ++= Seq("wall_s" -> r.wallS,
          "ops" -> r.ops.map(o => Map("kind" -> o.kind, "s" -> o.seconds)),
          "answer" -> r.answer)
        if (traced) rec ++= Seq(
          "self_s" -> (r.wallS - tracer.spanWallNs / 1e9),
          "spans" -> tracer.summarize(tl, cores))
      } catch {
        case scala.util.control.NonFatal(e) =>
          e.printStackTrace()
          rec ++= Seq("wall_s" -> Workload.seconds(t0), "error" -> e.toString,
            "ops" -> Seq(Map("kind" -> "iteration", "s" -> Workload.seconds(t0))))
      }
      if (traced) sc.removeSparkListener(tl)
      release(spark)
      iter += 1
      rec.toMap
    }

    for (_ <- 1 to opt("warmups").toInt) iterations += runOne(traced = false) + ("phase" -> "setup")
    val setup = Workload.seconds(setupT0)
    System.err.println(f"[perfbench] setup: session $session%.2f s, total $setup%.2f s")

    val start = System.nanoTime()
    var timed = 0
    while (timed < opt("min-iterations").toInt || Workload.seconds(start) < opt("seconds").toDouble ||
        (trace && timed % 2 == 1)) {
      iterations += runOne(traced = trace && (timed % 4 == 1 || timed % 4 == 2)) + ("phase" -> "timed")
      val last = iterations.last
      System.err.println(s"[perfbench] iteration $timed: wall ${last("wall_s")} s, " +
        s"cpu ${last.getOrElse("cpu_s", "-")} s, task cpu ${last.getOrElse("task_cpu_s", "-")} s")
      timed += 1
    }
    spark.stop()

    val out = Map("setup_s" -> setup, "session_s" -> session, "cores" -> cores.toLong,
      "iterations" -> iterations.toSeq)
    val w = new java.io.PrintWriter(opt("out"), "UTF-8")
    try w.write(Json.write(out)) finally w.close()
  }

  /** CPU nanoseconds per live Java thread: the driver, Spark's task and
    * scheduler threads and the program's own pools. The JVM's JIT compiler
    * and GC threads are not Java threads, so warm-up compilation is left
    * out. Unlike wall time, CPU time does not grow when the host takes the
    * CPU away. */
  def threadCpuNanos(): Map[Long, Long] = {
    val mx = java.lang.management.ManagementFactory.getThreadMXBean
    mx.getAllThreadIds.map(id => id -> mx.getThreadCpuTime(id)).filter(_._2 > 0).toMap
  }

  /** CPU seconds the threads used since `before`; a thread that ended in
    * between loses its share, which the long-lived Spark pools make rare. */
  def cpuSecondsSince(before: Map[Long, Long]): Double =
    threadCpuNanos().map { case (id, ns) => ns - before.getOrElse(id, 0L) }.sum / 1e9

  /** Between iterations, as `graft.Bench` does: no iteration may reuse
    * another's cached plan fragments or persisted RDDs. */
  def release(spark: SparkSession): Unit = {
    spark.catalog.clearCache()
    spark.sparkContext.getPersistentRDDs.values.foreach(_.unpersist(blocking = true))
  }
}

object Session {
  def start(cores: Int): SparkSession = {
    val spark = graft.GraftSession.builder()
      .master(s"local[$cores]")
      .appName("graft-perfbench")
      .config("spark.sql.shuffle.partitions", cores.toString)
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark
  }
}

/** Minimal JSON writer for maps, sequences, strings, numbers and null. */
object Json {
  def write(v: Any): String = v match {
    case null | None => "null"
    case Some(x) => write(x)
    case s: String => quote(s)
    case b: Boolean => b.toString
    case d: Double => if (d.isNaN || d.isInfinite) "null" else d.toString
    case n: java.lang.Number => n.toString
    case t: java.time.temporal.TemporalAccessor => quote(t.toString)
    case t: java.sql.Timestamp => quote(t.toString)
    case m: scala.collection.Map[_, _] =>
      m.map { case (k, x) => quote(k.toString) + ":" + write(x) }.mkString("{", ",", "}")
    case s: Iterable[_] => s.map(write).mkString("[", ",", "]")
    case a: Array[_] => write(a.toSeq)
    case other => quote(other.toString)
  }

  private def quote(s: String): String = {
    val b = new StringBuilder("\"")
    s.foreach {
      case '"' => b ++= "\\\""
      case '\\' => b ++= "\\\\"
      case c if c < ' ' => b ++= f"\\u${c.toInt}%04x"
      case c => b += c
    }
    (b += '"').toString
  }
}
