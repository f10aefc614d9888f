package org.apache.spark.scheduler.graftbench

import org.apache.spark.SparkContext

/** The two scheduler facts the tracer needs that Spark keeps package-private:
  * the id the next submitted job will get, and a barrier that returns once
  * every posted listener event has been delivered. */
object SparkBridge {

  /** Job ids are handed out in submission order by the DAG scheduler, on
    * whatever thread submits the job, so `[idAtSpanStart, idAtSpanEnd)` is
    * exactly the set of jobs a span submitted. */
  def nextJobId(sc: SparkContext): Int = sc.dagScheduler.numTotalJobs

  def drainListeners(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
