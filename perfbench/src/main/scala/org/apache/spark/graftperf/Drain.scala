package org.apache.spark.graftperf

import org.apache.spark.SparkContext

/** The one `private[spark]` call the benchmark's tracer needs: draining
  * the asynchronous listener bus, so that every job, stage and task
  * event of an op has been delivered before the op's numbers are read.
  */
object Drain {
  def apply(sc: SparkContext): Unit =
    try sc.listenerBus.waitUntilEmpty()
    catch { case _: Throwable => () } // a stuck bus must not kill the run
}
