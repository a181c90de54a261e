package org.apache.spark

import java.util.concurrent.Executor

import org.apache.spark.util.Utils

/** `SparkContext.listenerBus` and the local-property accessors are
  * `private[spark]`. The drain gives the instrumentation (and
  * `graft.run.Pipeline`'s row counts) a synchronous barrier, so reads
  * neither miss a straggler event nor leak it into the next read — a fixed
  * sleep is a race, not a barrier.
  */
object GraftListenerBridge {
  /** Returns true when the bus fully drained; false when the 10 s internal
    * deadline hit first (`waitUntilEmpty` throws on a backlogged bus —
    * callers degrade to a partial read instead of crashing mid-run,
    * ADVICE r10).
    */
  def waitListenerBusEmpty(sc: SparkContext): Boolean =
    try { sc.listenerBus.waitUntilEmpty(); true }
    catch { case _: java.util.concurrent.TimeoutException => false }

  /** `executor`, running each task under a private copy of the calling
    * thread's local properties (job group, description, scheduler pool):
    * a pool thread otherwise keeps whatever its creator had.
    */
  def withCallerLocalProperties(sc: SparkContext, executor: Executor): Executor = {
    val props = Utils.cloneProperties(sc.getLocalProperties)
    task => executor.execute { () =>
      sc.setLocalProperties(Utils.cloneProperties(props))
      task.run()
    }
  }
}
