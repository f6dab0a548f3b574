package graft

import org.apache.spark.{ListenerBusDrain, SparkContext}
import org.apache.spark.scheduler.{SparkListener, SparkListenerTaskEnd}

/** Sums per-task `executorCpuTime` via a SparkListener — CPU actually
  * burned inside the executor processes, the contention-robust work
  * metric on this host (BASELINE.md noise rules). Shared by the
  * multi-process scaling legs ([[BenchMultiProc]], [[SubmitLeg]]).
  */
final class ExecCpuMeter(sc: SparkContext) {
  private val cpuNs = new java.util.concurrent.atomic.AtomicLong(0)

  sc.addSparkListener(new SparkListener {
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit =
      if (e.taskMetrics != null) cpuNs.addAndGet(e.taskMetrics.executorCpuTime)
  })

  /** The counter once every task-end event posted before the call has
    * reached the listener: listener events arrive after the action
    * returns, so a read without the drain would leak one run's trailing
    * tasks into the next run's window.
    */
  def settledNs(): Long = {
    ListenerBusDrain(sc)
    cpuNs.get
  }
}
