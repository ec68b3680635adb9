package org.apache.spark

/** Two package-private SparkContext members the traced run needs. */
object PerfbenchBus {
  /** Waits until listeners have seen every event posted so far, so a
    * span's task metrics are complete before its counters are read.
    */
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()

  /** A fresh RDD id: every RDD created after this call has a larger id. */
  def nextRddId(sc: SparkContext): Int = sc.newRddId()
}
