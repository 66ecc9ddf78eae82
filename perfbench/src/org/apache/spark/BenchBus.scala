package org.apache.spark

/** Spark internals the benchmark reads; they are package-private. */
object BenchBus {
  /** Waits until every queued listener event has been delivered, so a
    * counter snapshot taken after an action includes that action's tasks.
    */
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()

  /** On-heap execution plus storage memory Spark holds now, in bytes. */
  def memoryUsed(): Long = Option(SparkEnv.get).map(_.memoryManager)
    .map(m => m.onHeapExecutionMemoryUsed + m.onHeapStorageMemoryUsed).getOrElse(0L)
}
