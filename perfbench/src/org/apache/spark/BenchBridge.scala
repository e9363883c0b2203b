package org.apache.spark

/** `SparkContext.listenerBus` and the job-group property key are
  * `private[spark]`; the benchmark's census needs both: the key to read
  * a job's group, and a drain barrier so every task-end event of a pass
  * has been delivered before the pass's counts are read. */
object BenchBridge {
  val JobGroupId: String = SparkContext.SPARK_JOB_GROUP_ID

  def drainListenerBus(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty(60000L)
}
