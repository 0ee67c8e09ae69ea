package org.apache.spark

/** The benchmark's one reach into Spark internals: block until every
  * listener event posted so far has been delivered, so that a traced pass
  * is attributed only after its jobs, stages, tasks and query executions
  * have all reached the benchmark's listeners. */
object PerfbenchBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty(60000L)
}
