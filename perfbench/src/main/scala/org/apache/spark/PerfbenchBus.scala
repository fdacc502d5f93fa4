package org.apache.spark

/** Lets the benchmark wait until every listener event posted so far has
  * been delivered, so a pass's job and task records are complete before
  * they are read. The bus is private to Spark; this object lives in
  * Spark's package only to reach it. */
object PerfbenchBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
