package org.apache.spark.grafttest

/** The listener bus is private to Spark, and QueryExecutionListener
  * callbacks arrive on it asynchronously: a test that reads what a
  * listener collected must first wait for every pending event. */
object ListenerBus {
  def drain(sc: org.apache.spark.SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
