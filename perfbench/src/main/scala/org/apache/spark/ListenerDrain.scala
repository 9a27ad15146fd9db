package org.apache.spark

/** Waits until Spark's asynchronous listener bus has delivered every
  * event posted so far (SparkListener, QueryExecutionListener and
  * StreamingQueryListener events all travel on it). The bus is private
  * to Spark, hence this accessor in Spark's package. */
object ListenerDrain {
  def apply(sc: SparkContext, timeoutMs: Long = 10000L): Unit =
    sc.listenerBus.waitUntilEmpty(timeoutMs)
}
