package org.apache.spark

/** Test access to the listener bus (`SparkContext.listenerBus` is
  * `private[spark]`): specs that count jobs with a `SparkListener` drain
  * the bus before reading their counts, since delivery is asynchronous.
  */
object GraftTestBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
