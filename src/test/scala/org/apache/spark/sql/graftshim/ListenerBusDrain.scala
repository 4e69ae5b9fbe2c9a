package org.apache.spark.sql.graftshim

import org.apache.spark.SparkContext

/** Test access to the listener bus flush (`private[spark]`): after it
  * returns, every event posted so far reached every SparkListener, so a
  * counting listener can be read without racing its delivery thread. */
object ListenerBusDrain {
  def apply(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
