/*
 * Lives in package org.apache.spark to reach the `private[spark]`
 * listener bus, like the main tree's BlockRelease shim.
 */
package org.apache.spark.graft

import org.apache.spark.SparkContext

/** Waits until every event posted so far has reached every listener, so a
  * spec's SparkListener counts are complete when it reads them.
  */
object ListenerBusDrain {
  def apply(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
