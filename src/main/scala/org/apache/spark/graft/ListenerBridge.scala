package org.apache.spark.graft

import org.apache.spark.SparkContext

/** Bridge to the `private[spark]` listener bus: `graft.JobTally` drains
  * async listener events before a counter snapshot, or counts bleed
  * between measurements. Diagnostic-only (not part of the driver
  * contract). */
object ListenerBridge {
  def drain(sc: SparkContext, timeoutMillis: Long): Unit =
    sc.listenerBus.waitUntilEmpty(timeoutMillis)
}
