// Copyright (c) 2026 graft contributors
// SPDX-License-Identifier: Apache-2.0

package org.apache.spark

/** Waits for the listener bus to deliver every posted event, so the
  * engine counters are complete before they are read.
  */
object PerfbenchBridge {
  def drainListeners(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
