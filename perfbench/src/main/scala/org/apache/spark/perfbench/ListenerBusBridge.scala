package org.apache.spark.perfbench

import org.apache.spark.SparkContext

/** The listener bus delivers events asynchronously; the tracer waits for it
  * to drain before it closes a span, so every event a call caused is
  * attributed to that call. `listenerBus` is `private[spark]`. */
object ListenerBusBridge {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
