package org.apache.spark.perfbench

import org.apache.spark.SparkContext

/** The listener bus delivers events asynchronously; a traced figure is
  * read only after every event of the work it covers has been delivered.
  * `listenerBus` is `private[spark]`, hence this shim's package. */
object Bus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
