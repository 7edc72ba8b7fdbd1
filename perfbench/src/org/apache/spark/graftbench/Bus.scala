package org.apache.spark.graftbench

import org.apache.spark.SparkContext

/** The listener bus delivers events asynchronously; per-operation counters
  * are read only after it has drained, so no event of one operation is
  * credited to the next. `listenerBus` is package-private to Spark, hence
  * this one-line bridge in Spark's package. */
object Bus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
