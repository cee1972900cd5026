package org.apache.spark.perfbench

import org.apache.spark.SparkContext

/** Access to the session's listener bus, which Spark keeps package-private:
  * the harness drains it so that every task and query event of a round
  * has been delivered before the round's figures are read.
  */
object Bus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty(60000L)
}
