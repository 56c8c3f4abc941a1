package org.apache.spark

/** The one package-private hook the harness needs: drain the listener bus
  * so job/stage events of an op are recorded before the op's counts are
  * read.
  */
object IcebenchBridge {
  def drainListenerBus(sc: SparkContext): Unit =
    sc.listenerBus.waitUntilEmpty(30000L)
}
