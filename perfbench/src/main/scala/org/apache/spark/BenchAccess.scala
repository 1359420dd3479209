package org.apache.spark

/** The one package-private Spark hook the benchmark needs: block until
  * the listener bus has delivered every event posted so far, so counters
  * read after a call include all of that call's tasks. */
object BenchAccess {
  def drainListenerBus(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
