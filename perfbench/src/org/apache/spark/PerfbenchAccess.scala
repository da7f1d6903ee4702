package org.apache.spark

import org.apache.spark.scheduler.StageInfo

/** The two scheduler internals the benchmark's listener needs, reached
  * from inside Spark's package because both are `private[spark]`. */
object PerfbenchAccess {

  /** Block until every posted scheduler event has reached the listeners,
    * so a rollup read after a job sees that job's stages. */
  def drainListenerBus(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()

  /** A stage that writes shuffle output (as opposed to a result stage). */
  def isShuffleMapStage(info: StageInfo): Boolean = info.shuffleDepId.isDefined
}
