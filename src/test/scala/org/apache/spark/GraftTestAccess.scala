package org.apache.spark

/** Test-only bridge into `private[spark]` surface: draining the async
  * listener bus so job-count assertions read a settled counter, and
  * telling shuffle-map stages from result stages.
  */
object GraftTestAccess {
  def drainListenerBus(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()

  def isShuffleMapStage(s: scheduler.StageInfo): Boolean = s.shuffleDepId.isDefined
}
