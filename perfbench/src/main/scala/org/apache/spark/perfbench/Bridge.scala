package org.apache.spark.perfbench

import org.apache.spark.SparkContext

/** The two `private[spark]` hooks the benchmark needs from outside the
  * program: draining the listener bus before reading listener totals, and
  * the live status store Spark keeps for every application (its stage
  * totals cost nothing extra to read, so untraced runs may use them).
  */
object Bridge {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()

  /** Shuffle bytes written by every stage with an id at or above `fromStage`. */
  def shuffleWriteBytesSince(sc: SparkContext, fromStage: Int): Long =
    sc.statusStore.stageList(null).filter(_.stageId >= fromStage)
      .map(_.shuffleWriteBytes).sum

  /** One above the highest stage id Spark has seen (call after [[drain]]). */
  def nextStageId(sc: SparkContext): Int =
    sc.statusStore.stageList(null).map(_.stageId).foldLeft(-1)(math.max) + 1
}
