package org.apache.spark.graft

import org.apache.spark.scheduler.StageInfo

/** Test-only: whether a stage is a shuffle-map stage, the one that
  * writes an `Exchange`'s shuffle output (`shuffleDepId` is
  * private[spark]). */
object TestStages {
  def isShuffleMap(stage: StageInfo): Boolean = stage.shuffleDepId.isDefined
}
