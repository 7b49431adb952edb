package org.apache.spark.scheduler

/** Test access to the shuffle a map stage writes (`shuffleDepId` is
  * `private[spark]`), so a listener can tell which exchange a stage
  * belongs to. */
object StageShuffleId {
  def apply(s: StageInfo): Option[Int] = s.shuffleDepId
}
