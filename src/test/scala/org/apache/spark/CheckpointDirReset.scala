package org.apache.spark

/** Test access to the `private[spark]` reliable-checkpoint directory:
  * the first directory set wins for the SparkContext's lifetime, so a
  * spec that switches a session to reliable checkpoints clears it first
  * (its own directory takes effect) and restores it afterwards (the
  * next spec's directory takes effect in turn). */
object CheckpointDirReset {
  def apply(sc: SparkContext, dir: Option[String]): Unit =
    sc.checkpointDir = dir
}
