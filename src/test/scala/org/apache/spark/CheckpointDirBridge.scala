package org.apache.spark

/** Sets a SparkContext's checkpoint dir for one block and clears it
  * afterwards. `SparkContext.checkpointDir` is private[spark] and has no
  * public unset, so specs that exercise the reliable-checkpoint branch
  * of [[graft.ops.Pins]] reach it through this package-located shim
  * (the `FooterBridge` pattern); the shared test session is back on the
  * local branch when the block ends. */
object CheckpointDirBridge {
  def withCheckpointDir[T](sc: SparkContext, dir: String)(block: => T): T = {
    sc.setCheckpointDir(dir)
    try block finally sc.checkpointDir = None
  }
}
