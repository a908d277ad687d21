package org.apache.spark

/** Sets a context's checkpoint dir for the length of a block, then
  * unsets it, so a shared test session is left as it was. The public
  * `setCheckpointDir` cannot unset it; the field behind it is
  * package-private to Spark, hence this bridge. */
object CheckpointDirAccess {
  def withCheckpointDir[T](sc: SparkContext, dir: String)(body: => T): T = {
    sc.setCheckpointDir(dir)
    try body finally sc.checkpointDir = None
  }
}
