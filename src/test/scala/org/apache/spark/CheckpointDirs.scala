package org.apache.spark

/** Test access to the `SparkContext` checkpoint dir, which has a public
  * setter but no public unset.
  */
object CheckpointDirs {

  /** Run `body` with a checkpoint dir under `dir`, then unset it again,
    * so later suites in the shared session still run without one.
    */
  def withCheckpointDir[T](sc: SparkContext, dir: String)(body: => T): T = {
    sc.setCheckpointDir(dir)
    try body finally sc.checkpointDir = None
  }
}
