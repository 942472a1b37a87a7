package org.apache.spark

/** Test-scope access to the context's checkpoint dir: Spark has no
  * public way to unset it once set (`checkpointDir` is
  * `private[spark]`), and a suite that sets one must not leave later
  * suites on the shared context taking reliable checkpoints. */
object CheckpointDirAccess {
  def unset(sc: SparkContext): Unit = sc.checkpointDir = None
}
