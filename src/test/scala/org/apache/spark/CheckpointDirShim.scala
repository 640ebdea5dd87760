package org.apache.spark

import org.apache.spark.util.Utils

/** Test access to what `SparkContext` keeps `private[spark]`: clearing
  * the checkpoint dir (nothing public unsets it) and draining the
  * listener bus so a listener has seen every event before a test reads
  * it. */
object CheckpointDirShim {

  /** Runs `body` with a fresh temp dir as the context's checkpoint dir,
    * then clears the setting and deletes the dir, so one spec's reliable
    * mode never leaks into a later spec that shares the context. */
  def withCheckpointDir[T](sc: SparkContext)(body: String => T): T = {
    require(sc.checkpointDir.isEmpty, s"checkpoint dir already set: ${sc.checkpointDir}")
    val dir = Utils.createTempDir(namePrefix = "checkpoint")
    sc.setCheckpointDir(dir.getPath)
    try body(dir.getPath)
    finally { sc.checkpointDir = None; Utils.deleteRecursively(dir) }
  }

  def drainListeners(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
