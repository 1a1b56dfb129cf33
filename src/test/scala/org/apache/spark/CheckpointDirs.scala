package org.apache.spark

/** Test-scope control of the SparkContext's reliable checkpoint dir —
  * the one switch [[graft.Cut]] follows. Lives in `org.apache.spark`
  * because `checkpointDir` is a `private[spark]` var: Spark has no
  * public way to UNSET the dir, and a spec that sets it must hand the
  * shared session back exactly as it found it.
  */
object CheckpointDirs {

  /** Run `body` with the dir set to `dir` (`None` = unset, the
    * localCheckpoint default), restoring the previous value after. */
  def withCheckpointDir[A](sc: SparkContext, dir: Option[String])(body: => A): A = {
    val saved = sc.checkpointDir
    try {
      dir match {
        case Some(d) => sc.setCheckpointDir(d)
        case None => sc.checkpointDir = None
      }
      body
    } finally sc.checkpointDir = saved
  }
}
