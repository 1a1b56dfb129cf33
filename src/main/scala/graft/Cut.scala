package graft

import org.apache.spark.sql.Dataset

/** The one lineage cut every operator takes (the policy MLlib and GraphX
  * use for their iterative checkpoints): follow Spark's own checkpoint
  * directory.
  *
  * Fault tolerance: with no checkpoint dir set (the default) a cut is
  * `localCheckpoint` — blocks live on EXECUTORS with their lineage
  * truncated, so on a real cluster losing ANY executor after the cut
  * loses blocks that can never be recomputed and kills the job. Fine on
  * local[n] and for short jobs. For a long-running 100 TB run, set a
  * reliable dir (HDFS/S3) the standard Spark way — `spark.checkpoint.dir`
  * or the SparkContext setter for it — and every cut becomes a reliable
  * `checkpoint()`: each cut frame is written as files under the dir and
  * survives executor loss, at the cost of one distributed-FS write per
  * cut. Results are identical either way (Round8OpsSpec); Round9OpsSpec
  * drops every persisted block mid-loop and asserts the reliable CC loop
  * finishes with correct labels while the local one dies. No operator
  * ever sets or changes the dir.
  */
object Cut {

  def apply[T](ds: Dataset[T], eager: Boolean): Dataset[T] =
    if (ds.sparkSession.sparkContext.getCheckpointDir.isDefined) ds.checkpoint(eager)
    else ds.localCheckpoint(eager)
}
