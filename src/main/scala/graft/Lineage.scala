package graft

import org.apache.spark.sql.Dataset

/** The one lineage cut every operator uses: a frame that feeds several
  * consumers (both sides of a self-join, a size probe and the join it
  * sizes, every round of an iterative loop) is materialized once and its
  * plan truncated, so neither the plan nor the recomputation grows with
  * the number of references.
  *
  * Durability follows Spark's own checkpoint directory
  * (`spark.checkpoint.dir`, or `SparkContext.setCheckpointDir`):
  *   - no directory (the default): `localCheckpoint` — the blocks live in
  *     executor storage with their lineage truncated, so losing an
  *     executor that holds one kills the job irrecoverably. Fine on
  *     local[n] and for jobs that are cheap to re-run;
  *   - a directory on a reliable file system (HDFS/S3): `checkpoint` —
  *     each cut is written as files there, so the loss of any (or every)
  *     executor costs only a recompute from those files, at the price of
  *     one distributed-FS write per cut.
  * Results are identical either way. The operators take no option of
  * their own and never set the directory: one configuration decides for
  * the whole application.
  *
  * `eager = false` (the usual form) runs no job here; the first action
  * over the cut frame materializes it and later consumers reuse it.
  * `eager = true` materializes immediately — for loop state whose size
  * the caller reads back at once.
  */
object Lineage {
  def cut[T](ds: Dataset[T], eager: Boolean = false): Dataset[T] =
    if (ds.sparkSession.sparkContext.getCheckpointDir.isDefined)
      ds.checkpoint(eager)
    else ds.localCheckpoint(eager)
}
