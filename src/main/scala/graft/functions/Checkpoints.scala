package graft.functions

import org.apache.spark.sql.DataFrame

/** Lineage truncation for the iterative ops, honoring the session's
  * fault-tolerance setup.
  *
  * `localCheckpoint` blocks live only in executor storage: fast (no
  * distributed-FS write) but NOT fault-tolerant — on a cluster, losing
  * one executor mid-loop aborts the job and restarts the whole
  * computation. That is the right trade locally and at bench SF, and
  * the wrong one for a multi-hour 100 TB pagerank/dedup-cc run, where
  * each superstep should restart from the last RELIABLE cut instead of
  * from zero.
  *
  * Rule: reliable iff the context has a checkpoint dir
  * (`sc.setCheckpointDir` — the cluster deployment signal; local
  * sessions never set one, so the bench keeps localCheckpoint). There
  * is no override: a session whose checkpoint dir serves other jobs
  * gets reliable cuts here too.
  *
  * Reliable-mode caveats (Spark's own): checkpoint files accumulate
  * until application end unless
  * `spark.cleaner.referenceTracking.cleanCheckpoints=true`. Reliable
  * truncation is always EAGER and persists the input around the write:
  * a bare `checkpoint()` runs the lineage TWICE (once for the action,
  * once when doCheckpoint re-executes the RDD to write files — the
  * standard Spark caveat), which on the multi-hour runs this mode
  * exists for would double every superstep; the transient
  * MEMORY_AND_DISK pin makes the write job a cache read, and is
  * released as soon as the checkpoint files exist. The `eager = false`
  * deferral is honored in LOCAL mode only — it is a job-count
  * optimization, and in reliable mode the extra cache-read job is the
  * price of fault tolerance. */
object Checkpoints {
  def truncate(df: DataFrame, eager: Boolean = true): DataFrame =
    if (df.sparkSession.sparkContext.getCheckpointDir.isDefined) {
      val pinned = df.persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      try pinned.checkpoint(eager = true)
      finally pinned.unpersist(blocking = false)
    } else df.localCheckpoint(eager)
}
