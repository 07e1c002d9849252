package graft.core

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.LogicalRDD

/** Release of pinned frames.
  *
  * A `localCheckpoint(true)` frame is a `LogicalRDD` over a persisted,
  * checkpointed RDD that the CacheManager never sees, so
  * `Dataset.unpersist()` on it is a no-op: the blocks stay in
  * `getPersistentRDDs` until the ContextCleaner collects the RDD.
  * [[release]] unpersists the checkpointed RDD itself (Spark logs one
  * WARN per release: the truncated lineage cannot be recomputed).
  */
object Pins {

  /** Free the blocks behind `df`, a frame returned by
    * `localCheckpoint(true)` itself: a projection of one holds no
    * blocks, so passing it is an error rather than a silent no-op. Call
    * only once every consumer of `df` has been materialized: a later
    * read of a released checkpoint fails.
    */
  def release(df: DataFrame): Unit = df.queryExecution.logical match {
    case r: LogicalRDD => r.rdd.unpersist(blocking = false); ()
    case p => throw new IllegalArgumentException(
      s"release() needs a localCheckpoint frame, got a ${p.nodeName} plan")
  }
}
