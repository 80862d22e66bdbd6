package graft.ml

import org.apache.spark.sql.DataFrame

/** Release helper for eagerly `localCheckpoint`ed frames held by the
  * [[graft.SessionMemo]]s: a checkpointed Dataset's logical plan is a
  * `LogicalRDD` over the persisted block RDD, so dropping the memo entry
  * without unpersisting that RDD strands the blocks until the context
  * cleaner happens to GC the reference. Eviction paths call this so the
  * blocks are freed deterministically, not conventionally. */
private[graft] object Checkpoints {
  def unpersist(df: DataFrame): Unit = df.queryExecution.logical match {
    case lr: org.apache.spark.sql.execution.LogicalRDD => lr.rdd.unpersist(false)
    case _ => () // not a checkpointed frame — nothing pinned to release
  }
}
