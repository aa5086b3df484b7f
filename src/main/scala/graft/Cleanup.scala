package graft

import org.apache.spark.sql.SparkSession

/** Library-level storage cleanup for long-lived sessions.
  *
  * Two kinds of storage survive a query that composed the iterative
  * operators ([[operators.Dedup.connectedComponents]] and its callers,
  * [[operators.TrainingPipeline.stages]]):
  *
  *  - CacheManager-tracked relations (`persist()`), dropped by
  *    `spark.catalog.clearCache()`;
  *  - `localCheckpoint` blocks, which the catalog does NOT track — the
  *    ContextCleaner frees them only after a driver GC notices the
  *    dropped reference, which on a busy driver may be arbitrarily far
  *    away (this skew was measurable: a 6.7 s query read 34.8 s when 60
  *    prior queries' blocks had piled up).
  *
  * [[releaseAll]] drops both, now. It is session-wide by design — the
  * per-operator contracts ("returned frame stays cached") are for
  * composition within one pipeline; between pipelines, release
  * everything. Verify/Bench call this between queries.
  */
object Cleanup {
  def releaseAll(spark: SparkSession): Unit = {
    spark.catalog.clearCache()
    spark.sparkContext.getPersistentRDDs.values.foreach(_.unpersist(blocking = true))
    System.gc()
  }

  /** Free the storage blocks behind a `localCheckpoint(true)`-produced
    * frame. A checkpointed Dataset is backed by a `LogicalRDD` holding
    * the persisted RDD; unpersisting it directly releases the blocks NOW
    * instead of whenever the ContextCleaner's next driver GC notices the
    * dropped reference (which across a long suite may be never — the
    * round-2 bench-contamination root cause). Non-blocking: the
    * executors reclaim asynchronously while the next round runs. */
  def freeCheckpoint(df: org.apache.spark.sql.DataFrame): Unit = freeCheckpoint(df, blocking = false)

  /** [[freeCheckpoint]], optionally waiting until the blocks are gone. */
  private[graft] def freeCheckpoint(df: org.apache.spark.sql.DataFrame, blocking: Boolean): Unit =
    df.queryExecution.analyzed match {
      case lr: org.apache.spark.sql.execution.LogicalRDD => lr.rdd.unpersist(blocking)
      case _ => ()
    }

  /** Free every pinned frame `df` reads — the `LogicalRDD` leaves of its
    * plan. For an operator's internal pins once its own result is
    * pinned; non-blocking, like [[freeCheckpoint]]. */
  private[graft] def freePins(df: org.apache.spark.sql.DataFrame): Unit =
    df.queryExecution.analyzed.collectLeaves().foreach {
      case lr: org.apache.spark.sql.execution.LogicalRDD => lr.rdd.unpersist(false)
      case _ => ()
    }
}
