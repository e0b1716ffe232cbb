package graft

import org.apache.spark.sql.Dataset

/** Registry for intermediates persisted inside query builders.
  *
  * A query function returns a lazy DataFrame, so it cannot unpersist its
  * own intermediates (they must stay cached until the caller's action has
  * run). Builders register persists here; the consumer (Verify / Bench /
  * PipelineRunner / tests) calls [[releaseAll]] once the action completes.
  * Keeps cached storage bounded to one query's working set instead of
  * accumulating across the multi-query Verify/Bench session.
  */
object Caches {
  private val live = scala.collection.mutable.LinkedHashSet.empty[Dataset[_]]

  /** Persist `df` (MEMORY_AND_DISK) and track it for later release. */
  def persist[T](df: Dataset[T]): Dataset[T] = synchronized {
    live += df
    df.persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
  }

  /** Track an already-persisted relation (typically a `localCheckpoint`
    * inside a lazy iterative plan, whose blocks only materialize when the
    * caller's action runs) for later [[releaseAll]]. No-op on storage. */
  def track[T](df: Dataset[T]): Dataset[T] = synchronized {
    live += df
    df
  }

  /** Unpersist a `localCheckpoint`ed relation's blocks.
    *
    * `Dataset.unpersist` only consults the CacheManager (plan-level
    * cache), so it is a silent NO-OP for a checkpoint's RDD-level
    * persistence (verified empirically: `getPersistentRDDs` keeps the
    * block after `Dataset.unpersist`, drops it after `rdd.unpersist`).
    * The checkpointed RDD lives in the `LogicalRDD` leaf the checkpoint
    * returned, so free it there. Iterative operators (connected
    * components, PageRank, k-means, BPE, k-core) call this on each
    * superseded iterate — without it, every round's |V|-row copy pins
    * block storage until the nondeterministic ContextCleaner runs. */
  def freeCheckpoint(df: Dataset[_], blocking: Boolean = false): Unit =
    df.queryExecution.analyzed match {
      case lr: org.apache.spark.sql.execution.LogicalRDD => lr.rdd.unpersist(blocking)
      case _ => df.unpersist(blocking)
    }

  /** Unpersist every tracked relation and forget them. Checkpoint-aware:
    * tracked `localCheckpoint`s are freed at the RDD level (see
    * [[freeCheckpoint]] — `Dataset.unpersist` would silently skip them).
    *
    * Blocking by default: a non-blocking unpersist leaves freed blocks to
    * be evicted lazily, and in a multi-query session (Bench/Verify) that
    * eviction + GC bleeds into the NEXT query's measured time — BENCH_r02
    * showed unchanged queries regressing 4x from exactly this.
    */
  def releaseAll(blocking: Boolean = true): Unit = synchronized {
    live.foreach(freeCheckpoint(_, blocking))
    live.clear()
  }
}
