package graft

import org.apache.spark.rdd.RDD
import org.apache.spark.sql.Dataset
import org.apache.spark.sql.catalyst.plans.logical.{LogicalPlan, Project}
import org.apache.spark.sql.execution.LogicalRDD
import org.apache.spark.storage.StorageLevel

/** The one storage idiom. Two kinds of materialized frame exist: a PINNED
  * frame (persisted at the default level and counted, [[pin]]) and a
  * CHECKPOINT (`localCheckpoint(true)`, which also cuts the lineage).
  *
  * Ownership rule, for every function in the engine:
  *  - A function returns either a lazy plan with no storage side effects,
  *    or a materialized frame (pinned or checkpointed) after releasing
  *    every intermediate it persisted or checkpointed.
  *  - If that result reads a checkpoint the function frees, the result
  *    must itself be a checkpoint: a pinned frame over a freed checkpoint
  *    cannot recompute a block the cache drops.
  *  - The caller owns exactly the returned frame and frees it with
  *    [[release]], whichever kind it is. A frame persisted only for the
  *    length of a computation goes through [[using]].
  *
  * Keep the storage a frame came with on ONE value: a persisted copy of a
  * checkpoint holds the same rows twice, and only the copy is released.
  */
object Materialize {

  /** Persist `df` at the default level, run one job to fill the cache,
    * and return `df`.
    */
  def pin[T](df: Dataset[T]): Dataset[T] = {
    df.persist()
    df.count()
    df
  }

  /** Persist `df` for the length of `body`, then drop that cache entry,
    * also when `body` throws. Only the cache entry: a checkpoint `df`
    * reads belongs to its maker, even if `body` released `df` early. A
    * `df` whose plan is already cached on entry is run as it is, and that
    * entry is left to whoever made it. `body` must not return a lazy plan
    * over `df`: its blocks may be gone once this returns.
    */
  def using[T, R](df: Dataset[T])(body: Dataset[T] => R): R = {
    val owned = df.storageLevel == StorageLevel.NONE
    if (owned) df.persist()
    try body(df)
    finally if (owned) df.unpersist(): Unit
  }

  /** Free the storage `df` holds. A persisted frame drops its cache entry
    * and nothing else: a checkpoint it reads belongs to whoever made it.
    * An unpersisted checkpoint, or a projection of one (a `LogicalRDD`
    * under `Project`s only), unpersists the checkpoint's RDD, which
    * `Dataset.unpersist` cannot reach. A frame derived through a filter,
    * join, aggregate or union frees nothing it reads, so a release never
    * breaks a live dependency of another frame. Release a frame once: a
    * second call on a persisted projection of a checkpoint would find no
    * cache entry and free the checkpoint. `blocking` waits for the blocks
    * to be gone, so a recompute of the same plan cannot re-attach to them.
    */
  def release(df: Dataset[_], blocking: Boolean = false): Unit =
    if (df.storageLevel != StorageLevel.NONE) df.unpersist(blocking): Unit
    else checkpointOf(df.queryExecution.logical).foreach(_.unpersist(blocking))

  private def checkpointOf(plan: LogicalPlan): Option[RDD[_]] = plan match {
    case lr: LogicalRDD => Some(lr.rdd)
    case Project(_, child) => checkpointOf(child)
    case _ => None
  }
}
