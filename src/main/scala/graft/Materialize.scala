package graft

import org.apache.spark.rdd.RDD
import org.apache.spark.sql.Dataset
import org.apache.spark.sql.catalyst.plans.logical.{LogicalPlan, Project}
import org.apache.spark.sql.execution.LogicalRDD
import org.apache.spark.storage.StorageLevel

/** The one storage idiom. Two kinds of materialized frame exist: a PINNED
  * frame (persisted at the default level and counted, [[pin]]) and a
  * CHECKPOINT ([[checkpoint]], which also cuts the lineage). The rounds
  * of an iterative operator are checkpoints made by [[rounds]].
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

  /** Checkpoint `df` eagerly: run one job to materialize it, and cut its
    * lineage.
    */
  def checkpoint[T](df: Dataset[T]): Dataset[T] = df.localCheckpoint(true)

  /** The one round loop of the iterative operators. Round 0 is `init`;
    * round `r` is `step(state of round r - 1, r)`. Each round's new frames
    * are checkpointed here, which keeps every round's plan one step over
    * materialized tables: an iterative plan otherwise embeds every earlier
    * round, and Spark re-plans that growing tree each round. A frame
    * `step` passes on unchanged is carried over, not checkpointed again.
    *
    * Storage: once a round is made and `stop` has read it, the frames of the
    * round it replaces are released, except those the new state still
    * holds; a state that holds its earlier rounds (a round ledger) keeps
    * them that way. The caller owns the returned state's frames. If `step`
    * or `stop` throws, including on an exhausted [[Until]] budget, every
    * frame this loop made and still holds is released first.
    */
  def rounds[S](init: S)(step: (S, Int) => S)(stop: Stop[S])(implicit frames: Frames[S]): S = {
    var held = Seq.empty[Dataset[_]] // made here and not yet released
    def cut(s: S): S = frames.map(s, new Cut {
      def apply[T](d: Dataset[T]): Dataset[T] =
        if (held.contains(d)) d else { val c = checkpoint(d); held :+= c; c }
    })
    def stopped(prev: Option[S], s: S, round: Int): Boolean = stop match {
      case After(n) => round >= n
      case u: Until[S @unchecked] =>
        val done = u.done(prev, s)
        if (!done && round >= u.max) throw u.exhausted()
        done
    }
    try {
      var s = cut(init)
      var round = 0
      var done = stopped(None, s, round)
      while (!done) {
        round += 1
        val next = cut(step(s, round))
        done = stopped(Some(s), next, round)
        val kept = framesOf(next)
        held.filterNot(kept.contains).foreach(release(_))
        held = kept
        s = next
      }
      s
    } catch { case t: Throwable => held.foreach(release(_)); throw t }
  }

  /** When [[rounds]] stops. */
  sealed trait Stop[-S]

  /** After exactly `n` rounds. */
  final case class After(n: Int) extends Stop[Any]

  /** At the first round `done(previous state, state)` accepts; round 0 is
    * tested too, with no previous state. Throws `exhausted()` when round
    * `max` is made and not accepted: a fail-loud loop never returns a
    * partial answer.
    */
  final case class Until[S](max: Int, exhausted: () => Throwable)(
      val done: (Option[S], S) => Boolean) extends Stop[S]

  /** Maps a frame to a frame of the same type. */
  trait Cut { def apply[T](d: Dataset[T]): Dataset[T] }

  /** How [[rounds]] reaches the frames of a state: a frame, a sequence of
    * states, or a pair of states.
    */
  trait Frames[S] { def map(s: S, f: Cut): S }

  object Frames {
    implicit def frame[T]: Frames[Dataset[T]] = new Frames[Dataset[T]] {
      def map(d: Dataset[T], f: Cut): Dataset[T] = f(d)
    }
    implicit def seq[A](implicit a: Frames[A]): Frames[Seq[A]] = new Frames[Seq[A]] {
      def map(s: Seq[A], f: Cut): Seq[A] = s.map(a.map(_, f))
    }
    implicit def pair[A, B](implicit a: Frames[A], b: Frames[B]): Frames[(A, B)] =
      new Frames[(A, B)] {
        def map(s: (A, B), f: Cut): (A, B) = (a.map(s._1, f), b.map(s._2, f))
      }
  }

  private def framesOf[S](s: S)(implicit frames: Frames[S]): Seq[Dataset[_]] = {
    var out = Seq.empty[Dataset[_]]
    frames.map(s, new Cut { def apply[T](d: Dataset[T]): Dataset[T] = { out :+= d; d } })
    out
  }
}
