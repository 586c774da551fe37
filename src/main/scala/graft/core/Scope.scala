package graft.core

import org.apache.spark.broadcast.Broadcast
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.graft.ActionBridge
import org.apache.spark.storage.StorageLevel

/** The single owner of a call's cluster-side state. Every persist,
  * localCheckpoint and broadcast is registered at creation, and ONE
  * [[close]] releases them newest first, each by its kind's rule:
  * `Dataset.unpersist` for persisted frames (through the CacheManager, so
  * the cached-plan entry dies with the blocks), [[Checkpoints.release]]
  * for checkpoints, `Broadcast.unpersist` — not `destroy`, so a straggling
  * lazy consumer re-fetches — for broadcasts.
  *
  * [[Scope.using]] closes when the call ends; [[Scope.closeOnFailure]]
  * only when it throws, for an owner that outlives the call. `close()` is
  * idempotent and empties the scope, so a long-lived owner may keep
  * registering after it. Not thread-safe.
  */
final class Scope {
  private val releases = scala.collection.mutable.ArrayBuffer.empty[() => Unit]

  /** Run `release` on close, after everything registered later. */
  def onClose(release: => Unit): Unit = releases += (() => release)

  private def own[T](t: T)(release: T => Unit): T = { onClose(release(t)); t }

  /** `df` persisted MEMORY_AND_DISK (lazily, like `persist`). */
  def persist(df: DataFrame): DataFrame =
    own(df.persist(StorageLevel.MEMORY_AND_DISK))(_.unpersist(blocking = false))

  /** `df` eagerly localCheckpointed, with its exact row count from the
    * same job ([[ActionBridge.localCheckpointCounted]]: no separate
    * `count()`, and a retried task cannot inflate it); must not be
    * recomputed after close.
    */
  def checkpointCounted(df: DataFrame): (DataFrame, Long) = {
    val (ckpt, n) = ActionBridge.localCheckpointCounted(df)
    (own(ckpt)(Checkpoints.release), n)
  }

  /** [[checkpointCounted]] without the count. */
  def checkpoint(df: DataFrame): DataFrame = checkpointCounted(df)._1

  /** [[Checkpoints.localize]], one action for a frame under its row guard;
    * the over-bound checkpoint fallback is released on close (a local
    * relation has nothing to release).
    */
  def localize(df: DataFrame): DataFrame =
    own(Checkpoints.localize(df))(Checkpoints.release)

  def broadcast(spark: SparkSession, bytes: Array[Byte]): Broadcast[Array[Byte]] =
    own(spark.sparkContext.broadcast(bytes))(_.unpersist(blocking = false))

  /** Release everything registered so far. Every release runs; the first
    * failure is rethrown with the others suppressed.
    */
  def close(): Unit = {
    val pending = releases.reverse
    releases.clear()
    var first: Throwable = null
    pending.foreach { r =>
      try r() catch {
        case t: Throwable => if (first == null) first = t else first.addSuppressed(t)
      }
    }
    if (first != null) throw first
  }
}

object Scope {
  /** `f` with a fresh scope, closed however `f` ends. A lazy frame `f`
    * returns must not depend on the scope's state.
    */
  def using[T](f: Scope => T): T = {
    val s = new Scope
    val out = try f(s) catch { case t: Throwable => closeAfter(s, t) }
    s.close()
    out
  }

  /** `f` with a fresh scope that its result takes over; closed only if
    * `f` throws.
    */
  def closeOnFailure[T](f: Scope => T): T = {
    val s = new Scope
    try f(s) catch { case t: Throwable => closeAfter(s, t) }
  }

  private def closeAfter(s: Scope, t: Throwable): Nothing = {
    try s.close() catch { case c: Throwable => t.addSuppressed(c) }
    throw t
  }
}
