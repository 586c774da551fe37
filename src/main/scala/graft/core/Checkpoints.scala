package graft.core

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.LogicalRDD
import org.apache.spark.sql.graft.ActionBridge

/** Lifecycle helpers for `localCheckpoint()`ed frames.
  *
  * `localCheckpoint` truncates lineage by persisting the computed blocks in
  * the block store — and those blocks live until the RDD is garbage
  * collected, which in a long-lived session (or a 59-query bench JVM)
  * effectively means "forever". Iterative operators that checkpoint per
  * round therefore leak every superseded round's blocks. These helpers make
  * the release explicit:
  *
  *   - [[release]] drops the blocks behind a checkpointed frame once every
  *     consumer has materialized (after which the frame must NOT be
  *     recomputed — its lineage is gone);
  *   - [[localize]] materializes a small frame straight into a driver-local
  *     relation in ONE action, so the frame that escapes the operator holds
  *     no block-store state at all and is broadcast-joinable downstream.
  *
  * Code that holds several such frames at once (the frozen ingest gate,
  * the LSH funnels) does not call [[release]] itself: it registers each
  * frame with a [[Scope]], the single owner that releases every persist,
  * checkpoint and broadcast of a freeze or a batch in one close.
  *
  * At cluster scale `localCheckpoint` blocks also die with their executor
  * (no replication), so frames that must survive node churn should use
  * reliable `checkpoint()` to a checkpoint dir instead; these helpers are
  * for the intra-operator scratch frames where the checkpoint is only a
  * lineage-truncation device.
  */
object Checkpoints {

  /** Release the block-store blocks behind a `localCheckpoint()`ed frame.
    * No-op for frames that are not checkpoint results. After this call the
    * frame cannot be recomputed (lineage was truncated when it was
    * checkpointed), so call it only once every consumer has materialized.
    */
  def release(df: DataFrame): Unit = df.queryExecution.analyzed match {
    case l: LogicalRDD => l.rdd.unpersist(blocking = false)
    case _ => ()
  }

  /** Materialize `df` eagerly and return it with no cluster-side state: if
    * it has at most `maxDriverRows` rows it comes back as a driver-local
    * relation (broadcastable, zero block-store footprint), collected by ONE
    * action ([[ActionBridge.collectLocal]]); above the bound that action is
    * cancelled once the rows it has seen pass the bound, and `df` is
    * computed again into a `localCheckpoint` that is returned as-is — a
    * bounded, documented leak in preference to an unbounded driver
    * collect.
    *
    * Meant for the "small survivor set" frames iterative/funnel operators
    * emit (near-dup pairs, dropped-id sets): ∝ findings, not corpus, so the
    * bound is a guard rail rather than the expected path.
    */
  def localize(df: DataFrame, maxDriverRows: Long = 1L << 22): DataFrame =
    ActionBridge.collectLocal(df, maxDriverRows)
      .getOrElse(ActionBridge.localCheckpointCounted(df)._1)
}
