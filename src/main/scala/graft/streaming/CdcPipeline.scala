package graft.streaming

import graft.core.{RetryPolicy, Watermark, WatermarkStore}
import graft.operators.{CdcMerge, Dedup, FieldFilter, MergeDialect}
import graft.sources.{BlobListingSource, BlobSourceConfig}
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions.col

/** The per-batch CDC pipeline: field filter → dedup-latest → schema evolve →
  * version-guarded merge → commit → watermark update → every-Nth maintenance.
  *
  * This is the reference's streaming graph
  * (/root/reference/src/main/scala/services/streaming/graph/
  * DefaultStreamingGraphBuilder.scala:37-47 and the processor chain it wires)
  * collapsed into one `foreachBatch`-shaped function: the stage sequence is
  * identical, but each stage is a declarative DataFrame transform that
  * Catalyst fuses — dedup + merge execute with a single exchange on the merge
  * key instead of the reference's staging-table round trip through Trino.
  * The merge has one route, [[CdcMerge.applyChanges]]; the rendered
  * `MERGE INTO` text ([[graft.operators.MergeSqlBuilder]]) is the catalog
  * SQL surface, checked against it by [[graft.operators.MergeSqlExecutor]].
  */
final case class PipelineConfig(
    keyColumn: String = "ARCANE_MERGE_KEY",
    includeColumns: Seq[String] = Nil,      // empty = all
    excludeColumns: Seq[String] = Nil,
    maintenanceEvery: Int = 10,             // run maintenance every Nth batch
    snapshotsToKeep: Int = 3,
    // Admission gate: expectations evaluated against every incoming batch
    // BEFORE filtering/dedup/merge (one extra 1-row aggregation per batch).
    // On violation: "fail" stops the stream (operator intervenes — the
    // default, because silently merging corrupt CDC data is the worst
    // outcome); "skip" quarantines the batch — the merge is skipped but
    // the watermark still commits, so the stream moves on and the rejected
    // batch count surfaces in metrics (use when the source occasionally
    // emits junk batches that a re-pull would only repeat).
    expectations: Seq[graft.operators.Expectations.Expectation] = Nil,
    onExpectationFailure: String = "fail",  // "fail" | "skip"
    // Distribution-drift watch: PSI of every incoming batch against a
    // frozen reference histogram (one bounded bucket agg per batch). Pure
    // observability — the gauge and the flag counter surface in metrics;
    // gating stays the expectations' job (drift is a trend signal, a
    // single drifted batch is rarely ground to drop data).
    driftMonitor: Option[DriftMonitorConfig] = None)

/** Per-batch PSI watch config: the reference ships as ≤K driver-side
  * numbers ([[graft.functions.Drift.freezeNumeric]]); `warnAbove` uses the
  * conventional 0.25 "investigate" threshold.
  */
final case class DriftMonitorConfig(
    featureColumn: String,
    reference: graft.functions.Drift.FrozenHistogram,
    warnAbove: Double = 0.25)

final class CdcPipeline(spark: SparkSession, dialect: MergeDialect,
                        cfg: PipelineConfig, watermarks: WatermarkStore,
                        retry0: RetryPolicy = RetryPolicy()) {

  // misconfiguration must fail at construction, not mid-stream: a typo like
  // "quarantine" silently routing to the fail branch would kill the stream
  // on the first junk batch the operator expected to be skipped
  require(Set("fail", "skip").contains(cfg.onExpectationFailure),
    s"onExpectationFailure must be 'fail' or 'skip', got '${cfg.onExpectationFailure}'")

  private val retry: RetryPolicy = CdcPipeline.counted(retry0)

  @volatile private var batchCount: Long = 0L

  private def commitWatermark(targetName: String, wm: Watermark): Unit =
    CdcPipeline.commitWatermark(watermarks, retry, targetName, wm)

  /** Run one micro-batch through the full stage chain against a target.
    * The batch is persisted for the duration: the chain takes several
    * actions (row count, merge, commit) and an unpersisted streaming
    * batch would re-pull the source — for a JDBC CDC feed that means
    * re-querying the database per action.
    */
  def runBatch(target: ParquetTarget, targetName: String, changes0: DataFrame,
               watermark: Watermark, tieBreakers: Seq[Column] = Nil): Unit = {
    val changes = changes0.persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    try runBatchInner(target, targetName, changes, watermark, tieBreakers)
    finally changes.unpersist()
  }

  private def runBatchInner(target: ParquetTarget, targetName: String, changes: DataFrame,
                            watermark: Watermark, tieBreakers: Seq[Column]): Unit = {
    // T11 empty-batch short-circuit: commit only the watermark.
    val n = changes.count()
    if (n == 0L) {
      commitWatermark(targetName, watermark)
      return
    }
    GraftMetrics.inc(GraftMetrics.RowsIncoming, n)

    // drift watch BEFORE any gate: the signal is about what the source
    // sent, not about what survives admission
    cfg.driftMonitor.foreach { dm =>
      val psiRow = graft.functions.Drift
        .psiAgainstFrozen(changes, col(dm.featureColumn), dm.reference)
        .select(col("psi_total")).head()
      val psi = if (psiRow.isNullAt(0)) 0.0 else psiRow.getDouble(0)
      GraftMetrics.gauge(GraftMetrics.DriftPsiMilli, math.round(psi * 1000))
      if (psi > dm.warnAbove) GraftMetrics.inc(GraftMetrics.DriftBatchesFlagged)
    }

    // Data-quality admission gate (Deequ-style): ONE 1-row aggregation over
    // the persisted batch, collected once — the verdict and the diagnostic
    // both come from the same rows (no second pass, no eviction race). A
    // NULL verdict (metric aggregated to NULL) counts as a violation and
    // stays in the message — `!pass` would silently drop exactly the rows
    // that caused the rejection.
    if (cfg.expectations.nonEmpty) {
      val audit = graft.operators.Expectations.audit(changes, cfg.expectations).collect()
      val failed = audit.filterNot(r => java.lang.Boolean.TRUE.equals(r.get(5)))
      if (failed.nonEmpty) {
        GraftMetrics.inc(GraftMetrics.ExpectationBatchesRejected)
        cfg.onExpectationFailure match {
          case "skip" =>
            commitWatermark(targetName, watermark)
            return
          case _ =>
            val msg = failed
              .map(r => s"${r.getString(0)}(${r.getString(1)})=${r.get(2)}")
              .mkString(", ")
            throw new IllegalStateException(
              s"batch rejected by expectations for $targetName: $msg")
        }
      }
    }

    // M1 dedup-latest inside the field-filtered batch
    val latest = Dedup.latestByKey(filterFields(changes), col(cfg.keyColumn),
      dialect.versionOrder(col), tieBreakers)

    // X6 additive schema evolution + M2-M4 version-guarded merge (both in
    // applyChanges: the target gains batch-only columns), then commit
    val t0 = System.currentTimeMillis()
    val merged = CdcMerge.applyChanges(target.read(Some(latest.schema)), latest,
      cfg.keyColumn, dialect)
    target.commit(merged)
    GraftMetrics.gauge(GraftMetrics.MergeDuration, System.currentTimeMillis() - t0)

    // T3 watermark commit AFTER the merge — replay-safe via version guards
    commitWatermark(targetName, watermark)

    // X1/X2/X3 maintenance every Nth batch
    batchCount += 1
    if (cfg.maintenanceEvery > 0 && batchCount % cfg.maintenanceEvery == 0) {
      val m0 = System.currentTimeMillis()
      target.expireSnapshots(cfg.snapshotsToKeep)
      target.removeOrphans()
      GraftMetrics.gauge(GraftMetrics.TargetSnapshotExpireDuration,
        System.currentTimeMillis() - m0)
    }
  }

  /** P1/P2 field filtering (columns prune into the scan), the pipeline's
    * first stage after the admission gates. The protected set includes
    * EVERY column the dialect's merge reads — version AND delete marker
    * (dialect.essentialColumns): stripping the marker would NULL-backfill
    * it downstream and silently misroute the whole batch.
    */
  def filterFields(changes: DataFrame): DataFrame = {
    val protectedCols = cfg.keyColumn +: dialect.essentialColumns
    val included =
      if (cfg.includeColumns.nonEmpty)
        FieldFilter.include(changes, cfg.includeColumns, protectedCols)
      else changes
    if (cfg.excludeColumns.nonEmpty)
      FieldFilter.exclude(included, cfg.excludeColumns, protectedCols)
    else included
  }

  /** Continuous poll loop over a blob-listing source: the reference's T1
    * change-capture loop with jittered sleep, ending after `maxPolls` (tests)
    * or on `stop()`.
    */
  @volatile private var stopped = false
  def stop(): Unit = stopped = true

  def runBlobStream(cfgSrc: BlobSourceConfig, target: ParquetTarget, targetName: String,
                    pollIntervalMs: Long = 1000, jitter: Double = 0.2,
                    maxPolls: Int = Int.MaxValue,
                    jitterSeed: Option[Long] = None): Int = {
    var polls = 0
    // per-instance seed by default: a FIXED seed would give every pipeline
    // in a fleet the identical sleep sequence, re-synchronizing the polls
    // the jitter exists to spread (pass jitterSeed for deterministic tests)
    val rnd = jitterSeed.fold(new java.util.Random())(new java.util.Random(_))
    while (!stopped && polls < maxPolls) {
      val wm = watermarks.get(targetName)
      BlobListingSource.nextBatch(spark, cfgSrc, wm, retry) match {
        case Some((batch, newWm)) => runBatch(target, targetName, batch, newWm)
        case None =>
          val sleep = (pollIntervalMs * (1.0 + jitter * (rnd.nextDouble() * 2 - 1))).toLong
          if (polls < maxPolls - 1) Thread.sleep(math.max(0, sleep))
      }
      polls += 1
    }
    polls
  }
}

object CdcPipeline {

  /** `retry` with every retried transient failure counted in the metrics,
    * composed with whatever hook the caller installed (the reference logs
    * its retry schedule).
    */
  private[streaming] def counted(retry: RetryPolicy): RetryPolicy =
    retry.copy(onRetry = (a, t) => {
      retry.onRetry(a, t)
      GraftMetrics.inc(GraftMetrics.RetryAttempts)
    })

  /** The one watermark commit of every write path. Watermark commits go
    * to an external store (table property / catalog); a transient failure
    * AFTER a successful merge or overwrite must not kill the job — the
    * write is already durable, and restarting re-pulls and re-writes the
    * whole batch for nothing (ref JdbcMergeServiceClient.scala:38-58).
    */
  private[streaming] def commitWatermark(watermarks: WatermarkStore, retry: RetryPolicy,
                                         targetName: String, wm: Watermark): Unit = {
    retry(watermarks.set(targetName, wm))
    GraftMetrics.inc(GraftMetrics.WatermarkUpdates)
    GraftMetrics.gauge(GraftMetrics.WatermarkAge, wm.ageMillis(System.currentTimeMillis()))
  }
}

/** Backfill entry points (reference §2.10): one-shot catch-up jobs that reuse
  * the same dedup + merge operators.
  */
object Backfill {

  /** Backfill MERGE (B1): one big changeset through the normal pipeline
    * ([[CdcPipeline.runBatch]] under `cfg`: field filter, dedup, merge,
    * retried watermark commit), with maintenance off.
    */
  def merge(target: ParquetTarget, targetName: String, changes: DataFrame,
            cfg: PipelineConfig, dialect: MergeDialect, watermark: Watermark,
            watermarks: WatermarkStore): Unit =
    new CdcPipeline(changes.sparkSession, dialect, cfg.copy(maintenanceEvery = 0),
      watermarks).runBatch(target, targetName, changes, watermark)

  /** Backfill OVERWRITE (B2): dedup + tombstone-filter the full source, then
    * replace the target in one commit (the CREATE OR REPLACE swap). Spark's
    * partitioned read replaces the reference's shard tables; resumability
    * collapses to job retry because the swap is atomic. A config-driven
    * caller field-filters `full` first ([[CdcPipeline.filterFields]]). The
    * watermark commit is retried under the default policy, as on the merge
    * path.
    */
  def overwrite(target: ParquetTarget, targetName: String, full: DataFrame,
                keyColumn: String, dialect: MergeDialect, watermark: Watermark,
                watermarks: WatermarkStore): Unit = {
    val latest = Dedup.latestByKey(full, col(keyColumn), dialect.versionOrder(col))
    val live = latest.filter(!dialect.isDelete(col))
    target.commit(live)
    CdcPipeline.commitWatermark(watermarks, CdcPipeline.counted(RetryPolicy()), targetName,
      watermark)
  }
}
