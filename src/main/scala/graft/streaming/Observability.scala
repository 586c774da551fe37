package graft.streaming

import org.apache.spark.sql.streaming.StreamingQueryListener
import org.apache.spark.sql.streaming.StreamingQueryListener._

import java.util.concurrent.ConcurrentHashMap
import java.util.concurrent.atomic.LongAdder

/** Metrics registry mirroring the reference's `arcane.stream.*` metric
  * surface (services/metrics/DeclaredMetrics.scala:10-103): same names, so
  * dashboards port 1:1. Counters/gauges are in-memory here; `snapshot()`
  * is the export point for a StatsD/Dropwizard bridge in deployment.
  */
object GraftMetrics {
  private val counters = new ConcurrentHashMap[String, LongAdder]()
  private val gauges = new ConcurrentHashMap[String, Long]()

  def inc(name: String, delta: Long = 1L): Unit =
    counters.computeIfAbsent(name, _ => new LongAdder).add(delta)
  def gauge(name: String, value: Long): Unit = gauges.put(name, value)

  def counter(name: String): Long =
    Option(counters.get(name)).map(_.sum()).getOrElse(0L)
  def gaugeValue(name: String): Option[Long] = Option(gauges.get(name))

  def snapshot(): Map[String, Long] = {
    import scala.jdk.CollectionConverters._
    counters.asScala.map { case (k, v) => k -> v.sum() }.toMap ++
      gauges.asScala.toMap
  }

  def reset(): Unit = { counters.clear(); gauges.clear() }

  // Metric names (reference DeclaredMetrics)
  val RowsIncoming = "arcane.stream.rows.incoming"
  val ChunkSize = "arcane.stream.rows.chunk_size"
  val StageDuration = "arcane.stream.batch.stage_duration"
  val MergeDuration = "arcane.stream.batch.merge_duration"
  val DisposeDuration = "arcane.stream.batch.dispose_duration"
  val WatermarkAge = "arcane.stream.watermark.age"
  val WatermarkUpdates = "arcane.stream.watermark.updates"
  val RetryAttempts = "arcane.stream.retry.attempts"
  val BackfillShardsStaged = "arcane.stream.backfill.shards_staged"
  val BackfillShardsCombined = "arcane.stream.backfill.shards_combined"
  val TargetOptimizeDuration = "arcane.stream.target.optimize_duration"
  val ExpectationBatchesRejected = "arcane.stream.expectations.batches_rejected"
  val DriftPsiMilli = "arcane.stream.drift.psi_milli"
  val DriftBatchesFlagged = "arcane.stream.drift.batches_flagged"
  val TargetSnapshotExpireDuration = "arcane.stream.target.snapshot_expire_duration"
  // operator sizing decisions (Dataset.observe → GraftObservationListener)
  val Scd2ObservationBase = "arcane.stream.scd2"
  val Scd2AutoWidth = "arcane.stream.scd2.auto_bucket_width"
  val Scd2AutoWidthFloored = "arcane.stream.scd2.auto_width_floor_dominated"
  // corpus-ingest gate (CorpusIngestSink.FrozenGate)
  val IngestRowsAdmitted = "arcane.stream.ingest.rows_admitted"
  val IngestBatches = "arcane.stream.ingest.batches"
  // frozen state installed, full or folded: one per refresh
  val IngestFreezes = "arcane.stream.ingest.freezes"
  // the refreshes that folded the admitted delta instead of reading the corpus
  val IngestRefreshFolds = "arcane.stream.ingest.refresh_folds"
  val IngestCompactions = "arcane.stream.ingest.compactions"
  val IngestCorpusRows = "arcane.stream.ingest.corpus_rows"
  // a top-level listing change the gate did not write; a compaction run
  // under a live gate counts here too
  val IngestExternalWrites = "arcane.stream.ingest.external_writes"
}

/** StreamingQueryListener bridging Spark's streaming progress events into
  * the arcane.stream.* metric names (reference pushes the same numbers to a
  * DataDog UDS publisher; the snapshot map is the equivalent hook here).
  *
  * METRIC OWNERSHIP — the listener and [[CdcPipeline]] are routinely
  * active together (the listener is the deployment hook, the pipeline runs
  * inside foreachBatch), so each metric has ONE writer: the pipeline owns
  * `rows.incoming` (its post-probe count) and `batch.merge_duration` (the
  * actual merge timing); the listener owns the per-trigger gauges —
  * `rows.chunk_size` (this trigger's input rows) and
  * `batch.stage_duration` (the whole trigger's wall time, which is the
  * stage in Spark's model). Double-writing `rows.incoming` here would
  * inflate throughput 2×, and gauging trigger time under merge_duration
  * would overwrite the real merge timing dashboards read.
  */
class GraftStreamingListener extends StreamingQueryListener {
  override def onQueryStarted(event: QueryStartedEvent): Unit = ()

  override def onQueryProgress(event: QueryProgressEvent): Unit = {
    val p = event.progress
    GraftMetrics.gauge(GraftMetrics.ChunkSize, p.numInputRows)
    Option(p.durationMs.get("triggerExecution"))
      .foreach(d => GraftMetrics.gauge(GraftMetrics.StageDuration, d))
    // Dataset.observe() metrics surface per trigger on the progress event —
    // same forwarding rule as GraftObservationListener's batch path
    import scala.jdk.CollectionConverters._
    p.observedMetrics.asScala.foreach { case (name, row) =>
      GraftObservationListener.forward(name, row)
    }
  }

  override def onQueryTerminated(event: QueryTerminatedEvent): Unit = ()
}

/** Batch-side bridge for `Dataset.observe()` metrics: operators report
  * their sizing decisions (e.g. [[graft.operators.Scd2.asOfJoinBucketedAuto]]'s
  * derived bucket width and its floor-dominated flag) as observations that
  * piggyback on the plan's own execution — zero extra jobs, the plan stays
  * lazy — and this listener lands them in [[GraftMetrics]] under
  * `<observation>.<field>` when the action completes. Register once per
  * session: `spark.listenerManager.register(new GraftObservationListener)`.
  * Only `arcane.`/`graft.`-prefixed observation names are forwarded, so
  * user observations on the same session stay out of the metric namespace.
  */
class GraftObservationListener
    extends org.apache.spark.sql.util.QueryExecutionListener {
  override def onSuccess(funcName: String,
                         qe: org.apache.spark.sql.execution.QueryExecution,
                         durationNs: Long): Unit =
    qe.observedMetrics.foreach { case (name, row) =>
      GraftObservationListener.forward(name, row)
    }

  override def onFailure(funcName: String,
                         qe: org.apache.spark.sql.execution.QueryExecution,
                         exception: Exception): Unit = ()
}

object GraftObservationListener {
  /** Gauge every numeric/boolean field of an observation row as
    * `<observation>.<field>`; non-arcane/graft namespaces are ignored.
    * A `#suffix` on the observation name is a PER-CALL uniquifier (Spark
    * rejects duplicate observation names within a query unless they are
    * the same Dataset) and is stripped before gauging, so every call of an
    * operator reports under the same stable metric name.
    */
  private[streaming] def forward(name: String,
                                 row: org.apache.spark.sql.Row): Unit =
    if (name.startsWith("arcane.") || name.startsWith("graft.")) {
      val base = name.takeWhile(_ != '#')
      row.schema.fields.iterator.zipWithIndex.foreach { case (f, i) =>
        if (!row.isNullAt(i)) row.get(i) match {
          case n: java.lang.Number =>
            GraftMetrics.gauge(s"$base.${f.name}", n.longValue())
          case b: java.lang.Boolean =>
            GraftMetrics.gauge(s"$base.${f.name}", if (b) 1L else 0L)
          case _ => ()
        }
      }
    }
}
