package perfbench

import java.util.concurrent.ConcurrentLinkedQueue
import java.util.concurrent.atomic.AtomicLong

import scala.jdk.CollectionConverters._

import org.apache.spark.SparkContext
import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.streaming.StreamingQueryListener
import org.apache.spark.sql.util.QueryExecutionListener

/** Clock shared by harness spans and Spark's own events: microseconds on the
  * epoch timeline (Spark stamps job and stage events with epoch millis), but
  * advanced by `nanoTime` so span durations do not jump with the wall clock.
  */
object Clock {
  private val epochUs0 = System.currentTimeMillis() * 1000L
  private val nano0 = System.nanoTime()
  def nowUs: Long = epochUs0 + (System.nanoTime() - nano0) / 1000L
}

final case class Span(id: Long, parent: Long, layer: String, name: String,
                      startUs: Long, endUs: Long, attrs: Map[String, Any])

/** Harness-side tracing. With `enabled = false` every call runs its body
  * and records nothing, so the untraced run pays no bookkeeping.
  *
  * Spans are kept in memory and written once when the run ends. The current
  * span id travels to Spark jobs through `sc.setLocalProperty`, so a job
  * started inside a span is attributed to it by the listener below.
  */
final class Tracer(val enabled: Boolean, sc: SparkContext) {
  private val ids = new AtomicLong(0L)
  private val spans = new ConcurrentLinkedQueue[Span]()
  private val stack = new ThreadLocal[List[Long]] { override def initialValue(): List[Long] = Nil }

  def span[T](layer: String, name: String, attrs: Map[String, Any] = Map.empty)(body: => T): T =
    if (!enabled) body
    else {
      val id = ids.incrementAndGet()
      val outer = stack.get()
      val parent = outer.headOption.getOrElse(0L)
      stack.set(id :: outer)
      sc.setLocalProperty(Tracer.SpanProperty, id.toString)
      val t0 = Clock.nowUs
      try body
      finally {
        spans.add(Span(id, parent, layer, name, t0, Clock.nowUs, attrs))
        stack.set(outer)
        sc.setLocalProperty(Tracer.SpanProperty, if (parent == 0L) null else parent.toString)
      }
    }

  def recorded: Seq[Span] = spans.asScala.toSeq.sortBy(_.id)
}

object Tracer {
  val SpanProperty = "perfbench.span"
}

final case class JobRec(jobId: Int, span: Long, startUs: Long, var endUs: Long,
                        stageIds: Seq[Int])

final case class StageRec(stageId: Int, attempt: Int, tasks: Int, runMs: Long,
                          inputBytes: Long, outputBytes: Long, outputRecords: Long,
                          shuffleWriteBytes: Long, spillBytes: Long)

final case class PlanRec(startUs: Long, planMs: Double)

final case class ProgressRec(query: String, batchId: Long, durations: Map[String, Long])

/** Spark's own listeners, registered by the benchmark for the traced run:
  * jobs (with the span that started them), completed stages with their
  * summed task metrics, query-execution planning time and streaming
  * progress. Everything is kept in memory until the run ends.
  */
final class SparkEvents extends SparkListener {
  val jobs = new ConcurrentLinkedQueue[JobRec]()
  private val open = new java.util.concurrent.ConcurrentHashMap[Int, JobRec]()
  val stages = new ConcurrentLinkedQueue[StageRec]()
  val plans = new ConcurrentLinkedQueue[PlanRec]()
  val progress = new ConcurrentLinkedQueue[ProgressRec]()

  override def onJobStart(e: SparkListenerJobStart): Unit = {
    val span = Option(e.properties).flatMap(p => Option(p.getProperty(Tracer.SpanProperty)))
      .map(_.toLong).getOrElse(0L)
    val rec = JobRec(e.jobId, span, e.time * 1000L, -1L, e.stageIds)
    open.put(e.jobId, rec)
    jobs.add(rec)
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = {
    val rec = open.remove(e.jobId)
    if (rec != null) rec.endUs = e.time * 1000L
  }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = {
    val i = e.stageInfo
    val m = i.taskMetrics
    if (m != null) stages.add(StageRec(i.stageId, i.attemptNumber(), i.numTasks,
      m.executorRunTime, m.inputMetrics.bytesRead,
      m.outputMetrics.bytesWritten, m.outputMetrics.recordsWritten,
      m.shuffleWriteMetrics.bytesWritten, m.memoryBytesSpilled + m.diskBytesSpilled))
  }

  val queryListener: QueryExecutionListener = new QueryExecutionListener {
    override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit = {
      // analysis + optimization + planning, placed at the first phase's
      // start so the harness can attribute it to the span it fell in
      val phases = qe.tracker.phases.values
      if (phases.nonEmpty) plans.add(PlanRec(phases.map(_.startTimeMs).min * 1000L,
        phases.map(_.durationMs).sum.toDouble))
    }
    override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit = ()
  }

  val streamListener: StreamingQueryListener = new StreamingQueryListener {
    override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
    override def onQueryIdle(e: StreamingQueryListener.QueryIdleEvent): Unit = ()
    override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
    override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit = {
      val p = e.progress
      val d = p.durationMs.asScala.map { case (k, v) => k -> v.longValue() }.toMap
      progress.add(ProgressRec(p.name, p.batchId, d))
    }
  }

  def register(spark: SparkSession): Unit = {
    spark.sparkContext.addSparkListener(this)
    spark.listenerManager.register(queryListener)
    spark.streams.addListener(streamListener)
  }
}
