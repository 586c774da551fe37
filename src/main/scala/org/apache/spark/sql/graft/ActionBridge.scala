package org.apache.spark.sql.graft

import java.io.{ByteArrayInputStream, ByteArrayOutputStream, DataInputStream, DataOutputStream}
import java.util.concurrent.atomic.{AtomicLong, AtomicReference}

import scala.concurrent.Await
import scala.concurrent.duration.Duration
import scala.util.Failure

import org.apache.spark.{FutureAction, SparkEnv}
import org.apache.spark.io.CompressionCodec
import org.apache.spark.sql.{DataFrame, classic}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.UnsafeRow
import org.apache.spark.sql.catalyst.plans.logical.LocalRelation
import org.apache.spark.sql.execution.{LogicalRDD, SQLExecution}

/** Bridge into Spark's `private[sql]` action plumbing for
  * [[graft.core.Checkpoints]] and [[graft.core.Scope]]. Each call is ONE
  * SQL action: it runs under its own execution id, like a `Dataset`
  * action, so QueryExecutionListeners and the SQL tab see it as one query,
  * and it does in one job what the public API needs two or three actions
  * for.
  */
object ActionBridge {

  /** The rows of `df` as a driver-local relation (a `LocalRelation`, in
    * partition order), computed by one job; None when `df` has more than
    * `maxRows` rows.
    *
    * What reaches the driver stays bounded when `df` is over the bound.
    * Each task ships at most `maxRows + 1` rows, as the compressed
    * UnsafeRow bytes `collect` ships. The first result that takes the
    * running total past `maxRows` cancels the job and drops every part
    * held so far. So an over-bound frame, whatever its size, delivers
    * about `maxRows` rows plus at most `maxRows + 1` for each task still
    * running when the cancel lands. The caller then pays for a second
    * computation, which is the price of not counting first.
    */
  def collectLocal(df: DataFrame, maxRows: Long): Option[DataFrame] = {
    val ds = df.asInstanceOf[classic.Dataset[_]]
    val qe = ds.queryExecution
    SQLExecution.withNewExecutionId(qe, Some("localize")) {
      val sc = ds.sparkSession.sparkContext
      val rdd = qe.executedPlan.execute()
      val parts = new Array[Array[Byte]](rdd.partitions.length)
      val kept = new AtomicLong
      val job = new AtomicReference[FutureAction[Unit]]
      // the handler runs on the scheduler's event thread and may see the
      // overflow before `job` is set; whichever side comes second cancels
      val future = sc.submitJob(rdd, encode(maxRows) _, parts.indices,
        (i: Int, part: (Long, Array[Byte])) => if (kept.get <= maxRows) {
          if (kept.addAndGet(part._1) <= maxRows) parts(i) = part._2
          else {
            java.util.Arrays.fill(parts.asInstanceOf[Array[AnyRef]], null)
            Option(job.get).foreach(_.cancel())
          }
        }, ())
      job.set(future)
      if (kept.get > maxRows) future.cancel()
      // the job's own failure surfaces as-is, as from `runJob`; the
      // cancellation is the over-bound answer
      Await.ready(future, Duration.Inf).value.get match {
        case Failure(e) if kept.get <= maxRows => throw e
        case _ => ()
      }
      if (kept.get > maxRows) None
      else {
        val codec = CompressionCodec.createCodec(sc.conf)
        val numFields = qe.executedPlan.output.length
        Some(classic.Dataset.ofRows(ds.sparkSession,
          LocalRelation(qe.analyzed.output.map(_.newInstance()),
            parts.toSeq.flatMap(decode(codec, numFields)))))
      }
    }
  }

  /** A partition's first rows, up to one past `maxRows`: their count and
    * their length-prefixed UnsafeRow bytes, compressed with the session's
    * codec and ended by -1.
    */
  private def encode(maxRows: Long)(it: Iterator[InternalRow]): (Long, Array[Byte]) = {
    val bos = new ByteArrayOutputStream()
    val out = new DataOutputStream(
      CompressionCodec.createCodec(SparkEnv.get.conf).compressedOutputStream(bos))
    val buffer = new Array[Byte](4 << 10)
    var n = 0L
    while (n <= maxRows && it.hasNext) {
      val row = it.next().asInstanceOf[UnsafeRow]
      out.writeInt(row.getSizeInBytes)
      row.writeToStream(out, buffer)
      n += 1
    }
    out.writeInt(-1)
    out.close()
    (n, bos.toByteArray)
  }

  /** The rows [[encode]] wrote. */
  private def decode(codec: CompressionCodec, numFields: Int)(bytes: Array[Byte])
      : Seq[InternalRow] = {
    val in = new DataInputStream(codec.compressedInputStream(new ByteArrayInputStream(bytes)))
    try {
      val rows = Vector.newBuilder[InternalRow]
      var size = in.readInt()
      while (size >= 0) {
        val b = new Array[Byte](size)
        in.readFully(b)
        val row = new UnsafeRow(numFields)
        row.pointTo(b, size)
        rows += row
        size = in.readInt()
      }
      rows.result()
    } finally in.close()
  }

  /** `df` eagerly localCheckpointed, as `Dataset.localCheckpoint` does it,
    * plus its row count: the count IS the job that fills the checkpoint,
    * so it needs no second pass. The count is an action's result, not an
    * accumulator — the scheduler keeps one result per partition, so a
    * retried or speculative task cannot inflate it. A failed job unpersists
    * the half-filled checkpoint before rethrowing.
    */
  def localCheckpointCounted(df: DataFrame): (DataFrame, Long) = {
    val ds = df.asInstanceOf[classic.Dataset[_]]
    val qe = ds.queryExecution
    SQLExecution.withNewExecutionId(qe, Some("localCheckpoint")) {
      val rdd = qe.executedPlan.execute().map(_.copy())
      rdd.localCheckpoint()
      val n = try rdd.count() catch {
        case t: Throwable => rdd.unpersist(blocking = false); throw t
      }
      (classic.Dataset.ofRows(ds.sparkSession,
        LogicalRDD.fromDataset(rdd, ds, ds.isStreaming)), n)
    }
  }
}
