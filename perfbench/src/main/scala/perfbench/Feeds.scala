package perfbench

import java.util.concurrent.atomic.AtomicLong

import scala.collection.mutable.ArrayBuffer

import graft.core.{FileWatermarkStore, Watermark, WatermarkStore}

/** The generators' seeded hash, a splitmix64 step: every input is a pure
  * function of the seed and a position.
  */
object Seeded {
  def mix(a: Long, b: Long): Long = {
    var z = a * 0x9E3779B97F4A7C15L + b
    z = (z ^ (z >>> 30)) * 0xBF58476D1CE4E5B9L
    z = (z ^ (z >>> 27)) * 0x94D049BB133111EBL
    z ^ (z >>> 31)
  }
}

/** Rows the benchmark's feeds handed to the versioned stream source and the
  * time spent producing them, summed over every task that pulled a feed
  * (one JVM in local mode). A micro-batch that pulls its source more than
  * once shows here as more rows fetched than committed.
  */
object FeedStats {
  val rows = new AtomicLong(0L)
  val nanos = new AtomicLong(0L)

  def reset(): Unit = { rows.set(0L); nanos.set(0L) }

  def record[T](rowsOut: Seq[T], t0: Long): Iterator[T] = {
    rows.addAndGet(rowsOut.size)
    nanos.addAndGet(System.nanoTime() - t0)
    rowsOut.iterator
  }
}

/** A `FileWatermarkStore` that also records when each commit returned:
  * work is fresh once the watermark that covers it is committed.
  */
final class TimedStore(inner: FileWatermarkStore, tracer: Tracer,
                       onCommit: (Long, Long) => Unit = (_, _) => ()) extends WatermarkStore {
  val commits = ArrayBuffer.empty[(Long, Long)]
  override def get(target: String): Option[Watermark] = inner.get(target)
  override def set(target: String, wm: Watermark): Unit = {
    tracer.span("core", "watermark_set")(inner.set(target, wm))
    val v = wm.version.toLong
    val at = System.nanoTime()
    commits.synchronized(commits += ((v, at)))
    onCommit(v, at)
  }
}

/** A stream over one of the benchmark's feeds, as the workloads run it:
  * the versioned source with one shard per core and a cap of `cap`
  * versions per micro-batch, into a `foreachBatch` body. The query is
  * named after the feed.
  */
object FeedStream {
  def start(spark: org.apache.spark.sql.SparkSession, name: String,
            feed: graft.streaming.VersionedChangeSource,
            schema: org.apache.spark.sql.types.StructType, cap: Long, checkpoint: String)
           (body: (org.apache.spark.sql.DataFrame, Long) => Unit)
      : org.apache.spark.sql.streaming.StreamingQuery = {
    graft.streaming.VersionedStreamRegistry.register(name, feed)
    spark.readStream
      .format(classOf[graft.streaming.VersionedStreamProvider].getName)
      .option("source.name", name)
      .option("source.shards", spark.sparkContext.defaultParallelism.toString)
      .option("source.maxVersionsPerTrigger", cap.toString)
      .schema(schema)
      .load()
      .writeStream
      .queryName(name)
      .option("checkpointLocation", checkpoint)
      .foreachBatch(body)
      .start()
  }
}
