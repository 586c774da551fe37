package perfbench

import scala.collection.mutable.ArrayBuffer

import perfbench.Seeded.mix

import graft.core.{FileWatermarkStore, Watermark}
import graft.functions.CorpusPipeline
import graft.streaming.{CorpusIngestSink, GraftMetrics, VersionedChangeSource}
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** `CorpusIngestSink.FrozenGate` in the regime it was built for, a standing
  * corpus much larger than each batch. The batches arrive through the
  * versioned stream source, one source version per micro-batch, with the
  * whole backlog offered at the start: a closed loop with one caller, where
  * each batch is gated only after the previous one committed. Every
  * `refreshEvery`-th batch re-freezes the corpus; the batches in between
  * gate against the frozen state plus the admitted delta.
  */
object CorpusGate {

  /** The first batch is warm-up; the other three (steady, refresh, steady)
    * are measured and take about 20 s on 4 cores. The schedule is fixed,
    * not timed, so every run gates the same batches and per-batch counts
    * repeat exactly; `--seconds` does not change it.
    */
  final case class Shape(corpusDocs: Long = 12000L, batchRows: Int = 1000,
                         refreshEvery: Int = 2, batches: Int = 4,
                         exactDupEvery: Int = 20, nearDupEvery: Int = 50,
                         sideFileMinRows: Long = 10000L)

  val shape = Shape()

  /** Quality filters opened up: the synthetic words are hex strings, and
    * filtering is not what this workload measures.
    */
  val cfg: CorpusPipeline.Config = CorpusPipeline.Config(
    minChars = 10, requireKnownLang = false,
    nearDupThreshold = None, decontamThreshold = None,
    maxDigitRatio = 1.0, maxMeanTokenLen = 100.0, maxPunctRatio = 1.0)

  val docSchema: StructType = StructType(Seq(
    StructField("doc_id", LongType), StructField("text", StringType),
    StructField("source", StringType)))

  /** 40 pseudo-words from a seeded hash of `key`: any two keys' 5-shingle
    * sets are disjoint with high probability, so near-duplicate candidates
    * come only from the planted duplicates.
    */
  def textOf(seed: Long, key: Long): String = {
    val b = new StringBuilder(40 * 17)
    var k = 0
    while (k < 40) {
      if (k > 0) b += ' '
      b ++= java.lang.Long.toHexString(mix(mix(seed, key), k))
      k += 1
    }
    b.result()
  }

  def corpus(spark: SparkSession, seed: Long, s: Shape): DataFrame = {
    import spark.implicits._
    spark.range(s.corpusDocs).as[Long]
      .map(id => (id, textOf(seed, id), "web", "train"))
      .toDF("doc_id", "text", "source", "split")
  }

  /** First doc id of the batches: above the corpus range at any size. */
  def batchBase(s: Shape): Long = math.max(10000000L, s.corpusDocs * 2)

  /** Doc `id` of the batches: every `exactDupEvery`-th repeats a corpus
    * doc's text, every `nearDupEvery`-th (offset by one, so the two sets are
    * disjoint) is a corpus doc's text plus a short suffix; the rest are new.
    */
  def doc(seed: Long, s: Shape, id: Long): Row = {
    val original = java.lang.Long.remainderUnsigned(mix(seed, -id), s.corpusDocs)
    val text =
      if (id % s.nearDupEvery == 1) textOf(seed, original) + " extra trailing suffix words appended"
      else if (id % s.exactDupEvery == 0) textOf(seed, original)
      else textOf(seed, id)
    Row(id, text, "web")
  }

  def isPlantedDup(s: Shape, id: Long): Boolean =
    id % s.nearDupEvery == 1 || id % s.exactDupEvery == 0

  /** Source version `v` (from 1) is batch `v - 1`. The first batch, which
    * freezes the corpus for the first time, is offered alone; after
    * `release` all the others are due at once, so the stream drains them
    * back to back.
    */
  final class DocFeed(seed: Long, s: Shape) extends VersionedChangeSource {
    @volatile private var released = false
    def release(): Unit = released = true
    override def currentVersion(): Long = if (released) s.batches.toLong else 1L
    override def fetchChanges(from: Long, to: Long, shard: Int, numShards: Int): Iterator[Row] = {
      val t0 = System.nanoTime()
      val lo = batchBase(s) + from * s.batchRows
      val hi = batchBase(s) + to * s.batchRows
      FeedStats.record((lo until hi).filter(id => Math.floorMod(id, numShards.toLong) == shard)
        .map(id => doc(seed, s, id)), t0)
    }
  }

  private def gate(dir: String, s: Shape) = new CorpusIngestSink.FrozenGate(dir, cfg,
    refreshEvery = s.refreshEvery, sideFileMinRows = s.sideFileMinRows)

  def run(ctx: Ctx): Outcome = {
    val spark = ctx.spark
    val s = shape
    val seed = ctx.seed
    val tracer = ctx.tracer

    // set-up, repeated so its median is steady: write the standing corpus
    val genS = (0 until 3).map { i =>
      Main.timedS(corpus(spark, seed, s).write.mode("overwrite").parquet(ctx.dir(s"corpus_$i")))._2
    }
    (1 until 3).foreach(i => Main.deleteTree(ctx.dir(s"corpus_$i")))
    val dir = ctx.dir("corpus_0")

    val feed = new DocFeed(seed, s)
    val store = new TimedStore(new FileWatermarkStore(ctx.dir("watermarks")), tracer)
    val g = gate(dir, s)
    val queryName = s"perfbench-gate-$seed"
    val records = ArrayBuffer.empty[Map[String, Any]]
    val q = FeedStream.start(spark, queryName, feed, docSchema, 1L,
        ctx.dir("checkpoint")) { (batch, batchId) =>
      val t0 = System.nanoTime()
      tracer.span("streaming", "batch", Map("batch_id" -> batchId)) {
        if (!tracer.span("sources", "is_empty")(batch.isEmpty)) {
          val maxId = tracer.span("sources", "max_version")(
            batch.agg(max(col("doc_id"))).head().getLong(0))
          val version = (maxId - batchBase(s)) / s.batchRows + 1
          val freezes0 = GraftMetrics.counter(GraftMetrics.IngestFreezes)
          val admitted = tracer.span("pipeline", "run_batch", Map("batch_id" -> batchId)) {
            g.processBatch(batch)
          }
          val refresh = GraftMetrics.counter(GraftMetrics.IngestFreezes) > freezes0
          store.set("corpus", Watermark.mssql(version))
          records.synchronized(records += Map("batch_id" -> batchId, "version" -> version,
            "admitted" -> admitted, "refresh" -> refresh, "storage_bytes" -> Main.storageBytes(spark),
            "start_ns" -> t0, "end_ns" -> System.nanoTime()))
        }
      }
    }

    var failed = 0L
    var warmS = Double.NaN
    var window: Main.Window = null
    var streamStart = 0L
    try {
      // warm-up: the stream's start and the first freeze of the real corpus
      warmS = Main.timedS(q.processAllAvailable())._2
      window = new Main.Window
      FeedStats.reset()
      streamStart = System.nanoTime()
      feed.release()
      q.processAllAvailable()
    } catch { case e: Exception =>
      System.err.println(s"[perfbench] stream failed: $e")
      failed += 1
    } finally {
      q.stop()
      g.close()
    }
    val windowSamples = Option(window).map(_.samples).getOrElse(Map.empty)

    // correctness, off the clock: every batch offered committed, and the
    // admitted ids are exactly the generator's non-duplicates
    val wm = store.get("corpus").map(_.version)
    val got = spark.read.parquet(dir).filter(col("doc_id") >= batchBase(s))
      .select(col("doc_id")).collect().map(_.getLong(0)).sorted.toSeq
    val want = (batchBase(s) until batchBase(s) + s.batches.toLong * s.batchRows)
      .filterNot(isPlantedDup(s, _))
    val checks = Seq(
      ("watermark", wm.contains(Watermark.mssql(s.batches.toLong).version),
        s"committed=${wm.getOrElse("none")} expected=${s.batches}"),
      ("admitted_ids", got == want, s"admitted=${got.size} expected=${want.size} " +
        s"missing=${want.diff(got).take(5).mkString(",")} extra=${got.diff(want).take(5).mkString(",")}"))
    Main.deleteTree(dir)
    Main.deleteTree(dir + "__gatestate")

    Outcome(records.size.toLong + checks.size, failed + checks.count(!_._2), checks,
      setup = Map("gen_s" -> genS, "warmup_s" -> warmS),
      samples = windowSamples ++ Map(
        "query" -> queryName,
        "stream_start_ns" -> streamStart,
        "docs_offered" -> (s.batches - 1) * s.batchRows,
        "batch_rows" -> s.batchRows,
        "corpus_docs" -> s.corpusDocs,
        "commits" -> store.commits.toSeq.drop(1).map { case (v, at) => Seq(v, at) },
        "batches" -> records.toSeq.drop(1),
        "fetched_rows" -> FeedStats.rows.get(),
        "fetch_s" -> FeedStats.nanos.get() / 1e9))
  }
}
