package graft.streaming

import graft.SparkSpec
import graft.functions.CorpusPipeline
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.StructType

import java.nio.file.{Files, Paths}
import scala.jdk.CollectionConverters._

/** Query-level kill-and-restart E2E over a REPLAYABLE file source: a
  * checkpointed `writeStream` is stopped between micro-batches and a fresh
  * query (fresh sink state — the restart of a died process) resumes from
  * the checkpoint; the target must end identical to an uninterrupted run.
  * Complements the batch-level replay-idempotence pins (`CorpusPipelineSpec`,
  * `Scd2SinkSpec`) — this is the Spark analog of the reference's
  * interrupted-resume streaming tests
  * (GenericStreamRunnerServiceTests / DefaultBackfillOverwriteGraphBuilderTests).
  */
class StreamingRestartE2eSpec extends SparkSpec {
  import spark.implicits._

  private val cfg = CorpusPipeline.Config(
    minChars = 10, requireKnownLang = false,
    nearDupThreshold = None, decontamThreshold = None)

  private val baseA = "the quick brown fox jumps over the lazy dog again and again today"
  private val baseB = "completely different content about spark query engines operating at corpus scale"
  private val baseC = "an entirely new document mentioning benchmarks and shuffles in the third batch"
  private val baseD = "watermark discipline and checkpoint hygiene for long running streaming ingestion"

  /** Stage `df` as a single parquet FILE under the streaming source dir
    * with a pinned modification time — the file source orders batches by
    * mtime, so both runs see identical micro-batch boundaries
    * (maxFilesPerTrigger=1 → one batch per file).
    */
  private def addFile(srcDir: String, name: String, df: DataFrame, mtime: Long): Unit = {
    val tmp = Files.createTempDirectory("e2e_part").toString
    df.coalesce(1).write.mode("overwrite").parquet(tmp)
    val part = Files.list(Paths.get(tmp)).iterator().asScala
      .find(p => p.getFileName.toString.endsWith(".parquet")).get
    val dest = Paths.get(srcDir, name)
    Files.copy(part, dest)
    assert(dest.toFile.setLastModified(mtime))
  }

  private def docBatches: Seq[DataFrame] = Seq(
    Seq((1L, baseA, "web"), (2L, baseB, "web")),
    Seq((10L, baseA, "web"), (11L, baseB + " today", "web"), (12L, baseC, "web")),
    Seq((20L, baseC, "web"), (22L, baseD, "web"))
  ).map(_.toDF("doc_id", "text", "source"))

  private def runIngest(srcDir: String, schema: StructType, targetDir: String,
                        ckpt: String, fn: (DataFrame, Long) => Unit): Unit = {
    val q = spark.readStream.schema(schema)
      .option("maxFilesPerTrigger", 1).parquet(srcDir)
      .writeStream.option("checkpointLocation", ckpt)
      .foreachBatch(fn).start()
    try q.processAllAvailable() finally q.stop()
  }

  private def corpusOf(dir: String): Set[(Long, String, String)] =
    spark.read.parquet(dir).select("doc_id", "text", "split")
      .as[(Long, String, String)].collect().toSet

  test("corpus ingest: restart between micro-batches ends identical to an uninterrupted run") {
    val t0 = System.currentTimeMillis() - 60000
    val schema = docBatches.head.schema

    // run A — uninterrupted: all three files visible from the start
    val srcA = Files.createTempDirectory("e2e_srcA").toString
    docBatches.zipWithIndex.foreach { case (b, i) =>
      addFile(srcA, s"f$i.parquet", b, t0 + i * 2000L) }
    val dirA = Files.createTempDirectory("e2e_corpusA").toString
    runIngest(srcA, schema, dirA, Files.createTempDirectory("e2e_ckA").toString,
      CorpusIngestSink.foreachBatchFn(dirA, cfg))
    assert(corpusOf(dirA).map(_._1) == Set(1L, 2L, 12L, 22L))

    // run B — killed after batch 0, restarted with a FRESH sink (the
    // stateful FrozenGate, new instance per query = a new process); the
    // gate must rebuild from the target + checkpoint alone
    val srcB = Files.createTempDirectory("e2e_srcB").toString
    val dirB = Files.createTempDirectory("e2e_corpusB").toString
    val ckB = Files.createTempDirectory("e2e_ckB").toString
    addFile(srcB, "f0.parquet", docBatches(0), t0)
    val gate1 = new CorpusIngestSink.FrozenGate(dirB, cfg, refreshEvery = 8)
    runIngest(srcB, schema, dirB, ckB, gate1.foreachBatchFn)
    gate1.close() // the "kill": stream stopped, sink state gone
    assert(corpusOf(dirB).map(_._1) == Set(1L, 2L),
      "restart point must sit between micro-batches")
    docBatches.zipWithIndex.drop(1).foreach { case (b, i) =>
      addFile(srcB, s"f$i.parquet", b, t0 + i * 2000L) }
    val gate2 = new CorpusIngestSink.FrozenGate(dirB, cfg, refreshEvery = 8)
    runIngest(srcB, schema, dirB, ckB, gate2.foreachBatchFn)
    gate2.close()

    assert(corpusOf(dirB) == corpusOf(dirA),
      "interrupted + resumed run must produce the uninterrupted corpus")
  }

  test("corpus ingest: write-committed-but-checkpoint-lost replays to the same corpus") {
    // the OTHER crash window: batch 0's parquet append committed, the
    // checkpoint write did not — on restart the file source re-delivers
    // the batch and the gate must admit nothing for it
    val t0 = System.currentTimeMillis() - 60000
    val schema = docBatches.head.schema
    val src = Files.createTempDirectory("e2e_srcC").toString
    val dir = Files.createTempDirectory("e2e_corpusC").toString
    docBatches.zipWithIndex.foreach { case (b, i) =>
      addFile(src, s"f$i.parquet", b, t0 + i * 2000L) }
    // simulate the committed write with NO checkpoint record
    assert(CorpusIngestSink.processBatch(spark, dir, docBatches(0), cfg) == 2L)
    // fresh checkpoint → batch 0 re-delivers file 0
    runIngest(src, schema, dir, Files.createTempDirectory("e2e_ckC").toString,
      CorpusIngestSink.foreachBatchFn(dir, cfg))
    assert(corpusOf(dir).map(_._1) == Set(1L, 2L, 12L, 22L),
      "replayed batch must admit nothing; later batches must gate normally")
  }

  test("frozen gate with semantic arm + compaction: kill inside a refresh window, restart converges") {
    // the full-option matrix in one run: refreshEvery=2 (so the kill after
    // batch 3 lands INSIDE a refresh window, one batch into the frozen
    // state), an explicit compaction at the kill point (the restarted gate
    // freezes from the compacted corpus), semantic arm on (the restart
    // must rebuild frozen EMBEDDINGS from the target, not just
    // keys/signatures)
    val emb = Seq(
      (1L, Seq(1.0f, 0.1f, 0.0f, 0.0f)),
      (2L, Seq(0.0f, 1.0f, 0.0f, 0.0f)),
      (11L, Seq(0.0f, 0.0f, 1.0f, 0.0f)),
      (20L, Seq(0.0f, 0.0f, 0.0f, 1.0f)),
      (21L, Seq(1.0f, 0.11f, 0.0f, 0.0f)),  // semantic dup of 1
      (30L, Seq(0.01f, 0.0f, 1.0f, 0.0f)),  // semantic dup of 11 — post-restart
      (31L, Seq(0.5f, 0.5f, 0.5f, 0.5f))    // orthogonal enough to all
    ).toDF("doc_id", "embedding")
    val scfg = cfg.copy(embeddings = Some(emb), embeddingDim = 4)
    val batches = Seq(
      Seq((1L, baseA, "web"), (2L, baseB, "web")),
      Seq((10L, baseA, "web"), (11L, baseC, "web")), // 10 exact dup of 1
      Seq((20L, baseD, "web"),
          (21L, "fresh prose lexically unlike the fox sentence entirely", "web")),
      Seq((30L, "another lexically fresh body about columnar layouts", "web"),
          (31L, "distinct closing document on shuffle hygiene and skew", "web"),
          (32L, baseC + " today", "web"))             // lexical near dup of 11
    ).map(_.toDF("doc_id", "text", "source"))
    val expected = Set(1L, 2L, 11L, 20L, 31L)
    val t0 = System.currentTimeMillis() - 60000
    val schema = batches.head.schema
    def gateOf(dir: String) = new CorpusIngestSink.FrozenGate(dir, scfg,
      refreshEvery = 2, semanticAgainstThreshold = Some(0.8))

    // run A — uninterrupted
    val srcA = Files.createTempDirectory("e2e_fgsem_srcA").toString
    batches.zipWithIndex.foreach { case (b, i) =>
      addFile(srcA, s"f$i.parquet", b, t0 + i * 2000L) }
    val dirA = Files.createTempDirectory("e2e_fgsem_A").toString
    val gA = gateOf(dirA)
    runIngest(srcA, schema, dirA,
      Files.createTempDirectory("e2e_fgsem_ckA").toString, gA.foreachBatchFn)
    gA.close()
    assert(corpusOf(dirA).map(_._1) == expected, "fixture drifted")

    // run B — killed one batch into the second refresh window (after
    // batch 3: refreshes at batches 1 and 3), then compacted
    val srcB = Files.createTempDirectory("e2e_fgsem_srcB").toString
    val dirB = Files.createTempDirectory("e2e_fgsem_B").toString
    val ckB = Files.createTempDirectory("e2e_fgsem_ckB").toString
    batches.take(3).zipWithIndex.foreach { case (b, i) =>
      addFile(srcB, s"f$i.parquet", b, t0 + i * 2000L) }
    val g1 = gateOf(dirB)
    runIngest(srcB, schema, dirB, ckB, g1.foreachBatchFn)
    g1.close() // the kill: frozen state + delta gone mid-window
    assert(corpusOf(dirB).map(_._1) == Set(1L, 2L, 11L, 20L),
      "restart point must sit inside the second refresh window")
    CorpusIngestSink.compact(spark, dirB, 2)
    addFile(srcB, "f3.parquet", batches(3), t0 + 3 * 2000L)
    val g2 = gateOf(dirB) // fresh process: re-freezes keys+sigs+embeddings
    runIngest(srcB, schema, dirB, ckB, g2.foreachBatchFn)
    g2.close()

    assert(corpusOf(dirB) == corpusOf(dirA),
      "interrupted semantic+compaction gate must converge to the uninterrupted corpus")
  }

  test("scd2 sink: restart between micro-batches ends identical to an uninterrupted run") {
    val t0 = System.currentTimeMillis() - 60000
    val feed = Seq(
      Seq(("k1", 1L, "a", false), ("k2", 1L, "x", false), ("k1", 2L, "a", false)),
      Seq(("k1", 3L, "b", false), ("k2", 4L, "x", true), ("k3", 4L, "m", false)),
      Seq(("k2", 7L, "y", false), ("k1", 8L, "b", false))
    ).map(_.toDF("k", "v", "state", "del"))
    val schema = feed.head.schema
    def historyOf(t: ParquetTarget): Seq[(String, String, Long, Option[Long], Boolean)] =
      t.read().select($"k", $"state", $"valid_from", $"valid_to", $"is_current")
        .as[(String, String, Long, Option[Long], Boolean)]
        .collect().sortBy(r => (r._1, r._3)).toSeq

    // run A — uninterrupted
    val srcA = Files.createTempDirectory("e2e_scd2_srcA").toString
    feed.zipWithIndex.foreach { case (b, i) =>
      addFile(srcA, s"f$i.parquet", b, t0 + i * 2000L) }
    val tgtA = new ParquetTarget(spark, Files.createTempDirectory("e2e_scd2_A").toString)
    runIngest(srcA, schema, "", Files.createTempDirectory("e2e_scd2_ckA").toString,
      Scd2Sink.foreachBatchFn(tgtA, "k", "v", Seq("state"), col("del")))

    // run B — killed after batch 0, resumed from the checkpoint
    val srcB = Files.createTempDirectory("e2e_scd2_srcB").toString
    val ckB = Files.createTempDirectory("e2e_scd2_ckB").toString
    val tgtB = new ParquetTarget(spark, Files.createTempDirectory("e2e_scd2_B").toString)
    addFile(srcB, "f0.parquet", feed(0), t0)
    runIngest(srcB, schema, "", ckB,
      Scd2Sink.foreachBatchFn(tgtB, "k", "v", Seq("state"), col("del")))
    assert(historyOf(tgtB).size < historyOf(tgtA).size,
      "restart point must sit between micro-batches")
    feed.zipWithIndex.drop(1).foreach { case (b, i) =>
      addFile(srcB, s"f$i.parquet", b, t0 + i * 2000L) }
    runIngest(srcB, schema, "", ckB,
      Scd2Sink.foreachBatchFn(tgtB, "k", "v", Seq("state"), col("del")))

    assert(historyOf(tgtB) == historyOf(tgtA),
      "interrupted + resumed SCD2 history must equal the uninterrupted one")

    // crash window: the last batch's commit landed but the checkpoint
    // didn't — re-delivery must be a no-op on the history
    val before = historyOf(tgtB)
    Scd2Sink.processBatch(tgtB, feed.last, "k", "v", Seq("state"), col("del"))
    assert(historyOf(tgtB) == before)
  }
}
