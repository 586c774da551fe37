package graft.streaming

import graft.SparkSpec
import graft.functions.CorpusPipeline
import org.apache.spark.sql.{DataFrame, SparkSession}

import java.nio.file.Files

/** Freeze-and-refresh ingest gate: admissions must be bit-identical to
  * per-batch gating at ANY refresh cadence (frozen + delta IS the corpus),
  * while corpus reads drop from one-per-batch to one-per-refresh.
  */
class FrozenGateSpec extends SparkSpec {
  import spark.implicits._

  private val cfg = CorpusPipeline.Config(
    minChars = 10, requireKnownLang = false,
    nearDupThreshold = None, decontamThreshold = None)

  private val baseA = "the quick brown fox jumps over the lazy dog again and again today"
  private val baseB = "completely different content about spark query engines operating at corpus scale"
  private val baseC = "an entirely new document mentioning benchmarks and shuffles in the third batch"
  private val baseD = "watermark discipline and checkpoint hygiene for long running streaming ingestion"

  // four batches exercising every gate path: fresh docs, cross-batch exact
  // dups, cross-batch NEAR dups (vs frozen AND vs delta), and a full replay
  private def batches: Seq[DataFrame] = Seq(
    Seq((1L, baseA, "web"), (2L, baseB, "web")),
    Seq((10L, baseA, "web"),          // exact dup of 1 (frozen or delta)
        (11L, baseB + " today", "web"), // near dup of 2
        (12L, baseC, "web")),         // fresh
    Seq((20L, baseC, "web"),          // exact dup of 12 — admitted AFTER the freeze in N=4 mode
        (21L, baseA + " loudly", "web"), // near dup of 1
        (22L, baseD, "web")),         // fresh
    Seq((10L, baseA, "web"),          // replay of batch 2
        (11L, baseB + " today", "web"),
        (12L, baseC, "web"))
  ).map(_.toDF("doc_id", "text", "source"))

  private def corpusOf(dir: String): Set[(Long, String)] =
    spark.read.parquet(dir).select("doc_id", "text")
      .as[(Long, String)].collect().toSet

  test("frozen-gate admissions equal per-batch gating at every cadence") {
    val dirRef = Files.createTempDirectory("fg_ref").toString
    val dirN1 = Files.createTempDirectory("fg_n1").toString
    val dirN4 = Files.createTempDirectory("fg_n4").toString
    val rddsBefore = spark.sparkContext.getPersistentRDDs.keySet.toSet

    val perBatch = batches.map(b =>
      CorpusIngestSink.processBatch(spark, dirRef, b, cfg))

    val g1 = new CorpusIngestSink.FrozenGate(dirN1, cfg, refreshEvery = 1)
    val n1 = try batches.map(g1.processBatch) finally g1.close()

    // N=4: ONE freeze (of the empty day-0 corpus) covers all four batches,
    // so every admission decision after batch 1 rides on the delta alone
    val g4 = new CorpusIngestSink.FrozenGate(dirN4, cfg, refreshEvery = 4)
    val n4 = try batches.map(g4.processBatch) finally g4.close()

    assert(perBatch == Seq(2L, 1L, 1L, 0L), s"fixture drifted: $perBatch")
    assert(n1 == perBatch, s"refreshEvery=1 admissions $n1 != per-batch $perBatch")
    assert(n4 == perBatch, s"refreshEvery=4 admissions $n4 != per-batch $perBatch")
    val ref = corpusOf(dirRef)
    assert(ref.map(_._1) == Set(1L, 2L, 12L, 22L))
    assert(corpusOf(dirN1) == ref)
    assert(corpusOf(dirN4) == ref)

    // cache hygiene: frozen state, delta checkpoints, and per-batch scratch
    // all released once the gates close
    assert((spark.sparkContext.getPersistentRDDs.keySet.toSet -- rddsBefore).isEmpty,
      "closed gates must leave no persisted RDDs behind")
  }

  test("K batches touch the corpus ceil(K/N) times; clean batches gate with zero corpus reads") {
    // six batches, each one fresh doc + one exact dup of an earlier doc —
    // exact dups die in the Bloom/sliver/delta stage, so the near-dup
    // funnel never produces estimate survivors and candidate-verify never
    // evaluates its corpus source: every corpus read IS a freeze
    val texts = Seq(baseA, baseB, baseC, baseD,
      "fifth distinct prose about adaptive query execution and partition pruning",
      "sixth distinct prose describing bloom filters and banded minhash funnels")
    val six = texts.zipWithIndex.map { case (tx, i) =>
      val fresh = Seq((i * 10L + 1L, tx, "web"))
      val dup = if (i == 0) Nil
        else Seq((i * 10L + 2L, texts(i - 1), "web"))
      (fresh ++ dup).toDF("doc_id", "text", "source")
    }

    def runCounted(refreshEvery: Int): (Seq[Long], Long, String) = {
      val dir = Files.createTempDirectory(s"fg_scan_$refreshEvery").toString
      var reads = 0L
      val counting = (s: SparkSession, d: String, donor: DataFrame) => {
        reads += 1; CorpusIngestSink.standingOf(s, d, donor)
      }
      val g = new CorpusIngestSink.FrozenGate(dir, cfg, refreshEvery = refreshEvery)
      g.corpusReader = counting
      val admitted = try six.map(g.processBatch) finally g.close()
      (admitted, reads, dir)
    }

    val freezesBefore = GraftMetrics.counter(GraftMetrics.IngestFreezes)
    val admittedBefore = GraftMetrics.counter(GraftMetrics.IngestRowsAdmitted)
    val (aN1, readsN1, d1) = runCounted(1)
    val (aN3, readsN3, d3) = runCounted(3)
    val (aN6, readsN6, d6) = runCounted(6)
    // the arcane.stream.ingest.* surface mirrors the gate's actual work:
    // 6+2+1 freezes and 3×6 admitted rows across the three cadences
    assert(GraftMetrics.counter(GraftMetrics.IngestFreezes) - freezesBefore == 9L)
    assert(GraftMetrics.counter(GraftMetrics.IngestRowsAdmitted) - admittedBefore == 18L)
    assert(GraftMetrics.gaugeValue(GraftMetrics.IngestCorpusRows).exists(_ >= 0L))

    assert(aN1 == Seq(1L, 1L, 1L, 1L, 1L, 1L), s"fixture drifted: $aN1")
    assert(aN3 == aN1 && aN6 == aN1, "admissions must not depend on the cadence")
    assert(corpusOf(d3) == corpusOf(d1) && corpusOf(d6) == corpusOf(d1))
    assert(readsN1 == 6L, s"per-batch cadence must read once per batch, got $readsN1")
    assert(readsN3 == 2L, s"ceil(6/3)=2 corpus reads expected, got $readsN3")
    assert(readsN6 == 1L, s"ceil(6/6)=1 corpus read expected, got $readsN6")
  }

  test("candidate verify reads the corpus only when estimate survivors exist") {
    val dir = Files.createTempDirectory("fg_verify").toString
    var reads = 0L
    val counting = (s: SparkSession, d: String, donor: DataFrame) => {
      reads += 1; CorpusIngestSink.standingOf(s, d, donor)
    }
    val g = new CorpusIngestSink.FrozenGate(dir, cfg, refreshEvery = 10)
    g.corpusReader = counting
    try {
      assert(g.processBatch(batches.head) == 2L)
      assert(reads == 1L, "day-0 freeze is the only read")
      // a batch with a genuine near dup: the funnel's estimate survives, so
      // the verify stage fetches candidate text — exactly one extra read
      assert(g.processBatch(Seq((30L, baseA + " quietly", "web"))
        .toDF("doc_id", "text", "source")) == 0L)
      assert(reads == 2L, s"verify fetch must be the second read, got $reads")
      // a clean batch after it: no survivors, no read
      assert(g.processBatch(Seq((31L, baseD, "web"))
        .toDF("doc_id", "text", "source")) == 1L)
      assert(reads == 2L, s"clean batch must not touch the corpus, got $reads")
    } finally g.close()
  }

  test("semantic arm: frozen + delta embeddings gate like per-batch, no-embedding docs bypass") {
    // 4-dim toy embeddings: docs 1 and 31 are near-parallel vectors
    // (cosine ~0.999), docs 2/21/32 are axis-distinct; doc 22 has NO
    // embedding and must bypass the arm even though its vector twin
    // would have been dropped
    val emb = Seq(
      (1L, Seq(1.0f, 0.1f, 0.0f, 0.0f)),
      (2L, Seq(0.0f, 1.0f, 0.0f, 0.0f)),
      (21L, Seq(0.0f, 0.0f, 1.0f, 0.0f)),
      (31L, Seq(1.0f, 0.11f, 0.0f, 0.0f)), // semantic dup of 1
      (32L, Seq(0.0f, 0.0f, 0.0f, 1.0f))
    ).toDF("doc_id", "embedding")
    val scfg = cfg.copy(embeddings = Some(emb), embeddingDim = 4)
    val batches3 = Seq(
      Seq((1L, baseA, "web"), (2L, baseB, "web")),
      Seq((21L, baseC, "web")),
      Seq((31L, baseD, "web"),                   // lexically fresh, semantically dup of 1
          (22L, "sixth distinct prose describing bloom filters and banded minhash funnels", "web"),
          (32L, "seventh body covering catalyst expression codegen and whole stage fusion", "web"))
    ).map(_.toDF("doc_id", "text", "source"))

    def run(refreshEvery: Int): (Seq[Long], Set[Long]) = {
      val dir = Files.createTempDirectory(s"fg_sem_$refreshEvery").toString
      val g = new CorpusIngestSink.FrozenGate(dir, scfg,
        refreshEvery = refreshEvery, semanticAgainstThreshold = Some(0.8))
      val admitted = try batches3.map(g.processBatch) finally g.close()
      (admitted, corpusOf(dir).map(_._1))
    }
    val (a1, c1) = run(1)
    val (a3, c3) = run(3)
    // batch 3: 31 dropped by the semantic arm (vs doc 1 — which sits in
    // the DELTA for refreshEvery=3, in the frozen state for 1); 22 has no
    // embedding → bypasses; 32 orthogonal → survives
    assert(a1 == Seq(2L, 1L, 2L), s"fixture drifted: $a1")
    assert(a3 == a1, "semantic admissions must not depend on the cadence")
    assert(c1 == Set(1L, 2L, 21L, 22L, 32L) && c3 == c1)
  }

  test("foreachBatchFn drives the stateful gate through a streaming query") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    val dir = Files.createTempDirectory("fg_stream").toString
    val ckpt = Files.createTempDirectory("fg_stream_ckpt").toString
    implicit val sqlCtx = spark.sqlContext
    val input = MemoryStream[(Long, String, String)]
    val gate = new CorpusIngestSink.FrozenGate(dir, cfg, refreshEvery = 8)
    val q = input.toDF().toDF("doc_id", "text", "source")
      .writeStream
      .option("checkpointLocation", ckpt)
      .foreachBatch(gate.foreachBatchFn)
      .start()
    try {
      input.addData((1L, baseA, "web"), (2L, baseB, "web"))
      q.processAllAvailable()
      input.addData((10L, baseA, "web"), (12L, baseC, "web"))
      q.processAllAvailable()
    } finally { q.stop(); gate.close() }
    assert(corpusOf(dir).map(_._1) == Set(1L, 2L, 12L))
  }
}
