package graft.streaming

import graft.SparkSpec
import graft.functions.CorpusPipeline
import org.apache.spark.sql.{DataFrame, SaveMode, SparkSession}
import org.apache.spark.sql.types.StructType

import java.nio.file.Files

/** Freeze-and-fold ingest gate: admissions must be bit-identical to
  * per-batch gating at ANY refresh cadence (frozen + delta IS the corpus),
  * while corpus reads drop from one per batch to one per gate.
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

  // six batches, each one fresh doc + one exact dup of an earlier doc —
  // exact dups die in the Bloom/sliver/delta stage, so the near-dup funnel
  // never produces estimate survivors and candidate-verify never evaluates
  // its corpus source: every corpus read IS a full freeze
  private val sixTexts = Seq(baseA, baseB, baseC, baseD,
    "fifth distinct prose about adaptive query execution and partition pruning",
    "sixth distinct prose describing bloom filters and banded minhash funnels")
  private def six: Seq[DataFrame] = sixTexts.zipWithIndex.map { case (tx, i) =>
    val fresh = Seq((i * 10L + 1L, tx, "web"))
    val dup = if (i == 0) Nil
      else Seq((i * 10L + 2L, sixTexts(i - 1), "web"))
    (fresh ++ dup).toDF("doc_id", "text", "source")
  }

  /** A gate over a fresh directory whose corpus reads are counted. */
  private def countedGate(refreshEvery: Int): (CorpusIngestSink.FrozenGate, String, () => Long) = {
    val dir = Files.createTempDirectory(s"fg_scan_$refreshEvery").toString
    var reads = 0L
    val g = new CorpusIngestSink.FrozenGate(dir, cfg, refreshEvery = refreshEvery)
    g.corpusReader = (s: SparkSession, d: String, donor: DataFrame,
                      schema: Option[StructType]) => {
      reads += 1; CorpusIngestSink.standingOf(s, d, donor, schema)
    }
    (g, dir, () => reads)
  }

  test("K batches read the corpus once per gate at any cadence; clean batches gate with zero corpus reads") {
    def runCounted(refreshEvery: Int): (Seq[Long], Long, String) = {
      val (g, dir, reads) = countedGate(refreshEvery)
      val admitted = try six.map(g.processBatch) finally g.close()
      (admitted, reads(), dir)
    }

    val freezesBefore = GraftMetrics.counter(GraftMetrics.IngestFreezes)
    val foldsBefore = GraftMetrics.counter(GraftMetrics.IngestRefreshFolds)
    val admittedBefore = GraftMetrics.counter(GraftMetrics.IngestRowsAdmitted)
    val (aN1, readsN1, d1) = runCounted(1)
    val (aN3, readsN3, d3) = runCounted(3)
    val (aN6, readsN6, d6) = runCounted(6)
    // the arcane.stream.ingest.* surface mirrors the gate's actual work:
    // 6+2+1 refreshes, of which 5+1+0 folded the delta instead of reading
    // the corpus, and 3×6 admitted rows across the three cadences
    assert(GraftMetrics.counter(GraftMetrics.IngestFreezes) - freezesBefore == 9L)
    assert(GraftMetrics.counter(GraftMetrics.IngestRefreshFolds) - foldsBefore == 6L)
    assert(GraftMetrics.counter(GraftMetrics.IngestRowsAdmitted) - admittedBefore == 18L)
    assert(GraftMetrics.gaugeValue(GraftMetrics.IngestCorpusRows).exists(_ >= 0L))

    assert(aN1 == Seq(1L, 1L, 1L, 1L, 1L, 1L), s"fixture drifted: $aN1")
    assert(aN3 == aN1 && aN6 == aN1, "admissions must not depend on the cadence")
    assert(corpusOf(d3) == corpusOf(d1) && corpusOf(d6) == corpusOf(d1))
    // only the first freeze reads the corpus; every scheduled refresh folds
    assert(readsN1 == 1L, s"refreshEvery=1 must read the corpus once, got $readsN1")
    assert(readsN3 == 1L, s"refreshEvery=3 must read the corpus once, got $readsN3")
    assert(readsN6 == 1L, s"refreshEvery=6 must read the corpus once, got $readsN6")
  }

  test("a co-write landing just before a scheduled refresh takes the full freeze, not the fold") {
    val (g, dir, reads) = countedGate(3)
    val extBefore = GraftMetrics.counter(GraftMetrics.IngestExternalWrites)
    val foldsBefore = GraftMetrics.counter(GraftMetrics.IngestRefreshFolds)
    val freezesBefore = GraftMetrics.counter(GraftMetrics.IngestFreezes)
    try {
      assert(six.take(3).map(g.processBatch) == Seq(1L, 1L, 1L))
      // batch 4 is the scheduled refresh; a co-writer lands doc 100 first
      Seq((100L, sixTexts(4), "web")).toDF("doc_id", "text", "source")
        .withColumn("split", org.apache.spark.sql.functions.lit("train"))
        .write.mode(SaveMode.Append).parquet(dir)
      // doc 41 duplicates the co-written text: only a full freeze sees it
      assert(g.processBatch(Seq((41L, sixTexts(4), "web"), (43L, baseD, "web"))
        .toDF("doc_id", "text", "source")) == 1L,
        "the co-writer's duplicate must be rejected, the fresh doc admitted")
      assert(reads() == 2L, s"the co-write must force a second corpus read, got ${reads()}")
      assert(GraftMetrics.counter(GraftMetrics.IngestExternalWrites) - extBefore == 1L)
      assert(GraftMetrics.counter(GraftMetrics.IngestRefreshFolds) - foldsBefore == 0L)
      assert(GraftMetrics.counter(GraftMetrics.IngestFreezes) - freezesBefore == 2L)
    } finally g.close()
    assert(corpusOf(dir).map(_._1) == Set(1L, 11L, 21L, 43L, 100L))
  }

  test("refreshEvery=2 over four batches: the freeze counter ticks on batches 1 and 3, and 3 folds") {
    val (g, _, reads) = countedGate(2)
    try {
      val ticks = six.take(4).map { b =>
        val freezes0 = GraftMetrics.counter(GraftMetrics.IngestFreezes)
        val folds0 = GraftMetrics.counter(GraftMetrics.IngestRefreshFolds)
        assert(g.processBatch(b) == 1L)
        (GraftMetrics.counter(GraftMetrics.IngestFreezes) - freezes0,
          GraftMetrics.counter(GraftMetrics.IngestRefreshFolds) - folds0)
      }
      assert(ticks == Seq((1L, 0L), (0L, 0L), (1L, 1L), (0L, 0L)),
        s"(freezes, folds) per batch: $ticks")
      assert(reads() == 1L)
    } finally g.close()
  }

  test("candidate verify reads the corpus only when estimate survivors exist") {
    val dir = Files.createTempDirectory("fg_verify").toString
    var reads = 0L
    val counting = (s: SparkSession, d: String, donor: DataFrame,
                    schema: Option[StructType]) => {
      reads += 1; CorpusIngestSink.standingOf(s, d, donor, schema)
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

  test("a steady batch runs within its job budget") {
    import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
    import org.apache.spark.sql.graft.ListenerBridge
    val dir = Files.createTempDirectory("fg_jobs").toString
    val seed = new CorpusIngestSink.FrozenGate(dir, cfg, refreshEvery = 10)
    try assert(seed.processBatch(batches.head) == 2L) finally seed.close()
    val g = new CorpusIngestSink.FrozenGate(dir, cfg, refreshEvery = 10)
    try {
      // the freeze of {1, 2}, then 12 lands in the delta
      assert(g.processBatch(Seq((12L, baseC, "web")).toDF("doc_id", "text", "source")) == 1L)
      // one steady batch through every stage: an exact dup of the frozen
      // corpus and one of the delta, a near dup of the frozen corpus (its
      // candidate verify reads the corpus), and a fresh doc (append + fold)
      val steady = Seq((10L, baseA, "web"), (20L, baseC, "web"),
        (11L, baseB + " today", "web"), (22L, baseD, "web"))
        .toDF("doc_id", "text", "source")
      val jobs = new java.util.concurrent.atomic.AtomicInteger
      val listener = new SparkListener {
        override def onJobStart(e: SparkListenerJobStart): Unit = jobs.incrementAndGet()
      }
      ListenerBridge.waitUntilListenerBusEmpty(spark)
      spark.sparkContext.addSparkListener(listener)
      val admitted = try {
        val n = g.processBatch(steady)
        ListenerBridge.waitUntilListenerBusEmpty(spark)
        n
      } finally spark.sparkContext.removeSparkListener(listener)
      assert(admitted == 1L, s"fixture drifted: $admitted")
      // an upper bound: 21 jobs now, 31 before localize became one
      // collect (each localize cost a checkpoint, a count and a collect,
      // and the admitted count and the verify read's schema inference took
      // one job each)
      assert(jobs.get <= 21, s"a steady batch ran ${jobs.get} jobs, over its budget of 21")
    } finally g.close()
  }

  test("the fold collects the funnel's key and signature, bit-identical to a recompute from the text") {
    import org.apache.spark.sql.functions.col
    import CorpusPipeline.GateGeometry
    val dir = Files.createTempDirectory("fg_fold").toString
    val g = new CorpusIngestSink.FrozenGate(dir, cfg, refreshEvery = 10)
    try {
      assert(batches.take(3).map(g.processBatch) == Seq(2L, 1L, 1L))
      val cols = Seq("__id", "__ck", "__sig", "__bb").map(col)
      def byId(df: DataFrame): Map[Long, (Long, Seq[Long], Seq[Long])] =
        df.select(cols: _*).as[(Long, Long, Seq[Long], Seq[Long])].collect()
          .map { case (id, ck, sig, bb) => id -> (ck, sig, bb) }.toMap
      // one freeze of the empty corpus: every admitted row is in the delta
      val folded = byId(g.delta.get)
      val text = col("text")
      val recomputed = byId(CorpusPipeline.deltaProjection(
        spark.read.parquet(dir)
          .withColumn("__ck", GateGeometry.key(text))
          .withColumn("__sig", GateGeometry.signature(text)),
        cfg, withSignatures = true, embeddings = None))
      assert(folded.keySet == Set(1L, 2L, 12L, 22L))
      assert(folded.values.forall(_._2.size == GateGeometry.NumHashes))
      assert(folded == recomputed, "the fold must hold what the text hashes to")
    } finally g.close()
  }
}
