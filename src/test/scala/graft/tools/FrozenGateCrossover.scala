package graft.tools

import graft.functions.CorpusPipeline
import graft.streaming.CorpusIngestSink
import org.apache.spark.sql.functions._
import org.apache.spark.sql.{DataFrame, SaveMode}

import java.nio.file.Files

/** Measures the [[CorpusIngestSink.FrozenGate]] crossover at its DESIGN
  * regime — standing corpus ≫ micro-batch — which the sf0.1 fixtures
  * (4k-doc corpora) cannot express: there the gate's fixed delta-fold
  * bookkeeping is comparable to a whole corpus scan. This harness seeds a
  * corpus of `--corpus` synthetic docs (default 500k, pairwise-distinct
  * shingle sets so the near-dup funnel stays candidate-proportional),
  * then pushes `--batches`
  * micro-batches of `--batchRows` docs (5% exact duplicates of corpus
  * rows, exercising the Bloom/sliver path) through per-batch gating vs the
  * frozen gate, and prints wall-clock + admissions for both.
  *
  * Run: `sbt "Test/runMain graft.tools.FrozenGateCrossover"`.
  * Results for the record live in BENCH_VARIANCE_r16.md §2.
  */
object FrozenGateCrossover {

  def main(args: Array[String]): Unit = {
    val corpusRows = args.lift(0).map(_.toLong).getOrElse(500000L)
    val nBatches = args.lift(1).map(_.toInt).getOrElse(12)
    val batchRows = args.lift(2).map(_.toLong).getOrElse(1000L)
    val refreshEvery = args.lift(3).map(_.toInt).getOrElse(8)
    // "both" | "frozen" | "perbatch" — frozen-only makes corpus-size
    // sweeps (the steady-state decoupling measurement) affordable
    val mode = args.lift(4).getOrElse("both")
    // every `nearDupEvery`-th batch row (0 = none) is a NEAR-dup of a
    // corpus doc (its text plus a short suffix): it passes the exact
    // stage, collides in bands, and drives the estimate + exact-verify
    // stages — the candidate-fetch IO path the steady-state numbers
    // otherwise never touch (the default batches are shingle-disjoint)
    val nearDupEvery = args.lift(5).map(_.toInt).getOrElse(0)

    val spark = LocalSession()

    // READ-BYTES instrumentation (r18, for the pruning-∝-probes claim):
    // sums file-scan input bytes across tasks; the per-batch window reads
    // exactly the gate's side-file/corpus IO because batch inputs are
    // spark.range-generated (no file reads of their own). Reset at each
    // batch boundary by the caller.
    val bytesRead = new java.util.concurrent.atomic.AtomicLong(0L)
    spark.sparkContext.addSparkListener(
      new org.apache.spark.scheduler.SparkListener {
        override def onTaskEnd(t: org.apache.spark.scheduler.SparkListenerTaskEnd): Unit =
          if (t.taskMetrics != null)
            bytesRead.addAndGet(t.taskMetrics.inputMetrics.bytesRead)
      })
    def drainReadMb(): Double = {
      // listener events are delivered asynchronously (the bus-drain API is
      // private); batches run for seconds, so a short settle keeps window
      // attribution honest to well under a percent
      Thread.sleep(500)
      bytesRead.getAndSet(0L) / 1048576.0
    }

    // Synthetic doc: ~40 alphabetic pseudo-words derived from seeded
    // xxhash64 — every doc's 5-shingle set is (whp) disjoint from every
    // other's, so near-dup candidates stay ∝ real collisions, not fixture
    // artifacts. The quality knobs that would reject hash-shaped words
    // (digit ratio, token length) are opened up: filtering isn't what this
    // measures.
    val cfg = CorpusPipeline.Config(
      minChars = 10, requireKnownLang = false,
      nearDupThreshold = None, decontamThreshold = None,
      maxDigitRatio = 1.0, maxMeanTokenLen = 100.0, maxPunctRatio = 1.0)
    def textOf(seed: org.apache.spark.sql.Column) = concat_ws(" ",
      (0 until 40).map(k => lower(hex(xxhash64(seed, lit(k))))): _*)
    def corpusDocs(n: Long): DataFrame = spark.range(n)
      .select(col("id").as("doc_id"), textOf(col("id")).as("text"),
        lit("web").as("source"), lit("train").as("split"))
    // batch rows: ids far above the corpus range; every 20th row REUSES a
    // corpus doc's text (exact dup → must be rejected by the exact stage);
    // optionally every `nearDupEvery`-th row (id % nearDupEvery == 1, so
    // disjoint from the even exact-dup ids) carries a corpus doc's text
    // plus a short suffix (jaccard ≈ 0.95 → must be rejected by the
    // near-dup funnel, driving the estimate + verify stages)
    def batchDocs(i: Int): DataFrame = {
      // ids must sit ABOVE the corpus id range at ANY corpus size: batch
      // texts are textOf(id), so an id inside [0, corpusRows) would REUSE
      // a corpus doc's text and be (correctly) gated as an exact dup —
      // the fixed 10M base silently zeroed admissions at 16M docs
      val start = math.max(10000000L, corpusRows * 2) + i.toLong * batchRows
      val isNear =
        if (nearDupEvery > 0) col("id") % nearDupEvery === 1 else lit(false)
      spark.range(start, start + batchRows)
        .select(col("id").as("doc_id"),
          when(isNear, concat(textOf(pmod(col("id") * 17, lit(corpusRows))),
            lit(" extra trailing suffix words appended")))
          .otherwise(
            textOf(when(col("id") % 20 === 0, pmod(col("id") * 31, lit(corpusRows)))
              .otherwise(col("id")))).as("text"),
          lit("web").as("source"))
    }
    val expectAdmitted = (0 until nBatches).map { i =>
      val isNear =
        if (nearDupEvery > 0) col("doc_id") % nearDupEvery === 1 else lit(false)
      batchDocs(i).filter(col("doc_id") % 20 =!= 0 && !isNear).count()
    }.sum

    def seed(dir: String): Unit =
      corpusDocs(corpusRows).write.mode(SaveMode.Overwrite).parquet(dir)

    def timed[T](f: => T): (T, Double) = {
      val t0 = System.nanoTime(); val r = f
      (r, (System.nanoTime() - t0) / 1e9)
    }

    // --- per-batch mode: one fused freeze scan of the corpus EVERY batch
    val (admittedP, secP) =
      if (mode == "frozen") (expectAdmitted, Double.NaN)
      else {
        val dirP = Files.createTempDirectory("xover_perbatch").toString
        seed(dirP)
        timed {
          (0 until nBatches).map { i =>
            val (n, s) = timed(CorpusIngestSink.processBatch(
              spark, dirP, batchDocs(i), cfg))
            System.err.println(f"[xover] per-batch b$i%02d $s%6.2f s admitted=$n")
            n
          }.sum
        }
      }

    // --- frozen mode: one freeze, then a refresh fold every refreshEvery
    // batches
    val (admittedF, secF, steadyMedian) =
      if (mode == "perbatch") (expectAdmitted, Double.NaN, Double.NaN)
      else {
        val dirF = Files.createTempDirectory("xover_frozen").toString
        seed(dirF)
        val gate = new CorpusIngestSink.FrozenGate(dirF, cfg,
          refreshEvery = refreshEvery)
        val perBatch = new Array[Double](nBatches)
        val perBatchMb = new Array[Double](nBatches)
        val (n, s) = timed {
          try (0 until nBatches).map { i =>
            drainReadMb() // open the batch's read-bytes window
            val (n, s) = timed(gate.processBatch(batchDocs(i)))
            perBatch(i) = s
            perBatchMb(i) = drainReadMb()
            System.err.println(f"[xover] frozen    b$i%02d $s%6.2f s " +
              f"read=${perBatchMb(i)}%8.1f MB admitted=$n")
            n
          }.sum finally gate.close()
        }
        // steady state = batches that did NOT pay a refresh (b0 freezes,
        // every refreshEvery-th batch folds) — the corpus-size-decoupling
        // claim is about THESE
        val steady = (0 until nBatches).filterNot(_ % refreshEvery == 0)
          .map(perBatch).sorted
        val med = if (steady.isEmpty) Double.NaN else steady(steady.size / 2)
        (n, s, med)
      }

    assert(admittedP == expectAdmitted && admittedF == expectAdmitted,
      s"modes must admit identically: per-batch=$admittedP frozen=$admittedF expected=$expectAdmitted")
    println(f"[xover] RESULT corpus=$corpusRows batches=$nBatches x $batchRows " +
      f"refreshEvery=$refreshEvery per-batch=$secP%.1f s frozen=$secF%.1f s " +
      f"steadyMedian=$steadyMedian%.2f s speedup=${secP / secF}%.2f x admitted=$admittedF")
    spark.stop()
  }
}
