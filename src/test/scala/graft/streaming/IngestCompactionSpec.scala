package graft.streaming

import graft.SparkSpec
import graft.functions.CorpusPipeline
import org.apache.hadoop.fs.Path

import java.nio.file.Files

/** Small-file compaction for the append-only ingest target: staged-swap
  * semantics, self-healing crash windows, and an explicit compaction
  * between a live FrozenGate's batches — content is invariant through all
  * of it.
  */
class IngestCompactionSpec extends SparkSpec {
  import spark.implicits._

  private val cfg = CorpusPipeline.Config(
    minChars = 10, requireKnownLang = false,
    nearDupThreshold = None, decontamThreshold = None)

  private def fs = new Path("/").getFileSystem(spark.sparkContext.hadoopConfiguration)

  private def parquetFiles(dir: String): Seq[String] = {
    val p = new Path(dir)
    if (!fs.exists(p)) Nil
    else fs.listStatus(p).toSeq.filter(s => s.isFile &&
      s.getPath.getName.endsWith(".parquet")).map(_.getPath.getName)
  }

  private def contentOf(dir: String): Set[(Long, String)] =
    spark.read.parquet(dir).select("doc_id", "text").as[(Long, String)].collect().toSet

  private def seedManyFiles(dir: String, n: Int): Set[(Long, String)] = {
    (1 to n).foreach { i =>
      Seq((i.toLong, s"document number $i with a reasonably long body of text"))
        .toDF("doc_id", "text").coalesce(1)
        .write.mode("append").parquet(dir)
    }
    contentOf(dir)
  }

  test("compact preserves content and collapses the file count") {
    val dir = Files.createTempDirectory("compact").toString + "/corpus"
    val before = seedManyFiles(dir, 12)
    assert(parquetFiles(dir).size >= 12)
    CorpusIngestSink.compact(spark, dir, partitions = 2)
    assert(parquetFiles(dir).size == 2, "compaction must hit the requested layout")
    assert(contentOf(dir) == before, "compaction must be content-invariant")
    assert(!fs.exists(new Path(dir + "__staged")) && !fs.exists(new Path(dir + "__retired")),
      "a completed swap leaves no scratch directories")
    // compacting a missing target is a no-op, not an error
    CorpusIngestSink.compact(spark, dir + "_nonexistent", partitions = 2)
  }

  test("every compaction crash window self-heals on the next read") {
    // window 1: died between the two renames — live missing, staged
    // complete, retired complete → staged promotes, retired dropped
    val d1 = Files.createTempDirectory("heal1").toString + "/corpus"
    val c1 = seedManyFiles(d1, 4)
    spark.read.parquet(d1).repartition(1).write.parquet(d1 + "__staged")
    assert(fs.rename(new Path(d1), new Path(d1 + "__retired")))
    val donor = Seq((0L, "donor")).toDF("doc_id", "text")
    assert(CorpusIngestSink.standingOf(spark, d1, donor)
      .select("doc_id", "text").as[(Long, String)].collect().toSet == c1)
    assert(fs.exists(new Path(d1)) && !fs.exists(new Path(d1 + "__staged")) &&
      !fs.exists(new Path(d1 + "__retired")))

    // window 2: died before the final delete — live + retired → retired dropped
    val d2 = Files.createTempDirectory("heal2").toString + "/corpus"
    val c2 = seedManyFiles(d2, 3)
    spark.read.parquet(d2).repartition(1).write.parquet(d2 + "__retired")
    assert(CorpusIngestSink.standingOf(spark, d2, donor)
      .select("doc_id", "text").as[(Long, String)].collect().toSet == c2)
    assert(!fs.exists(new Path(d2 + "__retired")))

    // window 3: died before the swap — live + staged → live stays
    // authoritative; the stale staging is cleared by the NEXT compact
    val d3 = Files.createTempDirectory("heal3").toString + "/corpus"
    val c3 = seedManyFiles(d3, 3)
    Seq((99L, "stale staging row")).toDF("doc_id", "text")
      .write.parquet(d3 + "__staged")
    assert(CorpusIngestSink.standingOf(spark, d3, donor)
      .select("doc_id", "text").as[(Long, String)].collect().toSet == c3)
    CorpusIngestSink.compact(spark, d3, partitions = 1)
    assert(contentOf(d3) == c3, "stale staging must never leak into the corpus")
    assert(!fs.exists(new Path(d3 + "__staged")))

    // window 4 (defensive): staged manually removed after the retire — the
    // retired copy restores rather than stranding the corpus
    val d4 = Files.createTempDirectory("heal4").toString + "/corpus"
    val c4 = seedManyFiles(d4, 3)
    assert(fs.rename(new Path(d4), new Path(d4 + "__retired")))
    assert(CorpusIngestSink.standingOf(spark, d4, donor)
      .select("doc_id", "text").as[(Long, String)].collect().toSet == c4)
  }

  test("an explicit compact between gated batches: same admissions, bounded files, one re-freeze") {
    // genuinely dissimilar bodies — a shared template with one digit
    // changed would be a NEAR DUP and the gate would (correctly) drop it
    val texts = Seq(
      "the quick brown fox jumps over the lazy dog again and again today",
      "completely different content about spark query engines operating at corpus scale",
      "an entirely new document mentioning benchmarks and shuffles in the third batch",
      "watermark discipline and checkpoint hygiene for long running streaming ingestion",
      "fifth distinct prose about adaptive query execution and partition pruning",
      "sixth distinct prose describing bloom filters and banded minhash funnels",
      "seventh body covering catalyst expression codegen and whole stage fusion",
      "eighth body on broadcast thresholds salting skew and exchange reuse")
    // batches 5-8 also re-present one of batches 1-4's texts: after the
    // compaction those duplicates are gated by the re-frozen corpus alone
    val batches = texts.zipWithIndex.map { case (tx, i) =>
      val dup = if (i >= 4) Seq((i * 10L + 2L, texts(i - 4), "web")) else Nil
      (Seq((i * 10L + 1L, tx, "web")) ++ dup).toDF("doc_id", "text", "source") }

    // one refresh window covers all eight batches: absent a listing
    // change, the gate freezes exactly once
    def counters = (GraftMetrics.counter(GraftMetrics.IngestFreezes),
      GraftMetrics.counter(GraftMetrics.IngestExternalWrites),
      GraftMetrics.counter(GraftMetrics.IngestCompactions))
    def delta(a: (Long, Long, Long), b: (Long, Long, Long)) = (b._1 - a._1, b._2 - a._2, b._3 - a._3)

    val plain = Files.createTempDirectory("fgc_plain").toString + "/corpus"
    val p0 = counters
    val gPlain = new CorpusIngestSink.FrozenGate(plain, cfg, refreshEvery = 10)
    val aPlain = try batches.map(gPlain.processBatch) finally gPlain.close()
    assert(delta(p0, counters) == ((1L, 0L, 0L)), "control: one freeze, nothing detected")

    val compacted = Files.createTempDirectory("fgc_comp").toString + "/corpus"
    val c0 = counters
    val gComp = new CorpusIngestSink.FrozenGate(compacted, cfg, refreshEvery = 10)
    val aComp = try {
      val first = batches.take(4).map(gComp.processBatch)
      CorpusIngestSink.compact(spark, compacted, partitions = 2)
      assert(parquetFiles(compacted).size == 2, "compaction must hit the requested layout")
      first ++ batches.drop(4).map(gComp.processBatch)
    } finally gComp.close()

    assert(aPlain == Seq.fill(8)(1L), s"fixture drifted: $aPlain")
    assert(aComp == aPlain, "compaction must not change admissions")
    assert(contentOf(compacted) == contentOf(plain))
    assert(parquetFiles(plain).size >= 8, "control keeps one file per batch")
    // the compaction leaves 2 files, batches 5-8 append one each
    assert(parquetFiles(compacted).size <= 6,
      s"compaction must bound the file count, got ${parquetFiles(compacted).size}")
    // the rewritten listing is seen once, by batch 5's check: one extra
    // freeze, counted as one external write; the compaction counts itself
    assert(delta(c0, counters) == ((2L, 1L, 1L)),
      s"(freezes, external writes, compactions) = ${delta(c0, counters)}")
  }
}
