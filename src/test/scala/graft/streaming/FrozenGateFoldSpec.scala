package graft.streaming

import graft.SparkSpec
import graft.functions.CorpusPipeline
import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions.{col, posexplode}
import org.apache.spark.util.sketch.BloomFilter

import java.nio.file.Files

/** A scheduled refresh folds the window's admitted delta into the frozen
  * state ([[CorpusPipeline.foldDelta]]) instead of reading the corpus
  * again. After any number of folds the gate's state must be the one a
  * fresh full freeze of the same directory builds: the same rows, keys,
  * signatures and banded rows, the same hot set, side files that return
  * the same rows, a Bloom filter that passes every corpus key, and a max
  * non-hot occupancy that is at least the freeze's (an upper bound only
  * lets the gate skip fewer probes).
  */
class FrozenGateFoldSpec extends SparkSpec {
  import spark.implicits._

  private val cfg = CorpusPipeline.Config(
    minChars = 10, requireKnownLang = false,
    nearDupThreshold = None, decontamThreshold = None)

  private val t = Seq(
    "the quick brown fox jumps over the lazy dog again and again today",
    "completely different content about spark query engines operating at corpus scale",
    "an entirely new document mentioning benchmarks and shuffles in the third batch",
    "watermark discipline and checkpoint hygiene for long running streaming ingestion",
    "fifth distinct prose about adaptive query execution and partition pruning",
    "sixth distinct prose describing bloom filters and banded minhash funnels",
    "seventh body covering catalyst expression codegen and whole stage fusion",
    "eighth body on broadcast thresholds salting skew and exchange reuse",
    "ninth text on watermark stores and retry budgets across restarts",
    "tenth passage about parquet footers row groups and dictionary pages")

  private def df(rows: (Long, String)*): DataFrame =
    rows.map { case (id, tx) => (id, tx, "web") }.toDF("doc_id", "text", "source")

  // every batch admits two rows (so a 1-byte fold budget checkpoints each
  // one), past an exact dup of the frozen corpus (10), a near dup (11) and
  // an exact dup of the delta (22); the replay admits nothing and folds
  // batch 4's delta, so the frozen state then covers the whole directory
  private def batches: Seq[DataFrame] = Seq(
    df(1L -> t(0), 2L -> t(1)),
    df(10L -> t(0), 11L -> (t(1) + " today"), 12L -> t(2), 13L -> t(3)),
    df(20L -> t(4), 21L -> t(5), 22L -> t(2)),
    df(30L -> t(6), 31L -> t(7)),
    df(30L -> t(6), 31L -> t(7)))

  private def sortedRows(f: DataFrame): Seq[String] =
    f.collect().toSeq.map(_.toString).sorted

  private def assertSameState(label: String, g: CorpusPipeline.FrozenCorpus,
                              f: CorpusPipeline.FrozenCorpus): Unit = {
    assert(g.rows == f.rows, s"$label: rows")
    assert(sortedRows(g.keys) == sortedRows(f.keys), s"$label: keys")
    assert(sortedRows(g.sigs.get) == sortedRows(f.sigs.get), s"$label: signatures")
    val bloom = BloomFilter.readFrom(new java.io.ByteArrayInputStream(g.bloomBcast.value))
    val keys = f.keys.as[Long].collect()
    assert(keys.forall(bloom.mightContainLong), s"$label: a corpus key fails the folded Bloom filter")
    val ((gBanded, gHot), (fBanded, fHot)) = (g.banded.get, f.banded.get)
    assert(sortedRows(gBanded) == sortedRows(fBanded), s"$label: banded (id, band, bucket) rows")
    assert(sortedRows(gHot) == sortedRows(fHot), s"$label: hot sets")
    assert(g.bandedMaxNonHot.get >= f.bandedMaxNonHot.get, s"$label: max non-hot occupancy")
    assert(g.hasSideFiles == f.hasSideFiles, s"$label: side files")
    val ids: Seq[Any] = f.sigs.get.select("__id").as[Long].collect().toSeq
    def pruned(p: Option[DataFrame]) = p.map(sortedRows)
    assert(pruned(g.prunedKeys(keys.toSeq)) == pruned(f.prunedKeys(keys.toSeq)),
      s"$label: pruned keys")
    assert(pruned(g.prunedSigs(ids)) == pruned(f.prunedSigs(ids)), s"$label: pruned signatures")
  }

  /** Runs the batches through a refreshEvery=1 gate (one fold per batch
    * after the first) and compares its final state with a fresh freeze.
    */
  private def run(label: String, seed: Seq[(Long, String)], sideFileMinRows: Long,
                  foldDriverBytes: Long): Seq[Long] = {
    val dir = Files.createTempDirectory("fg_fold").toString
    if (seed.nonEmpty) CorpusIngestSink.processBatch(spark, dir, df(seed: _*), cfg)
    val g = new CorpusIngestSink.FrozenGate(dir, cfg, refreshEvery = 1,
      sideFileMinRows = sideFileMinRows)
    g.foldDriverBytes = foldDriverBytes
    try {
      val admitted = batches.map { b =>
        val n = g.processBatch(b)
        if (n > 0 && foldDriverBytes < CorpusIngestSink.DefaultFoldDriverBytes)
          assert(g.deltaParts.nonEmpty, s"$label: the fold must stay executor-resident")
        n
      }
      assert(g.delta.isEmpty, s"$label: the last fold must leave no delta")
      val fresh = CorpusPipeline.freezeCorpus(spark.read.parquet(dir), cfg,
        withBanded = true,
        sideFileDir = Some(Files.createTempDirectory("fg_fold_side").toString),
        sideFileMinRows = sideFileMinRows)
      try assertSameState(label, g.frozenState, fresh) finally fresh.release()
      admitted
    } finally g.close()
  }

  test("after k folds the gate holds what a fresh freeze of the directory holds") {
    val rddsBefore = spark.sparkContext.getPersistentRDDs.keySet.toSet
    val expected = Seq(2L, 2L, 2L, 2L, 0L)
    assert(run("no side files", Nil, Long.MaxValue,
      CorpusIngestSink.DefaultFoldDriverBytes) == expected)
    // a seeded corpus: the first freeze writes the side files, every fold
    // appends to them
    assert(run("side files appended", Seq(100L -> t(8), 101L -> t(9)), 0L,
      CorpusIngestSink.DefaultFoldDriverBytes) == expected)
    // an empty first freeze writes none; the fold that reaches 3 rows
    // writes them in full, later folds append. A 1-byte budget keeps every
    // delta checkpointed, so each fold counts the delta's buckets itself
    assert(run("side files written by a fold, delta bucket counts unknown", Nil, 3L,
      foldDriverBytes = 1L) == expected)
    assert((spark.sparkContext.getPersistentRDDs.keySet.toSet -- rddsBefore).isEmpty,
      "closed gates must leave no persisted RDDs behind")
  }

  test("a fold of a delta whose buckets cross the hot cap grows the hot set like a freeze") {
    import CorpusPipeline.GateGeometry.MaxBucketSize
    // a delta of MaxBucketSize + 1 identical signatures: every band bucket
    // of that signature crosses the cap, which the frozen side (one
    // unrelated doc) never came near
    val sig: Seq[Long] = 1L to 64L
    val frozenRows = spark.range(1).select(col("id").as("doc_id"),
      org.apache.spark.sql.functions.lit("frozen text").as("text"))
    val frozen = CorpusPipeline.freezeCorpus(frozenRows, cfg, withBanded = true)
    try {
      val delta = spark.range(1, MaxBucketSize + 2).select(col("id").as("__id"),
          org.apache.spark.sql.functions.xxhash64(col("id")).as("__ck"),
          org.apache.spark.sql.functions.typedLit(sig).as("__sig"))
        .withColumn("__bb", CorpusPipeline.GateGeometry.bandBuckets(col("__sig")))
      val deltaBuckets = delta.select(posexplode(col("__bb"))).distinct().collect()
        .map { case Row(b: Int, bkt: Long) => (b, bkt) }.toSet
      // the delta's bucket counts known on the driver (the suspects are
      // named there) and unknown (every touched bucket is counted)
      for (counts <- Seq(Some(deltaBuckets.map(_ -> (MaxBucketSize + 1)).toMap), None)) {
        val folded = CorpusPipeline.foldDelta(frozen, delta, counts, None, Long.MaxValue)
        try {
          val hot = folded.banded.get._2.collect().map(r => (r.getInt(0), r.getLong(1))).toSet
          assert(hot == deltaBuckets,
            s"counts known=${counts.isDefined}: every bucket of the repeated signature must turn hot")
          assert(folded.rows == MaxBucketSize + 2)
          assert(folded.bandedMaxNonHot.contains(1L))
        } finally folded.release()
      }
    } finally frozen.release()
  }
}
