package graft.functions

import graft.SparkSpec
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import java.nio.file.Files

/** Pruned-probe side files: [[CorpusPipeline.freezeCorpus]] can write
  * sorted, small-row-group copies of the frozen keys and signatures, and
  * every gated batch then reads them PRUNED to its own probe set
  * (bloom-positive keys, candidate ids) via In-filter pushdown — per-batch
  * corpus-side IO ∝ probes instead of an O(corpus) cached scan (and, for
  * the exact stage, an O(corpus) distinct shuffle) per batch. Bucket
  * probes always join the cached banded frame. These specs pin that the
  * pruned paths are BIT-IDENTICAL to the cached paths, including the
  * delta-induced hot-bucket crossing probe, and that the fallbacks engage
  * above the probe caps.
  */
class FrozenSideFilesSpec extends SparkSpec {
  import spark.implicits._

  private val cfg = CorpusPipeline.Config(
    minChars = 10, requireKnownLang = false,
    nearDupThreshold = None, decontamThreshold = None)

  private val boilerText =
    "this exact same boilerplate license text repeats on every single page of the corpus"
  private val uniqueText =
    "a genuinely unique document about distributed query engines and shuffle hygiene"
  private val freshText =
    "completely unrelated content mentioning neither licenses nor engines today"

  private def docs(rows: (Long, String)*): DataFrame =
    rows.map { case (id, tx) => (id, tx, "web") }.toDF("doc_id", "text", "source")

  private def corpus: DataFrame =
    docs(((100L until 108L).map(_ -> boilerText) :+ (60L -> uniqueText)): _*)

  // exact dup of corpus, near-dup of corpus, fresh
  private def batch: DataFrame = docs(
    1L -> uniqueText,
    2L -> (uniqueText + " appended"),
    3L -> freshText)

  private def acceptedIds(frozen: CorpusPipeline.FrozenCorpus): Seq[Long] = {
    graft.core.Scope.using { scope =>
      CorpusPipeline.prepareIncrementalFrozen(scope,
        batch, frozen, corpus, cfg, Some(0.8))
        .select("doc_id").as[Long].collect().toSeq.sorted
    }
  }

  test("side files are written above the row threshold, skipped below, and prune bit-identically") {
    val dir = Files.createTempDirectory("side_files").toString

    val skipped = CorpusPipeline.freezeCorpus(corpus, cfg, withBanded = true,
      sideFileDir = Some(dir + "/skip"), sideFileMinRows = 1000000L)
    try {
      assert(!skipped.hasSideFiles,
        "below the threshold the freeze must not pay the side-file writes")
      assert(!new java.io.File(dir + "/skip").exists())
    } finally skipped.release()

    val plain = CorpusPipeline.freezeCorpus(corpus, cfg, withBanded = true)
    val side = CorpusPipeline.freezeCorpus(corpus, cfg, withBanded = true,
      sideFileDir = Some(dir + "/on"), sideFileMinRows = 0L)
    try {
      assert(side.hasSideFiles)
      for (sub <- Seq("keys", "sigs"))
        assert(new java.io.File(dir + s"/on/$sub").isDirectory, s"$sub missing")
      assert(!new java.io.File(dir + "/on/banded").exists(),
        "bucket probes join the cached banded frame; no banded side file")
      val a = acceptedIds(plain)
      val b = acceptedIds(side)
      // doc 1 exact-dups the corpus, doc 2 near-dups it (j ≈ 0.85 ≥ 0.8)
      assert(a == Seq(3L), s"fixture drifted: $a")
      assert(b == a, "pruned-probe admissions must equal the cached path's")
      // pruned accessors return exactly the probed subset
      val keys = side.prunedKeys(Seq()).get
      assert(keys.count() == 0L, "an empty probe set must read nothing")
    } finally { plain.release(); side.release() }
  }

  test("pruned funnel equals the cached funnel, including delta-induced hot crossing") {
    val dir = Files.createTempDirectory("side_hot").toString
    val sh = TextFunctions.shingleHashes(col("text"), 5)
    // cap 10: 8 frozen boilerplate clones + 5 delta clones = 13 crosses —
    // the crossing probe runs against the cached banded frame while the
    // estimate stage reads PRUNED sigs, and must still produce the
    // per-batch path's exact hot set. The freeze's own cap is the gate
    // geometry's 4096; no frozen bucket holds more than 8 rows, so its hot
    // set (empty) and max non-hot occupancy (8) equal those of a cap-10
    // freeze
    val frozen = CorpusPipeline.freezeCorpus(corpus, cfg, withBanded = true,
      sideFileDir = Some(dir), sideFileMinRows = 0L)
    try {
      val delta = docs((200L until 205L).map(_ -> boilerText): _*)
      val dDelta = MinHashLsh.signatureFrame(delta, "doc_id", sh, 64)
        .withColumn("__bb", MinHashLsh.bandBuckets(col("__sig"), 16, 4))
      val corpusAll = corpus.unionByName(delta)
      val incoming = docs(1L -> (boilerText + " appended"),
        2L -> (uniqueText + " appended"), 3L -> freshText)
      val (bnd, hot) = frozen.banded.get
      assert(hot.isEmpty && frozen.bandedMaxNonHot.contains(8L),
        "fixture drifted: the freeze must equal a cap-10 freeze")
      def pairsOf(df: DataFrame): Set[(Long, Long)] =
        df.select("id_left", "id_right").as[(Long, Long)].collect().toSet
      val cached = pairsOf(MinHashLsh.bipartitePairsFrozenBanded(
        frozen.sigs.get, bnd, hot, Some(dDelta), corpusAll, incoming,
        MinHashLsh.signatureFrame(incoming, "doc_id", sh, 64),
        "doc_id", sh, 64, 16, 0.8, maxBucketSize = 10L,
        frozenMaxNonHot = frozen.bandedMaxNonHot))
      val pruned = pairsOf(MinHashLsh.bipartitePairsFrozenBanded(
        frozen.sigs.get, bnd, hot, Some(dDelta), corpusAll, incoming,
        MinHashLsh.signatureFrame(incoming, "doc_id", sh, 64),
        "doc_id", sh, 64, 16, 0.8, maxBucketSize = 10L,
        frozenMaxNonHot = frozen.bandedMaxNonHot,
        prunedSigsFor = Some(frozen.prunedSigs _)))
      assert(!cached.exists(_._2 == 1L) && cached.exists(_._2 == 2L),
        s"fixture drifted: crossing must mute boilerplate only, got $cached")
      assert(pruned == cached,
        "pruned probes must reproduce the cached funnel exactly")
    } finally frozen.release()
  }

  test("newKeysExactPruned equals newKeysExact; over-cap sliver falls back") {
    val corpusKeys = spark.range(1000)
      .select(xxhash64(col("id")).as("__ck"))
    val bloom = BloomDedup.buildLong(corpusKeys, col("__ck"), 1000L, 0.01)
    val bcast = BloomDedup.broadcastFilter(spark, bloom)
    // incoming: 100 true duplicates + 100 novel keys
    val incoming = corpusKeys.limit(100)
      .unionByName(spark.range(5000, 5100).select(xxhash64(col("id") * 7 + 1).as("__ck")))
    val expected = BloomDedup.newKeysExact(incoming, corpusKeys, "__ck", bcast)
      .as[Long].collect().sorted.toSeq
    var probed: Option[Int] = None
    val keysFor: Seq[Any] => Option[DataFrame] = ks => {
      probed = Some(ks.size)
      Some(corpusKeys.filter(col("__ck").isin(ks: _*)))
    }
    val pruned = BloomDedup.newKeysExactPruned(incoming, keysFor, corpusKeys,
      "__ck", bcast).as[Long].collect().sorted.toSeq
    assert(pruned == expected, "pruned exact stage must match the plain one")
    assert(probed.exists(n => n >= 100 && n <= 200),
      s"the probe set must be the bloom-positive sliver, got $probed")
    // cap 0 → every sliver is over-cap → the pruned read must NOT be asked
    probed = None
    val fallback = BloomDedup.newKeysExactPruned(incoming, keysFor, corpusKeys,
      "__ck", bcast, cap = 0).as[Long].collect().sorted.toSeq
    bcast.unpersist(blocking = false)
    assert(fallback == expected && probed.isEmpty,
      "over-cap slivers must fall back to the corpus-keys join")
  }

  test("pruned paths hold for STRING ids (probes, sorts, and isin are type-generic)") {
    val sCfg = cfg.copy(idCol = "doc_key")
    val sCorpus = Seq(("alpha", boilerText, "web"), ("beta", uniqueText, "web"))
      .toDF("doc_key", "text", "source")
    val sBatch = Seq(("x1", uniqueText, "web"), // exact dup
      ("x2", freshText, "web")).toDF("doc_key", "text", "source")
    val dir = Files.createTempDirectory("side_strid").toString
    val plain = CorpusPipeline.freezeCorpus(sCorpus, sCfg, withBanded = true)
    val side = CorpusPipeline.freezeCorpus(sCorpus, sCfg, withBanded = true,
      sideFileDir = Some(dir), sideFileMinRows = 0L)
    try {
      def run(f: CorpusPipeline.FrozenCorpus): Seq[String] = {
        graft.core.Scope.using { scope =>
          CorpusPipeline.prepareIncrementalFrozen(scope,
            sBatch, f, sCorpus, sCfg, Some(0.8))
            .select("doc_key").as[String].collect().toSeq.sorted
        }
      }
      val a = run(plain)
      assert(a == Seq("x2"), s"fixture drifted: $a")
      assert(run(side) == a, "string-id pruned paths must admit identically")
    } finally { plain.release(); side.release() }
  }

  test("FrozenGate with side files admits identically to the cached gate") {
    val batches = Seq(
      docs(1L -> boilerText, 2L -> uniqueText),
      docs(10L -> uniqueText, 11L -> freshText), // 10 exact-dups the corpus
      docs(20L -> (uniqueText + " appended"), 21L -> (freshText + " and more words here")),
      docs(30L -> freshText)) // exact dup across windows
    def run(side: Boolean): (Seq[Long], Seq[Long]) = {
      val dir = Files.createTempDirectory(s"side_gate_$side").toString
      val g = new graft.streaming.CorpusIngestSink.FrozenGate(dir, cfg,
        refreshEvery = 2, sideFileMinRows = if (side) 0L else Long.MaxValue)
      try {
        val admitted = batches.map(g.processBatch)
        val ids = spark.read.parquet(dir).select("doc_id").as[Long]
          .collect().toSeq.sorted
        val state = new java.io.File(dir + "__gatestate")
        assert(state.isDirectory == side,
          s"side files written=${state.isDirectory}, expected $side")
        (admitted, ids)
      } finally g.close()
    }
    val (aSide, cSide) = run(side = true)
    val (aPlain, cPlain) = run(side = false)
    assert(aPlain == Seq(2L, 1L, 1L, 0L), s"fixture drifted: $aPlain")
    assert(aSide == aPlain && cSide == cPlain,
      "side-file gating must be admission-identical to cached gating")
  }
}
