package graft.streaming

import graft.SparkSpec
import graft.functions.CorpusPipeline
import org.apache.spark.sql.catalyst.plans.logical.LocalRelation
import org.apache.spark.sql.execution.LogicalRDD
import org.apache.spark.sql.{DataFrame, SaveMode}

import java.nio.file.Files

/** Round-16 hardening of [[CorpusIngestSink.FrozenGate]]: the byte-aware
  * delta-fold collect guard (driver heap, not row count), external-writer
  * detection between refreshes, and gate invalidation when the fold fails
  * AFTER a committed append (replay idempotence for reused instances).
  * The fault-injection table is the gate's leak check: a failure at each
  * action boundary must leave no persisted RDD or cache entry behind.
  */
class FrozenGateHardeningSpec extends SparkSpec {
  import spark.implicits._

  private val cfg = CorpusPipeline.Config(
    minChars = 10, requireKnownLang = false,
    nearDupThreshold = None, decontamThreshold = None)

  private val baseA = "the quick brown fox jumps over the lazy dog again and again today"
  private val baseB = "completely different content about spark query engines operating at corpus scale"
  private val baseC = "an entirely new document mentioning benchmarks and shuffles in the third batch"
  private val baseD = "watermark discipline and checkpoint hygiene for long running streaming ingestion"

  private def df(rows: (Long, String)*): DataFrame =
    rows.map { case (id, tx) => (id, tx, "web") }.toDF("doc_id", "text", "source")

  private def corpusIds(dir: String): Seq[Long] =
    spark.read.parquet(dir).select("doc_id").as[Long].collect().toSeq.sorted

  test("fold guard math: the collect cap is sized in driver bytes, embedding width included") {
    import CorpusIngestSink.{estimatedDeltaRowBytes, foldCollectMaxRows, DefaultFoldDriverBytes}
    // a dim-768 embedding costs ~25 KB boxed on the driver — the row-width
    // estimate must grow with it, and the cap must shrink accordingly
    val slim = estimatedDeltaRowBytes(withSignatures = true,
      withEmbeddings = false, embeddingDim = 768)
    val wide = estimatedDeltaRowBytes(withSignatures = true,
      withEmbeddings = true, embeddingDim = 768)
    assert(wide - slim >= 768L * 32, "embedding width must be priced per boxed element")
    val capSlim = foldCollectMaxRows(DefaultFoldDriverBytes, true, false, 768)
    val capWide = foldCollectMaxRows(DefaultFoldDriverBytes, true, true, 768)
    assert(capSlim * slim <= DefaultFoldDriverBytes &&
      capWide * wide <= DefaultFoldDriverBytes, "cap × width must fit the budget")
    assert(capWide * 10 < capSlim,
      s"the semantic arm must shrink the cap ~width-proportionally ($capWide vs $capSlim)")
    // guard rails: never below one row, never above the legacy 2^22 rows
    assert(foldCollectMaxRows(1L, true, true, 1 << 20) == 1L)
    assert(foldCollectMaxRows(Long.MaxValue / 4, false, false, 0) == (1L << 22))
  }

  test("oversized batches fold executor-side (localCheckpoint), never a driver collect") {
    // a 1-byte budget forces EVERY admitted batch over the cap (its floor
    // is ONE row, so each batch must admit ≥2) — the fold must take the
    // checkpoint path (LogicalRDD parts), and admissions must stay
    // bit-identical to the driver-resident path on the same batches
    val batches = Seq(df(1L -> baseA, 2L -> baseB),
      df(10L -> baseA, 12L -> baseC, 13L -> baseD))
    def run(budget: Long): (Seq[Long], Seq[Long], Seq[Boolean]) = {
      val dir = Files.createTempDirectory(s"fg_bytes_$budget").toString
      val g = new CorpusIngestSink.FrozenGate(dir, cfg, refreshEvery = 8)
      g.foldDriverBytes = budget
      try {
        val admitted = batches.map(g.processBatch)
        val localized = g.deltaParts.toSeq.map(_.queryExecution.analyzed match {
          case _: LocalRelation => true
          case _: LogicalRDD => false
          case other => fail(s"unexpected delta plan node: ${other.getClass}")
        })
        (admitted, corpusIds(dir), localized)
      } finally g.close()
    }
    val rddsBefore = spark.sparkContext.getPersistentRDDs.keySet.toSet
    val (aTiny, cTiny, lTiny) = run(budget = 1L)
    val (aBig, cBig, lBig) = run(budget = CorpusIngestSink.DefaultFoldDriverBytes)
    assert(aTiny == Seq(2L, 2L) && aBig == aTiny, "both fold paths must admit identically")
    assert(cTiny == Seq(1L, 2L, 12L, 13L) && cBig == cTiny)
    assert(lTiny == Seq(false, false), "over-budget folds must stay executor-resident")
    assert(lBig == Seq.empty,
      "in-budget folds accumulate driver-resident rows, never checkpoint parts")
    // the checkpointed delta blocks die with close()
    assert((spark.sparkContext.getPersistentRDDs.keySet.toSet -- rddsBefore).isEmpty,
      "closed gates must release checkpointed delta blocks")
  }

  test("the fold's driver budget covers the refresh window, not one batch") {
    // room for 3 collected rows: batch 1's 2 rows fit, but batch 2's 2 more
    // would leave 4 driver-resident rows in the window — that fold must
    // checkpoint even though each batch alone fits the cap
    val budget = 3 * CorpusIngestSink.estimatedDeltaRowBytes(
      withSignatures = true, withEmbeddings = false, embeddingDim = 64)
    // batch 2's doc 10 and batch 3's doc 20 are exact dups gated by the
    // driver-resident rows and the checkpointed part respectively
    val batches = Seq(df(1L -> baseA, 2L -> baseB),
      df(10L -> baseA, 11L -> baseC, 12L -> baseD), df(20L -> baseC))
    def run(budget: Long): (Seq[Long], Int) = {
      val dir = Files.createTempDirectory("fg_window_budget").toString
      val g = new CorpusIngestSink.FrozenGate(dir, cfg, refreshEvery = 8)
      g.foldDriverBytes = budget
      try (batches.map(g.processBatch), g.deltaParts.size)
      finally g.close()
    }
    val (aTight, partsTight) = run(budget)
    val (aDefault, partsDefault) = run(CorpusIngestSink.DefaultFoldDriverBytes)
    assert(aTight == Seq(2L, 2L, 0L) && aTight == aDefault,
      s"the window budget must not change admissions ($aTight vs $aDefault)")
    assert(partsTight == 1,
      s"the fold that would overfill the window's budget must checkpoint (parts: $partsTight)")
    assert(partsDefault == 0)
  }

  test("external writer between refreshes: detected, re-frozen, duplicates gated (default policy)") {
    val dir = Files.createTempDirectory("fg_ext_refresh").toString
    val extBefore = GraftMetrics.counter(GraftMetrics.IngestExternalWrites)
    val g = new CorpusIngestSink.FrozenGate(dir, cfg, refreshEvery = 10)
    try {
      assert(g.processBatch(df(1L -> baseA, 2L -> baseB)) == 2L)
      // out-of-band co-writer lands doc 100 directly in the corpus dir
      df(100L -> baseC).withColumn("split",
        org.apache.spark.sql.functions.lit("train"))
        .write.mode(SaveMode.Append).parquet(dir)
      // doc 30 duplicates the co-written text: only a re-freeze can see it
      assert(g.processBatch(df(30L -> baseC)) == 0L,
        "the forced refresh must gate the external row's duplicate")
      assert(GraftMetrics.counter(GraftMetrics.IngestExternalWrites) - extBefore == 1L)
      // the gate's own appends must NOT re-trip the check
      assert(g.processBatch(df(40L -> baseD)) == 1L)
      assert(GraftMetrics.counter(GraftMetrics.IngestExternalWrites) - extBefore == 1L)
    } finally g.close()
    assert(corpusIds(dir) == Seq(1L, 2L, 40L, 100L))
  }

  test("fold failure after a committed append invalidates the gate; replay admits nothing") {
    val dir = Files.createTempDirectory("fg_foldfail").toString
    val g = new CorpusIngestSink.FrozenGate(dir, cfg, refreshEvery = 10)
    try {
      assert(g.processBatch(df(1L -> baseA, 2L -> baseB)) == 2L)
      assert(g.isFrozen)
      // the fold dies AFTER the parquet append committed: without
      // invalidation, frozen + delta would now lag the target and a retry
      // through this same instance would re-append its own rows
      g.foldTap = _ => throw new RuntimeException("fold boom")
      val e = intercept[RuntimeException](g.processBatch(df(12L -> baseC)))
      assert(e.getMessage == "fold boom")
      assert(!g.isFrozen, "a post-append fold failure must drop all gate state")
      assert(corpusIds(dir) == Seq(1L, 2L, 12L), "the append itself committed")
      // in-instance retry of the same batch: the re-freeze sees the
      // committed rows, so the replay admits nothing and nothing duplicates
      g.foldTap = identity
      assert(g.processBatch(df(12L -> baseC)) == 0L)
      assert(g.processBatch(df(22L -> baseD)) == 1L, "the gate keeps working after recovery")
    } finally g.close()
    assert(corpusIds(dir) == Seq(1L, 2L, 12L, 22L))
  }

  test("a funnel failure on a frozen gate releases every persisted frame and cache entry") {
    import org.apache.spark.sql.graft.CacheBridge.numCachedEntries
    val sc = spark.sparkContext
    // fails on exactly one marker doc. It rewrites `source`, a column no
    // funnel projection reads, so the failure surfaces only once the
    // batch's accepted rows materialize — after every funnel cache exists
    val boom = org.apache.spark.sql.functions.udf { (src: String, t: String) =>
      if (t.contains("MARKER")) throw new RuntimeException("funnel boom") else src
    }
    for (against <- Seq(Some(0.8), None)) {
      val dir = Files.createTempDirectory("fg_funnelfail").toString
      val g = new CorpusIngestSink.FrozenGate(dir, cfg, againstThreshold = against,
        refreshEvery = 10)
      try {
        assert(g.processBatch(df(1L -> baseA, 2L -> baseB)) == 2L)
        assert(g.isFrozen)
        val rddsBefore = sc.getPersistentRDDs.keySet.toSet
        val entriesBefore = numCachedEntries(spark)
        // the repartition keeps the optimizer from folding the UDF into
        // the local relation at planning time (it must fail in a task)
        val bad = df(3L -> baseC, 4L -> s"$baseD MARKER").repartition(2)
          .withColumn("source", boom(org.apache.spark.sql.functions.col("source"),
            org.apache.spark.sql.functions.col("text")))
        val e = intercept[Exception](g.processBatch(bad))
        assert(Iterator.iterate[Throwable](e)(_.getCause).takeWhile(_ != null)
          .exists(t => String.valueOf(t.getMessage).contains("funnel boom")),
          s"unexpected failure: $e")
        // an RDD orphaned by the failed checkpoint is unreachable and
        // leaves the context's weak registry once collected; a PINNED
        // leak (a cache entry, a held frame) never does
        def leaked = { System.gc(); sc.getPersistentRDDs.keySet.toSet -- rddsBefore }
        val deadline = System.nanoTime() + 30L * 1000000000L
        while (leaked.nonEmpty && System.nanoTime() < deadline) Thread.sleep(200)
        assert(leaked.isEmpty,
          s"against=$against: a failed batch must release every RDD it persisted")
        assert(numCachedEntries(spark) == entriesBefore,
          s"against=$against: a failed batch must drop its CacheManager entries")
        assert(g.processBatch(df(5L -> baseC)) == 1L, "the gate keeps working")
      } finally g.close()
    }
  }

  test("a failure at each gate action boundary releases everything; the gate then admits like a fresh one") {
    import org.apache.spark.sql.functions.{col, udf}
    import org.apache.spark.sql.graft.CacheBridge.numCachedEntries
    val sc = spark.sparkContext
    val scanBoom = udf { (t: String) =>
      if (t != null) throw new RuntimeException("injected: freeze scan") else t
    }
    val markerBoom = udf { (src: String, t: String) =>
      if (t.contains("MARKER")) throw new RuntimeException("injected: funnel") else src
    }
    var failScan = false
    val reader: (org.apache.spark.sql.SparkSession, String, DataFrame,
        Option[org.apache.spark.sql.types.StructType]) => DataFrame =
      (s, d, donor, schema) => {
        val corpus = CorpusIngestSink.standingOf(s, d, donor, schema)
        if (failScan) corpus.withColumn("text", scanBoom(col("text"))) else corpus
      }
    def squat(dir: String) = java.nio.file.Paths.get(dir.stripSuffix("/") + "__gatestate")
    // (boundary, gate already frozen before the failing call, side files
    // on, arm, disarm, failing batch, expected message); every gate
    // refreshes every 10 batches but the refresh-fold one, whose failing
    // batch is its scheduled refresh
    type Arm = (CorpusIngestSink.FrozenGate, String) => Unit
    val plain = df(4L -> baseD)
    // the repartition keeps the optimizer from folding the UDF into the
    // local relation at planning time (it must fail in a task)
    val marked = df(4L -> baseD, 8L -> s"$baseC MARKER").repartition(2)
      .withColumn("source", markerBoom(col("source"), col("text")))
    val cases: Seq[(String, Boolean, Boolean, Arm, Arm, DataFrame, Option[String])] = Seq(
      ("freeze scan", false, false,
        (_, _) => failScan = true, (_, _) => failScan = false,
        plain, Some("injected: freeze scan")),
      ("side-file write", false, true,
        (_, d) => Files.write(squat(d), "squat".getBytes),
        (_, d) => Files.delete(squat(d)),
        plain, None),
      ("funnel", true, false, (_, _) => (), (_, _) => (),
        marked, Some("injected: funnel")),
      ("fold", false, false,
        (g, _) => g.foldTap = _ => throw new RuntimeException("injected: fold"),
        (g, _) => g.foldTap = identity,
        plain, Some("injected: fold")),
      ("pre-append window", true, false,
        (g, _) => g.preAppendTap = () => throw new RuntimeException("injected: pre-append"),
        (g, _) => g.preAppendTap = () => (),
        plain, Some("injected: pre-append")),
      ("refresh fold", true, true,
        (g, _) => g.refreshFoldTap = _ => throw new RuntimeException("injected: refresh fold"),
        (g, _) => g.refreshFoldTap = identity,
        plain, Some("injected: refresh fold")))

    for ((boundary, warm, sideFiles, arm, disarm, failing, message) <- cases) {
      val dir = Files.createTempDirectory("fg_fault").toString
      def gate(d: String) = {
        val g = new CorpusIngestSink.FrozenGate(d, cfg,
          refreshEvery = if (boundary == "refresh fold") 1 else 10,
          sideFileMinRows = if (sideFiles) 0L else Long.MaxValue)
        g.corpusReader = reader
        g
      }
      val seed = gate(dir)
      try assert(seed.processBatch(df(1L -> baseA, 2L -> baseB)) == 2L)
      finally seed.close()
      val g = gate(dir)
      try {
        // what the session held before the gate froze, and before the
        // failing call: a failure that drops the gate's state must fall
        // back to the first, any other to the second
        val (rddsCold, entriesCold) = (sc.getPersistentRDDs.keySet.toSet, numCachedEntries(spark))
        if (warm) assert(g.processBatch(df(3L -> baseC)) == 1L)
        val (rddsWarm, entriesWarm) = (sc.getPersistentRDDs.keySet.toSet, numCachedEntries(spark))
        arm(g, dir)
        val e = intercept[Exception](g.processBatch(failing))
        message.foreach { m =>
          assert(Iterator.iterate[Throwable](e)(_.getCause).takeWhile(_ != null)
            .exists(t => String.valueOf(t.getMessage).contains(m)),
            s"$boundary: unexpected failure $e")
        }
        disarm(g, dir)
        val (rddsBefore, entriesBefore) =
          if (g.isFrozen) (rddsWarm, entriesWarm) else (rddsCold, entriesCold)
        // an RDD orphaned by a failed checkpoint is unreachable and leaves
        // the context's weak registry once collected; a PINNED leak never
        def leaked = { System.gc(); sc.getPersistentRDDs.keySet.toSet -- rddsBefore }
        val deadline = System.nanoTime() + 30L * 1000000000L
        while (leaked.nonEmpty && System.nanoTime() < deadline) Thread.sleep(200)
        assert(leaked.isEmpty, s"$boundary: the failed batch left persisted RDDs")
        assert(numCachedEntries(spark) == entriesBefore,
          s"$boundary: the failed batch left CacheManager entries")
        // the next batch on this instance admits what a fresh gate over the
        // same corpus admits: 5 duplicates the seed, 6 the failed batch's
        // doc (admitted only where the failure struck after the append)
        val next = df(5L -> baseA, 6L -> baseD,
          7L -> "a final batch document about fault injection at action boundaries")
        val copy = FrozenGateHardeningSpec.copyDir(dir)
        val fresh = gate(copy)
        try {
          val expected = fresh.processBatch(next)
          assert(expected >= 1L, s"$boundary: fixture drifted")
          assert(g.processBatch(next) == expected,
            s"$boundary: the gate must admit what a fresh gate admits")
          assert(corpusIds(dir) == corpusIds(copy), s"$boundary: corpora diverged")
        } finally fresh.close()
      } finally g.close()
    }
  }
}

object FrozenGateHardeningSpec {
  /** A copy of a corpus directory, for a fresh gate to admit against. */
  def copyDir(src: String): String = {
    import scala.jdk.CollectionConverters._
    val from = java.nio.file.Paths.get(src)
    val to = Files.createTempDirectory("fg_fault_copy")
    val walk = Files.walk(from)
    try walk.iterator().asScala.foreach { p =>
      val t = to.resolve(from.relativize(p).toString)
      if (Files.isDirectory(p)) Files.createDirectories(t) else Files.copy(p, t)
    } finally walk.close()
    to.toString
  }
}
