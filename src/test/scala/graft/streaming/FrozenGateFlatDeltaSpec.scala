package graft.streaming

import graft.SparkSpec
import graft.functions.CorpusPipeline
import org.apache.spark.sql.catalyst.plans.logical.LocalRelation
import org.apache.spark.sql.execution.LogicalRDD
import org.apache.spark.sql.catalyst.plans.logical.LogicalPlan
import org.apache.spark.sql.{DataFrame, SaveMode}

import java.nio.file.Files

/** Round-17 FrozenGate hardening:
  *
  *   1. the delta fold FLATTENS — driver-resident rows rebuild into exactly
  *      ONE LocalRelation (the one delta frame) after every fold, so the
  *      gate plan (and every job's serialized task closure) stays constant-size
  *      across the refresh window instead of growing one LocalTableScan
  *      per admitted batch;
  *   2. the mid-batch external-writer TOCTOU window is closed — the gate
  *      re-checks the listing immediately BEFORE its own append (a
  *      co-write landing between the pre-gate check and the append used
  *      to be absorbed into the expected listing and never detected until
  *      the scheduled refresh), and derives the expected listing from the
  *      last VALIDATED one plus the files the append added (r18) — so a
  *      co-write landing during the FOLD, or inside a re-gated attempt's
  *      skipped re-check, is caught by the next batch;
  *   3. the listing is RECURSIVE — a co-writer landing rows in a
  *      subdirectory changes what partition discovery reads, and must trip
  *      the check like a top-level append;
  *   4. the listing is compared entry by entry — a validated file rewritten
  *      in place under its own name is a change like any other.
  */
class FrozenGateFlatDeltaSpec extends SparkSpec {
  import spark.implicits._

  private val cfg = CorpusPipeline.Config(
    minChars = 10, requireKnownLang = false,
    nearDupThreshold = None, decontamThreshold = None)

  private val texts = Seq(
    "the quick brown fox jumps over the lazy dog again and again today",
    "completely different content about spark query engines operating at corpus scale",
    "an entirely new document mentioning benchmarks and shuffles in the third batch",
    "watermark discipline and checkpoint hygiene for long running streaming ingestion",
    "columnar layouts and row group statistics prune scans before any byte moves",
    "adaptive execution replans shuffles at runtime from observed partition sizes")

  private def df(rows: (Long, String)*): DataFrame =
    rows.map { case (id, tx) => (id, tx, "web") }.toDF("doc_id", "text", "source")

  private def corpusIds(dir: String): Seq[Long] =
    spark.read.parquet(dir).select("doc_id").as[Long].collect().toSeq.sorted

  private def leafCounts(plan: LogicalPlan): (Int, Int) = (
    plan.collect { case l: LocalRelation => l }.size,
    plan.collect { case r: LogicalRDD => r }.size)

  test("delta sides stay ONE LocalRelation each across the refresh window") {
    val dir = Files.createTempDirectory("fg_flat").toString
    val g = new CorpusIngestSink.FrozenGate(dir, cfg, refreshEvery = 8)
    try {
      // six admitted batches inside one refresh window — the pre-flatten
      // delta would now carry six LocalTableScans
      texts.zipWithIndex.foreach { case (tx, i) =>
        assert(g.processBatch(df((i + 1).toLong -> tx)) == 1L)
      }
      val (locals, rdds) = leafCounts(g.delta.get.queryExecution.optimizedPlan)
      assert(locals == 1 && rdds == 0,
        s"a fully driver-resident delta must be ONE LocalRelation " +
        s"(got $locals local + $rdds checkpointed after 6 admissions)")
      // and the flattened state is the real one: a re-presented duplicate
      // of every admitted batch is gated by the delta, not re-admitted
      texts.zipWithIndex.foreach { case (tx, i) =>
        assert(g.processBatch(df((100 + i).toLong -> tx)) == 0L,
          s"delta must gate the duplicate of batch $i")
      }
    } finally g.close()
    assert(corpusIds(dir) == (1L to 6L))
  }

  test("flat-delta admissions match the per-batch (refresh-per-batch) gate") {
    val batches = Seq(
      df(1L -> texts(0), 2L -> texts(1)),
      df(10L -> texts(0), 11L -> texts(2)), // 10 dups batch 1 via the delta
      df(20L -> texts(2), 21L -> texts(3)), // 20 dups batch 2 via the delta
      df(30L -> texts(4)))
    def run(refreshEvery: Int): (Seq[Long], Seq[Long]) = {
      val dir = Files.createTempDirectory(s"fg_flat_par_$refreshEvery").toString
      val g = new CorpusIngestSink.FrozenGate(dir, cfg, refreshEvery = refreshEvery)
      try (batches.map(g.processBatch), corpusIds(dir))
      finally g.close()
    }
    val (aFlat, cFlat) = run(refreshEvery = 8)
    val (aPer, cPer) = run(refreshEvery = 1)
    assert(aFlat == Seq(2L, 1L, 1L, 1L))
    assert(aFlat == aPer && cFlat == cPer,
      "flattened delta must admit bit-identically to per-batch refreshing")
  }

  test("co-write between gate and append: Refresh re-gates the batch, nothing duplicates") {
    val dir = Files.createTempDirectory("fg_toctou_refresh").toString
    val extBefore = GraftMetrics.counter(GraftMetrics.IngestExternalWrites)
    val g = new CorpusIngestSink.FrozenGate(dir, cfg, refreshEvery = 10)
    try {
      assert(g.processBatch(df(1L -> texts(0))) == 1L)
      // the co-write lands AFTER the batch gated but BEFORE its append —
      // the exact window the r16 verdict flagged as silently absorbed
      g.preAppendTap = () => {
        g.preAppendTap = () => ()
        df(100L -> texts(1)).withColumn("split",
          org.apache.spark.sql.functions.lit("train"))
          .write.mode(SaveMode.Append).parquet(dir)
      }
      // doc 30 duplicates the co-written text: the stale gate admitted it,
      // so the pre-append re-check must force a re-freeze and a re-gate
      assert(g.processBatch(df(30L -> texts(1), 31L -> texts(2))) == 1L,
        "the re-gated batch must admit only the genuinely new row")
      assert(GraftMetrics.counter(GraftMetrics.IngestExternalWrites) - extBefore == 1L)
      // the gate keeps working and its own appends don't re-trip the check
      assert(g.processBatch(df(40L -> texts(3))) == 1L)
      assert(GraftMetrics.counter(GraftMetrics.IngestExternalWrites) - extBefore == 1L)
    } finally g.close()
    assert(corpusIds(dir) == Seq(1L, 31L, 40L, 100L),
      "the co-written duplicate must not land twice")
  }

  test("co-write during the fold is detected by the NEXT batch, not the next refresh") {
    val dir = Files.createTempDirectory("fg_toctou_fold").toString
    val extBefore = GraftMetrics.counter(GraftMetrics.IngestExternalWrites)
    val g = new CorpusIngestSink.FrozenGate(dir, cfg, refreshEvery = 10)
    try {
      assert(g.processBatch(df(1L -> texts(0))) == 1L)
      // the co-write lands while the admitted batch's delta fold runs —
      // after the gate's own append, before the old code's expected-
      // fingerprint listing, which used to absorb it
      g.foldTap = fd => {
        g.foldTap = identity
        df(100L -> texts(1)).withColumn("split",
          org.apache.spark.sql.functions.lit("train"))
          .write.mode(SaveMode.Append).parquet(dir)
        fd
      }
      assert(g.processBatch(df(10L -> texts(2))) == 1L)
      // next batch: pre-gate check sees the fold-window co-write, re-freezes,
      // and gates the co-written row's duplicate
      assert(g.processBatch(df(30L -> texts(1))) == 0L,
        "the fold-window co-write must be visible to the very next batch")
      assert(GraftMetrics.counter(GraftMetrics.IngestExternalWrites) - extBefore == 1L)
    } finally g.close()
    assert(corpusIds(dir) == Seq(1L, 10L, 100L))
  }

  test("a validated file rewritten in place under its own name is detected and re-frozen") {
    // no file is added or removed — only a validated file's length (and
    // mtime) change. The entry-by-entry listing comparison must see it,
    // re-freeze, and gate the next batch against the rewritten content.
    val dir = Files.createTempDirectory("fg_rewrite").toString
    val g = new CorpusIngestSink.FrozenGate(dir, cfg, refreshEvery = 10)
    try {
      assert(g.processBatch(df(1L -> texts(0))) == 1L)
      val file = new java.io.File(dir).listFiles
        .filter(_.getName.endsWith(".parquet")).head
      val scratch = Files.createTempDirectory("fg_rewrite_scratch").toString + "/out"
      spark.read.parquet(file.getPath)
        .unionByName(df(100L -> texts(1)).withColumn("split",
          org.apache.spark.sql.functions.lit("train")), allowMissingColumns = true)
        .coalesce(1).write.parquet(scratch)
      val rewritten = new java.io.File(scratch).listFiles
        .filter(_.getName.endsWith(".parquet")).head
      val lengthBefore = file.length
      Files.copy(rewritten.toPath, file.toPath,
        java.nio.file.StandardCopyOption.REPLACE_EXISTING)
      // the old checksum would fail the corpus read of the new bytes
      Files.deleteIfExists(java.nio.file.Paths.get(dir, s".${file.getName}.crc"))
      assert(file.length != lengthBefore, "fixture: the rewrite must change the length")
      assert(corpusIds(dir) == Seq(1L, 100L))

      // doc 30 duplicates the rewritten-in row: a fresh gate over the same
      // corpus drops it and admits doc 31
      val next = df(30L -> texts(1), 31L -> texts(2))
      val copy = FrozenGateHardeningSpec.copyDir(dir)
      val fresh = new CorpusIngestSink.FrozenGate(copy, cfg, refreshEvery = 10)
      val expected = try fresh.processBatch(next) finally fresh.close()
      assert(expected == 1L, s"fixture drifted: $expected")
      val extBefore = GraftMetrics.counter(GraftMetrics.IngestExternalWrites)
      assert(g.processBatch(next) == expected,
        "the gate must admit what a fresh gate over the rewritten corpus admits")
      assert(GraftMetrics.counter(GraftMetrics.IngestExternalWrites) - extBefore == 1L,
        "the in-place rewrite must count as one external write")
      assert(corpusIds(dir) == corpusIds(copy))
    } finally g.close()
    assert(corpusIds(dir) == Seq(1L, 31L, 100L))
  }

  test("co-write landing in a SUBDIRECTORY throws loudly — a re-freeze cannot absorb it") {
    // nested co-writes are NOT survivable: Spark's corpus read IGNORES
    // plain subdirectories (a re-freeze would still miss the rows and
    // re-admit their duplicates — the pre-r17 silent blind spot), and a
    // partition-style subdirectory makes partition discovery DROP the
    // gate's own top-level files. The recursive listing detects the
    // change and always escalates.
    val dir = Files.createTempDirectory("fg_nested").toString
    val g = new CorpusIngestSink.FrozenGate(dir, cfg, refreshEvery = 10)
    try {
      assert(g.processBatch(df(1L -> texts(0))) == 1L)
      df(100L -> texts(1)).withColumn("split",
        org.apache.spark.sql.functions.lit("train"))
        .write.mode(SaveMode.Overwrite).parquet(dir + "/nested")
      val e = intercept[IllegalStateException](g.processBatch(df(30L -> texts(1))))
      assert(e.getMessage.contains("SUBDIRECTORY"))
      // the error persists until an operator reconciles the directory...
      intercept[IllegalStateException](g.processBatch(df(31L -> texts(2))))
      // ...and clears once the nested files are gone
      val fs = new org.apache.hadoop.fs.Path(dir)
        .getFileSystem(spark.sparkContext.hadoopConfiguration)
      fs.delete(new org.apache.hadoop.fs.Path(dir + "/nested"), true)
      assert(g.processBatch(df(32L -> texts(3))) == 1L,
        "removing the nested files must unblock the gate (top-level refresh)")
    } finally g.close()
    assert(corpusIds(dir) == Seq(1L, 32L))
  }

  test("committer scratch files (_temporary, .staging) are invisible to the fingerprint") {
    // a CONCURRENT committer's in-flight state is data files under
    // hidden (`_`/`.`-prefixed) paths — Spark's corpus read ignores every
    // one of them, so the listing must too. The pre-r18 recursive
    // listing classified them as an UNSURVIVABLE nested co-write and
    // threw, turning a transient mid-commit state (or stale `_temporary`
    // residue of an aborted job) into a hard failure.
    val dir = Files.createTempDirectory("fg_hidden").toString
    val freezesBefore = GraftMetrics.counter(GraftMetrics.IngestFreezes)
    val extBefore = GraftMetrics.counter(GraftMetrics.IngestExternalWrites)
    val g = new CorpusIngestSink.FrozenGate(dir, cfg, refreshEvery = 10)
    try {
      assert(g.processBatch(df(1L -> texts(0))) == 1L)
      val part = new java.io.File(dir).listFiles
        .filter(_.getName.endsWith(".parquet")).head
      def plant(rel: String): Unit = {
        val dst = java.nio.file.Paths.get(dir, rel)
        java.nio.file.Files.createDirectories(dst.getParent)
        java.nio.file.Files.copy(part.toPath, dst)
      }
      // NOT under _temporary/0: that is the LIVE FileOutputCommitter
      // job-attempt namespace, and the gate's own next append would
      // merge a "committed task" directory planted there into the
      // corpus root as real data (empirically checked) — stale residue
      // of an aborted job lives under another attempt id
      plant("_temporary/9/task_000/part-junk.parquet")
      plant(".spark-staging-9/part-junk.parquet")
      plant("._hidden-top.parquet")
      // no detection may fire and no re-freeze may be spent on scratch files
      assert(g.processBatch(df(2L -> texts(2))) == 1L)
      assert(GraftMetrics.counter(GraftMetrics.IngestExternalWrites) == extBefore,
        "hidden paths must not count as an external write")
      assert(GraftMetrics.counter(GraftMetrics.IngestFreezes) - freezesBefore == 1L,
        "hidden paths must not trigger a refresh")
    } finally g.close()
    assert(corpusIds(dir) == Seq(1L, 2L),
      "the corpus read itself ignores the hidden files")
  }

  test("a second co-write inside the re-gated window is caught by the NEXT batch") {
    // co-write #1 lands between gate and append (detected → re-freeze →
    // re-gate); co-write #2 lands inside the RE-GATED attempt, whose
    // pre-append re-check is skipped. The expected listing derives from
    // the last VALIDATED listing plus own files — never the retry's
    // pre-append listing — so #2 stays outside it and the next batch's
    // pre-gate check refreshes before gating (the r17 advisory's blind
    // window: the old pre-append base silently absorbed #2 until the
    // scheduled refresh, re-admitting its duplicates).
    val dir = Files.createTempDirectory("fg_second_cowrite").toString
    val extBefore = GraftMetrics.counter(GraftMetrics.IngestExternalWrites)
    val g = new CorpusIngestSink.FrozenGate(dir, cfg, refreshEvery = 10)
    try {
      assert(g.processBatch(df(1L -> texts(0))) == 1L)
      var call = 0
      g.preAppendTap = () => {
        call += 1
        if (call <= 2)
          df((100L + call) -> texts(call)).withColumn("split",
            org.apache.spark.sql.functions.lit("train"))
            .write.mode(SaveMode.Append).parquet(dir)
        if (call == 2) g.preAppendTap = () => ()
      }
      assert(g.processBatch(df(30L -> texts(3))) == 1L)
      assert(GraftMetrics.counter(GraftMetrics.IngestExternalWrites) - extBefore == 1L,
        "co-write #1 is detected by the pre-append re-check")
      // doc 40 duplicates co-write #2's text: the next batch must detect
      // #2, re-freeze, and gate the duplicate — not re-admit it
      assert(g.processBatch(df(40L -> texts(2))) == 0L,
        "the second co-write must be visible to the very next batch")
      assert(GraftMetrics.counter(GraftMetrics.IngestExternalWrites) - extBefore == 2L)
    } finally g.close()
    assert(corpusIds(dir) == Seq(1L, 30L, 101L, 102L),
      "neither co-written row may be duplicated or lost")
  }
}
