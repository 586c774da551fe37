package graft.streaming

import graft.SparkSpec
import graft.core.{InMemoryWatermarkStore, Watermark}
import graft.operators.UpsertBlobDialect
import graft.sources.{BlobListingSource, BlobSourceConfig}
import org.apache.spark.sql.SaveMode
import org.apache.spark.sql.functions._

import java.nio.file.Files

class ParquetTargetSpec extends SparkSpec {
  import spark.implicits._

  test("commit/read round-trip with snapshot isolation and expiration") {
    val dir = Files.createTempDirectory("ptarget").toString
    val tgt = new ParquetTarget(spark, dir)
    assert(!tgt.exists)
    tgt.commit(Seq((1L, "a")).toDF("id", "v"))
    tgt.commit(Seq((1L, "a"), (2L, "b")).toDF("id", "v"))
    assert(tgt.currentVersion.contains(2))
    assert(tgt.read().count() == 2)
    tgt.commit(Seq((3L, "c")).toDF("id", "v"))
    val expired = tgt.expireSnapshots(keep = 1)
    assert(expired.nonEmpty)
    assert(tgt.read().count() == 1) // latest snapshot intact
  }

  test("foreign v_* directory entries are ignored, not a NumberFormatException") {
    // an operator-made 'v_00000001.bak' (or any copy-tool leftover) in the
    // target directory must not kill versions/read/expire — the stream's
    // maintenance pass runs these on every Nth batch
    val dir = Files.createTempDirectory("ptargetfe").toString
    val tgt = new ParquetTarget(spark, dir)
    tgt.commit(Seq((1L, "a")).toDF("id", "v"))
    tgt.commit(Seq((1L, "a"), (2L, "b")).toDF("id", "v"))
    Files.createDirectory(java.nio.file.Paths.get(dir, "v_00000001.bak"))
    Files.createFile(java.nio.file.Paths.get(dir, "v_old"))
    Files.createDirectory(java.nio.file.Paths.get(dir, "v_99999999999"))
    assert(tgt.versions == Seq(1, 2))
    assert(tgt.read().count() == 2)
    tgt.expireSnapshots(keep = 1)
    assert(tgt.versions == Seq(2))
  }

  test("time travel reads any live snapshot; expired versions fail loudly") {
    val dir = Files.createTempDirectory("ptargettt").toString
    val tgt = new ParquetTarget(spark, dir)
    tgt.commit(Seq((1L, "a")).toDF("id", "v"))
    tgt.commit(Seq((1L, "a2"), (2L, "b")).toDF("id", "v"))
    tgt.commit(Seq((2L, "b"), (3L, "c")).toDF("id", "v"))
    assert(tgt.versions == Seq(1, 2, 3))
    assert(tgt.readVersion(1).as[(Long, String)].collect().toSet == Set((1L, "a")))
    assert(tgt.readVersion(2).count() == 2)
    assert(tgt.readVersion(3).as[(Long, String)].collect().toSet ==
      Set((2L, "b"), (3L, "c")))
    tgt.expireSnapshots(keep = 2)
    assert(tgt.versions == Seq(2, 3))
    val e = intercept[IllegalArgumentException](tgt.readVersion(1))
    assert(e.getMessage.contains("expired or never committed"))
    intercept[IllegalArgumentException](tgt.readVersion(99))
  }

  test("optimizeByCurve clusters files into tiles: content identical, scans skip") {
    import graft.tools.FooterStats
    val dir = Files.createTempDirectory("ptargetzo").toString
    val tgt = new ParquetTarget(spark, dir)
    // deliberately scattered layout: consecutive rows far apart in (x, y)
    val rows = (0 until 10000).map(i => (i.toLong, (i * 37L) % 100, (i * 61L) % 100))
    tgt.commit(rows.toDF("id", "x", "y").repartition(8))
    val before = tgt.read().as[(Long, Long, Long)].collect().toSet
    val v = tgt.optimizeByCurve("x", "y", bits = 8, numFiles = 8)
    assert(tgt.currentVersion.contains(v))
    assert(tgt.read().as[(Long, Long, Long)].collect().toSet == before,
      "OPTIMIZE changes layout, never content")
    // per-file footer bounds must tile: a 25x25 corner box should skip
    // most of the 8 files (pre-optimize every file spans ~the full domain)
    val vdir = f"$dir/v_$v%08d"
    def matching(colName: String, lo: Long, hi: Long): Set[String] =
      FooterStats.int64ColumnBounds(vdir, colName)
        .filter { case (_, mn, mx, _, _) => mx >= lo && mn <= hi }
        .map(_._1).toSet
    val files = FooterStats.int64ColumnBounds(vdir, "x").map(_._1).distinct
    val hit = matching("x", 0, 24).intersect(matching("y", 0, 24))
    assert(files.size >= 4, s"fixture sanity: ${files.size} files")
    assert(hit.size * 2 <= files.size,
      s"box scan should skip most tiles: hit ${hit.size} of ${files.size}")
    // the hilbert variant preserves content too (strictly better locality)
    val v2 = tgt.optimizeByCurve("x", "y", bits = 8, numFiles = 8, hilbert = true)
    assert(tgt.currentVersion.contains(v2))
    assert(tgt.read().as[(Long, Long, Long)].collect().toSet == before)
  }

  test("changesBetween reconstructs the changefeed between two snapshots") {
    val dir = Files.createTempDirectory("ptargetcb").toString
    val tgt = new ParquetTarget(spark, dir)
    tgt.commit(Seq((1L, "a", 10), (2L, "b", 20), (3L, "c", 30)).toDF("id", "v", "n"))
    tgt.commit(Seq((1L, "a", 10), (2L, "B2", 20), (4L, "d", 40)).toDF("id", "v", "n"))
    val status = tgt.changesBetween(1, 2, keyCol = "id")
      .as[(Long, String)].collect().toMap
    assert(status == Map(1L -> "unchanged", 2L -> "changed",
      3L -> "removed", 4L -> "added"))
    // fingerprint restricted to a stable column subset: v changes invisible
    val narrow = tgt.changesBetween(1, 2, keyCol = "id", fingerprintCols = Seq("n"))
      .as[(Long, String)].collect().toMap
    assert(narrow(2L) == "unchanged", "v excluded from the fingerprint")
    intercept[IllegalArgumentException](tgt.changesBetween(2, 1, "id"))
  }

  test("changefeed fingerprint distinguishes null shifts and boundary shifts") {
    val dir = Files.createTempDirectory("ptargetnb").toString
    val tgt = new ParquetTarget(spark, dir)
    // v1→v2: key 1 shifts null between columns; key 2 shifts a boundary
    // character between columns — both MUST read as "changed"
    tgt.commit(Seq((1L, Some("a"), None: Option[String]), (2L, Some("ab"), Some("c")))
      .toDF("id", "x", "y"))
    tgt.commit(Seq((1L, None: Option[String], Some("a")), (2L, Some("a"), Some("bc")))
      .toDF("id", "x", "y"))
    val status = tgt.changesBetween(1, 2, keyCol = "id")
      .as[(Long, String)].collect().toMap
    assert(status == Map(1L -> "changed", 2L -> "changed"))
  }
}

/** The reference's minimum end-to-end slice (SURVEY §7.3): a folder of
  * parquet change-files upserted into a versioned target with dedup-latest,
  * schema evolution and watermark commit — scan, projection, window dedup,
  * merge, evolution, watermark in one run.
  */
class CdcPipelineE2eSpec extends SparkSpec {
  import spark.implicits._

  test("blob-listing source → dedup → upsert merge → watermark, incremental") {
    val srcDir = Files.createTempDirectory("blobsrc").toString
    val tgtDir = Files.createTempDirectory("tgt").toString
    val wms = new InMemoryWatermarkStore
    val pipeline = new CdcPipeline(spark, UpsertBlobDialect,
      PipelineConfig(maintenanceEvery = 0), wms)
    val target = new ParquetTarget(spark, tgtDir)
    val cfg = BlobSourceConfig(srcDir, "parquet", pkColumns = Seq("id"))

    // batch 1: two files
    Seq((1L, "v1"), (2L, "v1")).toDF("id", "payload")
      .write.mode(SaveMode.Append).parquet(srcDir)
    val Some((b1, wm1)) = BlobListingSource.nextBatch(spark, cfg, None)
    pipeline.runBatch(target, "t", b1, wm1)
    assert(target.read().count() == 2)
    assert(wms.get("t").contains(wm1))

    // no new files → no batch
    assert(BlobListingSource.nextBatch(spark, cfg, wms.get("t")).isEmpty)

    // batch 2: update for id=1 + new id=3, newer mod time
    Thread.sleep(1100) // distinct mtime second
    Seq((1L, "v2"), (3L, "v1")).toDF("id", "payload")
      .write.mode(SaveMode.Append).parquet(srcDir)
    val Some((b2, wm2)) = BlobListingSource.nextBatch(spark, cfg, wms.get("t"))
    pipeline.runBatch(target, "t", b2, wm2)

    val rows = target.read().select("id", "payload").as[(Long, String)]
      .collect().toMap
    assert(rows == Map(1L -> "v2", 2L -> "v1", 3L -> "v1"))
    assert(wms.get("t").exists(_.version >= wm1.version))
  }

  test("two-batch blob stream lands the upserted state") {
    val srcDir = Files.createTempDirectory("blobsrc_sql").toString
    val cfg = BlobSourceConfig(srcDir, "parquet", pkColumns = Seq("id"))
    val wms = new InMemoryWatermarkStore
    val target = new ParquetTarget(spark, Files.createTempDirectory("tgt_sql").toString)
    val pipeline = new CdcPipeline(spark, UpsertBlobDialect,
      PipelineConfig(maintenanceEvery = 0), wms)
    def consume(): Unit =
      BlobListingSource.nextBatch(spark, cfg, wms.get("t")).foreach {
        case (batch, wm) => pipeline.runBatch(target, "t", batch, wm)
      }
    def state: Map[Long, String] =
      target.read().select("id", "payload").as[(Long, String)].collect().toMap

    Seq((1L, "v1"), (2L, "v1")).toDF("id", "payload")
      .write.mode(SaveMode.Append).parquet(srcDir)
    consume()
    assert(state.sizeIs == 2)

    Thread.sleep(1100) // distinct mtime second for batch 2
    Seq((1L, "v2"), (3L, "v1")).toDF("id", "payload")
      .write.mode(SaveMode.Append).parquet(srcDir)
    consume()
    assert(state == Map(1L -> "v2", 2L -> "v1", 3L -> "v1"))
  }

  test("two pipelines share one SparkSession safely") {
    // two pipelines on one session, merging concurrently, each land only
    // their own source's rows
    val dirs = Seq.fill(2)(Files.createTempDirectory("blobsrc_two").toString)
    val routes = dirs.map { d =>
      val wms = new InMemoryWatermarkStore
      val target = new ParquetTarget(spark, Files.createTempDirectory("tgt_two").toString)
      val pipeline = new CdcPipeline(spark, UpsertBlobDialect,
        PipelineConfig(maintenanceEvery = 0), wms)
      (d, wms, target, pipeline)
    }
    Seq((1L, "a1"), (2L, "a2")).toDF("id", "payload")
      .write.mode(SaveMode.Append).parquet(dirs(0))
    Seq((1L, "b1"), (3L, "b3")).toDF("id", "payload")
      .write.mode(SaveMode.Append).parquet(dirs(1))
    val threads = routes.map { case (d, wms, target, pipeline) =>
      new Thread(() =>
        BlobListingSource.nextBatch(spark,
            BlobSourceConfig(d, "parquet", pkColumns = Seq("id")), wms.get("t"))
          .foreach { case (batch, wm) => pipeline.runBatch(target, "t", batch, wm) })
    }
    threads.foreach(_.start()); threads.foreach(_.join(120000))
    val s0 = routes(0)._3.read().select("id", "payload").as[(Long, String)].collect().toMap
    val s1 = routes(1)._3.read().select("id", "payload").as[(Long, String)].collect().toMap
    assert(s0 == Map(1L -> "a1", 2L -> "a2"), s"pipeline 0 landed $s0")
    assert(s1 == Map(1L -> "b1", 3L -> "b3"), s"pipeline 1 landed $s1")
  }

  test("pipeline applies soft deletes and evolution") {
    val landed = {
      val wms = new InMemoryWatermarkStore
      val target = new ParquetTarget(spark, Files.createTempDirectory("tgt_sd").toString)
      val pipeline = new CdcPipeline(spark, graft.operators.SynapseLinkDialect,
        PipelineConfig(maintenanceEvery = 0), wms)
      val b1 = Seq(
        ("k1", 1L, false, "a"), ("k2", 1L, false, "b"), ("k3", 1L, false, "c")
      ).toDF("ARCANE_MERGE_KEY", "versionnumber", "IsDelete", "v")
      pipeline.runBatch(target, "t", b1, Watermark.blob(1L))
      // batch 2: update k1, tombstone k2, stale k3, new column "extra"
      val b2 = Seq(
        ("k1", 2L, false, "a2", "x"), ("k2", 2L, true, "b", "y"),
        ("k3", 0L, false, "stale", "z"), ("k4", 1L, false, "d", "w")
      ).toDF("ARCANE_MERGE_KEY", "versionnumber", "IsDelete", "v", "extra")
      pipeline.runBatch(target, "t", b2, Watermark.blob(2L))
      target.read()
        .select("ARCANE_MERGE_KEY", "versionnumber", "IsDelete", "v", "extra")
        .orderBy("ARCANE_MERGE_KEY").collect().map(_.toString).toSeq
    }
    assert(landed.exists(_.contains("k4")) && !landed.exists(_.contains("k2")))
    assert(landed.exists(r => r.contains("k3") && r.contains("c")), "stale update ignored")
  }

  test("field filtering can never strip the dialect's delete-marker column") {
    // includeColumns omits BOTH change-tracking columns — the dialect's
    // essential set must retain them anyway, or the tombstone below would
    // merge as an upsert over a NULL-backfilled marker (silent loss of
    // the delete)
    val wms = new InMemoryWatermarkStore
    val pipeline = new CdcPipeline(spark, graft.operators.MsSqlCtDialect,
      PipelineConfig(keyColumn = "id", maintenanceEvery = 0,
        includeColumns = Seq("id", "payload")), wms)
    val target = new ParquetTarget(spark, Files.createTempDirectory("tgt_ess").toString)
    val b1 = Seq((1L, "a", 1L, "I"), (2L, "b", 1L, "I"))
      .toDF("id", "payload", "SYS_CHANGE_VERSION", "SYS_CHANGE_OPERATION")
    pipeline.runBatch(target, "t", b1, Watermark.blob(1L))
    assert(target.read().count() == 2)
    val b2 = Seq((1L, "a", 2L, "D"))
      .toDF("id", "payload", "SYS_CHANGE_VERSION", "SYS_CHANGE_OPERATION")
    pipeline.runBatch(target, "t", b2, Watermark.blob(2L))
    assert(target.read().select("id").as[Long].collect().toSet == Set(2L),
      "the tombstone must apply under aggressive field filters")
    // EXPLICITLY excluding the marker is a configuration error and fails
    // loudly (the P1/P2 essential-protected contract), never silently
    val bad = new CdcPipeline(spark, graft.operators.MsSqlCtDialect,
      PipelineConfig(keyColumn = "id", maintenanceEvery = 0,
        excludeColumns = Seq("SYS_CHANGE_OPERATION")), wms)
    val e = intercept[Exception] {
      bad.runBatch(target, "t2", b1, Watermark.blob(3L))
    }
    assert(e.getMessage.toLowerCase.contains("essential"))
  }

  test("empty-batch short-circuit commits only the watermark") {
    val tgtDir = Files.createTempDirectory("tgt2").toString
    val wms = new InMemoryWatermarkStore
    val pipeline = new CdcPipeline(spark, UpsertBlobDialect, PipelineConfig(), wms)
    val target = new ParquetTarget(spark, tgtDir)
    val empty = Seq.empty[(String, Long, String)]
      .toDF("ARCANE_MERGE_KEY", "createdon", "v")
    pipeline.runBatch(target, "t", empty, Watermark.blob(42L))
    assert(!target.exists)
    assert(wms.get("t").isDefined)
  }

  test("retried watermark commits surface in the retry-attempts metric") {
    import graft.core.{RetryPolicy, WatermarkStore}
    val inner = new InMemoryWatermarkStore
    var fails = 2
    val flaky = new WatermarkStore {
      override def get(t: String) = inner.get(t)
      override def set(t: String, wm: Watermark): Unit = {
        if (fails > 0) { fails -= 1; throw new java.io.IOException("blip") }
        inner.set(t, wm)
      }
    }
    val before = GraftMetrics.counter(GraftMetrics.RetryAttempts)
    val pipeline = new CdcPipeline(spark, UpsertBlobDialect, PipelineConfig(),
      flaky, RetryPolicy(sleeper = _ => ()))
    val empty = Seq.empty[(String, Long, String)]
      .toDF("ARCANE_MERGE_KEY", "createdon", "v")
    pipeline.runBatch(new ParquetTarget(spark,
      Files.createTempDirectory("tgt_rm").toString), "t", empty, Watermark.blob(9L))
    assert(inner.get("t").isDefined, "commit eventually succeeded")
    assert(GraftMetrics.counter(GraftMetrics.RetryAttempts) == before + 2,
      "each retried transient failure counted once")
  }

  test("backfill overwrite retries a transient watermark-commit failure") {
    import graft.core.WatermarkStore
    val inner = new InMemoryWatermarkStore
    var fails = 1
    val flaky = new WatermarkStore {
      override def get(t: String) = inner.get(t)
      override def set(t: String, wm: Watermark): Unit = {
        if (fails > 0) { fails -= 1; throw new java.io.IOException("blip") }
        inner.set(t, wm)
      }
    }
    val retriesBefore = GraftMetrics.counter(GraftMetrics.RetryAttempts)
    val updatesBefore = GraftMetrics.counter(GraftMetrics.WatermarkUpdates)
    val target = new ParquetTarget(spark, Files.createTempDirectory("tgt_ow_retry").toString)
    val full = Seq(("k1", 1L, false, "a"), ("k2", 1L, false, "b"))
      .toDF("ARCANE_MERGE_KEY", "versionnumber", "IsDelete", "v")
    // the overwrite has committed when the store blips: the backfill must
    // not fail for a commit the retry absorbs
    val wm = Watermark.blob(7L)
    Backfill.overwrite(target, "t", full, "ARCANE_MERGE_KEY",
      graft.operators.SynapseLinkDialect, wm, flaky)
    assert(inner.get("t").contains(wm), "the watermark is stored")
    assert(target.read().count() == 2L)
    assert(GraftMetrics.counter(GraftMetrics.RetryAttempts) == retriesBefore + 1,
      "the retried failure is counted once")
    assert(GraftMetrics.counter(GraftMetrics.WatermarkUpdates) == updatesBefore + 1)
  }

  test("backfill overwrite: dedup + tombstone filter + swap") {
    val tgtDir = Files.createTempDirectory("tgt3").toString
    val wms = new InMemoryWatermarkStore
    val target = new ParquetTarget(spark, tgtDir)
    val full = Seq(
      ("k1", 1L, false, "a"), ("k1", 2L, false, "b"),
      ("k2", 1L, true, "x"), ("k3", 1L, false, "c")
    ).toDF("ARCANE_MERGE_KEY", "versionnumber", "IsDelete", "v")
    Backfill.overwrite(target, "t", full, "ARCANE_MERGE_KEY",
      graft.operators.SynapseLinkDialect, Watermark.blob(1L), wms)
    val keys = target.read().select("ARCANE_MERGE_KEY").as[String].collect().toSet
    assert(keys == Set("k1", "k3")) // k2 tombstoned, k1 deduped to latest
  }

  test("a NULL MSSQL-CT marker is not a delete on the backfill and view paths") {
    import graft.operators.MsSqlCtDialect
    // row 2's SYS_CHANGE_OPERATION is NULL: not a delete, so every path
    // keeps it; row 3 is a real delete
    val rows = Seq[(Long, String, Long, Long, String)](
      (1L, "g", 5L, 1L, "I"), (2L, "g", 7L, 1L, null), (3L, "g", 9L, 1L, "D"))
      .toDF("id", "grp", "amount", "SYS_CHANGE_VERSION", "SYS_CHANGE_OPERATION")
    def tgt() = new ParquetTarget(spark, Files.createTempDirectory("tgt_null").toString)
    def ids(t: ParquetTarget) = t.read().select("id").as[Long].collect().toSet
    val wms = new InMemoryWatermarkStore

    val overwritten = tgt()
    Backfill.overwrite(overwritten, "o", rows, "id", MsSqlCtDialect, Watermark.blob(1L), wms)
    assert(ids(overwritten) == Set(1L, 2L), "overwrite backfill")

    val merged = tgt()
    Backfill.merge(merged, "m", rows, PipelineConfig(keyColumn = "id"),
      MsSqlCtDialect, Watermark.blob(1L), wms)
    assert(ids(merged) == Set(1L, 2L), "merge backfill onto an empty target")

    val (view, state) = (tgt(), tgt())
    ViewSink.processBatch(view, state, rows, "id", MsSqlCtDialect, Seq("grp"), "amount")
    assert(ids(state) == Set(1L, 2L), "first view batch")
    assert(view.read().select("cnt", "sum_value").as[(Long, Long)].collect().toSeq ==
      Seq((2L, 12L)), "the view aggregates the kept rows")
  }
}

class StructuredStreamingSpec extends SparkSpec {
  import spark.implicits._

  test("events hourly agg runs identically under Structured Streaming") {
    val dir = Files.createTempDirectory("stream").toString
    val norm = eventsNtz()
    norm.write.parquet(s"$dir/in")
    val in = spark.readStream.schema(norm.schema).parquet(s"$dir/in")
      .withColumn("ts_ntz", $"ts")
    val agg = in.groupBy(date_trunc("hour", $"ts_ntz").as("hour"), $"event_type")
      .agg(count(lit(1)).as("n"))
    val q = agg.writeStream.outputMode("complete")
      .format("memory").queryName("hourly").start()
    try {
      q.processAllAvailable()
      val streamed = spark.table("hourly").count()
      val batch = norm.withColumn("ts_ntz", $"ts")
        .groupBy(date_trunc("hour", $"ts_ntz"), $"event_type").count().count()
      assert(streamed == batch)
    } finally q.stop()
  }
}

class EventTimeWatermarkSpec extends SparkSpec {
  import spark.implicits._
  import org.apache.spark.sql.execution.streaming.runtime.MemoryStream

  test("append-mode windowed agg finalizes windows past the watermark, drops late data") {
    implicit val sqlCtx = spark.sqlContext
    val input = MemoryStream[(java.sql.Timestamp, Long)]
    val agg = input.toDF().toDF("ts", "v")
      .withWatermark("ts", "10 minutes")
      .groupBy(window($"ts", "5 minutes"))
      .agg(sum($"v").as("total"))
    val q = agg.writeStream.outputMode("append")
      .format("memory").queryName("wm_out")
      .option("checkpointLocation",
        java.nio.file.Files.createTempDirectory("wmckpt").toString)
      .start()
    def ts(min: Int) = java.sql.Timestamp.valueOf(f"2024-01-01 10:$min%02d:00")
    try {
      input.addData((ts(0), 1L), (ts(2), 2L))    // window [10:00,10:05)
      q.processAllAvailable()
      assert(spark.table("wm_out").count() == 0)  // not finalized yet
      input.addData((ts(30), 5L))                 // advances watermark to 10:20
      q.processAllAvailable()
      input.addData((ts(31), 1L))                 // trigger another batch to emit
      q.processAllAvailable()
      val done = spark.table("wm_out").select($"total").as[Long].collect().toSet
      assert(done.contains(3L))                   // [10:00,10:05) finalized with 1+2
      input.addData((ts(1), 100L))                // LATE: before watermark → dropped
      q.processAllAvailable()
      val after = spark.table("wm_out").select($"total").as[Long].collect().toSet
      assert(!after.contains(100L) && !after.contains(103L))
    } finally q.stop()
  }

  // Exact streaming dedup with BOUNDED state: dropDuplicatesWithinWatermark
  // keeps a key only until the watermark passes it, so state never grows
  // with the stream — the continuous-ingest twin of the batch exact dedup
  // (at 100 TB/day the unbounded dropDuplicates state would be the outage).
  test("dropDuplicatesWithinWatermark dedups with bounded state; keys expire") {
    implicit val sqlCtx = spark.sqlContext
    val input = MemoryStream[(java.sql.Timestamp, Long, String)]
    val q = input.toDF().toDF("ts", "doc_id", "text")
      .withWatermark("ts", "10 minutes")
      .dropDuplicatesWithinWatermark("doc_id")
      .writeStream.outputMode("append")
      .format("memory").queryName("ddw_out")
      .option("checkpointLocation",
        java.nio.file.Files.createTempDirectory("ddwckpt").toString)
      .start()
    def ts(min: Int) = java.sql.Timestamp.valueOf(f"2024-01-01 10:$min%02d:00")
    try {
      input.addData((ts(0), 1L, "a"), (ts(1), 1L, "a dup"), (ts(2), 2L, "b"))
      q.processAllAvailable()
      assert(spark.table("ddw_out").select($"doc_id").as[Long].collect().toSeq.sorted
        == Seq(1L, 2L), "in-window duplicate of key 1 suppressed")
      // advance the watermark far past key 1's expiry, then re-send it:
      // the key re-emits because its dedup state was dropped — bounded
      // state is exactly this trade
      input.addData((ts(40), 3L, "c"))
      q.processAllAvailable()
      input.addData((ts(41), 1L, "a again"))
      q.processAllAvailable()
      val ids = spark.table("ddw_out").select($"doc_id").as[Long].collect().toSeq
      assert(ids.count(_ == 1L) == 2, "expired key must re-emit after the watermark")
    } finally q.stop()
  }

  // Stream-stream inner join with an event-time interval bound: the
  // attribution shape (view ⋈ click within 10 minutes, same user). Both
  // sides carry watermarks and the join condition bounds click_ts relative
  // to view_ts, so each side's buffered state expires as the watermarks
  // advance — without the interval bound the state would grow with the
  // stream, which at ingest scale is the outage.
  test("watermarked stream-stream interval join matches the batch join") {
    implicit val sqlCtx = spark.sqlContext
    val views = MemoryStream[(java.sql.Timestamp, Long, Long)]
    val clicks = MemoryStream[(java.sql.Timestamp, Long, Long)]
    def ts(min: Int) = java.sql.Timestamp.valueOf(f"2024-01-01 10:$min%02d:00")
    val vDf = views.toDF().toDF("view_ts", "user_id", "view_id")
      .withWatermark("view_ts", "5 minutes")
    val cDf = clicks.toDF().toDF("click_ts", "c_user_id", "click_id")
      .withWatermark("click_ts", "5 minutes")
    val cond = $"user_id" === $"c_user_id" &&
      $"click_ts" >= $"view_ts" &&
      $"click_ts" <= $"view_ts" + expr("INTERVAL 10 MINUTES")
    val q = vDf.join(cDf, cond)
      .select($"view_id", $"click_id")
      .writeStream.outputMode("append")
      .format("memory").queryName("ssj_out")
      .option("checkpointLocation",
        java.nio.file.Files.createTempDirectory("ssjckpt").toString)
      .start()
    val vRows = Seq((ts(0), 1L, 100L), (ts(2), 2L, 200L), (ts(20), 1L, 101L))
    val cRows = Seq((ts(5), 1L, 900L),   // joins view 100 (within 10m)
      (ts(15), 1L, 901L),                 // outside view 100's bound; before 101
      (ts(21), 1L, 902L),                 // joins view 101
      (ts(6), 3L, 903L))                  // no matching user
    try {
      views.addData(vRows: _*)
      clicks.addData(cRows: _*)
      q.processAllAvailable()
      val streamed = spark.table("ssj_out")
        .as[(Long, Long)].collect().toSet
      val batch = vRows.toDF("view_ts", "user_id", "view_id")
        .join(cRows.toDF("click_ts", "c_user_id", "click_id"), cond)
        .select($"view_id", $"click_id").as[(Long, Long)].collect().toSet
      assert(streamed == batch, s"streamed $streamed != batch $batch")
      assert(streamed == Set((100L, 900L), (101L, 902L)))
    } finally q.stop()
  }
}
