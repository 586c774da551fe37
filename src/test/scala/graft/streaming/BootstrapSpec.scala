package graft.streaming

import graft.SparkSpec
import graft.core.Naming
import org.apache.spark.sql.types._

import java.nio.file.{Files, Paths}

class BootstrapSpec extends SparkSpec {

  test("staging cleanup drops only this stream's staging dirs") {
    val wh = Files.createTempDirectory("wh").toString
    val mine = Naming.stagingTable("s1")
    val other = Naming.stagingTable("s2")
    val backfill = Naming.backfillTable("s1", "b1")
    Seq(mine, other, backfill, "unrelated").foreach(n =>
      Files.createDirectories(Paths.get(wh, n)))
    val dropped = Bootstrap.cleanupStagingTables(spark, wh, "s1")
    assert(dropped == Seq(mine))
    assert(Files.exists(Paths.get(wh, other)))
    assert(Files.exists(Paths.get(wh, backfill)))
  }

  test("outdated backfill cleanup keeps the current backfill id") {
    val wh = Files.createTempDirectory("wh2").toString
    val current = Naming.backfillTable("s1", "b2")
    val old = Naming.backfillTable("s1", "b1")
    val oldShard = Naming.shardTable("s1", "b1", 0)
    Seq(current, old, oldShard).foreach(n => Files.createDirectories(Paths.get(wh, n)))
    val dropped = Bootstrap.cleanupOutdatedBackfills(spark, wh, "s1", Some("b2")).sorted
    assert(dropped == Seq(old, oldShard).sorted)
    assert(Files.exists(Paths.get(wh, current)))
  }

  test("createTargetIfMissing commits an empty snapshot with the schema") {
    val dir = Files.createTempDirectory("tgt").toString
    val schema = StructType(Seq(StructField("id", LongType), StructField("v", StringType)))
    val t = Bootstrap.createTargetIfMissing(spark, dir, schema)
    assert(t.exists)
    assert(t.read().schema.fieldNames.toSeq == Seq("id", "v"))
    assert(t.read().count() == 0)
    // idempotent: second call leaves the version unchanged
    Bootstrap.createTargetIfMissing(spark, dir, schema)
    assert(t.currentVersion.contains(1))
  }

  test("metrics registry counters and streaming listener names") {
    GraftMetrics.reset()
    GraftMetrics.inc(GraftMetrics.RowsIncoming, 42)
    GraftMetrics.inc(GraftMetrics.WatermarkUpdates)
    GraftMetrics.gauge(GraftMetrics.WatermarkAge, 1234)
    val snap = GraftMetrics.snapshot()
    assert(snap("arcane.stream.rows.incoming") == 42)
    assert(snap("arcane.stream.watermark.updates") == 1)
    assert(snap("arcane.stream.watermark.age") == 1234)
  }
}

class MaintenanceSpec extends SparkSpec {
  import spark.implicits._

  test("analyze computes rows, null counts, min/max and persists sidecar") {
    val dir = java.nio.file.Files.createTempDirectory("ana").toString
    val t = new ParquetTarget(spark, dir)
    // `s` holds a quote, a backslash and a newline: the sidecar must
    // still be valid JSON that reads back to exactly the returned map
    t.commit(Seq((1L, Some("a"), "say \"hi\""), (2L, None, "C:\\new\\dir"),
      (3L, Some("c"), "two\nlines")).toDF("id", "v", "s"))
    val stats = t.analyze()
    assert(stats("rows") == "3")
    assert(stats("nulls:v") == "1")
    assert(stats("min:id") == "1" && stats("max:id") == "3")
    assert(stats("min:s") == "C:\\new\\dir" && stats("max:s") == "two\nlines")
    val persisted = graft.core.MiniJson.parse(t.readStats().get).asObj
      .map { case (k, v) => k -> v.asStr }
    assert(persisted == stats)
  }

  test("adaptive trigger sizing: row estimate, cap, partition clamp") {
    val schema = org.apache.spark.sql.types.StructType(Seq(
      org.apache.spark.sql.types.StructField("id", org.apache.spark.sql.types.LongType),
      org.apache.spark.sql.types.StructField("s", org.apache.spark.sql.types.StringType)))
    val rowBytes = AdaptiveTrigger.estimateRowBytes(schema, avgStringLen = 100)
    assert(rowBytes == 8 + 8 + 108)
    val cap = AdaptiveTrigger.maxRowsPerTrigger(1L << 30, rowBytes, cutoff = 0.6)
    assert(cap > 0 && cap < (1L << 30))
    assert(AdaptiveTrigger.commitPartitions(32) == 16)
    assert(AdaptiveTrigger.commitPartitions(1) == 1)
  }
}

class BackfillStateSpec extends SparkSpec {

  test("begin creates pending shards; resume skips combined ones") {
    val dir = java.nio.file.Files.createTempDirectory("bfstate").toString
    val mgr = new BackfillStateManager(spark, dir)
    assert(mgr.begin("b1", 4) == Seq(0, 1, 2, 3))
    mgr.markStaged("b1", 0, """{"v":1}""")
    mgr.markCombined("b1", 0)
    mgr.markStaged("b1", 2)
    // resume: shard 0 done, shards 1-3 remain (2 is STAGED, needs combining)
    assert(mgr.begin("b1", 4).sorted == Seq(1, 2, 3))
    assert(!mgr.isComplete("b1"))
    Seq(1, 2, 3).foreach(mgr.markCombined("b1", _))
    assert(mgr.isComplete("b1"))
  }

  test("state isolates backfill ids; fresh manager resumes from disk") {
    val dir = java.nio.file.Files.createTempDirectory("bfstate2").toString
    val mgr = new BackfillStateManager(spark, dir)
    mgr.begin("b1", 2)
    mgr.markCombined("b1", 0)
    mgr.begin("b2", 2)
    val mgr2 = new BackfillStateManager(spark, dir) // fresh process
    assert(mgr2.begin("b1", 2) == Seq(1))
    assert(mgr2.read("b2").size == 2)
  }

  test("mssql version-time bridge and probe query shapes") {
    import graft.sources.MsSqlChangeTracking
    assert(MsSqlChangeTracking.timestampToVersionQuery("2024-01-01T00:00:00")
      .contains("MIN(commit_ts)"))
    assert(MsSqlChangeTracking.versionToTimestampQuery(42L).contains("commit_ts >= 42"))
    assert(MsSqlChangeTracking.hasChangesQuery("dbo", "t", 7)
      == "SELECT TOP 1 1 FROM CHANGETABLE(CHANGES [dbo].[t], 7) AS ct")
  }
}
