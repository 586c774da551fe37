package perfbench

import java.nio.charset.StandardCharsets
import java.security.MessageDigest
import java.time.LocalDateTime

import scala.collection.mutable.ArrayBuffer

import perfbench.Seeded.mix

import graft.core.{FileWatermarkStore, Watermark}
import graft.operators.MsSqlCtDialect
import graft.streaming.{Backfill, CdcPipeline, ParquetTarget, PipelineConfig,
  VersionedChangeSource}
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** The paper's own pipeline, end to end, on an MSSQL change-tracking row
  * shape (FIXTURES §1): a backfill of a snapshot on disk, a catch-up that
  * drains a fixed backlog through the versioned stream source, then an
  * open-loop steady stream whose source versions come due by the clock.
  */
object CdcStream {

  /** Input sizing. The backlog is drained in batches of `capVersions`
    * versions; the steady phase offers `rate` versions per second.
    */
  final case class Shape(keys: Int = 100000, snapshotRows: Int = 125000,
                         rowsPerVersion: Int = 20, backlogVersions: Int = 2000,
                         capVersions: Int = 500, rate: Double = 100.0,
                         minSteadyS: Double = 15.0, backfills: Int = 7)

  val shape = Shape()

  private val pkFields = Seq(
    StructField("x", IntegerType),
    StructField("SYS_CHANGE_VERSION", LongType),
    StructField("SYS_CHANGE_OPERATION", StringType),
    StructField("y", IntegerType),
    StructField("z", DecimalType(30, 6)),
    StructField("a", BinaryType),
    StructField("b", TimestampNTZType),
    StructField("cd", IntegerType),
    StructField("e", FloatType),
    StructField("ChangeTrackingVersion", LongType),
    StructField("ARCANE_MERGE_KEY", StringType))
  /** The stream carries one column the backfilled snapshot lacks, so the
    * first streamed batch evolves the target's schema.
    */
  val streamSchema: StructType = StructType(pkFields :+ StructField("note", StringType))

  private val hexDigits = "0123456789abcdef".toCharArray

  /** `MergeKey.mergeKeyHex` of a one-column key, computed row by row. */
  private def mergeKey(x: Int): String = {
    val d = MessageDigest.getInstance("SHA-256").digest(x.toString.getBytes(StandardCharsets.UTF_8))
    val out = new Array[Char](d.length * 2)
    var i = 0
    while (i < d.length) {
      out(2 * i) = hexDigits((d(i) >> 4) & 0xf)
      out(2 * i + 1) = hexDigits(d(i) & 0xf)
      i += 1
    }
    new String(out)
  }

  /** The change rows of one source version, a pure function of (seed,
    * version). About 85% are updates skewed toward low keys, 10% inserts of
    * keys beyond the snapshot's range and 5% deletes; a key appears at most
    * once per version, so the in-batch dedup never has to break a tie.
    */
  def changeRows(seed: Long, s: Shape, v: Long): Seq[Row] = {
    val seen = scala.collection.mutable.HashSet.empty[Int]
    val out = ArrayBuffer.empty[Row]
    val snapKeys = s.keys * 4 / 5
    var j = 0
    while (j < s.rowsPerVersion) {
      val h = mix(mix(seed, v), j)
      val u = ((h >>> 11) & ((1L << 53) - 1)).toDouble / (1L << 53)
      val pick = java.lang.Long.remainderUnsigned(h, 100).toInt
      val (x, op) =
        if (pick < 10) (snapKeys + (math.abs(mix(h, 1) % (s.keys - snapKeys))).toInt, "I")
        else if (pick < 15) ((math.abs(mix(h, 2) % snapKeys)).toInt, "D")
        else ((snapKeys * u * u * u).toInt, "U")
      if (seen.add(x)) {
        val r = mix(h, 3)
        out += Row(x, v, op, (r % 100000).toInt,
          java.math.BigDecimal.valueOf(math.abs(r % 100000000000L), 6),
          java.nio.ByteBuffer.allocate(8).putLong(r).array(),
          LocalDateTime.of(2024, 1, 1, 0, 0).plusSeconds(v),
          (r >>> 40).toInt & 0xffff, (u * 1000).toFloat, v, mergeKey(x), s"v$v")
      }
      j += 1
    }
    out.toSeq
  }

  /** The snapshot on disk, generated in Spark: `snapshotRows` rows over
    * the first 80% of the key space, about 20% of them superseded by a later
    * row of the same key and about 5% tombstones; versions 1..snapshotRows.
    */
  def snapshot(spark: SparkSession, seed: Long, s: Shape): DataFrame = {
    val snapKeys = s.keys * 4 / 5
    val h = (k: Int) => xxhash64(lit(seed), col("id"), lit(k))
    val x = when(col("id") < snapKeys, col("id")).otherwise(pmod(h(1), lit(snapKeys.toLong)))
    spark.range(s.snapshotRows)
      .select(
        x.cast("int").as("x"),
        (col("id") + 1).as("SYS_CHANGE_VERSION"),
        when(pmod(h(2), lit(20L)) === 0, lit("D")).otherwise(lit("I")).as("SYS_CHANGE_OPERATION"),
        pmod(h(3), lit(100000L)).cast("int").as("y"),
        (pmod(h(4), lit(100000000000L)).cast("decimal(30,0)") / lit(1000000))
          .cast("decimal(30,6)").as("z"),
        unhex(hex(h(5))).as("a"),
        (lit("2023-01-01 00:00:00").cast("timestamp_ntz") +
          make_dt_interval(lit(0), lit(0), lit(0), col("id").cast("decimal(18,6)"))).as("b"),
        pmod(h(6), lit(65536L)).cast("int").as("cd"),
        (pmod(h(7), lit(1000L)).cast("float")).as("e"),
        (col("id") + 1).as("ChangeTrackingVersion"))
      .withColumn("ARCANE_MERGE_KEY", graft.core.MergeKey.mergeKeyHex(Seq(col("x"))))
  }

  /** The benchmark's change feed. The stream's offsets count versions
    * since the backfill (`base`), like a change-tracking reader started at
    * the snapshot's version. Before `goLive` the feed offers the fixed
    * backlog; after, one more version comes due every 1/rate seconds, so
    * the offered load does not slow when the pipeline does. `close` stops
    * the clock at the version due at that moment.
    */
  final class ClockedFeed(seed: Long, s: Shape, base: Long) extends VersionedChangeSource {
    @volatile private var liveAtNs = Long.MaxValue
    @volatile private var closedAt = Long.MaxValue

    def goLive(atNs: Long): Unit = liveAtNs = atNs
    def liveAt: Long = liveAtNs
    /** Stops the clock; returns the last source version offered. */
    def close(): Long = { closedAt = currentVersion(); base + closedAt }

    override def currentVersion(): Long =
      if (closedAt != Long.MaxValue) closedAt
      else {
        val t = System.nanoTime()
        if (t < liveAtNs) s.backlogVersions.toLong
        else s.backlogVersions + ((t - liveAtNs) / 1e9 * s.rate).toLong
      }

    override def fetchChanges(from: Long, to: Long, shard: Int, numShards: Int): Iterator[Row] = {
      val t0 = System.nanoTime()
      FeedStats.record(((base + from + 1) to (base + to)).iterator
        .flatMap(v => changeRows(seed, s, v))
        .filter(r => Math.floorMod(r.getInt(0), numShards) == shard)
        .toVector, t0)
    }
  }

  /** Order-independent content digest: row count plus the sum of a 64-bit
    * hash of every column, taken in name order.
    */
  def digest(df: DataFrame): (Long, java.math.BigDecimal) = {
    val cols = df.columns.sorted.map(col).toSeq
    val r = df.agg(count(lit(1)), sum(xxhash64(cols: _*).cast("decimal(38,0)"))).head()
    (r.getLong(0), Option(r.getDecimal(1)).getOrElse(java.math.BigDecimal.ZERO))
  }

  def run(ctx: Ctx): Outcome = {
    val spark = ctx.spark
    val s = shape
    val seed = ctx.seed
    val tracer = ctx.tracer

    // set-up, repeated so its median is steady: generate the snapshot
    val genS = (0 until 3).map { i =>
      val dir = ctx.dir(s"snapshot_$i")
      Main.timedS(snapshot(spark, seed, s).write.mode("overwrite").parquet(dir))._2
    }
    (1 until 3).foreach(i => Main.deleteTree(ctx.dir(s"snapshot_$i")))
    val snapDir = ctx.dir("snapshot_0")

    // warm-up on a throwaway target: the whole snapshot backfilled, then
    // three catch-up-sized batches through a stream of another seed's feed
    val snapVersion = s.snapshotRows.toLong
    val (_, warmS) = Main.timedS {
      val t = new ParquetTarget(spark, ctx.dir("warm_target"))
      val w = new FileWatermarkStore(ctx.dir("warm_wm"))
      Backfill.overwrite(t, "warm", spark.read.parquet(snapDir), "ARCANE_MERGE_KEY",
        MsSqlCtDialect, Watermark.mssql(snapVersion), w)
      val p = new CdcPipeline(spark, MsSqlCtDialect, PipelineConfig(), w)
      val warmShape = s.copy(backlogVersions = 3 * s.capVersions)
      val q = FeedStream.start(spark, s"perfbench-cdc-warm-$seed",
        new ClockedFeed(seed + 1, warmShape, snapVersion), streamSchema, s.capVersions,
        ctx.dir("warm_checkpoint")) { (batch, _) =>
        if (!batch.isEmpty) {
          val maxV = batch.agg(max(col("SYS_CHANGE_VERSION"))).head().getLong(0)
          p.runBatch(t, "warm", batch, Watermark.mssql(maxV))
        }
      }
      try q.processAllAvailable() finally q.stop()
      Main.deleteTree(ctx.dir("warm_target"))
    }

    val window = new Main.Window
    FeedStats.reset()
    val deadline = System.nanoTime() + ctx.seconds * 1000000000L

    // phase 1: backfill, repeated into the same target (each overwrite
    // replaces the last) so its median is steady
    val target = new ParquetTarget(spark, ctx.dir("target"))
    val fileStore = new FileWatermarkStore(ctx.dir("watermarks"))
    val backfillS = (0 until s.backfills).map { _ =>
      Main.timedS(tracer.span("backfill", "overwrite") {
        Backfill.overwrite(target, "cdc", spark.read.parquet(snapDir), "ARCANE_MERGE_KEY",
          MsSqlCtDialect, Watermark.mssql(snapVersion), fileStore)
      })._2
    }

    // phases 2-3: one stream drains the backlog, then runs open-loop
    val backlogEnd = snapVersion + s.backlogVersions
    val feed = new ClockedFeed(seed, s, snapVersion)
    val store = new TimedStore(fileStore, tracer, (v, at) =>
      if (v >= backlogEnd && feed.liveAt == Long.MaxValue) feed.goLive(at))
    val config = PipelineConfig()
    val pipeline = new CdcPipeline(spark, MsSqlCtDialect, config, store)
    val batches = ArrayBuffer.empty[Map[String, Any]]
    val nonEmpty = new java.util.concurrent.atomic.AtomicLong(0L)
    val queryName = s"perfbench-cdc-$seed"
    val streamStart = System.nanoTime()
    val q = FeedStream.start(spark, queryName, feed, streamSchema, s.capVersions,
        ctx.dir("checkpoint")) { (batch, batchId) =>
      val t0 = System.nanoTime()
      tracer.span("streaming", "batch", Map("batch_id" -> batchId)) {
        if (!tracer.span("sources", "is_empty")(batch.isEmpty)) {
          val maxV = tracer.span("sources", "max_version")(
            batch.agg(max(col("SYS_CHANGE_VERSION"))).head().getLong(0))
          val maintenance = nonEmpty.incrementAndGet() % config.maintenanceEvery == 0
          tracer.span("pipeline", "run_batch",
            Map("batch_id" -> batchId, "maintenance" -> maintenance,
              "catch_up" -> (maxV <= backlogEnd))) {
            pipeline.runBatch(target, "cdc", batch, Watermark.mssql(maxV))
          }
          batches.synchronized(batches += Map("batch_id" -> batchId, "max_version" -> maxV,
            "start_ns" -> t0, "end_ns" -> System.nanoTime(), "maintenance" -> maintenance,
            "storage_bytes" -> Main.storageBytes(spark)))
        }
      }
    }

    var failed = 0L
    var checks = Seq.empty[(String, Boolean, String)]
    var finalVersion = -1L
    try {
      while (feed.liveAt == Long.MaxValue && q.isActive) Thread.sleep(5)
      if (!q.isActive) throw q.exception.getOrElse(new IllegalStateException("stream stopped"))
      val steadyEnd = math.max(deadline, feed.liveAt + (s.minSteadyS * 1e9).toLong)
      // at least one maintenance batch, however slow the batches
      while ((System.nanoTime() < steadyEnd || nonEmpty.get < config.maintenanceEvery) &&
          q.isActive) Thread.sleep(10)
      finalVersion = feed.close()
      q.processAllAvailable()
    } catch {
      case e: Exception =>
        System.err.println(s"[perfbench] stream failed: $e")
        failed += 1
    } finally q.stop()
    val windowSamples = window.samples

    // correctness, off the clock: target and watermark against a plain
    // groupBy/max_by over the regenerated inputs
    if (failed == 0) {
      val wm = store.get("cdc").map(_.version)
      checks :+= (("watermark", wm.contains(Watermark.mssql(finalVersion).version),
        s"committed=${wm.getOrElse("none")} expected=$finalVersion"))
      val changes = spark.createDataFrame(
        spark.sparkContext.range(snapVersion + 1, finalVersion + 1, numSlices = ctx.cores)
          .flatMap(v => changeRows(seed, s, v)), streamSchema)
      val all = spark.read.parquet(snapDir).withColumn("note", lit(null).cast("string"))
        .unionByName(changes)
      val cols = streamSchema.fieldNames
      val expected = all.groupBy(col("ARCANE_MERGE_KEY"))
        .agg(max_by(struct(cols.map(col).toSeq: _*), col("SYS_CHANGE_VERSION")).as("r"))
        .select(cols.map(c => col("r." + c).as(c)).toSeq: _*)
        .filter(col("SYS_CHANGE_OPERATION") =!= "D")
      val got = target.read()
      val (gn, gh) = digest(got.select(cols.map(col).toSeq: _*))
      val (en, eh) = digest(expected)
      checks :+= (("target_content", gn == en && gh == eh, s"rows=$gn/$en hash=$gh/$eh"))
    }
    val ops = batches.size.toLong + s.backfills + checks.size
    val failedOps = failed + checks.count(!_._2)
    Main.deleteTree(ctx.dir("target"))

    Outcome(ops, failedOps, checks,
      setup = Map("gen_s" -> genS, "warmup_s" -> warmS),
      samples = windowSamples ++ Map(
        "query" -> queryName,
        "backfill_s" -> backfillS,
        "snapshot_rows" -> s.snapshotRows,
        "stream_start_ns" -> streamStart,
        "backlog_end" -> backlogEnd,
        "backlog_rows" -> rowsIn(seed, s, snapVersion, backlogEnd),
        "committed_rows" -> rowsIn(seed, s, snapVersion, finalVersion),
        "live_at_ns" -> feed.liveAt,
        "rate" -> s.rate,
        "final_version" -> finalVersion,
        "commits" -> store.commits.toSeq.map { case (v, at) => Seq(v, at) },
        "batches" -> batches.toSeq,
        "fetched_rows" -> FeedStats.rows.get(),
        "fetch_s" -> FeedStats.nanos.get() / 1e9))
  }

  /** Change rows of versions (from, to]. */
  def rowsIn(seed: Long, s: Shape, from: Long, to: Long): Long =
    ((from + 1) to to).iterator.map(v => changeRows(seed, s, v).size.toLong).sum
}
