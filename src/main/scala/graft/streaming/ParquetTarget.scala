package graft.streaming

import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Paths, StandardCopyOption}

import org.apache.spark.sql.{DataFrame, SaveMode, SparkSession}
import org.apache.spark.sql.functions.{col, expr, max, min}
import org.apache.spark.sql.types.StructType

/** Versioned parquet target table for local / test deployments.
  *
  * Production targets are Iceberg/Delta tables (SQL MERGE via
  * [[graft.operators.MergeSqlBuilder]]); this class supplies the same
  * contract — read current snapshot, atomically replace, retain/expire
  * history, compact — over a plain directory:
  *
  *   dir/v_00000001/...parquet     snapshots
  *   dir/_CURRENT                  pointer file (atomic move = commit)
  *
  * Readers resolve the pointer then read an immutable snapshot directory, so
  * a concurrent commit never yields torn reads — the same snapshot-isolation
  * idea Iceberg's metadata pointer provides, scaled down.
  */
final class ParquetTarget(spark: SparkSession, dir: String) {
  private val base = Paths.get(dir)
  private val pointer = base.resolve("_CURRENT")

  def exists: Boolean = Files.exists(pointer)

  def currentVersion: Option[Int] =
    if (!exists) None
    else Some(new String(Files.readAllBytes(pointer), StandardCharsets.UTF_8).trim.toInt)

  private def versionDir(v: Int) = base.resolve(f"v_$v%08d")

  /** Current snapshot as a DataFrame; empty frame with `emptySchema` when the
    * table does not exist yet.
    */
  def read(emptySchema: Option[StructType] = None): DataFrame =
    currentVersion match {
      case Some(v) => spark.read.parquet(versionDir(v).toString)
      case None =>
        val schema = emptySchema.getOrElse(
          throw new IllegalStateException(s"target $dir does not exist and no schema given"))
        spark.createDataFrame(spark.sparkContext.emptyRDD[org.apache.spark.sql.Row], schema)
    }

  /** Commit a new snapshot: write v+1 fully, then atomically swing the
    * pointer. A crash before the move leaves the old snapshot current.
    */
  def commit(df: DataFrame, partitions: Option[Int] = None): Int = {
    val next = currentVersion.getOrElse(0) + 1
    val out = partitions.map(df.coalesce).getOrElse(df)
    out.write.mode(SaveMode.Overwrite).parquet(versionDir(next).toString)
    Files.createDirectories(base)
    val tmp = base.resolve("_CURRENT.tmp")
    Files.write(tmp, next.toString.getBytes(StandardCharsets.UTF_8))
    Files.move(tmp, pointer, StandardCopyOption.ATOMIC_MOVE,
      StandardCopyOption.REPLACE_EXISTING)
    next
  }

  /** Live (readable) snapshot versions, ascending — committed versions that
    * have not been expired. Orphan dirs above the pointer are excluded.
    */
  def versions: Seq[Int] = {
    val cur = currentVersion.getOrElse(return Nil)
    listVersions().filter(_ <= cur).sorted
  }

  /** Time travel: read snapshot `v` exactly as committed (the Iceberg
    * `VERSION AS OF` contract, scaled down). Fails with a clear error when
    * `v` was never committed or has been expired — a silent empty frame
    * would corrupt any downstream diff.
    */
  def readVersion(v: Int): DataFrame = {
    val live = versions
    require(live.contains(v),
      s"snapshot v$v not available in $dir (live: ${live.mkString(",")})" +
        " — expired or never committed")
    spark.read.parquet(versionDir(v).toString)
  }

  /** Incremental consumption between two snapshots (the Iceberg
    * incremental-scan / CDC-read contract): per-key
    * added/removed/changed/unchanged status, reconstructed by
    * [[graft.operators.SnapshotDiff]] over the two time-travel reads —
    * fingerprints shuffle, payloads never do. `fingerprintCols` defaults to
    * every non-key column.
    */
  def changesBetween(fromV: Int, toV: Int, keyCol: String,
                     fingerprintCols: Seq[String] = Nil): DataFrame = {
    require(fromV < toV, s"changesBetween needs fromV < toV, got $fromV >= $toV")
    import org.apache.spark.sql.functions._
    val oldSnap = readVersion(fromV)
    val newSnap = readVersion(toV)
    val cols = if (fingerprintCols.nonEmpty) fingerprintCols
      else oldSnap.columns.filterNot(_ == keyCol).toSeq
    // per-column "len:value" framing with an explicit null tag: concat_ws
    // SKIPS nulls, so ("a", null) vs (null, "a") -- and boundary shifts
    // like ("ab","c") vs ("a","bc") -- would otherwise fingerprint
    // identically and a real change would read as "unchanged"
    val fp = md5(concat_ws("|", cols.map { c =>
      val s = col(c).cast("string")
      coalesce(concat(length(s).cast("string"), lit(":"), s), lit("null"))
    }: _*))
    graft.operators.SnapshotDiff.diff(oldSnap, newSnap, keyCol, fp)
  }

  /** Snapshot expiration (maintenance X2 analog): delete all but the last
    * `keep` snapshot directories.
    */
  def expireSnapshots(keep: Int = 2): Seq[Int] = {
    val cur = currentVersion.getOrElse(return Nil)
    val versions = listVersions().filter(_ <= cur).sorted.reverse
    val expire = versions.drop(math.max(1, keep))
    expire.foreach(v => deleteRecursively(versionDir(v)))
    expire
  }

  /** Compaction (maintenance X1 analog): rewrite the current snapshot into
    * `numFiles` files.
    */
  def compact(numFiles: Int): Int = commit(read(), Some(numFiles))

  /** `OPTIMIZE ... ZORDER BY (x, y)` analog (X1's clustering sibling):
    * rewrite the current snapshot ordered along a space-filling curve so
    * each output file owns a CONTIGUOUS curve range — per-file x/y footer
    * bounds become tight tiles and 2-D range scans skip most files
    * (data-skipping is what the curve buys; `FooterStats`/
    * `Layout.bucketsForRange` consume it). Content is byte-identical as a
    * set; only layout changes. `repartitionByRange` on the key samples
    * range boundaries (one pass + one shuffle), `sortWithinPartitions`
    * finishes the clustering — no global single-partition sort.
    */
  def optimizeByCurve(xCol: String, yCol: String, bits: Int, numFiles: Int,
                      hilbert: Boolean = false): Int = {
    import graft.functions.Layout
    val df = read()
    val r = df.agg(min(col(xCol)).cast("long"), max(col(xCol)).cast("long"),
      min(col(yCol)).cast("long"), max(col(yCol)).cast("long")).head()
    // empty snapshot or an all-null curve column → no bounds to scale
    // against (min/max aggregate to NULL; getLong would NPE on unboxing).
    // Layout is moot without a key — fall back to a plain compaction.
    if (r.isNullAt(0) || r.isNullAt(2)) return compact(numFiles)
    val (xMin, xSpan) = (r.getLong(0), math.max(r.getLong(1) - r.getLong(0), 1L))
    val (yMin, ySpan) = (r.getLong(2), math.max(r.getLong(3) - r.getLong(2), 1L))
    Layout.requireScaleSafe(xSpan, bits, xCol)
    Layout.requireScaleSafe(ySpan, bits, yCol)
    val zx = expr(Layout.scaledSql(xCol, xMin.toString, xSpan.toString, bits, duck = false))
    val zy = expr(Layout.scaledSql(yCol, yMin.toString, ySpan.toString, bits, duck = false))
    val key = if (hilbert) Layout.hilbertKey(bits, zx, zy) else Layout.zOrderKey(bits, zx, zy)
    val shaped = df.withColumn("__zk", key)
      .repartitionByRange(numFiles, col("__zk"))
      .sortWithinPartitions(col("__zk"))
      .drop("__zk")
    commit(shaped)
  }

  /** Orphan cleanup (X3 analog): version dirs above the pointer (failed
    * commits) are unreachable — remove them.
    */
  def removeOrphans(): Seq[Int] = {
    val cur = currentVersion.getOrElse(-1)
    val orphans = listVersions().filter(_ > cur)
    orphans.foreach(v => deleteRecursively(versionDir(v)))
    orphans
  }

  /** Statistics collection (maintenance X4 analog of `ANALYZE TABLE ...
    * COMPUTE STATISTICS`): row count + per-column null counts and min/max
    * for atomic columns, persisted as a `_STATS.json` sidecar the way the
    * reference stores stats with the table. Returns the stats map.
    */
  def analyze(columns: Seq[String] = Nil): Map[String, String] = {
    import org.apache.spark.sql.functions._
    val df = read()
    import org.apache.spark.sql.types._
    val atomic: DataType => Boolean = {
      case _: ArrayType | _: StructType | _: MapType | BinaryType => false
      case _ => true
    }
    val cols = if (columns.nonEmpty) columns
      else df.schema.fields.filter(f => atomic(f.dataType)).map(_.name).toSeq
    val aggs = count(lit(1)).as("__rows") +:
      cols.flatMap(c => Seq(
        sum(when(col(c).isNull, 1L).otherwise(0L)).as(s"nulls:$c"),
        min(col(c)).cast("string").as(s"min:$c"),
        max(col(c)).cast("string").as(s"max:$c")))
    val row = df.agg(aggs.head, aggs.tail: _*).head()
    val stats = row.schema.fieldNames.zipWithIndex.map { case (n, i) =>
      (if (n == "__rows") "rows" else n) -> Option(row.get(i)).map(_.toString).getOrElse("null")
    }.toMap
    val json = stats.toSeq.sortBy(_._1)
      .map { case (k, v) => s""""${k.replace("\"", "")}": "${v.replace("\"", "")}"""" }
      .mkString("{", ", ", "}")
    Files.createDirectories(base)
    Files.write(base.resolve("_STATS.json"), json.getBytes(StandardCharsets.UTF_8))
    stats
  }

  def readStats(): Option[String] = {
    val p = base.resolve("_STATS.json")
    if (Files.exists(p)) Some(new String(Files.readAllBytes(p), StandardCharsets.UTF_8))
    else None
  }

  private def listVersions(): Seq[Int] =
    if (!Files.exists(base)) Nil
    else {
      val s = Files.list(base)
      try s.iterator().asInstanceOf[java.util.Iterator[java.nio.file.Path]]
        .asScala_toSeq
        .map(_.getFileName.toString)
        // strict digit match, not startsWith, and only names that fit an
        // Int: an operator-made 'v_3.bak' or a copy-tool leftover such as
        // 'v_99999999999' must be ignored, not NumberFormatException the
        // next maintenance pass (and kill the stream with it)
        .filter(_.matches("v_\\d+"))
        .flatMap(_.stripPrefix("v_").toIntOption)
      finally s.close()
    }

  private implicit class IterOps(it: java.util.Iterator[java.nio.file.Path]) {
    def asScala_toSeq: Seq[java.nio.file.Path] = {
      val b = Seq.newBuilder[java.nio.file.Path]
      while (it.hasNext) b += it.next()
      b.result()
    }
  }

  private def deleteRecursively(p: java.nio.file.Path): Unit =
    if (Files.exists(p)) {
      val s = Files.walk(p)
      try s.sorted(java.util.Comparator.reverseOrder[java.nio.file.Path]())
        .forEach(f => Files.deleteIfExists(f))
      finally s.close()
    }
}
