package graft.streaming

import graft.core.Scope
import graft.functions.CorpusPipeline
import graft.functions.CorpusPipeline.GateGeometry
import org.apache.spark.sql.{DataFrame, SaveMode, SparkSession}
import org.apache.spark.sql.types.StructType

/** Streaming corpus ingestion with the day-2 dedup gate: each micro-batch
  * runs [[CorpusPipeline.prepareIncrementalManaged]] against the CURRENT standing
  * corpus (the target directory itself) and appends only the survivors —
  * the streaming face of the batch ingest funnel (in-batch prepare, exact
  * against-corpus dedup behind the Bloom prefilter, near-dup LSH gate).
  * Shaped for `writeStream.foreachBatch` like [[Scd2Sink]].
  *
  * Replay safety comes from the gate itself, not a transaction log: a
  * parquet batch write commits all-or-nothing (FileOutputCommitter), so a
  * retried micro-batch either (a) finds none of its rows in the corpus
  * (prior write never committed) and re-processes, or (b) finds ALL of them
  * (write committed, checkpoint didn't) and admits nothing — the
  * replay-idempotence property `CorpusPipelineSpec` pins at the batch
  * level. Either way the corpus ends correct.
  *
  * Resource lifecycle: every persist, localCheckpoint and broadcast the
  * gate creates has ONE owner, a [[graft.core.Scope]], which releases it by
  * its kind's rule. [[processBatch]] closes the scope behind
  * [[CorpusPipeline.prepareIncrementalManaged]]'s handle once the write
  * has committed; [[FrozenGate]] closes one per gated batch and one per
  * refresh window. State is flat across any number of micro-batches and
  * after any failure (spec-asserted), and a scope holds only its own
  * call's frames, so concurrent queries on the session are untouched.
  *
  * 100 TB posture: per batch, [[processBatch]] scans the standing corpus
  * once (keys and signatures in one fused freeze scan); its text never
  * shuffles, and everything batch-sided is bounded by the batch. Where
  * that scan dominates, [[FrozenGate]] freezes the gate state once, gates
  * every batch against the frozen state plus the admitted delta, and
  * every `refreshEvery` batches folds that delta into the frozen state —
  * the corpus is read again only after [[FrozenGate.close]] or a write
  * the gate did not make.
  */
object CorpusIngestSink {

  /** Driver-heap budget (bytes) for the delta rows a [[FrozenGate]]
    * collects over one REFRESH WINDOW: a fold collects an admitted batch
    * into the driver-local delta only while the rows the window has
    * already collected plus the batch's fit this budget; a batch that
    * would overfill it stays executor-resident as a localCheckpoint.
    * 256 MB: small next to any realistic driver heap, large enough that
    * the steady-state regime (batch ≪ corpus) never takes the fallback.
    */
  private[streaming] val DefaultFoldDriverBytes: Long = 256L << 20

  /** Estimated DRIVER bytes for one collected delta row — the
    * [[CorpusPipeline.deltaProjection]] row the gate keeps for the whole
    * refresh window: id, exact key, signature, band buckets and, with the
    * semantic arm, the embedding. `collect()` materializes GenericRows
    * whose array elements are BOXED, so a signature/bucket/embedding
    * element costs ~32 B on the heap (16 B box + 8 B ref + amortized
    * array/Seq headers), not its 8 B columnar width — a [[GateGeometry]]
    * 64-hash signature is ~2 KB and a dim-768 embedding ~25 KB, which is
    * why a row-count cap alone (r15's 2²² rows) was a driver-OOM hazard
    * the moment the semantic arm widened the row. Not priced: the delta's
    * bucket-occupancy map, at most [[GateGeometry.Bands]] entries per row
    * and fewer where rows share buckets.
    */
  private[streaming] def estimatedDeltaRowBytes(
      withSignatures: Boolean, withEmbeddings: Boolean, embeddingDim: Int): Long = {
    val rowShell = 64L // GenericRow + field refs + boxed id/key
    // a signature row also carries its band-bucket array (one long per
    // band), collected in the same fold so the delta's banding and bucket
    // occupancy need no extra job
    val sig =
      if (withSignatures) 96L + 32L * (GateGeometry.NumHashes + GateGeometry.Bands)
      else 8L
    val emb = if (withEmbeddings) 48L + 32L * embeddingDim else 0L
    rowShell + sig + emb
  }

  /** The byte-aware row cap for the delta fold's driver collect: budget /
    * estimated row width, floored at 1 row and ceiled at the old 2²² row
    * guard (the row term still bounds GenericRow object-count overheads
    * the width estimate doesn't model).
    */
  private[streaming] def foldCollectMaxRows(
      foldDriverBytes: Long, withSignatures: Boolean,
      withEmbeddings: Boolean, embeddingDim: Int): Long =
    math.min(1L << 22, math.max(1L, foldDriverBytes /
      estimatedDeltaRowBytes(withSignatures, withEmbeddings, embeddingDim)))

  /** The corpus directory's data-file listing — (relative path, length,
    * mtime) of every `.parquet` file, RECURSIVE: `spark.read.parquet` does
    * partition discovery, so a co-writer landing rows in a subdirectory
    * (a `partitionBy` append) changes what the next freeze reads and must
    * change the listing too. One FS metadata call, no data read.
    */
  private[streaming] def listingEntries(spark: SparkSession, dir: String)
      : Set[(String, Long, Long)] = {
    val path = new org.apache.hadoop.fs.Path(dir)
    val fs = path.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (!fs.exists(path)) return Set.empty
    val base = fs.makeQualified(path).toString
    val out = Set.newBuilder[(String, Long, Long)]
    val it = fs.listFiles(path, true)
    while (it.hasNext) {
      val s = it.next()
      val p = s.getPath.toString
      val rel = p.stripPrefix(base)
      // mirror Spark's hidden-file rule (InMemoryFileIndex): any path
      // COMPONENT starting with `_` or `.` is invisible to the corpus
      // read — a concurrent committer's in-flight `_temporary/**` or
      // `.spark-staging-*` files (or stale residue of an aborted job)
      // must not count as an external write, let alone escalate to the
      // unsurvivable-nested error while a co-writer is mid-commit
      if (p.endsWith(".parquet") &&
          !rel.split('/').exists(c => c.startsWith("_") || c.startsWith(".")))
        out += ((rel, s.getLen, s.getModificationTime))
    }
    out.result()
  }

  /** True for a listing entry that sits in a SUBDIRECTORY of the corpus
    * dir. Nested files are compared on their own because they are not a
    * survivable co-write: with plain subdirectories Spark's parquet read
    * silently IGNORES the nested files (a re-freeze would still miss
    * them), and with partition-style (`k=v`) subdirectories partition
    * discovery reads ONLY the nested files and DROPS the gate's own
    * top-level data (empirically checked on Spark 4.1). Neither can be
    * absorbed by a re-freeze, so a nested change always throws.
    */
  private[streaming] def isNested(relPath: String): Boolean =
    relPath.count(_ == '/') > 1

  /** Output-file sizing for one admitted batch's append: the survivor
    * frame carries its gate pipeline's partitioning (cores-wide once the
    * batch-side kernels are fanned out), and appending one file PER
    * PARTITION decays the corpus into thousands of tiny files — every
    * later freeze/read then pays listing + per-file open overhead (guide
    * §6: small files hurt twice). The admitted count is already known
    * (the sink counts before writing), so the append coalesces to
    * ⌈n / 250k⌉ files (≈ hundreds of MB of doc text each at warehouse
    * row widths), floor 1, cap 256 — coalesce reads the batch's cached
    * partitions, no shuffle.
    */
  private[streaming] def appendFiles(n: Long): Int =
    math.min(256L, math.max(1L, (n + 249999L) / 250000L)).toInt

  /** Process one micro-batch: gate against the standing corpus at
    * `targetDir`, append survivors, release the funnel's caches. Returns
    * the number of admitted rows.
    */
  def processBatch(spark: SparkSession, targetDir: String, batch: DataFrame,
                   cfg: CorpusPipeline.Config = CorpusPipeline.Config(),
                   againstThreshold: Option[Double] = Some(0.8)): Long = {
    val standing = standingOf(spark, targetDir, batch)
    val (accepted, _, release) = CorpusPipeline.prepareIncrementalManaged(
      batch, standing, cfg, againstThreshold)
    try {
      // the count runs over the funnel's cached candidate frame, so the
      // second action (the write) re-reads cache, not the raw scan
      val n = accepted.count()
      if (n > 0) accepted.coalesce(appendFiles(n))
        .write.mode(SaveMode.Append).parquet(targetDir)
      n
    } finally release()
  }

  /** The `(DataFrame, Long) => Unit` foreachBatch function. */
  def foreachBatchFn(targetDir: String,
                     cfg: CorpusPipeline.Config = CorpusPipeline.Config(),
                     againstThreshold: Option[Double] = Some(0.8))
      : (DataFrame, Long) => Unit =
    (batch, _) => { processBatch(batch.sparkSession, targetDir, batch, cfg,
      againstThreshold); () }

  /** The standing corpus: the target as written so far, or an empty frame
    * with the batch's schema before the first commit (prepare adds a
    * `split` column on write, so later reads carry it — `unionByName`
    * inside the funnel is name-based and indifferent to the extra column).
    * With a known `schema` the read skips parquet schema inference, which
    * is a Spark job of its own.
    */
  private[streaming] def standingOf(spark: SparkSession, targetDir: String,
                                    batch: DataFrame,
                                    schema: Option[StructType] = None): DataFrame = {
    healCompaction(spark, targetDir)
    val path = new org.apache.hadoop.fs.Path(targetDir)
    val fs = path.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (fs.exists(path) && fs.listStatus(path).exists(
        s => s.isFile && s.getPath.getName.endsWith(".parquet")))
      schema.fold(spark.read)(spark.read.schema(_)).parquet(targetDir)
    else batch.limit(0)
  }

  private def stagedDirOf(targetDir: String) = targetDir.stripSuffix("/") + "__staged"
  private def retiredDirOf(targetDir: String) = targetDir.stripSuffix("/") + "__retired"

  /** Small-file COMPACTION for the append-only ingest target: every
    * micro-batch append adds files, and after thousands of batches the
    * freeze/read cost is dominated by file-open overhead, not bytes — the
    * classic streaming-ingest decay (the X1 maintenance discipline
    * [[ParquetTarget.compact]] applies to its versioned layout, re-expressed
    * here for the plain directory the ingest sink owns).
    *
    * Staged swap, never rewrite-in-place: the compacted copy is written
    * completely to `<dir>__staged`, then the swap is two renames
    * (live → `<dir>__retired`, staged → live) and a delete. Every crash
    * window leaves a complete copy durable under a deterministic name, and
    * [[healCompaction]] (invoked by every [[standingOf]] read) rolls the
    * swap forward on the next entry — same recovery contract as
    * [[BucketedTarget]]'s staged swap. Single-writer assumption: the sink
    * owns the directory (the FrozenGate/foreachBatch execution model);
    * rename is atomic on HDFS/local — object stores should compact through
    * their catalog instead.
    *
    * Maintenance is its own call, not a cadence on the writer: a caller
    * compacts between batches whenever it chooses. A live [[FrozenGate]]
    * needs no option for it — compaction rewrites every top-level file, so
    * the gate's next listing check sees the change and re-freezes from the
    * compacted layout. Counted under `arcane.stream.ingest.compactions`;
    * the live gate's re-freeze also counts one
    * `arcane.stream.ingest.external_writes`.
    */
  def compact(spark: SparkSession, targetDir: String, partitions: Int): Unit = {
    require(partitions >= 1, "compaction needs at least one output file")
    healCompaction(spark, targetDir)
    val live = new org.apache.hadoop.fs.Path(targetDir)
    val fs = live.getFileSystem(spark.sparkContext.hadoopConfiguration)
    // no data files → nothing to compact (read.parquet of a fileless dir
    // would fail schema inference, and an empty corpus needs no layout)
    if (!fs.exists(live) || !fs.listStatus(live).exists(
        s => s.isFile && s.getPath.getName.endsWith(".parquet"))) return
    val staged = new org.apache.hadoop.fs.Path(stagedDirOf(targetDir))
    val retired = new org.apache.hadoop.fs.Path(retiredDirOf(targetDir))
    fs.delete(staged, true) // stale staging from an aborted compaction
    spark.read.parquet(targetDir).repartition(partitions)
      .write.mode(SaveMode.Overwrite).parquet(staged.toString)
    fs.delete(retired, true)
    if (!fs.rename(live, retired))
      throw new java.io.IOException(s"compaction swap: cannot retire $live")
    if (!fs.rename(staged, live))
      throw new java.io.IOException(s"compaction swap: cannot promote $staged")
    fs.delete(retired, true)
    GraftMetrics.inc(GraftMetrics.IngestCompactions)
  }

  /** Roll an interrupted [[compact]] swap forward. Windows:
    *   - live present, staged present → compaction died before the swap:
    *     the staging is incomplete-or-unpromoted, live is authoritative —
    *     drop the staging (compact() also clears it defensively);
    *   - live MISSING, staged present → died between the two renames: the
    *     staged copy is complete by construction — promote it, then drop
    *     the retired copy;
    *   - live present, retired present → died before the final delete —
    *     drop the retired copy.
    * Idempotent; called from every [[standingOf]] so a restarted process
    * (or a fresh [[FrozenGate]]) self-heals before its first read.
    */
  def healCompaction(spark: SparkSession, targetDir: String): Unit = {
    val live = new org.apache.hadoop.fs.Path(targetDir)
    val fs = live.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val staged = new org.apache.hadoop.fs.Path(stagedDirOf(targetDir))
    val retired = new org.apache.hadoop.fs.Path(retiredDirOf(targetDir))
    if (!fs.exists(live)) {
      if (fs.exists(staged)) {
        if (!fs.rename(staged, live))
          throw new java.io.IOException(s"compaction heal: cannot promote $staged")
        fs.delete(retired, true)
      } else if (fs.exists(retired)) {
        // staged lost mid-promote is impossible (rename is atomic), but a
        // manually-removed staging must not strand the data: restore retired
        if (!fs.rename(retired, live))
          throw new java.io.IOException(s"compaction heal: cannot restore $retired")
      }
    } else {
      if (fs.exists(retired)) fs.delete(retired, true)
      // live + staged: unpromoted staging, live authoritative — leave it to
      // compact()'s own defensive clear (deleting here would race a
      // concurrent compact() between its write and its swap)
    }
  }

  /** FREEZE-AND-FOLD ingestion, the 100 TB posture of the object doc.
    * Per-batch gating scans the standing corpus
    * once per micro-batch (the [[CorpusPipeline.freezeCorpus]] keys+
    * signatures pass); when the corpus dwarfs the batches, that scan IS
    * the ingest cost. This gate freezes the corpus's gate state once and
    * gates every batch against it plus the admitted delta. Every
    * `refreshEvery` batches it folds the delta into new frozen state
    * ([[CorpusPipeline.foldDelta]]: no corpus read, no text hashing), so
    * the refresh costs ∝ the window's admissions plus block-resident
    * copies of the frozen state — K batches touch corpus storage ONCE
    * instead of K times. The full freeze runs again only on the first
    * batch after [[close]] (a failure reset included) and after a listing
    * change.
    *
    * The staleness trade costs NOTHING here, because the only writer of
    * the corpus is this gate: rows admitted since the freeze are folded
    * into ONE DELTA frame ([[CorpusPipeline.deltaProjection]]: exact key,
    * MinHash signature, band buckets, and the embedding for the semantic
    * arm), collected to the driver so no lineage can silently recompute
    * against a mutated target — past the window's driver budget a fold
    * stays a lineage-truncated checkpoint for the same reason — and every
    * batch gates against frozen + delta, which IS the current corpus. So
    * admissions are bit-identical to per-batch re-freezing at ANY cadence
    * (`FrozenGateSpec` pins equality and the scan count), and a fold of
    * frozen + delta is the state a freeze of the corpus would build
    * (`FrozenGateFoldSpec`). Candidate
    * VERIFY text still reads the target — but only for batches with
    * estimate survivors, and only the candidate rows' shingles
    * ([[graft.functions.MinHashLsh.bipartitePairsFrozenBanded]]'s
    * zero-candidate short-circuit never touches storage at all). An
    * EXTERNAL writer changing the target between refreshes is the one
    * thing the frozen STATE cannot see — so the gate records the target's
    * RECURSIVE file listing (relative path/length/mtime, one metadata
    * call) at every freeze, and compares the current listing with it
    * before each gated batch and each fold, AND immediately before each
    * own append
    * (closing the gate-to-append race). The next expected listing is the
    * last VALIDATED one plus the files the append added — so even a
    * co-write landing inside a re-gated attempt's skipped re-check is
    * caught by the next batch. The gate has one behaviour on a change:
    * a TOP-LEVEL difference (a new, removed or rewritten file) counts
    * `arcane.stream.ingest.external_writes` and re-freezes — mid-batch it
    * also re-gates the batch, and at a scheduled refresh it replaces the
    * fold — while a change in a SUBDIRECTORY throws,
    * because no re-freeze can absorb it ([[isNested]] — the corpus read
    * either ignores nested files or, for partition-style ones, drops the
    * top-level data). Two documented blind windows remain: a writer that
    * bypasses the listing entirely (an in-place same-size same-mtime
    * overwrite), and a NEW external file landing during the gate's own
    * append (indistinguishable from the append's own files, and so
    * invisible until the next full freeze) — co-writers needing stronger
    * guarantees need per-batch gating.
    *
    * Compaction is an explicit call, [[compact]], made between batches:
    * it rewrites every top-level file, so the listing check above re-freezes
    * the gate from the compacted layout.
    *
    * WHEN TO USE — the trade is scan avoidance vs fixed bookkeeping: per
    * admitted batch the gate pays one extra collect job (the delta fold,
    * which collects the key and signature columns the funnel already
    * computed instead of hashing the text again; driver-resident rows
    * rebuild into ONE LocalRelation, so the gate plan stays flat across the
    * refresh window), and in exchange skips the per-batch corpus scan. The
    * rest of a steady batch's jobs are the funnel's own: each small funnel
    * frame materializes in one collect
    * ([[graft.core.Checkpoints.localize]]), the admitted count comes from
    * the job that checkpoints the survivors, and the candidate-verify read
    * reuses the schema the freeze resolved. At a few thousand corpus docs
    * that fixed bookkeeping is comparable to a whole corpus scan, so the
    * gate is for the regime it was built for: standing corpus ≫ batch
    * (millions of rows and up), where one freeze scan costs minutes and
    * the delta fold stays seconds. Below that crossover, use
    * [[processBatch]] (which also runs a single fused freeze scan per
    * batch).
    *
    * The MinHash/Bloom geometry of the freeze, the funnel and the delta
    * fold is the one constant [[CorpusPipeline.GateGeometry]].
    *
    * Not thread-safe (one gate per sink, the foreachBatch execution
    * model); `close()` releases all frozen + delta state.
    *
    * The reference amortizes source work across polls the same way
    * (its stream graph caches the provider across micro-batches,
    * DefaultStreamDataProvider.scala:15-113); re-expressed here as frozen
    * gate STATE because in Spark the per-batch cost center is the corpus
    * scan, not the poll.
    */
  final class FrozenGate(targetDir: String,
                         cfg: CorpusPipeline.Config = CorpusPipeline.Config(),
                         againstThreshold: Option[Double] = Some(0.8),
                         refreshEvery: Int = 8,
                         semanticAgainstThreshold: Option[Double] = None,
                         /** corpus rows from which the freeze writes SIDE
                           * FILES (sorted keys / sigs copies under
                           * `<targetDir>__gatestate/`) and serves each
                           * batch's key and signature probes from them,
                           * pruned to the batch's own probe set
                           * ([[CorpusPipeline.FrozenCorpus]]). Below it the
                           * cached frames beat any fixed per-batch job
                           * overhead (the gate's own crossover argument
                           * applied to its probes); `Long.MaxValue` turns
                           * side files off.
                           */
                         sideFileMinRows: Long = 200000L) {
    require(refreshEvery >= 1, "refresh cadence must admit at least one batch")
    require(semanticAgainstThreshold.isEmpty || cfg.embeddings.isDefined,
      "the semantic arm needs cfg.embeddings (id-keyed vectors) on both sides")

    private var frozen: CorpusPipeline.FrozenCorpus = null
    /** the corpus schema the freeze resolved; candidate-verify reads reuse
      * it instead of inferring it again every batch
      */
    private var corpusSchema: Option[StructType] = None
    private var sinceRefresh = 0
    /** The admitted DELTA since the freeze, as ONE frame in the
      * [[CorpusPipeline.deltaProjection]] shape (`__id`, `__ck`, `__sig`,
      * `__bb`, optional `__emb`): the driver-resident rows as exactly one
      * LocalRelation, with any over-budget checkpoint [[deltaParts]]
      * unioned behind it. The funnel derives every slice it needs (keys,
      * signatures, embeddings, banded rows) from it. None before the first
      * admission of a refresh window.
      */
    private[streaming] var delta: Option[DataFrame] = None
    /** exact (band, bucket) occupancy of the delta, counted from the
      * collected `__bb` arrays; None once any fold of the window
      * checkpointed, and the funnel then counts the delta's buckets itself
      */
    private var deltaBucketCounts: Option[Map[(Int, Long), Long]] = Some(Map.empty)
    /** Every in-budget fold's collected rows, accumulated across the
      * refresh window and REBUILT into exactly ONE LocalRelation after each
      * fold (the rows are already on the driver — concatenating arrays is
      * free next to the collect that produced them). A `unionByName` chain
      * of per-batch LocalRelations would instead serialize refreshEvery
      * LocalTableScans into EVERY job that touches the gate — plan weight
      * and task-serialization cost linear in the refresh window, a
      * driver/scheduler tax at long windows. `FrozenGateFlatDeltaSpec` pins
      * the one-scan shape.
      */
    private val deltaDriverRows = scala.collection.mutable.ArrayBuffer.empty[org.apache.spark.sql.Row]
    private var deltaSchema: org.apache.spark.sql.types.StructType = null
    /** owns the frozen corpus and the refresh window's over-budget fold
      * checkpoints; closed by [[close]], replaced by a refresh fold
      */
    private var window = new Scope
    /** over-budget folds only: executor-resident localCheckpoint frames
      * (owned by [[window]]) that the delta unions. The rare fallback —
      * the combined delta plan grows only with THESE, never with
      * in-budget admissions.
      */
    private[streaming] val deltaParts = scala.collection.mutable.ListBuffer.empty[DataFrame]
    /** the listing the gate last VALIDATED — the refresh-time snapshot
      * plus the files its own appends added since. Detection compares the
      * current listing with THIS set, never with a raw pre-append
      * listing: on a re-gated attempt the pre-append listing may already
      * contain a second co-writer's files, and folding them into
      * "expected" would absorb that write for good, since a fold never
      * re-reads the corpus (the r17 advisory's blind window) — kept
      * outside, the NEXT batch's pre-gate check detects it. A set
      * comparison is exact: no hash can collide, and each file's length
      * and mtime still take part
      */
    private var expectedEntries: Set[(String, Long, Long)] = Set.empty
    /** Test seam: applied to the delta projection right before it is
      * materialized, so specs can inject a fold-stage failure and pin the
      * recovery contract (gate invalidation after a committed append).
      */
    private[streaming] var foldTap: DataFrame => DataFrame = identity
    /** Test seam: runs right before the pre-append external-writer
      * re-check — i.e. inside the gate-to-append window that check closes.
      */
    private[streaming] var preAppendTap: () => Unit = () => ()
    /** Test seam: the driver-byte budget of one refresh window's delta
      * fold ([[foldCollectMaxRows]]), so specs can force the
      * executor-resident fallback.
      */
    private[streaming] var foldDriverBytes: Long = DefaultFoldDriverBytes
    /** Test seam: how the gate reads the standing corpus (its freeze, with
      * no schema, and its candidate verify, with the freeze's), so specs
      * can count or fail corpus reads.
      */
    private[streaming] var corpusReader
        : (SparkSession, String, DataFrame, Option[StructType]) => DataFrame = standingOf
    /** Test seam: applied to the window's delta right before a scheduled
      * refresh folds it into the frozen state, so specs can fail the fold.
      */
    private[streaming] var refreshFoldTap: DataFrame => DataFrame = identity
    private[streaming] def isFrozen: Boolean = frozen != null
    private[streaming] def frozenState: CorpusPipeline.FrozenCorpus = frozen
    private def sideFileDir = Some(targetDir.stripSuffix("/") + "__gatestate")

    /** True when `current` differs from the validated listing at top
      * level; a change in a subdirectory throws [[nestedWriteError]].
      */
    private def listingChanged(current: Set[(String, Long, Long)], when: String): Boolean =
      current != expectedEntries && {
        val nested = (e: (String, Long, Long)) => isNested(e._1)
        if (current.filter(nested) != expectedEntries.filter(nested))
          throw nestedWriteError(when)
        true
      }

    /** Rebuild [[delta]] after a fold: the driver-resident rows become
      * exactly ONE LocalRelation, regardless of how many batches the
      * refresh window admitted; over-budget checkpointed parts (the rare
      * fallback) union behind it.
      */
    private def rebuildDelta(spark: SparkSession): Unit = {
      val local =
        if (deltaDriverRows.isEmpty) None
        else Some(spark.createDataFrame(
          java.util.Arrays.asList(deltaDriverRows.toArray: _*), deltaSchema))
      delta = (local.toSeq ++ deltaParts).reduceOption(_.unionByName(_))
    }

    /** Gate one micro-batch against frozen + delta state, append survivors,
      * fold them into the delta. Returns the number of admitted rows.
      */
    def processBatch(batch: DataFrame): Long = {
      val spark = batch.sparkSession
      if (frozen == null) refresh(spark, batch)
      else if (listingChanged(listingEntries(spark, targetDir), "since the last freeze")) {
        // somebody else wrote the corpus since the freeze: frozen + delta
        // no longer IS the corpus, and gating against it would re-admit
        // the co-writer's duplicates
        externalWriteDetected(spark, batch)
      } else if (sinceRefresh >= refreshEvery) refreshByFold()
      gateAndAppend(spark, batch, reGated = false)
    }

    private def externalWriteDetected(spark: SparkSession, batch: DataFrame): Unit = {
      GraftMetrics.inc(GraftMetrics.IngestExternalWrites)
      refresh(spark, batch)
    }

    /** A nested co-write is detected but NOT survivable ([[isNested]]):
      * a re-freeze reads the same broken layout, so the gate escalates to
      * this error until an operator reconciles the directory.
      */
    private def nestedWriteError(when: String) = new IllegalStateException(
      s"external writer landed files in a SUBDIRECTORY of $targetDir $when; " +
      "the corpus's top-level parquet layout cannot absorb nested files " +
      "(plain subdirectories are ignored by the corpus read; partition-style " +
      "ones make partition discovery drop the top-level data) — remove the " +
      "nested files or re-ingest them through the gate")

    private def gateAndAppend(spark: SparkSession, batch: DataFrame,
                              reGated: Boolean): Long = {
      // one scope owns this attempt's funnel frames and survivors; a
      // re-gate (None) recurses only after it has closed
      val admitted: Option[Long] = Scope.using { scope =>
        // the batch's survivors feed the write AND the delta fold — and
        // the fold runs AFTER the gate's own append, whose refreshByPath
        // invalidates every CacheManager entry whose plan reads the target
        // (r19: a persisted `accepted` made the post-append fold re-execute
        // the whole gate funnel INCLUDING the corpus-side scans — ~430 s of
        // task time per admitted batch at 400k docs). A localCheckpoint has
        // no CacheManager entry, so the append cannot invalidate it, and it
        // pins the gated snapshot the way the fold semantically requires.
        // The checkpoint is eager: the whole funnel runs here, and the job
        // that fills it also yields the exact admitted count `n`.
        val (accepted, n) = scope.checkpointCounted(CorpusPipeline.prepareIncrementalFrozen(
          scope, batch, frozen, corpusReader(spark, targetDir, batch, corpusSchema), cfg,
          againstThreshold, semanticAgainstThreshold, delta, deltaBucketCounts))
        if (n == 0L) Some(0L)
        else {
          preAppendTap()
          // pre-append re-check: the pre-gate listing check and this
          // append are not atomic, and a co-write landing BETWEEN them used
          // to be absorbed into the post-append expected listing —
          // detected by nothing until the scheduled refresh (the r16
          // verdict's TOCTOU finding). Re-checking against a listing taken
          // immediately before the append shrinks the blind window to the
          // append itself; on mismatch the batch's admissions are stale, so
          // the gate re-freezes and re-gates THIS batch once. A second
          // mid-batch race in the same batch proceeds — but the expected
          // listing below is derived from the last VALIDATED listing plus
          // own files, never this one, so the NEXT batch's pre-gate check
          // detects it.
          val preEntries = listingEntries(spark, targetDir)
          if (listingChanged(preEntries, "between gate and append") && !reGated) {
            externalWriteDetected(spark, batch)
            None
          } else {
            appendAndFold(spark, accepted, n, preEntries)
            Some(n)
          }
        }
      }
      admitted match {
        case None => gateAndAppend(spark, batch, reGated = true)
        case Some(n) =>
          sinceRefresh += 1
          GraftMetrics.inc(GraftMetrics.IngestBatches)
          GraftMetrics.inc(GraftMetrics.IngestRowsAdmitted, n)
          n
      }
    }

    /** Append the `n` checkpointed survivors and fold them into the delta;
      * `preEntries` is the listing validated just before the append.
      * `accepted` carries the gate's per-doc key and signature columns,
      * which the fold reads and the append leaves out.
      */
    private def appendAndFold(spark: SparkSession, accepted: DataFrame, n: Long,
                              preEntries: Set[(String, Long, Long)]): Unit = {
      // sized append off the already-counted cache ([[appendFiles]]):
      // per-partition files would decay the corpus the freeze re-reads
      accepted.drop(CorpusPipeline.GateColumns: _*).coalesce(appendFiles(n))
        .write.mode(SaveMode.Append).parquet(targetDir)
      // next expected = the last VALIDATED listing ∪ the files this
      // append added (post-append names not in the pre-append
      // listing). Using the validated base — not preEntries — keeps a
      // co-write that landed between a mid-batch re-freeze and
      // this (re-gated, check-skipped) append OUT of the expected
      // set, so the next batch's pre-gate check detects and absorbs
      // it. An external file landing DURING the append itself is
      // still misattributed as our own (the one remaining blind
      // window); an in-place MODIFICATION of a validated file is
      // still caught, because the expected set keeps the validated
      // attributes for pre-existing names.
      val preNames = preEntries.iterator.map(_._1).toSet
      val ownEntries = expectedEntries ++
        listingEntries(spark, targetDir).filterNot(e => preNames(e._1))
      try {
        // delta fold: ONE projection carries the admitted rows' exact
        // keys, signatures, band buckets and (when the semantic arm is on)
        // embeddings together — every delta slice the funnel reads is a
        // column projection of it, so the per-batch bookkeeping is a
        // single collect job, not one per slice (the fixed-overhead term
        // that dominates the gate below the corpus-size crossover; see
        // the FrozenGate scaladoc). The key and signature are the
        // funnel's own columns, collected, not recomputed from the text.
        val folded = foldTap(CorpusPipeline.deltaProjection(accepted, cfg,
          withSignatures = againstThreshold.isDefined,
          embeddings = if (semanticAgainstThreshold.isDefined) cfg.embeddings else None))
        // `accepted` is checkpointed and already counted, so while the
        // window's driver-resident delta fits the budget the fold is ONE
        // collect off its blocks. The guard is BYTE-aware, not row-count:
        // a collected row costs rowShell + ~32 B per boxed signature/
        // embedding element ([[estimatedDeltaRowBytes]]), so the cap is
        // foldDriverBytes (default 256 MB) over that width — ~120k rows
        // with a 64-hash signature, ~10k with a dim-768 embedding
        // attached — and it bounds the rows collected across the whole
        // refresh window, this batch's n included. Past it the fold stays
        // executor-resident as an eager localCheckpoint
        // (lineage-truncated for the same mutated-target reason) owned by
        // the refresh-window scope.
        val maxFoldRows = foldCollectMaxRows(foldDriverBytes,
          againstThreshold.isDefined, semanticAgainstThreshold.isDefined,
          cfg.embeddingDim)
        if (deltaDriverRows.size + n <= maxFoldRows) {
          val collected = folded.collect()
          if (deltaSchema == null) deltaSchema = folded.schema
          deltaDriverRows ++= collected
          // the collected __bb arrays give the delta's exact per-bucket
          // occupancy — the funnel uses it to prove most batches cannot
          // push any bucket over the hot cap, and to probe frozen counts
          // for exactly the suspect buckets when one might
          val bbIdx = deltaSchema.fieldIndex("__bb")
          deltaBucketCounts = deltaBucketCounts.map(counts =>
            collected.iterator.filterNot(_.isNullAt(bbIdx))
              .flatMap(_.getSeq[Long](bbIdx).iterator.zipWithIndex)
              .foldLeft(counts) { case (m, (bucket, band)) =>
                m.updated((band, bucket), m.getOrElse((band, bucket), 0L) + 1L)
              })
        } else {
          deltaParts += window.checkpoint(folded)
          deltaBucketCounts = None
        }
        rebuildDelta(spark)
        // the append itself moved the listing — own writes must not trip
        // the external-writer check on the next batch
        expectedEntries = ownEntries
      } catch {
        case t: Throwable =>
          // the append COMMITTED but the delta didn't absorb it:
          // frozen + delta is now behind the target, and a retry
          // through this same instance would see its own rows as
          // proven-new and append duplicates. Drop all gate state —
          // the next batch re-freezes from the target, restoring
          // replay idempotence for in-instance retries.
          close()
          throw t
      }
    }

    /** The `(DataFrame, Long) => Unit` foreachBatch function over this
      * gate's state.
      */
    def foreachBatchFn: (DataFrame, Long) => Unit =
      (batch, _) => { processBatch(batch); () }

    /** The FULL freeze: read the corpus and build its gate state from the
      * text. Runs on the first batch, after [[close]] and after a listing
      * change; a scheduled refresh folds instead ([[refreshByFold]]).
      */
    private def refresh(spark: SparkSession, schemaDonor: DataFrame): Unit = {
      close()
      val corpus = corpusReader(spark, targetDir, schemaDonor, None)
      val fresh = CorpusPipeline.freezeCorpus(corpus, cfg,
        withSignatures = againstThreshold.isDefined,
        embeddings =
          if (semanticAgainstThreshold.isDefined) cfg.embeddings else None,
        // banded freeze state: the corpus-side banding explode + hot-bucket
        // shuffle run once per freeze instead of recurring per batch — the
        // O(corpus)-shuffle-per-batch term the r16 crossover measurement
        // exposed (BENCH_VARIANCE_r16.md)
        withBanded = againstThreshold.isDefined,
        sideFileDir = sideFileDir,
        sideFileMinRows = sideFileMinRows)
      window.onClose(fresh.release())
      frozen = fresh
      corpusSchema = Some(corpus.schema)
      // recorded AFTER the freeze materialized (freezeCorpus counts the
      // slim frame eagerly): a writer landing between the scan and this
      // listing is a benign race — the next batch's check catches it
      expectedEntries = listingEntries(spark, targetDir)
      installed()
    }

    /** The SCHEDULED refresh, once the listing check has proven that
      * frozen + delta is still the corpus: fold the window's delta into
      * new frozen state ([[CorpusPipeline.foldDelta]]) — no corpus read,
      * no text hashing, no corpus shuffle — then release the old state and
      * the delta. A window that admitted nothing folds without a job. A
      * failure drops all gate state, so the next batch freezes in full.
      */
    private def refreshByFold(): Unit = {
      try delta.foreach { d =>
        val folded = CorpusPipeline.foldDelta(frozen, refreshFoldTap(d),
          deltaBucketCounts, sideFileDir, sideFileMinRows)
        val old = window
        window = new Scope
        window.onClose(folded.release())
        frozen = folded
        resetDelta()
        // the old frozen state and the window's delta checkpoints, only
        // now that the new state has materialized
        old.close()
      } catch {
        case t: Throwable => close(); throw t
      }
      GraftMetrics.inc(GraftMetrics.IngestRefreshFolds)
      installed()
    }

    /** Frozen state is installed, by a full freeze or a fold. */
    private def installed(): Unit = {
      sinceRefresh = 0
      GraftMetrics.inc(GraftMetrics.IngestFreezes)
      GraftMetrics.gauge(GraftMetrics.IngestCorpusRows, frozen.rows)
    }

    private def resetDelta(): Unit = {
      deltaParts.clear()
      delta = None
      deltaDriverRows.clear()
      deltaSchema = null
      deltaBucketCounts = Some(Map.empty)
    }

    /** Release every frozen + delta resource. The gate re-freezes on the
      * next batch, so close() mid-stream is safe (just wasteful).
      */
    def close(): Unit = {
      frozen = null
      corpusSchema = None
      resetDelta()
      window.close()
    }
  }
}
