package graft.functions

import java.io.ByteArrayOutputStream

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graft.{ColumnBridge => ExpressionUtils}
import org.apache.spark.util.sketch.BloomFilter

import graft.functions.expressions.BloomMightContainExpr

/** Bloom-prefiltered incremental dedup: "which of today's documents are
  * genuinely new against the standing corpus?" answered without shuffling
  * the rows that obviously are. The corpus's key set is summarized once
  * into a Bloom filter (distributed treeAggregate via `stat.bloomFilter`;
  * the driver holds only the filter's bits — sized by `expectedItems`/
  * `fpp`, independent of row width); the probe is then a stateless
  * map-side predicate on the incoming side:
  *
  *   - `might_contain = false` → PROVEN new (Bloom filters have no false
  *     negatives) — these rows skip the exact join entirely;
  *   - `might_contain = true`  → a candidate: either a true duplicate or a
  *     false positive (rate `fpp`), so only this sliver — |true dups| +
  *     fpp·|new| rows — enters the exact anti-join that makes the final
  *     answer EXACT (and therefore oracle-checkable: the filter is
  *     invisible in the result, it only removes work).
  *
  * [[newKeysProbabilistic]] is the zero-join deployment (drop every
  * candidate, accepting fpp false drops) — the CCNet-scale trade, and
  * being stateless it runs under Structured Streaming unchanged.
  *
  * 100 TB posture: the filter is MONOLITHIC and its bits scale with the
  * CORPUS KEY COUNT, not bytes — about 1.2 bytes per key at 1% fpp (1e9
  * keys ≈ 1.2 GiB, the practical broadcast ceiling). Sharding the key
  * space waits for a workload above ~250M keys that can measure it. The
  * filter build is one keys-only pass over the corpus; nothing here ever
  * shuffles corpus rows.
  */
object BloomDedup {

  /** Build a filter over a LONG key column (distributed partial filters,
    * OR-merged up a tree; driver memory = one filter's bits).
    *
    * An EMPTY input gets an explicitly-created empty filter: Spark's
    * `stat.bloomFilter` NPEs on zero rows (null aggregation buffer fed to
    * `BloomFilter.readFrom`), and the day-0 ingest — first batch against a
    * corpus that does not exist yet — hits exactly that. Every probe of the
    * empty filter is false, i.e. "proven new", which is the correct summary
    * of an empty corpus. The emptiness probe is a limit-1 action, trivial
    * next to the build's own pass.
    */
  def buildLong(df: DataFrame, key: Column, expectedItems: Long,
                fpp: Double): BloomFilter = {
    val keyed = df.select(key.cast("long").as("__bloom_key"))
    if (keyed.isEmpty) BloomFilter.create(expectedItems, fpp)
    else keyed.stat.bloomFilter("__bloom_key", expectedItems, fpp)
  }

  /** [[buildLong]] for a caller that has ALREADY proven the input
    * non-empty (e.g. from a sizing count) — skips the emptiness probe's
    * limit-1 job, which matters on a per-micro-batch hot path.
    */
  def buildLongNonEmpty(df: DataFrame, key: Column, expectedItems: Long,
                        fpp: Double): BloomFilter =
    df.select(key.cast("long").as("__bloom_key"))
      .stat.bloomFilter("__bloom_key", expectedItems, fpp)

  /** The filter as a plan-embeddable stateless predicate. The key is
    * widened to long to mirror [[buildLong]] — both the interpreted and
    * codegen eval paths then accept any integral key type.
    */
  def mightContain(filter: BloomFilter, key: Column): Column =
    ExpressionUtils.column(
      BloomMightContainExpr(ExpressionUtils.expression(key.cast("long")),
        filterBytes(filter)))

  /** The filter's serialized bits, the form both probes ship. */
  def filterBytes(filter: BloomFilter): Array[Byte] = {
    val out = new ByteArrayOutputStream()
    filter.writeTo(out)
    out.toByteArray
  }

  /** Serialize + broadcast a filter once — the form [[newKeysExact]],
    * [[newKeysExactPruned]] and [[mightContainBroadcast]] probe. The caller
    * owns the handle: `unpersist()` it once the probing frames have
    * materialized (a dropped handle is reclaimed by Spark's ContextCleaner
    * when it is garbage-collected). The frozen gate broadcasts
    * [[filterBytes]] through its [[graft.core.Scope]] instead, which owns
    * that release.
    */
  def broadcastFilter(spark: org.apache.spark.sql.SparkSession,
                      filter: BloomFilter)
      : org.apache.spark.broadcast.Broadcast[Array[Byte]] =
    spark.sparkContext.broadcast(filterBytes(filter))

  /** [[mightContain]] over a broadcast filter handle — identical probe
    * results; the task binary carries the handle, not the bits
    * ([[graft.functions.expressions.BloomMightContainBcastExpr]]).
    */
  def mightContainBroadcast(
      filterBcast: org.apache.spark.broadcast.Broadcast[Array[Byte]],
      key: Column): Column =
    ExpressionUtils.column(
      graft.functions.expressions.BloomMightContainBcastExpr(
        ExpressionUtils.expression(key.cast("long")), filterBcast))

  /** EXACT new-key detection: Bloom prefilter + exact anti-join on the
    * candidate sliver only. Output = incoming rows whose `keyCol` does not
    * occur in `corpus` — bit-identical to the plain anti-join, minus the
    * shuffle of every definitely-new incoming row.
    *
    * The filter arrives as a broadcast handle ([[broadcastFilter]]), the
    * one form both exact variants take; the task binary carries the
    * handle, not the bits, and its release is the caller's.
    *
    * Plan note: the union's two branches each read `incoming`, so a caller
    * whose incoming frame is expensive to derive should pass a slim
    * cached/localCheckpointed (id, key) projection (the engine's standard
    * device for multi-branch funnels) — the probe itself is pure map-side
    * either way.
    */
  def newKeysExact(incoming: DataFrame, corpus: DataFrame, keyCol: String,
                   filter: org.apache.spark.broadcast.Broadcast[Array[Byte]])
      : DataFrame = {
    // NULL keys: the probe is null-propagating, so an un-coalesced split
    // would fail BOTH branch predicates and the row would silently vanish.
    // The plain anti-join this must stay bit-identical to KEEPS null-key
    // rows (null never equals any corpus key), so they route to the
    // definite-new branch.
    val probe = mightContainBroadcast(filter, col(keyCol))
    val flagged = incoming.withColumn("__might", coalesce(probe, lit(false)))
    val definiteNew = flagged.filter(!col("__might")).drop("__might")
    val candidates = flagged.filter(col("__might")).drop("__might")
    val confirmedNew = candidates.join(
      corpus.select(col(keyCol)).distinct(), Seq(keyCol), "left_anti")
    definiteNew.unionByName(confirmedNew)
  }

  /** [[newKeysExact]] with a PRUNED corpus side: the Bloom-positive sliver
    * is small by construction (true duplicates + fpp·new rows), so its
    * distinct keys are collected driver-side and handed to `corpusKeysFor`
    * — a key-sorted side-file read with the keys pushed as an In filter,
    * IO ∝ sliver instead of a corpus-keys scan + distinct shuffle per
    * call. Falls back to the plain [[newKeysExact]] corpus join when the
    * sliver exceeds `cap` or the pruned read is unavailable. Identical
    * output either way: an anti-join's right side restricted to the left
    * side's own key set removes exactly the same rows (right-side rows
    * outside the probe set can never match), and right-side multiplicity
    * never matters to LEFT ANTI semantics.
    *
    * `incoming` should be cached by the caller: it feeds both branches of
    * the split AND the sliver collect. The filter arrives as in
    * [[newKeysExact]].
    */
  def newKeysExactPruned(incoming: DataFrame,
                         corpusKeysFor: Seq[Any] => Option[DataFrame],
                         corpusKeys: => DataFrame, keyCol: String,
                         filter: org.apache.spark.broadcast.Broadcast[Array[Byte]],
                         cap: Int = 8192): DataFrame = {
    val probe = mightContainBroadcast(filter, col(keyCol))
    val flagged = incoming.withColumn("__might", coalesce(probe, lit(false)))
    val definiteNew = flagged.filter(!col("__might")).drop("__might")
    val candidates = flagged.filter(col("__might")).drop("__might")
    val sliver = candidates.select(col(keyCol)).distinct()
      .limit(cap + 1).collect()
    val corpusSide =
      (if (sliver.length <= cap)
         corpusKeysFor(sliver.map(_.get(0)).toSeq).map(_.select(col(keyCol)))
       else None)
        .getOrElse(corpusKeys.select(col(keyCol)).distinct())
    val confirmedNew = candidates.join(corpusSide, Seq(keyCol), "left_anti")
    definiteNew.unionByName(confirmedNew)
  }

  /** Zero-join probabilistic mode: every candidate is dropped, so an fpp
    * fraction of genuinely-new rows is lost alongside all true duplicates.
    * Survivors ⊆ [[newKeysExact]] survivors; no true duplicate survives.
    * Null-key rows survive (same coalesce as [[newKeysExact]] — a null key
    * cannot be a duplicate under equality semantics, and a three-valued
    * predicate would silently drop the row instead).
    */
  def newKeysProbabilistic(incoming: DataFrame, keyCol: String,
                           filter: BloomFilter): DataFrame =
    incoming.filter(!coalesce(mightContain(filter, col(keyCol)), lit(false)))
}
