package graft.functions

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graft.ColumnBridge
import graft.core.{Checkpoints, Scope}
import graft.functions.expressions.MinHashSignatureExpr

/** MinHash + LSH near-duplicate detection at corpus scale.
  *
  * Shape: shingle-hash each document (fused expression, no shingle strings)
  * → k-family MinHash signature as a NARROW per-row projection (a signature
  * is a closed-form function of the shingle set, so no explode and no
  * shuffle) → band the signature → one shuffle on (band, bucket-hash) to
  * find candidate pairs → estimate via signature agreement → verify the few
  * survivors with exact Jaccard. Only candidate pairs are ever compared, so
  * cost is O(corpus + collisions), never O(n²) — the property that lets this
  * run over a 100 TB document set.
  *
  * Measured history (sf0.1, 5k docs): the original explode → groupBy(id)
  * with k=64 separate `min(xxhash64(i,h))` aggregates shuffled ~1M exploded
  * shingle rows and compiled a 64-column generated aggregate; it was the
  * largest stage of the funnel. [[MinHashSignatureExpr]] computes identical
  * signatures (same xxhash64 family, bit-for-bit) in one pass per row,
  * removing that shuffle entirely.
  */
object MinHashLsh {

  /** Max candidate ids inlined as a pushed IN filter on the verify-stage
    * source scan (both funnels); above it the semi-join fallback runs.
    * 8K long literals keep the predicate and the pushed parquet filter
    * cheap while covering any plausible per-call near-dup survivor set.
    */
  private val CandidateIdPushdownCap = 8192

  /** Distinct values of `colName` read DRIVER-SIDE from an
    * already-localized survivor frame — zero Spark jobs: after
    * [[Checkpoints.localize]] the frame is a LocalRelation whose rows sit
    * on the driver, so extracting the candidate ids must not cost a
    * LocalTableScan job per funnel call (it did, briefly — a measurable
    * per-call constant at micro scale). None when the frame took the
    * >4M-pair checkpoint fallback (not local) or the id set exceeds the
    * cap — callers then keep the semi-join, which never needed the ids.
    */
  private def localizedIds(df: DataFrame, colName: String,
                           cap: Int): Option[Seq[Any]] = {
    import org.apache.spark.sql.catalyst.CatalystTypeConverters
    import org.apache.spark.sql.catalyst.plans.logical.LocalRelation
    df.queryExecution.analyzed match {
      case lr: LocalRelation =>
        val i = lr.output.indexWhere(_.name == colName)
        if (i < 0) None
        else {
          val t = lr.output(i).dataType
          val out = scala.collection.mutable.LinkedHashSet.empty[Any]
          val it = lr.data.iterator
          while (it.hasNext) {
            val row = it.next()
            if (!row.isNullAt(i))
              out += CatalystTypeConverters.convertToScala(row.get(i, t), t)
            if (out.size > cap) return None
          }
          Some(out.toSeq)
        }
      case _ => None
    }
  }

  /** k-element MinHash signature over a pre-hashed shingle column
    * (`array<long>`), as one `array<long>` column. Narrow, codegen'd,
    * identical values to `min(xxhash64(i, h))` per family i.
    */
  def signatureOfHashes(shingleHashes: Column, k: Int): Column =
    ColumnBridge.column(MinHashSignatureExpr(ColumnBridge.expression(shingleHashes), k))

  /** k-element MinHash signature over an array-of-string shingle column:
    * base-hash each shingle with xxhash64, then [[signatureOfHashes]].
    */
  def signature(shingles: Column, k: Int): Column =
    signatureOfHashes(transform(shingles, s => xxhash64(s)), k)

  /** Per-band bucket keys: hash of each r-length signature slice. Two
    * documents collide in a band iff that slice matches exactly.
    */
  def bandBuckets(sig: Column, bands: Int, rowsPerBand: Int): Column =
    array((0 until bands).map { b =>
      xxhash64(lit(b), slice(sig, b * rowsPerBand + 1, rowsPerBand))
    }: _*)

  /** Candidate near-duplicate pairs (idA < idB) from banded LSH, verified
    * against exact shingle-set Jaccard >= `threshold`.
    *
    * Three-stage funnel, measured on a corpus whose background similarity
    * (~0.3) sits uncomfortably close to banding noise:
    *   1. band collision in >= `minBands` bands (keys-only self-join; two
    *      collisions cut background candidates ~15× while keeping recall at
    *      j>=threshold ≈ 0.999);
    *   2. signature-agreement estimate (fraction of equal minhashes) within
    *      0.2 of the threshold — 64 long compares per pair, no text touched;
    *   3. exact Jaccard on the surviving few, which is what the caller gets.
    * The wide shingle arrays enter only at stage 3, so the shuffles move
    * kilobytes of keys/signatures per document, never the corpus text.
    *
    * Resource lifecycle: this is the bipartite core's SELF mode — the
    * corpus on both sides of one index. The signature frame feeds the
    * banding and both sides of the estimate join, so it is persisted for
    * the duration of the candidate search — ~0.5 KB/doc, ~50 GB
    * cluster-wide for a 100M-doc corpus. With the hot-bucket cap on (the
    * default) the hot set is localized first, so ONE job computes every
    * signature into that cache and the candidate search reads it back,
    * instead of several concurrent stages each filling it. The cache is
    * released by the call's [[graft.core.Scope]] once the (small)
    * estimate-survivor set has been materialized into a driver-local
    * relation ([[graft.core.Checkpoints.localize]]: one collect job, no
    * block-store state).
    * The returned frame therefore holds no cached state: downstream actions
    * re-read only the candidate documents' shingles (IN-filter or
    * semi-join pushdown), never the full corpus. The call does eager work
    * proportional to corpus + collisions; the exact-verify stage stays lazy.
    */
  def nearDupPairs(df: DataFrame, idCol: String, shingles: Column,
                   numHashes: Int = 64, bands: Int = 16,
                   threshold: Double = 0.8, minBands: Int = 2,
                   maxBucketSize: Long = 4096L): DataFrame =
    nearDupPairsHashed(df, idCol, transform(shingles, s => xxhash64(s)),
      numHashes, bands, threshold, minBands, maxBucketSize)

  /** [[nearDupPairs]] over pre-hashed shingles (`array<long>` from
    * [[TextFunctions.shingleHashes]]): the signature aggregation consumes
    * hash longs directly (no per-shingle string allocation anywhere) and
    * exact verification intersects long arrays. Jaccard equals the
    * string-set value up to 64-bit collisions.
    */
  def nearDupPairsHashed(df: DataFrame, idCol: String, shingleHashes: Column,
                         numHashes: Int = 64, bands: Int = 16,
                         threshold: Double = 0.8, minBands: Int = 2,
                         maxBucketSize: Long = 4096L): DataFrame =
    Scope.using { scope =>
      val sigs = scope.persist(signatureFrame(df, idCol, shingleHashes, numHashes))
      val banded = bandedFrame(sigs, bands, numHashes)
      bipartiteCore(scope, sigs, banded, hotBucketsOf(banded, maxBucketSize), None, None, None,
        sigs, df, df, idCol, shingleHashes, numHashes, bands, threshold,
        minBands, maxBucketSize, None, selfJoin = true)
    }.select(col("id_left").as("id_a"), col("id_right").as("id_b"), col("jaccard"))

  /** Cross-corpus near-duplicate pairs — the increment-vs-existing shape:
    * every (id_left, id_right) with exact shingle Jaccard >= `threshold`,
    * candidates from banded LSH ACROSS the two frames (left and right meet
    * only through shared band buckets, never left × right). The core's
    * bipartite mode, [[nearDupPairsHashed]] being its self mode: the same
    * three-stage funnel, recall math, and lifecycle; the hot-bucket cap
    * excludes a bucket when EITHER side exceeds it (a bucket hot on one
    * side alone already multiplies the join). This is how a new crawl is
    * deduplicated against the corpus already ingested without re-pairing
    * the existing corpus with itself.
    */
  def bipartitePairsHashed(left: DataFrame, right: DataFrame, idCol: String,
                           shingleHashes: Column, numHashes: Int = 64,
                           bands: Int = 16, threshold: Double = 0.8,
                           minBands: Int = 2, maxBucketSize: Long = 4096L): DataFrame =
    Scope.using { scope =>
      val sl = scope.persist(signatureFrame(left, idCol, shingleHashes, numHashes))
      val sr = scope.persist(signatureFrame(right, idCol, shingleHashes, numHashes))
      val bl = bandedFrame(sl, bands, numHashes)
      bipartiteCore(scope, sl, bl, hotBucketsOf(bl, maxBucketSize), None, None, None,
        sr, left, right, idCol, shingleHashes, numHashes, bands, threshold,
        minBands, maxBucketSize, None)
    }

  /** The signature projection [[bipartitePairsHashed]] builds internally:
    * (`__id`, `__sig`) with null-signature documents dropped. Exposed so a
    * standing corpus's signatures can be computed ONCE (per refresh
    * cadence) and fed to [[bipartitePairsFrozenBanded]] across many
    * micro-batches — the freeze-and-refresh trade of staleness for scan
    * count. Persistence is the caller's.
    *
    * The signature is bound by a one-element explode before the null
    * filter: a filter over a projected column is pushed below the
    * projection, so it would hash and sign each document a second time.
    */
  def signatureFrame(df: DataFrame, idCol: String, shingleHashes: Column,
                     numHashes: Int = 64): DataFrame = df
    .select(col(idCol).as("__id"),
      explode(array(signatureOfHashes(shingleHashes, numHashes))).as("__sig"))
    .filter(col("__sig").isNotNull)

  /** The banded (id, band, bucket) frame of a [[signatureFrame]]-shaped
    * sigs frame — 16× row expansion, narrow columns. Freezable: computing
    * this ONCE per refresh and reusing it across micro-batches removes the
    * per-batch corpus-side explode (and, with [[hotBucketsOf]], the
    * per-batch O(corpus) hot-bucket shuffle) from the frozen ingest gate.
    */
  private[functions] def bandedFrame(sigs: DataFrame, bands: Int,
                                     numHashes: Int): DataFrame = {
    require(numHashes % bands == 0, "bands must divide numHashes")
    sigs.select(col("__id"),
      posexplode(bandBuckets(col("__sig"), bands, numHashes / bands))
        .as(Seq("__band", "__bucket")))
  }

  /** (band, bucket) pairs whose occupancy exceeds `cap` — one groupBy
    * shuffle over the banded frame.
    *
    * The hot-bucket guard: a bucket of B documents emits B²/2 candidate
    * rows, so ONE boilerplate cluster (licenses, templated pages) in a
    * 100 TB corpus can dominate the whole join. Recall-safe for genuine
    * near-dups: a pair at j >= threshold collides in ~j^r · bands
    * independent bands (≈6.6 of 16 at the defaults), so it still meets
    * `minBands` unless EVERY shared bucket is a mega-cluster — i.e. the
    * pair is boilerplate, which exact/fingerprint dedup upstream catches
    * at a fraction of the cost.
    */
  private[functions] def hotBucketsOf(banded: DataFrame, cap: Long): DataFrame =
    banded.groupBy(col("__band"), col("__bucket"))
      .agg(count(lit(1)).as("__bsz"))
      .filter(col("__bsz") > cap)
      .select(col("__band"), col("__bucket"))

  /** The delta's (`__band`, `__bucket`, `__dc`) buckets that could cross
    * `cap` once the delta lands on a left side whose densest non-hot
    * bucket holds `leftMaxNonHot`. With the delta's occupancy known
    * (driver-resident `deltaBucketCounts`), only the SUSPECTS — buckets
    * whose delta count stacked on that max passes the cap (per-bucket left
    * counts are ≤ it by definition; already-hot buckets stay hot
    * regardless) — and None when there are none, the steady state.
    * Without the counts, every bucket `deltaBanded` touches, counted on
    * the executors.
    */
  private[functions] def suspectBuckets(spark: org.apache.spark.sql.SparkSession,
      deltaBanded: Option[DataFrame],
      deltaBucketCounts: Option[Map[(Int, Long), Long]],
      leftMaxNonHot: Option[Long], cap: Long): Option[DataFrame] =
    deltaBucketCounts match {
      case Some(counts) =>
        val suspects = leftMaxNonHot.fold(counts)(m =>
          counts.filter { case (_, dc) => dc + m > cap })
        if (suspects.isEmpty) None
        else Some(spark.createDataFrame(suspects.toSeq.map {
          case ((b, bkt), dc) => (b, bkt, dc)
        }).toDF("__band", "__bucket", "__dc"))
      case None => deltaBanded.map(_.groupBy(col("__band"), col("__bucket"))
        .agg(count(lit(1)).as("__dc")))
    }

  /** Each suspect bucket's occupancy over left ∪ delta, `__n` = its delta
    * count `__dc` + its count in `leftBanded`. The left side is counted by
    * a semi-join to the suspects' rows and a groupBy of only them, so the
    * shuffle is ∝ their occupancy, not the banded frame.
    */
  private[functions] def stackedOccupancy(leftBanded: DataFrame, suspects: DataFrame): DataFrame = {
    val left = leftBanded.join(suspects.select(col("__band"), col("__bucket")),
        Seq("__band", "__bucket"), "left_semi")
      .groupBy(col("__band"), col("__bucket"))
      .agg(count(lit(1)).as("__fc"))
    suspects.join(left, Seq("__band", "__bucket"), "left")
      .select(col("__band"), col("__bucket"),
        (col("__dc") + coalesce(col("__fc"), lit(0L))).as("__n"))
  }

  /** The one LSH core, in two modes. BIPARTITE (left ⋈ right): the LEFT
    * side arrives as its signatures, its banded frame and that frame's
    * hot-bucket set — precomputed and cached
    * by the frozen gate (one banding explode + hot-bucket shuffle per
    * freeze), or lazy plans for a one-shot call — plus an optional
    * admitted DELTA: candidates come from (leftBanded ∪ banded(delta)) ⋈
    * right, and the hot set is reconstructed EXACTLY as it would be
    * computed over (left ∪ delta) — left-hot pairs are `leftHot`, and the
    * only buckets whose occupancy can have changed are those the delta
    * touches, so the check is one broadcast-semi count over the left
    * banding instead of a full O(corpus) groupBy shuffle. Admissions stay
    * bit-identical to gating against (left ∪ delta) at any cadence
    * (FrozenGateSpec pins the equality; `FrozenBandedFunnelSpec` pins the
    * hot-bucket crossing case).
    *
    * SELF (`selfJoin`, [[nearDupPairsHashed]]): one corpus joined with
    * itself over one index — the right side IS the left (`sr` is `sl0`,
    * `right` is `leftDocs`, no delta), so the banding is exploded once,
    * its hot set is localized once, the candidate join keeps `l < r`, and
    * both verify-stage fetches take the IN pushdown, each for its own
    * side's ids.
    *
    * `delta` carries (`__id`, `__sig`, `__bb`) rows, `__bb` being
    * `bandBuckets(__sig, bands, numHashes / bands)` — the frozen gate's
    * fold already holds them, so banding the delta runs no job; a row with
    * a null `__sig` (and so a null `__bb`) takes no part.
    */
  private def bipartiteCore(scope: Scope,
      sl0: DataFrame, leftBanded: DataFrame, leftHot: DataFrame,
      delta: Option[DataFrame],
      deltaBucketCounts: Option[Map[(Int, Long), Long]],
      leftMaxNonHot: Option[Long],
      sr: DataFrame,
      leftDocs: => DataFrame, right: DataFrame, idCol: String,
      shingleHashes: Column, numHashes: Int, bands: Int, threshold: Double,
      minBands: Int, maxBucketSize: Long,
      prunedSigsFor: Option[Seq[Any] => Option[DataFrame]],
      selfJoin: Boolean = false): DataFrame = {
    val spark = leftBanded.sparkSession
    val deltaSigs = delta.map(_.select(col("__id"), col("__sig"))
      .filter(col("__sig").isNotNull))
    val blD = delta.map(_.select(col("__id"),
      posexplode(col("__bb")).as(Seq("__band", "__bucket"))))
    val br0 = if (selfJoin) leftBanded else bandedFrame(sr, bands, numHashes)
    val bl0 = blD.fold(leftBanded)(leftBanded.unionByName(_))
    val (bl, br) =
      if (maxBucketSize <= 0L) (bl0, br0)
      else {
        // buckets hot over left ∪ delta = {left count > cap} ∪
        // {delta-touched: left + delta count > cap} — the second term is
        // the only one needing fresh counts, and only for the delta's
        // suspect buckets; the steady state (no suspects) skips the
        // corpus-side count probe entirely
        val crossing = suspectBuckets(spark, blD, deltaBucketCounts,
            leftMaxNonHot, maxBucketSize).map(t =>
          stackedOccupancy(leftBanded, t).filter(col("__n") > maxBucketSize)
            .select(col("__band"), col("__bucket")))
        // ONE action, localize's single collect: the full hot set is tiny
        // (pathological buckets only), so both anti-joins then broadcast a
        // precomputed LocalRelation instead of re-running the
        // crossing/count subplans once per consuming join (measured 2× the
        // whole funnel's cost).
        // Above localize's row guard (pathological corpora where most
        // buckets are hot) the scope releases the fallback checkpoint; the
        // hot frame is fully consumed by bipartiteTail's eager survivor
        // materialization, and the frame it RETURNS references only the
        // localized survivors and the candidate text scans.
        val hot = scope.localize(
          if (selfJoin) leftHot
          else crossing.fold(leftHot)(leftHot.union(_))
            .union(hotBucketsOf(br0, maxBucketSize)).distinct())
        (bl0.join(hot, Seq("__band", "__bucket"), "left_anti"),
         br0.join(hot, Seq("__band", "__bucket"), "left_anti"))
      }
    val sl = deltaSigs.fold(sl0)(sl0.unionByName(_))
    // the estimate stage's corpus-side sigs, pruned to the candidate ids
    // (delta sigs union behind the pruned frozen read — a candidate id is
    // always in one of the two)
    val slSelect = prunedSigsFor.map(f => (ids: Seq[Any]) =>
      f(ids).map(fp => deltaSigs.fold(fp)(fp.unionByName(_))))
    bipartiteTail(scope, bl, br, sl, sr, leftDocs, right, idCol,
      shingleHashes, numHashes, threshold, minBands, bands, slSelect, selfJoin)
  }

  /** The core's tail: banded collision candidates → signature-
    * agreement estimate → exact-Jaccard verify with candidate-id pushdown.
    * Scratch frames register with the caller's `scope`; the returned frame
    * references only the localized survivors and the text sources, so the
    * scope may close as soon as this returns.
    */
  private def bipartiteTail(scope: Scope, bl: DataFrame, br: DataFrame,
                            sl: DataFrame, sr: DataFrame,
                            leftDocs: => DataFrame, right: DataFrame,
                            idCol: String, shingleHashes: Column,
                            numHashes: Int, threshold: Double,
                            minBands: Int, bands: Int,
                            slSelect: Option[Seq[Any] => Option[DataFrame]],
                            selfJoin: Boolean): DataFrame = {
    val estimated = {
      val sameBucket = col("l.__band") === col("r.__band") &&
        col("l.__bucket") === col("r.__bucket")
      val cand = bl.as("l").join(br.as("r"),
          if (selfJoin) sameBucket && col("l.__id") < col("r.__id") else sameBucket)
        .groupBy(col("l.__id").as("id_left"), col("r.__id").as("id_right"))
        .agg(count(lit(1)).as("__nbands"))
        .filter(col("__nbands") >= math.min(minBands, bands))
        .select(col("id_left"), col("id_right"))
      // When the corpus-side sigs can be read PRUNED (freeze-time side
      // file), materialize the candidate pairs first — they are bounded
      // by collisions — and push their left ids into the sig read: the
      // estimate stage then reads ∝ candidates instead of streaming the
      // whole cached sig frame through the join. One extra action (the
      // candidates' single collect job); the over-cap /
      // checkpoint-fallback path keeps the full sl join.
      val (candEff, slEff) = slSelect match {
        case Some(f) =>
          val cl = scope.localize(cand)
          val pruned = localizedIds(cl, "id_left", CandidateIdPushdownCap)
            .flatMap(f)
          (cl, pruned.getOrElse(sl))
        case None => (cand, sl)
      }
      val survivors = candEff
        .join(slEff.select(col("__id").as("id_left"), col("__sig").as("sig_l")), "id_left")
        .join(sr.select(col("__id").as("id_right"), col("__sig").as("sig_r")), "id_right")
        .withColumn("__est",
          size(filter(zip_with(col("sig_l"), col("sig_r"), (x, y) => x === y), p => p))
            .cast("double") / numHashes)
        .filter(col("__est") >= threshold - 0.2)
        .select(col("id_left"), col("id_right"))
      Checkpoints.localize(survivors)
    }
    // No estimate survivors → return the (empty) result WITHOUT evaluating
    // `leftDocs`: even constructing the verify join would touch the left
    // source (file listing / schema read), and the frozen-corpus ingest
    // path's contract is that a clean batch gates with zero corpus I/O.
    // `estimated` is already materialized (localize), so the probe is free.
    if (estimated.isEmpty)
      return estimated.withColumn("jaccard", lit(0.0))
        .select(col("id_left"), col("id_right"), col("jaccard"))
    // Left-side candidate fetch: a semi-join restricts the ROWS shingled
    // but still SCANS the whole left source — at corpus scale the verify
    // stage's IO would be a full text-column pass for a handful of
    // candidates. The survivor set is already driver-local (localize), so
    // when the distinct candidate-id list is small it becomes an IN
    // predicate on the scan itself — pushed to the parquet reader
    // (PushedFilters: In(id, ...)), pruning row groups by id statistics —
    // read off the local relation with zero extra jobs; the semi-join
    // stays as the over-cap / checkpoint-fallback path. Identical rows
    // either way: filter-by-ids == semi-join on those ids. In self mode
    // the right side is the same source and takes the same pushdown for
    // its own ids; the bipartite right side (the batch) keeps the
    // semi-join.
    def candidateShingles(docs: DataFrame, side: String, pushdown: Boolean): DataFrame =
      (if (pushdown) localizedIds(estimated, side, CandidateIdPushdownCap) else None)
        .map(ids => docs.filter(SetFilters.probeFilter(col(idCol), ids)))
        .getOrElse(docs.join(estimated.select(col(side).as("__cid")).distinct(),
          col(idCol) === col("__cid"), "left_semi"))
        .select(col(idCol).as("__id"), shingleHashes.as("__sh"))
    val shL = candidateShingles(leftDocs, "id_left", pushdown = true)
    val shR = candidateShingles(right, "id_right", pushdown = selfJoin)
    estimated
      .join(shL.select(col("__id").as("id_left"), col("__sh").as("sh_l")), "id_left")
      .join(shR.select(col("__id").as("id_right"), col("__sh").as("sh_r")), "id_right")
      .withColumn("jaccard", round(TextFunctions.jaccard(col("sh_l"), col("sh_r")), 4))
      .filter(col("jaccard") >= threshold)
      .select(col("id_left"), col("id_right"), col("jaccard"))
  }

  /** Keep only the incoming documents with NO near-duplicate in the
    * existing corpus — the incremental-ingest gate built on
    * [[bipartitePairsHashed]] (within-increment dedup composes separately
    * via [[dedupKeepFirst]]).
    */
  def dedupAgainst(existing: DataFrame, incoming: DataFrame, idCol: String,
                   shingleHashes: Column, numHashes: Int = 64, bands: Int = 16,
                   threshold: Double = 0.8): DataFrame = {
    val dupIds = bipartitePairsHashed(existing, incoming, idCol, shingleHashes,
        numHashes, bands, threshold)
      .select(col("id_right").as(idCol)).distinct()
    incoming.join(dupIds, Seq(idCol), "left_anti")
  }

  /** [[bipartitePairsHashed]] against a corpus whose signatures, banded
    * frame and hot-bucket set are PRECOMPUTED ([[signatureFrame]],
    * [[bandedFrame]], [[hotBucketsOf]]; persistence caller-managed), plus
    * the admitted-since-freeze `delta` as (`__id`, `__sig`, `__bb`) rows
    * (the core's doc). A frozen gate pays one banding explode + one
    * hot-bucket shuffle per REFRESH instead of per batch; a one-shot
    * caller passes the three as lazy plans. Output is identical to
    * [[bipartitePairsHashed]] over the (frozen ∪ delta) documents —
    * including hot-bucket semantics: a bucket that crosses
    * `maxBucketSize` only once the delta lands is re-detected per batch
    * from the frozen counts of exactly the buckets the delta touches
    * (spec-pinned, `FrozenBandedFunnelSpec`).
    *
    * `leftDocs` supplies the corpus TEXT for the exact-verify stage and
    * is evaluated only when estimate survivors exist: at zero candidates
    * the localized empty relation propagates and the source is never
    * scanned — the property that lets a frozen-corpus ingest gate run
    * whole batches without touching corpus storage. `rightSigs` feeds
    * several funnel branches, so it should be cheap to re-read; nothing
    * checks it, so it must be `signatureFrame(right, idCol, shingleHashes,
    * numHashes)` or a frame with exactly its rows, or the funnel pairs the
    * wrong documents.
    */
  def bipartitePairsFrozenBanded(frozenSigs: DataFrame, frozenBanded: DataFrame,
                                 frozenHot: DataFrame,
                                 delta: Option[DataFrame],
                                 leftDocs: => DataFrame, right: DataFrame,
                                 rightSigs: DataFrame,
                                 idCol: String, shingleHashes: Column,
                                 numHashes: Int = 64, bands: Int = 16,
                                 threshold: Double = 0.8, minBands: Int = 2,
                                 maxBucketSize: Long = 4096L,
                                 deltaBucketCounts: Option[Map[(Int, Long), Long]] = None,
                                 frozenMaxNonHot: Option[Long] = None,
                                 prunedSigsFor: Option[Seq[Any] => Option[DataFrame]] = None)
      : DataFrame =
    Scope.using { scope =>
      bipartiteCore(scope, frozenSigs, frozenBanded, frozenHot,
        delta, deltaBucketCounts, frozenMaxNonHot, rightSigs,
        leftDocs, right, idCol, shingleHashes, numHashes, bands, threshold,
        minBands, maxBucketSize, prunedSigsFor)
    }

  /** Dedup a corpus by near-duplicate clustering: drop every document that
    * has a near-dup with a smaller id (cheap transitive-lite survivor rule —
    * one pass, no iterative connected components; adequate for dedup where
    * any representative is acceptable).
    */
  def dedupKeepFirst(df: DataFrame, idCol: String, shingles: Column,
                     numHashes: Int = 64, bands: Int = 16,
                     threshold: Double = 0.8): DataFrame = {
    val dupIds = nearDupPairs(df, idCol, shingles, numHashes, bands, threshold)
      .select(col("id_b").as(idCol)).distinct()
    df.join(dupIds, Seq(idCol), "left_anti")
  }

  /** Near-dup cluster dedup with a QUALITY-RANKED survivor: transitive-close
    * the near-dup pairs into clusters ([[graft.operators.ConnectedComponents]])
    * and keep, per cluster, the row with the highest `keep` score (ties →
    * smallest id) — the production rule when the BEST document should
    * represent each duplicate cluster, vs [[dedupKeepFirst]]'s pair-local
    * any-representative rule (which can drop a long original in favor of a
    * lower-id fragment, and is not transitive). `keep` must be numeric
    * (cast to double for ranking); ids must be long-castable (the
    * [[graft.operators.ConnectedComponents.minLabel]] contract).
    *
    * Scale shape: the pair funnel and the label propagation are the
    * existing bounded paths; the survivor pick is one `min_by` aggregate
    * over (cluster, score) — keys-only shuffle of the clustered subset,
    * which is minuscule relative to the corpus that produced it.
    */
  def dedupClustersKeepBest(df: DataFrame, idCol: String, shingleHashes: Column,
                            keep: Column, numHashes: Int = 64, bands: Int = 16,
                            threshold: Double = 0.8): DataFrame = {
    val pairs = nearDupPairsHashed(df, idCol, shingleHashes, numHashes, bands, threshold)
    val labels = graft.operators.ConnectedComponents.minLabel(pairs)
    val clustered = df
      // a NULL keep score must LOSE to any real score: struct ordering puts
      // null first, so an un-coalesced null key would otherwise be the
      // min_by minimum and a scoreless row would silently WIN its cluster —
      // -Infinity makes it the worst candidate instead (all-null clusters
      // fall back to the id tiebreak)
      .select(col(idCol).as("__cid"),
        coalesce(keep.cast("double"), lit(Double.NegativeInfinity)).as("__keep"))
      .join(labels.select(col("id").as("__cid"), col("comp").as("__comp")), "__cid")
    // max keep, ties to the smaller id: min_by over the (−score, id) struct
    // (the same ordering device as semanticClusters' tiebreak)
    val winners = clustered.groupBy(col("__comp"))
      .agg(min_by(col("__cid"),
        struct(negate(col("__keep")).as("k"), col("__cid").as("i"))).as("__win"))
    val drops = clustered.join(winners, "__comp")
      .filter(col("__cid") =!= col("__win"))
      .select(col("__cid").as(idCol))
    df.join(drops, Seq(idCol), "left_anti")
  }
}
