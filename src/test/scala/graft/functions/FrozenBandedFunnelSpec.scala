package graft.functions

import graft.SparkSpec
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** The frozen-banded funnel ([[MinHashLsh.bipartitePairsFrozenBanded]])
  * must emit EXACTLY the pairs of [[MinHashLsh.bipartitePairsHashed]] over
  * the (frozen ∪ delta) documents, which counts the whole hot set afresh —
  * including hot-bucket semantics, whose only subtle case is a bucket that
  * crosses `maxBucketSize` because of the DELTA: the frozen hot set alone
  * would miss it, so the path re-counts exactly the buckets the delta
  * touches against the cached frozen banding.
  */
class FrozenBandedFunnelSpec extends SparkSpec {
  import spark.implicits._

  private val boilerText =
    "this exact same boilerplate license text repeats on every single page of the corpus"
  private val uniqueText =
    "a genuinely unique document about distributed query engines and shuffle hygiene"

  // frozen corpus: 8 boilerplate clones (bucket occupancy 8 ≤ cap 10 —
  // NOT hot at freeze) + one unique doc
  private def frozenDocs: DataFrame =
    ((100L until 108L).map(i => (i, boilerText)) :+ (60L, uniqueText))
      .toDF("doc_id", "text")
  // delta: 5 more clones → boilerplate buckets cross to 13 > 10
  private def deltaDocs: DataFrame =
    (200L until 205L).map(i => (i, boilerText)).toDF("doc_id", "text")
  // incoming: near-dup of boilerplate, near-dup of the unique doc, fresh
  private def incoming: DataFrame = Seq(
    (1L, boilerText + " appended"),
    (2L, uniqueText + " appended"),
    (3L, "completely unrelated content mentioning neither licenses nor engines")
  ).toDF("doc_id", "text")

  private val sh = TextFunctions.shingleHashes(col("text"), 5)
  private def sigsOf(df: DataFrame): DataFrame =
    MinHashLsh.signatureFrame(df, "doc_id", sh, 64)
  // the funnel's delta argument: signatures plus their band buckets
  private def deltaOf(df: DataFrame): DataFrame =
    sigsOf(df).withColumn("__bb", MinHashLsh.bandBuckets(col("__sig"), 16, 4))
  private def perBatch(corpusDocs: DataFrame, cap: Long): Set[(Long, Long)] =
    pairsOf(MinHashLsh.bipartitePairsHashed(corpusDocs, incoming, "doc_id", sh,
      64, 16, 0.8, maxBucketSize = cap))

  private def pairsOf(df: DataFrame): Set[(Long, Long)] =
    df.select("id_left", "id_right").as[(Long, Long)].collect().toSet

  private def runBoth(delta: Option[DataFrame], cap: Long)
      : (Set[(Long, Long)], Set[(Long, Long)]) = {
    val fSigs = sigsOf(frozenDocs)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val banded = MinHashLsh.bandedFrame(fSigs, 16, 64)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    try {
      val hot = graft.core.Checkpoints.localize(
        MinHashLsh.hotBucketsOf(banded, cap))
      val corpusDocs = delta.fold(frozenDocs)(frozenDocs.unionByName(_))
      val legacy = perBatch(corpusDocs, cap)
      val frozenPath = pairsOf(MinHashLsh.bipartitePairsFrozenBanded(
        fSigs, banded, hot, delta.map(deltaOf), corpusDocs, incoming,
        sigsOf(incoming), "doc_id", sh, 64, 16, 0.8, maxBucketSize = cap))
      (legacy, frozenPath)
    } finally {
      fSigs.unpersist(blocking = false)
      banded.unpersist(blocking = false)
    }
  }

  test("no delta: frozen-banded pairs equal the per-batch path's") {
    val (legacy, frozen) = runBoth(None, cap = 10L)
    assert(legacy.exists(_._2 == 1L) && legacy.exists(_._2 == 2L),
      s"fixture drifted: both near-dups must be flagged below the cap, got $legacy")
    assert(frozen == legacy)
  }

  test("delta crosses the hot cap: both paths drop the boilerplate candidates") {
    val (legacy, frozen) = runBoth(Some(deltaDocs), cap = 10L)
    // 13 clones > cap: every boilerplate bucket is hot, so the boilerplate
    // near-dup is no longer flagged; the unique-doc near-dup still is
    assert(!legacy.exists(_._2 == 1L),
      s"fixture drifted: hot buckets must mute the boilerplate match, got $legacy")
    assert(legacy.exists(p => p._1 == 60L && p._2 == 2L))
    assert(frozen == legacy,
      "the frozen path must re-detect delta-induced hot buckets")
  }

  test("delta present but below the cap: clones in the delta still match as pairs") {
    val (legacy, frozen) = runBoth(Some(deltaDocs), cap = 100L)
    assert(legacy.exists(p => p._1 >= 200L && p._2 == 1L),
      s"fixture drifted: delta docs must participate as candidates, got $legacy")
    assert(frozen == legacy)
  }

  test("uncapped (maxBucketSize=0): identical pair sets") {
    val (legacy, frozen) = runBoth(Some(deltaDocs), cap = 0L)
    assert(legacy.nonEmpty && frozen == legacy)
  }

  test("driver-resident delta counts: crossing detected via the probe, skip-proof exact") {
    // the gate's steady-state shape: delta banding + per-bucket occupancy
    // arrive driver-side; the funnel must (a) skip the frozen-count probe
    // when maxDc + maxNonHot ≤ cap and still match, (b) run the probe and
    // match when a bucket can cross
    val fSigs = sigsOf(frozenDocs)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val banded = MinHashLsh.bandedFrame(fSigs, 16, 64)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    try {
      // the delta's per-bucket occupancy, counted driver-side from its
      // collected band buckets exactly as the gate's fold does
      val dDelta = deltaOf(deltaDocs)
      val dCounts = dDelta.select("__bb").as[Seq[Long]].collect().toSeq
        .flatMap(_.zipWithIndex.map { case (bkt, b) => (b, bkt) })
        .groupBy(identity).map { case (k, vs) => k -> vs.size.toLong }
      val corpusDocs = frozenDocs.unionByName(deltaDocs)
      def run(cap: Long): (Set[(Long, Long)], Set[(Long, Long)]) = {
        val hot = graft.core.Checkpoints.localize(
          MinHashLsh.hotBucketsOf(banded, cap))
        val maxNonHot = banded.groupBy(col("__band"), col("__bucket"))
          .agg(count(lit(1)).as("c")).filter(col("c") <= cap)
          .agg(max(col("c"))).head() match {
            case r if r.isNullAt(0) => 0L
            case r => r.getLong(0)
          }
        val legacy = perBatch(corpusDocs, cap)
        val driverPath = pairsOf(MinHashLsh.bipartitePairsFrozenBanded(
          fSigs, banded, hot, Some(dDelta), corpusDocs, incoming,
          sigsOf(incoming), "doc_id",
          sh, 64, 16, 0.8, maxBucketSize = cap,
          deltaBucketCounts = Some(dCounts),
          frozenMaxNonHot = Some(maxNonHot)))
        (legacy, driverPath)
      }
      // cap 10: boilerplate buckets (8 frozen + 5 delta = 13) cross → probe
      val (leg10, drv10) = run(10L)
      assert(!leg10.exists(_._2 == 1L), s"fixture drifted: $leg10")
      assert(drv10 == leg10, "probe path must match the per-batch gate")
      // cap 100: maxDc(5) + maxNonHot(8) = 13 ≤ 100 → probe provably
      // skipped, and the results still match
      val (leg100, drv100) = run(100L)
      assert(leg100.exists(_._2 == 1L), s"fixture drifted: $leg100")
      assert(drv100 == leg100, "skip path must match the per-batch gate")
    } finally {
      fSigs.unpersist(blocking = false)
      banded.unpersist(blocking = false)
    }
  }
}
