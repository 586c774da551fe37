package graft.functions

import graft.SparkSpec
import org.apache.spark.sql.functions._

/** The broadcast-backed Bloom probe
  * ([[graft.functions.expressions.BloomMightContainBcastExpr]]) must be
  * probe-identical to the plan-embedded-bytes variant — it exists so a
  * frozen gate's task binaries carry a broadcast HANDLE instead of
  * re-shipping ~1.2 MB of filter bits per million corpus keys with every
  * stage of every batch.
  */
class BloomBroadcastSpec extends SparkSpec {
  import spark.implicits._

  test("broadcast probe equals the bytes-in-plan probe, including nulls") {
    val corpusKeys = spark.range(2000).select(xxhash64(col("id")).as("k"))
    val filter = BloomDedup.buildLong(corpusKeys, col("k"), 2000L, 0.01)
    val bcast = BloomDedup.broadcastFilter(spark, filter)
    try {
      // half duplicates, half novel, plus a null key
      val probeRows = spark.range(1000).select(xxhash64(col("id")).as("k"))
        .unionByName(spark.range(9000, 10000)
          .select(xxhash64(col("id") * 13 + 7).as("k")))
        .unionByName(Seq(Option.empty[Long]).toDF("k"))
      val plain = probeRows
        .select(col("k"), BloomDedup.mightContain(filter, col("k")).as("m"))
        .collect().map(r => (r.get(0), r.get(1))).toSet
      val viaBcast = probeRows
        .select(col("k"), BloomDedup.mightContainBroadcast(bcast, col("k")).as("m"))
        .collect().map(r => (r.get(0), r.get(1))).toSet
      assert(viaBcast == plain)
      // every true duplicate must probe true (no false negatives)
      val dup = spark.range(1000).select(xxhash64(col("id")).as("k"))
        .filter(!BloomDedup.mightContainBroadcast(bcast, col("k")))
      assert(dup.count() == 0L, "broadcast probe must have no false negatives")
    } finally bcast.unpersist(blocking = false)
  }

  test("freezeCorpus ships a broadcast filter and the frozen exact stage uses it") {
    val corpus = (1L to 50L).map(i =>
      (i, s"document number $i about a distinct and unrepeated subject matter", "web"))
      .toDF("doc_id", "text", "source")
    val cfg = CorpusPipeline.Config(minChars = 10, requireKnownLang = false,
      nearDupThreshold = None, decontamThreshold = None)
    val frozen = CorpusPipeline.freezeCorpus(corpus, cfg, withBanded = true)
    try {
      assert(frozen.bloomBcast.value.nonEmpty, "every freeze must broadcast its filter")
      val batch = (Seq(1L -> corpus.collect()(0).getString(1)) ++
        Seq(900L -> "a completely novel document that matches nothing in the corpus"))
        .map { case (id, tx) => (id, tx, "web") }.toDF("doc_id", "text", "source")
      graft.core.Scope.using { scope =>
        val accepted = CorpusPipeline.prepareIncrementalFrozen(
          scope, batch, frozen, corpus, cfg, Some(0.8))
        assert(accepted.select("doc_id").as[Long].collect().toSeq == Seq(900L))
      }
    } finally frozen.release()
  }
}
