package graft.functions

import graft.SparkSpec
import org.apache.spark.sql.functions._

/** Bloom-prefiltered incremental dedup contracts: no false negatives
  * (exhaustively), exact mode ≡ the plain anti-join, probabilistic mode
  * only over-drops and within the configured rate, and the measured
  * false-positive rate stays near fpp.
  */
class BloomDedupSpec extends SparkSpec {
  import spark.implicits._

  private lazy val fp = spark.read.parquet(s"$sf/documents.parquet")
    .select($"doc_id",
      TextFunctions.md5Hash60(TextFunctions.normalized($"text")).as("fp"))
  private lazy val corpus = fp.filter(pmod($"doc_id", lit(5L)) =!= 0L).cache()
  private lazy val incoming = fp.filter(pmod($"doc_id", lit(5L)) === 0L).cache()
  private lazy val filter =
    BloomDedup.buildLong(corpus, $"fp", math.max(corpus.count(), 1L), 0.01)
  private lazy val filterBcast = BloomDedup.broadcastFilter(spark, filter)

  test("no false negatives: every inserted key probes true, exhaustively") {
    val missed = corpus
      .filter(!BloomDedup.mightContain(filter, $"fp"))
      .count()
    assert(missed == 0, s"$missed inserted keys probed false — contract broken")
  }

  test("integer-typed probe key works in BOTH eval paths (widened like the build)") {
    val longs = Seq(1L, 2L, 3L).toDF("k")
    val f = BloomDedup.buildLong(longs, $"k", 3L, 0.01)
    // codegen path over an IntegerType column — no false negatives
    val ints = Seq(1, 2, 3).toDF("k")
    assert(ints.filter(BloomDedup.mightContain(f, $"k")).count() == 3)
    // interpreted path: eval the same shape mightContain builds — the probe
    // widened to long over an int input (pre-fix the raw int key threw
    // ClassCastException in nullSafeEval)
    import org.apache.spark.sql.catalyst.InternalRow
    import org.apache.spark.sql.catalyst.expressions.{Cast, Literal}
    import org.apache.spark.sql.types.LongType
    val out = new java.io.ByteArrayOutputStream()
    f.writeTo(out)
    val e = graft.functions.expressions.BloomMightContainExpr(
      Cast(Literal(2), LongType), out.toByteArray)
    assert(e.eval(InternalRow.empty) == true)
  }

  test("exact mode is bit-identical to the plain anti-join") {
    val viaBloom = BloomDedup.newKeysExact(incoming, corpus, "fp", filterBcast)
      .select($"doc_id").as[Long].collect().sorted.toSeq
    val plain = incoming.join(corpus.select($"fp").distinct(), Seq("fp"), "left_anti")
      .select($"doc_id").as[Long].collect().sorted.toSeq
    assert(viaBloom == plain)
  }

  test("probabilistic mode: survivors ⊆ exact survivors; no true dup survives; bounded loss") {
    val exact = BloomDedup.newKeysExact(incoming, corpus, "fp", filterBcast)
      .select($"doc_id").as[Long].collect().toSet
    val prob = BloomDedup.newKeysProbabilistic(incoming, "fp", filter)
      .select($"doc_id").as[Long].collect().toSet
    assert(prob.subsetOf(exact), "probabilistic mode may only over-drop")
    val trueDups = incoming.join(corpus.select($"fp").distinct(), Seq("fp"), "left_semi")
      .select($"doc_id").as[Long].collect().toSet
    assert(prob.intersect(trueDups).isEmpty, "a true duplicate survived the probe")
    val lost = exact.size - prob.size
    assert(lost <= math.max(5, (3 * 0.01 * incoming.count()).toInt),
      s"false-drop count $lost exceeds 3×fpp — filter badly oversaturated")
  }

  test("null-key rows survive both modes, matching the anti-join contract") {
    // the probe is null-propagating: un-coalesced, a null key fails BOTH
    // branch predicates of the exact split and the row silently vanishes —
    // but the plain anti-join KEEPS null-key rows (null never equals)
    val corpusK = Seq(1L, 2L).toDF("k")
    val f = BloomDedup.buildLong(corpusK, $"k", 2L, 0.01)
    val in = Seq((10L, Some(1L)), (11L, Some(99L)), (12L, Option.empty[Long]))
      .toDF("id", "k")
    val fBcast = BloomDedup.broadcastFilter(spark, f)
    val exact = BloomDedup.newKeysExact(in, corpusK, "k", fBcast)
      .select($"id").as[Long].collect().toSet
    fBcast.unpersist(blocking = false)
    val plain = in.join(corpusK.select($"k").distinct(), Seq("k"), "left_anti")
      .select($"id").as[Long].collect().toSet
    assert(exact == plain && exact.contains(12L),
      s"exact mode must keep the null-key row like the anti-join: got $exact vs $plain")
    val prob = BloomDedup.newKeysProbabilistic(in, "k", f)
      .select($"id").as[Long].collect().toSet
    assert(prob.contains(12L), "probabilistic mode must keep the null-key row")
  }

  test("measured false-positive rate on absent keys stays near fpp") {
    val present = corpus.select($"fp").as[Long].collect().toSet
    val absent = spark.range(1, 20001)
      .select((xxhash64($"id").bitwiseAND(lit(Long.MaxValue))).as("k"))
      .filter(!$"k".isin(present.toSeq: _*))
    val n = absent.count()
    val fps = absent.filter(BloomDedup.mightContain(filter, $"k")).count()
    assert(fps.toDouble / n <= 0.03, s"fp rate ${fps.toDouble / n} > 3×fpp")
  }
}
