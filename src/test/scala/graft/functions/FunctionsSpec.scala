package graft.functions

import graft.SparkSpec
import org.apache.spark.sql.functions._

class TextFunctionsSpec extends SparkSpec {
  import spark.implicits._

  private def one(c: org.apache.spark.sql.Column, text: String): Any =
    Seq(text).toDF("t").select(c.as("v")).head().get(0)

  test("tokenCount handles empty, blank, multi-space") {
    assert(one(TextFunctions.tokenCount($"t"), "") == 0)
    assert(one(TextFunctions.tokenCount($"t"), "   ") == 0)
    assert(one(TextFunctions.tokenCount($"t"), "a  b\tc") == 3)
  }

  test("bpe token count splits words, digits, symbols") {
    assert(one(TextFunctions.bpeTokenCount($"t"), "ab 12 c!") == 5) // ab,1,2,c,!
  }

  test("normalization collapses case/punct/whitespace") {
    assert(one(TextFunctions.normalized($"t"), " Hello,  WORLD!! ") == "hello world")
  }

  test("fingerprint is invariant to formatting noise") {
    val a = one(TextFunctions.fingerprint($"t"), "Hello, world!")
    val b = one(TextFunctions.fingerprint($"t"), "  hello   WORLD ")
    assert(a == b)
  }

  test("charShingles produces len-k+1 distinct shingles") {
    val sh = one(TextFunctions.charShingles($"t", 3), "abcd")
      .asInstanceOf[scala.collection.Seq[String]]
    assert(sh.toSet == Set("abc", "bcd"))
    val short = one(TextFunctions.charShingles($"t", 5), "ab")
      .asInstanceOf[scala.collection.Seq[String]]
    assert(short.toSeq == Seq("ab"))
  }

  test("wordNgrams slides over tokens") {
    val g = one(TextFunctions.wordNgrams($"t", 2), "a b c")
      .asInstanceOf[scala.collection.Seq[String]]
    assert(g.toSet == Set("a b", "b c"))
  }

  test("jaccard of identical sets is 1, disjoint is 0") {
    val df = Seq((Seq("a", "b"), Seq("a", "b"), Seq("x"))).toDF("a", "b", "c")
    assert(df.select(TextFunctions.jaccard($"a", $"b")).head().getDouble(0) == 1.0)
    assert(df.select(TextFunctions.jaccard($"a", $"c")).head().getDouble(0) == 0.0)
  }

  test("langId picks lexicon with most hits, und when none") {
    assert(one(TextFunctions.langId($"t"), "the cat and the dog is here") == "en")
    assert(one(TextFunctions.langId($"t"), "der hund und die katze ist") == "de")
    assert(one(TextFunctions.langId($"t"), "xyzzy qwerty") == "und")
  }
}

class MinHashSpec extends SparkSpec {
  import spark.implicits._

  private def docs = Seq(
    (0L, "the quick brown fox jumps over the lazy dog again and again"),
    (1L, "the quick brown fox jumps over the lazy dog again and again!"), // near-dup of 0
    (2L, "completely different content about spark query engines at scale"),
    (3L, "another unrelated document mentioning benchmarks and shuffles")
  ).toDF("doc_id", "text")

  test("minhash signature is deterministic and has k elements") {
    val sig = docs.select(MinHashLsh.signature(
      TextFunctions.charShingles($"text", 5), 16).as("sig"))
    val a = sig.collect().map(_.getSeq[Long](0))
    val b = sig.collect().map(_.getSeq[Long](0))
    assert(a.zip(b).forall { case (x, y) => x == y })
    assert(a.forall(_.length == 16))
  }

  test("near-dup pairs found for planted duplicate, none across distinct docs") {
    val pairs = MinHashLsh.nearDupPairs(docs, "doc_id",
      TextFunctions.charShingles($"text", 5), numHashes = 32, bands = 8, threshold = 0.8)
      .collect()
    assert(pairs.map(r => (r.getLong(0), r.getLong(1))).toSet == Set((0L, 1L)))
  }

  test("nearDupPairs leaves zero block-store state after the result is consumed") {
    val sc = spark.sparkContext
    val before = sc.getPersistentRDDs.keySet.toSet
    MinHashLsh.nearDupPairs(docs, "doc_id",
      TextFunctions.charShingles($"text", 5), numHashes = 32, bands = 8, threshold = 0.8)
      .count()
    assert((sc.getPersistentRDDs.keySet.toSet -- before).isEmpty,
      "the signature cache and the survivor checkpoint must both be released")
  }

  test("dedupAgainst drops only incoming near-dups of the EXISTING corpus") {
    val existing = Seq(
      (0L, "the quick brown fox jumps over the lazy dog again and again"),
      (2L, "completely different content about spark query engines at scale"))
      .toDF("doc_id", "text")
    val incoming = Seq(
      (10L, "the quick brown fox jumps over the lazy dog again and again!"), // near-dup of 0
      (11L, "a genuinely new document with fresh subject matter and words"),
      (12L, "a genuinely new document with fresh subject matter and words!!") // near-dup of 11, NOT of existing
    ).toDF("doc_id", "text")
    val sh = TextFunctions.shingleHashes($"text", 5)
    val kept = MinHashLsh.dedupAgainst(existing, incoming, "doc_id", sh,
      numHashes = 32, bands = 8, threshold = 0.8)
      .select("doc_id").as[Long].collect().toSet
    // 10 collides with the existing corpus; 11/12 survive — within-increment
    // dedup is dedupKeepFirst's job, composed separately
    assert(kept == Set(11L, 12L))
    val pairs = MinHashLsh.bipartitePairsHashed(existing, incoming, "doc_id", sh,
      numHashes = 32, bands = 8, threshold = 0.8)
      .select($"id_left", $"id_right").as[(Long, Long)].collect().toSet
    assert(pairs == Set((0L, 10L)), s"got $pairs")
  }

  test("verify-stage candidate fetch pushes the id IN-filter into the parquet scan") {
    // the semi-join fallback restricts the rows shingled but still scans
    // the whole left source; with a small survivor set the candidate ids
    // must land in PushedFilters so row groups prune by id statistics —
    // the IO bound the frozen-gate verify stage relies on at corpus scale
    val dir = java.nio.file.Files.createTempDirectory("pushdown").toString + "/corpus"
    Seq(
      (0L, "the quick brown fox jumps over the lazy dog again and again"),
      (2L, "completely different content about spark query engines at scale"),
      (3L, "a third body of text that matches nothing in the incoming batch"))
      .toDF("doc_id", "text").write.parquet(dir)
    val corpus = spark.read.parquet(dir)
    val incoming = Seq(
      (10L, "the quick brown fox jumps over the lazy dog again and again!"))
      .toDF("doc_id", "text")
    val sh = TextFunctions.shingleHashes($"text", 5)
    val sigs = MinHashLsh.signatureFrame(corpus, "doc_id", sh, 32)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    try {
      val pairs = MinHashLsh.bipartitePairsPrecomputedLeft(sigs, corpus,
        incoming, MinHashLsh.signatureFrame(incoming, "doc_id", sh, 32),
        "doc_id", sh, numHashes = 32, bands = 8, threshold = 0.8)
      assert(pairs.select($"id_left", $"id_right").as[(Long, Long)]
        .collect().toSet == Set((0L, 10L)))
      val plan = pairs.queryExecution.executedPlan.toString
      // one candidate id folds isin → EqualTo; more stay an In — either
      // way the predicate must appear under PushedFilters on the scan
      assert(plan.contains("PushedFilters: [") &&
        (plan.contains("In(doc_id") || plan.contains("EqualTo(doc_id")),
        s"candidate ids must reach the scan as a pushed id filter:\n$plan")
    } finally sigs.unpersist(false)
  }

  test("bipartite funnel leaves zero block-store state after consumption") {
    val sc = spark.sparkContext
    val half = docs.filter($"doc_id" < 2)
    val rest = docs.filter($"doc_id" >= 2)
    val before = sc.getPersistentRDDs.keySet.toSet
    MinHashLsh.bipartitePairsHashed(half, rest, "doc_id",
      TextFunctions.shingleHashes($"text", 5), numHashes = 32, bands = 8,
      threshold = 0.8).count()
    assert((sc.getPersistentRDDs.keySet.toSet -- before).isEmpty,
      "both signature caches and the survivor checkpoint must be released")
  }

  test("dedupClustersKeepBest keeps the highest-quality doc per cluster, not the first") {
    // 0/1/5 form one transitive near-dup cluster where the BEST (longest)
    // member has the LARGEST id — keep-first would pick 0, keep-best must
    // pick 5; 2 and 3 are unclustered and must pass through untouched
    val base = "the quick brown fox jumps over the lazy dog again and again"
    val clusterDocs = Seq(
      (0L, base),
      (1L, base + "!"),
      (5L, base + "! with a fresh tail"),
      (2L, "completely different content about spark query engines at scale"),
      (3L, "another unrelated document mentioning benchmarks and shuffles")
    ).toDF("doc_id", "text").withColumn("n_chars", length($"text"))
    val sh = TextFunctions.shingleHashes($"text", 5)
    // the planted cluster must actually be transitive at this threshold
    val pairs = MinHashLsh.nearDupPairsHashed(clusterDocs, "doc_id", sh,
      numHashes = 32, bands = 16, threshold = 0.55)
      .select($"id_a", $"id_b").as[(Long, Long)].collect().toSet
    assert(pairs.contains((0L, 1L)) && (pairs.contains((1L, 5L)) || pairs.contains((0L, 5L))),
      s"fixture must chain 0-1-5 at the test threshold, got $pairs")
    val kept = MinHashLsh.dedupClustersKeepBest(clusterDocs, "doc_id", sh,
        keep = $"n_chars", numHashes = 32, bands = 16, threshold = 0.55)
      .select("doc_id").as[Long].collect().toSet
    assert(kept == Set(5L, 2L, 3L), s"got $kept")
    // ties on the keep score break toward the smaller id
    val tied = Seq(
      (7L, base), (4L, base), // exact dups, equal length → 4 survives
      (9L, "entirely separate prose about something else altogether here"))
      .toDF("doc_id", "text").withColumn("n_chars", length($"text"))
    val keptTied = MinHashLsh.dedupClustersKeepBest(tied, "doc_id",
        TextFunctions.shingleHashes($"text", 5),
        keep = $"n_chars", numHashes = 32, bands = 16, threshold = 0.8)
      .select("doc_id").as[Long].collect().toSet
    assert(keptTied == Set(4L, 9L), s"got $keptTied")
  }

  test("dedupClustersKeepBest: a null keep score loses to any real score") {
    // struct ordering sorts null first, so an un-coalesced null key would be
    // the min_by MINIMUM — the scoreless row would silently win its cluster
    val base = "the quick brown fox jumps over the lazy dog again and again"
    val docs = Seq(
      (0L, base, Some(10.0)),
      (1L, base + "!", None),                 // null score must NOT win
      (9L, "entirely separate prose about something else altogether here", None))
      .toDF("doc_id", "text", "score")
    val kept = MinHashLsh.dedupClustersKeepBest(docs, "doc_id",
        TextFunctions.shingleHashes($"text", 5),
        keep = $"score", numHashes = 32, bands = 16, threshold = 0.8)
      .select("doc_id").as[Long].collect().toSet
    assert(kept == Set(0L, 9L), s"null-scored doc must lose the cluster, got $kept")
  }

  test("dedupKeepFirst drops the higher id of a dup pair") {
    val kept = MinHashLsh.dedupKeepFirst(docs, "doc_id",
      TextFunctions.charShingles($"text", 5), numHashes = 32, bands = 8, threshold = 0.8)
      .select("doc_id").as[Long].collect().toSet
    assert(kept == Set(0L, 2L, 3L))
  }

  test("simhash hamming distance small for near-dups, large for unrelated") {
    val withSim = docs.select($"doc_id",
      SimHash.simhash64(TextFunctions.wordNgrams($"text", 2)).as("sh"))
    val m = withSim.collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    def ham(a: Long, b: Long) = java.lang.Long.bitCount(a ^ b)
    assert(ham(m(0L), m(1L)) <= 8)
    assert(ham(m(0L), m(2L)) > 8)
  }

  test("ngram jaccard pairs exact") {
    val pairs = NgramJaccard.pairs(docs, "doc_id",
      TextFunctions.wordNgrams($"text", 3), threshold = 0.8).collect()
    assert(pairs.map(r => (r.getLong(0), r.getLong(1))).toSet == Set((0L, 1L)))
  }

  test("containment pairs: subset doc scores 1.0 toward its superset, jaccard misses it") {
    val d = Seq(
      (1L, "alpha beta gamma delta epsilon"),
      (2L, "alpha beta gamma delta epsilon zeta eta theta"),
      (3L, "totally different content and words entirely here")).toDF("doc_id", "text")
    val grams = TextFunctions.wordNgrams($"text", 3)
    // A's 3 grams all sit inside B's 6 → containment(A→B) = 1.0 but
    // jaccard = 3/6 = 0.5: the quote case the symmetric rule can't see
    val cont = NgramJaccard.containmentPairs(d, "doc_id", grams,
        threshold = 0.8, maxDocFreq = 0L)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    assert(cont == Set((1L, 2L, 1.0)), s"got $cont")
    assert(NgramJaccard.pairs(d, "doc_id", grams, threshold = 0.8, maxDocFreq = 0L)
      .collect().isEmpty, "symmetric jaccard at 0.8 misses the quote pair")
    // a lower floor exposes the reverse orientation at 3/6
    val both = NgramJaccard.containmentPairs(d, "doc_id", grams,
        threshold = 0.5, maxDocFreq = 0L)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    assert(both == Set((1L, 2L, 1.0), (2L, 1L, 0.5)))
  }

  test("ngram auto-cap derives corpus size in-plan: no eager job at build time") {
    val sc = spark.sparkContext
    val jobs = new java.util.concurrent.atomic.AtomicInteger(0)
    val listener = new org.apache.spark.scheduler.SparkListener {
      override def onJobStart(j: org.apache.spark.scheduler.SparkListenerJobStart): Unit = {
        jobs.incrementAndGet(); ()
      }
    }
    sc.addSparkListener(listener)
    try {
      val plan = NgramJaccard.pairs(docs, "doc_id",
        TextFunctions.wordNgrams($"text", 3), threshold = 0.8) // auto cap
      Thread.sleep(500) // listener bus is async; give a stray job time to surface
      assert(jobs.get() == 0,
        "building the pairs plan must not launch jobs (the old df.count() did)")
      // and the auto-capped plan still computes the right answer when run
      val out = plan.collect().map(r => (r.getLong(0), r.getLong(1))).toSet
      assert(out == Set((0L, 1L)))
    } finally sc.removeSparkListener(listener)
  }

  test("ngram jaccard doc-frequency cap prunes a synthetic stop-gram") {
    // every doc shares the stop gram; docs 10/11 share nothing else.
    // Uncapped, the stop gram alone makes (10,11) similar at threshold 0.5;
    // with the cap (df > 3 pruned) the pair disappears while the genuine
    // near-dup pair (12,13), carried by rare grams, survives.
    val d = Seq(
      (10L, "common shared gram alpha"),
      (11L, "common shared gram delta"),
      (12L, "common shared gram unique payload text here"),
      (13L, "common shared gram unique payload text here too")
    ).toDF("doc_id", "text")
    val grams = TextFunctions.wordNgrams($"text", 3)
    val uncapped = NgramJaccard.pairs(d, "doc_id", grams, threshold = 0.3, maxDocFreq = 0L)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val capped = NgramJaccard.pairs(d, "doc_id", grams, threshold = 0.3, maxDocFreq = 3L)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(uncapped.contains((10L, 11L)), s"stop gram should link 10-11 uncapped: $uncapped")
    assert(!capped.contains((10L, 11L)), s"cap should prune the stop-gram link: $capped")
    assert(capped.contains((12L, 13L)), s"rare-gram pair must survive the cap: $capped")
  }
}

class VectorSimilaritySpec extends SparkSpec {
  import spark.implicits._

  test("cosine of identical vectors is 1, orthogonal is 0") {
    val df = Seq((Seq(1.0f, 0.0f), Seq(1.0f, 0.0f), Seq(0.0f, 2.0f)))
      .toDF("a", "b", "c")
    val r = df.select(
      VectorSimilarity.cosine($"a", $"b").as("same"),
      VectorSimilarity.cosine($"a", $"c").as("orth")).head()
    assert(math.abs(r.getDouble(0) - 1.0) < 1e-12)
    assert(math.abs(r.getDouble(1)) < 1e-12)
  }

  test("brute-force topk ranks by cosine with deterministic ties") {
    val emb = spark.read.parquet(s"$sf/embeddings.parquet")
    val out = VectorSimilarity.bruteForceTopK(emb, emb.filter($"vec_id" === 0), k = 3)
      .collect()
    assert(out.length == 3)
    assert(out.map(_.getInt(3)).toSeq.sorted == Seq(1, 2, 3))
    val cos = out.sortBy(_.getInt(3)).map(_.getDouble(2))
    assert(cos.sliding(2).forall { case Array(a, b) => a >= b })
  }

  test("lsh buckets are deterministic") {
    val emb = spark.read.parquet(s"$sf/embeddings.parquet").limit(20)
    val b1 = emb.select(VectorSimilarity.hyperplaneBucket($"embedding", 4, 64)).collect()
    val b2 = emb.select(VectorSimilarity.hyperplaneBucket($"embedding", 4, 64)).collect()
    assert(b1.map(_.getLong(0)).toSeq == b2.map(_.getLong(0)).toSeq)
  }

  test("multi-table bucket expression: codegen and interpreted eval agree") {
    import graft.functions.expressions.HyperplaneBucketsExpr
    import org.apache.spark.sql.catalyst.util.ArrayData
    val emb = spark.read.parquet(s"$sf/embeddings.parquet").limit(50)
    // df path runs through whole-stage codegen (doGenCode)
    val viaCodegen = emb
      .select($"vec_id", VectorSimilarity.hyperplaneBuckets($"embedding", 3, 64, 8).as("b"))
      .collect().map(r => r.getLong(0) -> r.getSeq[Long](1)).toMap
    // direct eval path (interpreted)
    val expr = HyperplaneBucketsExpr(org.apache.spark.sql.catalyst.expressions.Literal(
      null, org.apache.spark.sql.types.ArrayType(org.apache.spark.sql.types.FloatType)), 3, 64, 8)
    val rows = emb.select($"vec_id", $"embedding").collect()
    rows.foreach { r =>
      val in = ArrayData.toArrayData(r.getSeq[Float](1).toArray)
      val got = expr.computeRow(in).toLongArray.toSeq
      assert(got == viaCodegen(r.getLong(0)), s"vec ${r.getLong(0)}")
    }
  }

  test("multimodal feature extraction preserves ids and emits fixed-width vectors") {
    val docs = spark.read.parquet(s"$sf/documents.parquet").limit(10)
    val media = Multimodal.synthesizeImages(docs, "doc_id")
    val feats = Multimodal.extractFeatures(media, dim = 8).collect()
    assert(feats.length == 10)
    assert(feats.forall(_.getSeq[Float](2).length == 8))
    assert(feats.forall(r => r.getInt(1) > 0))
    // histogram buckets are fractions of the pixel population
    feats.foreach { r =>
      val s = r.getSeq[Float](2).map(_.toDouble).sum
      assert(math.abs(s - 1.0) < 1e-5, s"histogram of ${r.getLong(0)} sums to $s")
    }
    // a payload no codec recognizes yields null features, never a fake
    val text = Multimodal.synthesizeMedia(docs, "doc_id", "text")
    val nulls = Multimodal.extractFeatures(text, dim = 8).collect()
    assert(nulls.forall(_.isNullAt(2)))
    assert(nulls.forall(r => r.getInt(1) > 0))
  }
}

class VectorExprSpec extends SparkSpec {
  import spark.implicits._
  import org.apache.spark.sql.functions._

  test("codegen cosine matches interpreted HOF cosine on real embeddings") {
    val emb = spark.read.parquet(s"$sf/embeddings.parquet").limit(50)
    val a = emb.select($"vec_id", $"embedding".as("va"))
    val b = emb.select($"vec_id".as("vid2"), $"embedding".as("vb"))
    val pairs = a.crossJoin(b.limit(5))
    val diff = pairs.select(
      abs(VectorSimilarity.cosine($"va", $"vb") -
          VectorSimilarity.cosineHof($"va", $"vb")).as("d"))
      .agg(max($"d")).head().getDouble(0)
    assert(diff < 1e-12)
  }

  test("cosine null/zero-norm handling") {
    val df = Seq(
      (Some(Seq(1.0f, 2.0f)), Some(Seq(0.0f, 0.0f))),
      (None, Some(Seq(1.0f, 1.0f)))
    ).toDF("a", "b")
    val out = df.select(VectorSimilarity.cosine($"a", $"b")).collect()
    assert(out(0).getDouble(0) == 0.0) // zero norm -> 0
    assert(out(1).isNullAt(0))         // null array -> null
  }

  test("dot product matches manual computation") {
    val df = Seq((Seq(1.0f, 2.0f, 3.0f), Seq(4.0f, 5.0f, 6.0f))).toDF("a", "b")
    assert(df.select(VectorSimilarity.dot($"a", $"b")).head().getDouble(0) == 32.0)
  }
}

class ShingleHashesSpec extends SparkSpec {
  import spark.implicits._

  test("hash-set size equals distinct string-shingle count; deterministic") {
    val docs = spark.read.parquet(s"$sf/documents.parquet").limit(50)
    val both = docs.select(
      size(TextFunctions.charShingles($"text", 5)).as("ns"),
      size(TextFunctions.shingleHashes($"text", 5)).as("nh")).collect()
    both.foreach(r => assert(r.getInt(0) == r.getInt(1)))
    val h1 = docs.select(TextFunctions.shingleHashes($"text", 5)).collect()
    val h2 = docs.select(TextFunctions.shingleHashes($"text", 5)).collect()
    h1.zip(h2).foreach { case (a, b) =>
      assert(a.getSeq[Long](0).sorted == b.getSeq[Long](0).sorted) }
  }

  test("short and empty text fall back to whole-string hash") {
    val out = Seq("ab", "", "  !! ").toDF("t")
      .select(size(TextFunctions.shingleHashes($"t", 5))).collect()
    out.foreach(r => assert(r.getInt(0) == 1))
  }

  test("hashed near-dup pairs match string-shingle near-dup pairs") {
    val docs = spark.read.parquet(s"$sf/documents.parquet")
    val viaStrings = MinHashLsh.nearDupPairs(docs, "doc_id",
      TextFunctions.charShingles($"text", 5), 64, 16, 0.8)
      .select("id_a", "id_b").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val viaHashes = MinHashLsh.nearDupPairsHashed(docs, "doc_id",
      TextFunctions.shingleHashes($"text", 5), 64, 16, 0.8)
      .select("id_a", "id_b").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(viaHashes == viaStrings)
  }
}

class WordNgramHashesSpec extends SparkSpec {
  import spark.implicits._

  test("hash count equals distinct string-ngram count on real docs") {
    val docs = spark.read.parquet(s"$sf/documents.parquet").limit(50)
    val both = docs.select(
      size(TextFunctions.wordNgrams($"text", 3)).as("ns"),
      size(TextFunctions.wordNgramHashes($"text", 3)).as("nh")).collect()
    both.foreach(r => assert(r.getInt(0) == r.getInt(1)))
  }

  test("order sensitivity: 'a b' != 'b a' bigram hash") {
    val out = Seq(("x y z", "z y x")).toDF("a", "b")
      .select(TextFunctions.wordNgramHashes($"a", 2).as("ha"),
        TextFunctions.wordNgramHashes($"b", 2).as("hb")).head()
    assert(out.getSeq[Long](0).toSet.intersect(out.getSeq[Long](1).toSet).isEmpty)
  }

  test("hashed ngram jaccard pairs equal string ngram jaccard pairs") {
    val docs = spark.read.parquet(s"$sf/documents.parquet")
    val viaStrings = NgramJaccard.pairs(docs, "doc_id",
      TextFunctions.wordNgrams($"text", 3), 0.8)
      .select("id_a", "id_b", "jaccard").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    val viaHashes = NgramJaccard.pairs(docs, "doc_id",
      TextFunctions.wordNgramHashes($"text", 3), 0.8)
      .select("id_a", "id_b", "jaccard").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    assert(viaHashes == viaStrings)
  }
}

class MultimodalStagesSpec extends SparkSpec {
  import spark.implicits._

  private def media = Multimodal.synthesizeMedia(
    spark.read.parquet(s"$sf/documents.parquet").limit(5), "doc_id", "text")

  test("frame sampling: fixed-size chunks, every Nth kept, ids preserved") {
    val frames = Multimodal.sampleFrames(media, frameBytes = 50, everyN = 2).collect()
    assert(frames.nonEmpty)
    assert(frames.forall(_.getAs[Array[Byte]]("frame").length <= 50))
    assert(frames.forall(_.getInt(1) % 2 == 0)) // only even frame numbers
    assert(frames.map(_.getLong(0)).toSet.subsetOf(
      media.select("media_id").as[Long].collect().toSet))
  }

  test("resize caps payload size deterministically") {
    val resized = Multimodal.resizePayload(media, targetBytes = 16)
    val sizes = resized.select(length($"payload")).as[Int].collect()
    assert(sizes.forall(_ <= 16))
    val a = resized.select($"payload").collect().map(_.getAs[Array[Byte]](0).toSeq)
    val b = Multimodal.resizePayload(media, 16).select($"payload").collect()
      .map(_.getAs[Array[Byte]](0).toSeq)
    assert(a.toSeq == b.toSeq)
  }

  test("frames flow into feature extraction unchanged") {
    val frames = Multimodal.sampleFrames(media, 64, 1)
      .withColumnRenamed("frame", "payload")
      .withColumn("media_id", $"media_id" * 1000 + $"frame_no")
    val feats = Multimodal.extractFeatures(frames, dim = 4).collect()
    assert(feats.length == frames.count())
    // byte chunks of a text payload are not decodable images → null features
    assert(feats.forall(_.isNullAt(2)))
    assert(feats.forall(r => r.getInt(1) > 0))
  }

  test("synthesized PNG is a real PNG and decodes to the arithmetic pattern") {
    val ids = Seq(0L, 1L, 42L, 1234L)
    ids.foreach { id =>
      val bytes = Multimodal.encodePng(id)
      // PNG magic: real container bytes, not a fake
      assert(bytes.take(4).toSeq == Seq(0x89.toByte, 'P'.toByte, 'N'.toByte, 'G'.toByte))
      val img = javax.imageio.ImageIO.read(new java.io.ByteArrayInputStream(bytes))
      assert(img != null, s"ImageIO must decode id=$id")
      val (w, h) = ((id % 17 + 1).toInt, (id % 13 + 1).toInt)
      assert(img.getWidth == w && img.getHeight == h)
      for (y <- 0 until h; x <- 0 until w)
        assert(img.getRaster.getSample(x, y, 0) ==
          ((id * 31 + y.toLong * w + x) % 256).toInt, s"pixel ($x,$y) of id=$id")
    }
  }

  test("imageFeatures: decoded stats match the hand-computed pattern; non-images null") {
    val df = Seq(42L, 7L).toDF("doc_id")
    val feats = Multimodal.imageFeatures(Multimodal.synthesizeImages(df, "doc_id"))
      .collect().map(r => r.getLong(0) -> r).toMap
    // id=42: 9x4 gray, pixels (42*31 + i) % 256 = 22..57 → mean 39.5
    val r42 = feats(42L)
    assert(r42.getInt(2) == 9 && r42.getInt(3) == 4 && r42.getInt(4) == 1)
    assert(r42.getDouble(5) == 39.5 && r42.getInt(6) == 22 && r42.getInt(7) == 57)
    val undecodable = Multimodal.imageFeatures(
      Multimodal.synthesizeMedia(Seq((1L, "hello")).toDF("doc_id", "text"), "doc_id", "text"))
      .head()
    assert(undecodable.isNullAt(2) && undecodable.isNullAt(5))
  }

  test("resizeImage: real raster downscale, small images and non-images untouched") {
    // id=1234 → 11x13; maxDim 6 scales the longest side (13) down to 6
    val imgs = Multimodal.synthesizeImages(Seq(1234L).toDF("doc_id"), "doc_id")
    val resized = Multimodal.resizeImage(imgs, maxDim = 6)
    val out = javax.imageio.ImageIO.read(
      new java.io.ByteArrayInputStream(resized.select($"payload").head().getAs[Array[Byte]](0)))
    assert(out != null && math.max(out.getWidth, out.getHeight) == 6)
    assert(out.getWidth == math.round(11 * 6.0 / 13).toInt)
    // within-bound image passes through byte-identical
    val same = Multimodal.resizeImage(imgs, maxDim = 64).select($"payload").head()
      .getAs[Array[Byte]](0)
    assert(same.toSeq == imgs.select($"payload").head().getAs[Array[Byte]](0).toSeq)
    // non-image payload untouched
    val text = Multimodal.synthesizeMedia(Seq((1L, "abc")).toDF("doc_id", "text"), "doc_id", "text")
    assert(Multimodal.resizeImage(text, 2).select($"payload").head().getAs[Array[Byte]](0).toSeq
      == "abc".getBytes("UTF-8").toSeq)
  }
}

class SemDedupSpec extends SparkSpec {
  import spark.implicits._

  private def emb = spark.read.parquet(s"$sf/embeddings.parquet")

  test("semanticClusters: total assignment, seed self-membership, partition-independent") {
    val out = VectorSimilarity.semanticClusters(emb, k = 16)
    val rows = out.select($"vec_id", $"cluster_id", $"centroid_cosine")
      .as[(Long, Long, Double)].collect()
    assert(rows.length == emb.count())
    assert(rows.map(_._1).distinct.length == rows.length, "one cluster per vector")
    val clusters = rows.map(_._2).distinct.toSet
    assert(clusters.size <= 16)
    // a seed's nearest seed is itself: cosine 1.0 in its own cluster
    clusters.foreach { sid =>
      val self = rows.find(_._1 == sid).get
      assert(self._2 == sid && self._3 == 1.0, s"seed $sid not in its own cluster")
    }
    val again = VectorSimilarity.semanticClusters(emb.repartition(13), k = 16)
      .select($"vec_id", $"cluster_id", $"centroid_cosine")
      .as[(Long, Long, Double)].collect()
    assert(again.sortBy(_._1).toSeq == rows.sortBy(_._1).toSeq)
  }

  test("semDedup: no two surviving cluster-mates above the threshold; rank-1 survives") {
    val tau = 0.35
    val survivors = VectorSimilarity.semDedup(emb, k = 16, minCosine = tau)
    val n = emb.count()
    assert(survivors.count() < n, "the threshold must actually drop something here")
    // the invariant the operator promises: within a cluster, survivors are
    // pairwise below tau (any qualifying pair would have dropped the later rank)
    val sv = survivors.join(emb, "vec_id")
      .select($"vec_id", $"cluster_id", $"embedding")
    val offending = sv.as("a").join(sv.as("b"),
        $"a.cluster_id" === $"b.cluster_id" && $"a.vec_id" < $"b.vec_id")
      .filter(round(VectorSimilarity.cosine($"a.embedding", $"b.embedding"), 6) >= tau)
    assert(offending.count() == 0, "surviving cluster-mates above tau")
    // the most atypical member of every cluster (rank 1) is never dropped
    val ranked = VectorSimilarity.semanticClusters(emb, k = 16)
      .withColumn("__rank", row_number().over(
        org.apache.spark.sql.expressions.Window.partitionBy($"cluster_id")
          .orderBy($"centroid_cosine".asc, $"vec_id".asc)))
    val rank1 = ranked.filter($"__rank" === 1).select("vec_id")
    assert(rank1.join(survivors, "vec_id").count() == rank1.count())
  }

  test("rankWindowPairs: unwindowed fast path == banded path with a covering window") {
    val ranked = VectorSimilarity.semanticClusters(emb, k = 16)
      .withColumn("__rank", row_number().over(
        org.apache.spark.sql.expressions.Window.partitionBy($"cluster_id")
          .orderBy($"centroid_cosine".asc, $"vec_id".asc)))
    val maxClusterSize = ranked.groupBy($"cluster_id").count()
      .agg(max($"count")).as[Long].head().toInt
    def pairs(w: Int) = VectorSimilarity
      .rankWindowPairs(ranked, w, "vec_id", "embedding")
      .select($"__ra", $"__rb", $"__idb").as[(Int, Int, Long)]
      .collect().toSet
    // a window >= the largest cluster makes the banded join unwindowed in
    // effect — the Int.MaxValue fast path must produce the identical pairs
    assert(pairs(Int.MaxValue) == pairs(maxClusterSize + 1))
  }

  test("semDedup collapses an exact-duplicate cluster to one survivor") {
    val base = Seq.tabulate(64)(i => if (i == 0) 1.0f else 0.0f)
    val other = Seq.tabulate(64)(i => if (i == 1) 1.0f else 0.0f)
    val df = Seq(
      (0L, base), (1L, base), (2L, base),   // three exact duplicates
      (3L, other)
    ).toDF("vec_id", "embedding")
    val out = VectorSimilarity.semDedup(df, k = 2, minCosine = 0.99)
      .select("vec_id").as[Long].collect().toSet
    assert(out.intersect(Set(0L, 1L, 2L)).size == 1, s"dup group kept $out")
    assert(out.contains(3L))
  }

  // ---- rank-window bound (the O(n·window) scale guard) ----

  /** Single-cluster fixture with controlled ranks: seed s = e0 gets the
    * id with the smallest md5 (k=1 makes it the one centroid; rank order
    * is then cosine-to-s ascending). Docs sit at chosen angles from s in
    * one of two orthogonal planes, so in-plane docs are mutually similar
    * (cosine = cos of the angle difference) while cross-plane docs are
    * not (cosine = product of the two cosines-to-s, small at wide
    * angles).
    */
  /** Returns (frame, ids assigned to the angles in input order). */
  private def angleFixture(anglesDeg: Seq[(Double, Int)])
      : (org.apache.spark.sql.DataFrame, Seq[Long]) = {
    def md5hex(s: String): String =
      java.security.MessageDigest.getInstance("MD5")
        .digest(s.getBytes("UTF-8")).map("%02x".format(_)).mkString
    val n = anglesDeg.size + 1
    val ids = (0L until n.toLong)
    val seedId = ids.minBy(i => md5hex(i.toString))    // k=1 seed = min md5(id)
    val rest = ids.filterNot(_ == seedId)
    def vec(deg: Double, plane: Int): Seq[Float] = {
      val r = math.toRadians(deg)
      Seq.tabulate(3)(d =>
        if (d == 0) math.cos(r).toFloat
        else if (d == plane) math.sin(r).toFloat
        else 0.0f)
    }
    val rows = (seedId, vec(0.0, 1)) +:
      rest.zip(anglesDeg).map { case (id, (deg, plane)) => (id, vec(deg, plane)) }
    (rows.toDF("vec_id", "embedding"), rest)
  }

  test("semDedup window: a qualifying near-dup beyond the window is NOT dropped") {
    // rank 1: A at 80° (plane 1). ranks 2-10: fillers at 79°..71° (plane 2,
    // so cosine(filler, A) = cos80·cosφ ≈ 0.03-0.06 — never qualifying
    // vs A or B). rank 11: B at 70° (plane 1): cosine(A, B) = cos10° ≈
    // 0.985 >= tau, 10 ranks after A.
    val (fixture, angleIds) = angleFixture(
      (80.0, 1) +: (79 to 71 by -1).map(d => (d.toDouble, 2)) :+ (70.0, 1))
    val tau = 0.95
    // window that reaches A from B: B is dropped (the unwindowed behavior)
    val wide = VectorSimilarity.semDedup(fixture, k = 1, minCosine = tau, window = 64)
    // window of 4: B's reachable predecessors are cross-plane fillers only
    val narrow = VectorSimilarity.semDedup(fixture, k = 1, minCosine = tau, window = 4)
    val bId = angleIds.last   // B holds the last angle slot
    val wideIds = wide.select("vec_id").as[Long].collect().toSet
    val narrowIds = narrow.select("vec_id").as[Long].collect().toSet
    assert(!wideIds.contains(bId), "wide window must drop B (A qualifies, in range)")
    assert(narrowIds.contains(bId),
      "a qualifying near-dup more than `window` ranks earlier must NOT drop the doc")
    // A (rank 1) always survives
    assert(wideIds.size >= 1 && narrowIds.size > wideIds.size)
  }

  test("semDedup window: candidate pairs are O(n·window), not O(n²), under cluster skew") {
    // one mega-cluster (k=1): n=300 members, window=8
    val n = 300
    val m = 8
    val (fixture, _) = angleFixture(Seq.tabulate(n - 1)(i => (85.0 - i * 0.25, 1)))
    val ranked = VectorSimilarity.semanticClusters(fixture, k = 1)
      .withColumn("__rank", row_number().over(
        org.apache.spark.sql.expressions.Window.partitionBy($"cluster_id")
          .orderBy($"centroid_cosine".asc, $"vec_id".asc)))
    val pairs = VectorSimilarity.rankWindowPairs(ranked, m, "vec_id", "embedding")
    // exactly the banded pair count: sum_{d=1..m} (n-d)
    val expected = (1 to m).map(d => n - d).sum.toLong
    assert(pairs.count() == expected,
      s"banded join must emit each in-window pair exactly once (n=$n, m=$m)")
    assert(expected < n.toLong * (n - 1) / 4,
      "fixture sanity: the bound is far below the quadratic pair space")
    // and the unwindowed quadratic never hides in a bigger window than asked:
    // every emitted pair respects the rank distance
    val offending = pairs.filter($"__rb" - $"__ra" > m || $"__ra" >= $"__rb")
    assert(offending.count() == 0)
  }
}

class AnnRecallSpec extends SparkSpec {
  import org.apache.spark.sql.DataFrame

  private lazy val emb = spark.read.parquet(s"$sf/embeddings.parquet")
  private lazy val queries = emb.filter(col("vec_id") < 30)
  private lazy val exact =
    VectorSimilarity.bruteForceTopK(emb, queries, 5)
      .select("query_id", "corpus_id").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet

  private def recallOf(df: DataFrame): Double = {
    val got = df.select("query_id", "corpus_id").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    got.intersect(exact).size.toDouble / exact.size
  }

  test("multi-table LSH recall floor (regression guard, not a tuning target)") {
    // measured 0.92 here and 0.880 at sf0.1 — the floor sits close under
    // both so losing a hash table or the multi-probe path fails this test.
    // The 0.03 sf0.1 margin is INTENTIONAL and pinned to the current
    // deterministic fixture + seed derivation: the whole pipeline is
    // deterministic, so this cannot flake as-is. If the fixture or the
    // hyperplane seed derivation changes, re-measure both scales before
    // touching the floor — do not widen it to absorb an unexplained drop.
    val r = recallOf(VectorSimilarity.lshTopK(emb, queries, 5, 4, 64, tables = 16))
    assert(r >= 0.85, s"lsh recall@5 degraded to $r")
  }

  test("LSH multiprobe: recall monotone in the Hamming radius, exact at the full ball") {
    // candidates at radius h are a SUPERSET of radius h−1's (same tables,
    // XOR-mask expansion), so recall can only rise — and at h = nbits every
    // bucket is probed, so the funnel must EQUAL brute force bit-for-bit
    // (pairs dedup'd across tables and masks, ranked identically)
    val r0 = recallOf(VectorSimilarity.lshTopK(emb, queries, 5, 4, 64, tables = 2))
    val r1 = recallOf(VectorSimilarity.lshTopK(emb, queries, 5, 4, 64, tables = 2,
      probeHamming = 1))
    val r2 = recallOf(VectorSimilarity.lshTopK(emb, queries, 5, 4, 64, tables = 2,
      probeHamming = 2))
    assert(r0 <= r1 && r1 <= r2,
      s"multiprobe recall must be monotone in the radius: $r0, $r1, $r2")
    assert(r1 > r0,
      s"radius 1 must add candidates on this fixture (got $r0 -> $r1)")
    val full = VectorSimilarity.lshTopK(emb, queries, 5, 4, 64, tables = 2,
      probeHamming = 4)
      .select("query_id", "corpus_id", "cosine", "rank").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2), r.getInt(3))).toSet
    val brute = VectorSimilarity.bruteForceTopK(emb, queries, 5)
      .select("query_id", "corpus_id", "cosine", "rank").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2), r.getInt(3))).toSet
    assert(full == brute, "full-ball multiprobe must equal exact top-k")
  }

  test("IVF recall floor at nprobe=8 with a Lloyd-refined fixed-size codebook") {
    // measured 0.47 raw-sampled, 0.58-0.59 refined at these settings — the
    // floor sits under the refined value but above anything the raw
    // codebook reaches, so losing the refinement would fail this test
    val r = recallOf(VectorSimilarity.ivfTopK(emb, queries, 5, nprobe = 8, maxCentroids = 64))
    assert(r >= 0.55, s"ivf recall@5 degraded to $r")
  }

  test("IVF recall floor at the production probe width (ann_ivf_topk settings)") {
    // nprobe=32/64 is what ann_ivf_topk and the per-round bench recall log
    // run — the user-facing answer quality; measured 0.947 here and 0.940
    // at sf0.1, so a multi-probe regression fails the spec, not just the log
    val r = recallOf(VectorSimilarity.ivfTopK(emb, queries, 5, nprobe = 32, maxCentroids = 64))
    assert(r >= 0.9, s"ivf recall@5 at production settings degraded to $r")
  }

  test("IVF multi-assign spill: recall never below single-assign, pairs dedup'd") {
    val multi = VectorSimilarity.ivfTopK(emb, queries, 5, nprobe = 8,
      maxCentroids = 64, assign = 2)
    val rows = multi.select("query_id", "corpus_id").collect()
      .map(r => (r.getLong(0), r.getLong(1)))
    assert(rows.length == rows.distinct.length, "a pair must score exactly once")
    val r1 = recallOf(VectorSimilarity.ivfTopK(emb, queries, 5, nprobe = 8, maxCentroids = 64))
    assert(recallOf(multi) >= r1, "writing corpus vectors into 2 cells must not lose neighbors")
  }

  test("SQ8: codes in [0,255], decode within half a lattice step, high recall") {
    val (mins, maxs) = VectorSimilarity.sq8Ranges(emb, "embedding")
    assert(mins.length == 64 && maxs.length == 64)
    assert(mins.zip(maxs).forall { case (mn, mx) => mn <= mx })
    val enc = emb.select(col("vec_id"),
      VectorSimilarity.sq8Encode(col("embedding"), mins, maxs).as("codes"),
      col("embedding").cast("array<double>").as("v"))
    val flat = enc.select(explode(arrays_zip(col("codes"),
        VectorSimilarity.sq8Decode(col("codes"), mins, maxs).as("deq"),
        col("v"))).as("z"))
      .select(col("z.codes").as("c"), col("z.deq").as("d"), col("z.v").as("v"))
      .collect()
    assert(flat.forall(r => r.getLong(0) >= 0L && r.getLong(0) <= 255L),
      "codes must fit int8 range")
    val maxStep = maxs.zip(mins).map { case (mx, mn) => (mx - mn) / 255.0 }.max
    assert(flat.forall(r => math.abs(r.getDouble(1) - r.getDouble(2)) <= maxStep / 2 + 1e-12),
      "dequantized value must sit within half a lattice step of the input")
    // SQ8 at 255 levels barely perturbs the ranking: recall@5 should be
    // near-exact (measured 1.0 here) — floor guards a quantizer regression
    val r = recallOf(VectorSimilarity.sq8TopK(emb, queries, 5))
    assert(r >= 0.95, s"sq8 recall@5 degraded to $r")
  }

  test("Lloyd refinement never loses to the raw sampled codebook here, and is deterministic") {
    val raw = recallOf(VectorSimilarity.ivfTopK(emb, queries, 5, nprobe = 8,
      maxCentroids = 64, refineIters = 0))
    val refined = recallOf(VectorSimilarity.ivfTopK(emb, queries, 5, nprobe = 8,
      maxCentroids = 64))
    assert(refined >= raw, s"refined $refined vs raw $raw")
    val cb1 = VectorSimilarity.refineCodebook(emb,
      VectorSimilarity.sampleCodebook(emb, 64, "vec_id", "embedding"),
      3, 32768, "vec_id", "embedding")
    val cb2 = VectorSimilarity.refineCodebook(emb.repartition(7),
      VectorSimilarity.sampleCodebook(emb.repartition(3), 64, "vec_id", "embedding"),
      3, 32768, "vec_id", "embedding")
    assert(cb1.map(_.toSeq).toSeq == cb2.map(_.toSeq).toSeq,
      "refinement must be partition-independent and run-deterministic")
  }

  test("LSH threshold join matches the exact cartesian join, with no BNLJ/cartesian node") {
    val sub = emb.filter(col("vec_id") < 200)
    val exactPairs = VectorSimilarity.thresholdJoin(sub, minCosine = 0.4)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    val lsh = VectorSimilarity.thresholdJoinLsh(sub, minCosine = 0.4, dim = 64)
    val lshPairs = lsh.collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    assert(lshPairs == exactPairs,
      s"missing=${exactPairs.diff(lshPairs)} extra=${lshPairs.diff(exactPairs)}")
    val plan = lsh.queryExecution.executedPlan.toString
    assert(!plan.contains("BroadcastNestedLoopJoin") && !plan.contains("CartesianProduct"),
      s"LSH threshold join must not plan a nested-loop/cartesian node:\n$plan")
  }

  test("IVF codebook size is capped regardless of corpus rows") {
    val cb = VectorSimilarity.sampleCodebook(emb, 16, "vec_id", "embedding")
    assert(cb.length == 16)
    val r = recallOf(VectorSimilarity.ivfTopK(emb, queries, 5, nprobe = 8, maxCentroids = 16))
    assert(r >= 0.4, s"ivf recall@5 with 16-cell codebook degraded to $r")
  }

  test("bipartite LSH threshold join matches the exact cross join, cross-side pairs only") {
    val left = emb.filter(col("vec_id") % 3 =!= 0)
    val right = emb.filter(col("vec_id") % 3 === 0)
    // exact reference: plain cross join + cosine filter (test-side only)
    val exact = left.select(col("vec_id").as("id_left"), col("embedding").as("vl"))
      .crossJoin(right.select(col("vec_id").as("id_right"), col("embedding").as("vr")))
      .withColumn("cosine", round(VectorSimilarity.cosine(col("vl"), col("vr")), 6))
      .filter(col("cosine") >= 0.4)
      .select("id_left", "id_right", "cosine")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    assert(exact.nonEmpty, "fixture must produce cross-side pairs at 0.4")
    val lsh = VectorSimilarity.bipartiteThresholdLsh(left, right, minCosine = 0.4, dim = 64)
    val got = lsh.collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    assert(got == exact,
      s"missing=${exact.diff(got)} extra=${got.diff(exact)}")
    // every pair is cross-side by construction of the inputs; the plan must
    // stay bucket-equi-join shaped (no cartesian/BNLJ)
    assert(got.forall { case (l, r, _) => l % 3 != 0 && r % 3 == 0 })
    val plan = lsh.queryExecution.executedPlan.toString
    assert(!plan.contains("BroadcastNestedLoopJoin") && !plan.contains("CartesianProduct"),
      s"bipartite LSH threshold join must not plan a nested-loop/cartesian node:\n$plan")
  }

  test("frozen-reference decontamination matches the LSH bipartite anti-join") {
    val corpus = emb.filter(col("vec_id") % 3 =!= 0)
    val reference = emb.filter(col("vec_id") % 3 === 0)
    val viaLsh = VectorSimilarity
      .decontaminateByEmbedding(corpus, reference, minCosine = 0.4, dim = 64)
      .select("vec_id").collect().map(_.getLong(0)).toSet
    val viaFrozen = VectorSimilarity
      .decontaminateByEmbeddingFrozen(corpus, reference, minCosine = 0.4)
      .select("vec_id").collect().map(_.getLong(0)).toSet
    assert(viaFrozen == viaLsh)
    val corpusIds = corpus.select("vec_id").collect().map(_.getLong(0)).toSet
    assert(viaFrozen != corpusIds, "fixture must actually drop contaminated rows")
  }

  test("decontaminateByEmbedding drops exactly the corpus rows with a reference neighbor") {
    val corpus = emb.filter(col("vec_id") % 3 =!= 0)
    val reference = emb.filter(col("vec_id") % 3 === 0)
    val flagged = VectorSimilarity
      .bipartiteThresholdLsh(corpus, reference, minCosine = 0.4, dim = 64)
      .select("id_left").distinct()
      .collect().map(_.getLong(0)).toSet
    val survivors = VectorSimilarity
      .decontaminateByEmbedding(corpus, reference, minCosine = 0.4, dim = 64)
      .select("vec_id").collect().map(_.getLong(0)).toSet
    val corpusIds = corpus.select("vec_id").collect().map(_.getLong(0)).toSet
    assert(survivors == corpusIds.diff(flagged))
    assert(flagged.nonEmpty && survivors.nonEmpty,
      "fixture must exercise both dropped and surviving rows")
  }
}

class WinnowSpec extends SparkSpec {
  import spark.implicits._
  import graft.functions.expressions.WinnowExpr
  import org.apache.spark.sql.catalyst.util.ArrayData
  import org.apache.spark.sql.functions._

  private def winnow(hashes: Seq[Long], w: Int): Seq[Long] =
    WinnowExpr.compute(ArrayData.toArrayData(hashes.toArray), w).toLongArray.toSeq

  test("selects each window's minimum, rightmost ties, consecutive repeats dropped") {
    // paper-style example: windows of 4 over a known sequence
    assert(winnow(Seq(77, 74, 42, 17, 98, 50, 17, 98, 8, 88, 67, 39, 77, 74, 42, 17, 98), 4)
      == Seq(17, 17, 8, 39, 17))
  }

  test("every window of w hashes contains a selected position (coverage guarantee)") {
    val rnd = new scala.util.Random(7)
    val hashes = Seq.fill(500)(rnd.nextLong())
    val w = 8
    val selected = winnow(hashes, w).toSet
    // reconstruct selected positions: every w-window must contain at least
    // one position whose hash is in the selected set
    hashes.sliding(w).zipWithIndex.foreach { case (win, i) =>
      assert(win.exists(selected.contains), s"window at $i has no fingerprint")
    }
  }

  test("density is ~2/(w+1) of the input") {
    val rnd = new scala.util.Random(13)
    val hashes = Seq.fill(10000)(rnd.nextLong())
    val n = winnow(hashes, 9).size
    assert(n > 10000 * 2 / 10 / 2 && n < 10000 * 2 * 2 / 10, s"density off: $n")
  }

  test("short sequences winnow to the global minimum; empty stays empty") {
    assert(winnow(Seq(5L, 3L, 9L), 10) == Seq(3L))
    assert(winnow(Nil, 4) == Nil)
  }

  test("a shared passage of >= w+k-1 chars yields a shared fingerprint; overlap pairs find it") {
    val passage = "the quick brown fox jumps over the lazy dog near the river bank today"
    val docs = Seq(
      (1L, s"first document unique preamble aaa bbb ccc. $passage. distinct tail one"),
      (2L, s"zzz yyy xxx completely different opening here. $passage. other ending text"),
      (3L, "unrelated third document with no shared content at all whatsoever qqq www")
    ).toDF("doc_id", "text")
    val fp1 = docs.filter($"doc_id" === 1)
      .select(TextFunctions.winnowedFingerprints($"text", 5, 8)).collect()(0).getSeq[Long](0).toSet
    val fp2 = docs.filter($"doc_id" === 2)
      .select(TextFunctions.winnowedFingerprints($"text", 5, 8)).collect()(0).getSeq[Long](0).toSet
    assert((fp1 & fp2).nonEmpty, "shared passage must share a fingerprint")

    val pairs = WinnowOverlap.pairs(docs, "doc_id", $"text", k = 5, w = 8, minShared = 3)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(pairs.contains((1L, 2L)), "overlapping docs detected")
    assert(!pairs.exists(p => p._1 == 3L || p._2 == 3L), "unrelated doc stays out")
  }

  test("winnow overlap plan has no cartesian/nested-loop node (explicit cap)") {
    // explicit-cap form = the scale configuration (what dedup_winnow runs);
    // the auto-cap default adds exactly one BOUNDED one-row-build-side
    // cross (the in-plan corpus-size broadcast, same accepted shape as
    // NgramJaccard's round-3 fix), so the strict no-BNLJ assertion targets
    // the explicit path
    val sf = "/root/testdata/sf0.001"
    val docs = spark.read.parquet(s"$sf/documents.parquet")
    val q = WinnowOverlap.pairs(docs, "doc_id", col("text"), minShared = 3,
      maxDocFreq = 50L)
    q.collect()
    val plan = q.queryExecution.executedPlan.toString
    assert(!plan.contains("BroadcastNestedLoopJoin") && !plan.contains("CartesianProduct"), plan)
  }

  test("winnow auto-cap derives corpus size in-plan: no eager job at build time") {
    val sf = "/root/testdata/sf0.001"
    val docs = spark.read.parquet(s"$sf/documents.parquet")
    val sc = spark.sparkContext
    val jobs = new java.util.concurrent.atomic.AtomicInteger(0)
    val listener = new org.apache.spark.scheduler.SparkListener {
      override def onJobStart(j: org.apache.spark.scheduler.SparkListenerJobStart): Unit = {
        jobs.incrementAndGet(); ()
      }
    }
    sc.addSparkListener(listener)
    try {
      val plan = WinnowOverlap.pairs(docs, "doc_id", col("text"), minShared = 3) // auto cap
      Thread.sleep(500) // listener bus is async; give a stray job time to surface
      assert(jobs.get() == 0,
        "building the pairs plan must not launch jobs (the old df.count() did)")
      assert(plan.columns.toSeq == Seq("id_a", "id_b", "shared", "overlap"))
    } finally sc.removeSparkListener(listener)
  }
}

class EmbeddingDedupSpec extends SparkSpec {
  import org.apache.spark.sql.functions._

  test("dedupByEmbedding keeps exactly the ids with no smaller-id neighbor") {
    val emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    val exactDups = VectorSimilarity.thresholdJoin(emb, minCosine = 0.4)
      .select(col("id_b")).distinct().collect().map(_.getLong(0)).toSet
    val all = emb.select(col("vec_id")).collect().map(_.getLong(0)).toSet
    val survivors = VectorSimilarity.dedupByEmbedding(emb, minCosine = 0.4, dim = 64)
      .select(col("vec_id")).collect().map(_.getLong(0)).toSet
    assert(survivors == all.diff(exactDups))
  }
}
