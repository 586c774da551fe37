package graft.functions

import graft.SparkSpec
import org.apache.spark.sql.functions._

class CorpusPipelineSpec extends SparkSpec {
  import spark.implicits._

  // id 27 hashes into the test split, 6 into val, the rest below into train
  // (md5-prefix thresholds 0ccd/199a — see Sampling.assignSplit)
  private val heldOutText =
    "the evaluation set contains documents about language models and their " +
    "training pipelines with tokens embeddings and careful measurement of " +
    "quality that we hold out from the training corpus to detect " +
    "contamination in the data preparation flow today"

  test("gate, fingerprint dedup, split, decontamination compose end to end") {
    val docs = Seq(
      (1L, "the quick brown fox jumps over the lazy dog and runs to the river with great speed", "src0"),
      (2L, "the quick brown fox jumps over the lazy dog and runs to the river with great speed", "src0"), // exact dup of 1
      (4L, "a completely original essay on the design of distributed analytics engines and their shuffles", "src0"),
      (5L, "!!! ??? !!! ??? !!!", "src0"), // gate: punct + no stopwords
      (8L, heldOutText.replace("today", "now"), "src0"),  // near-dup of the held-out doc -> contaminated train
      (9L, "this document is about different topics such as cooking recipes and kitchen equipment with pans of steel that is all", "src0"),
      (27L, heldOutText, "src0") // lands in the test split
    ).toDF("doc_id", "text", "source")
    val out = CorpusPipeline.prepare(docs, CorpusPipeline.Config(
      nearDupThreshold = None, decontamThreshold = Some(0.8)))
      .select($"doc_id", $"split").as[(Long, String)].collect().toMap
    assert(out.keySet == Set(1L, 4L, 9L, 27L),
      s"survivors were ${out.keySet}: 2 fp-dup, 5 gated, 8 contaminated must drop")
    assert(out(27L) == "test")
    assert(Set(1L, 4L, 9L).forall(out(_) == "train"))
  }

  test("web-corpus stages: html strip + NFC + URL dedup/blocklist + bloom + compression gate") {
    val prose = "a perfectly ordinary document with the usual english words " +
      "and enough of them to pass every configured quality gate in the flow"
    val docs = Seq(
      // markup + decomposed é: must strip+compose, then survive
      (1L, s"<p>$prose café</p>", "https://A.example.com/x?utm_source=f", "src0"),
      // same canonical URL as 1 (case/params differ) -> URL-dup, dropped
      (2L, s"$prose but different words here", "HTTPS://a.example.com/x", "src0"),
      // blocked host -> dropped before anything else
      (3L, s"$prose on a blocked host", "https://spam.example.net/y", "src0"),
      // templated: compresses below the floor -> compression gate drops
      (4L, "buy now click here " * 40, "https://b.example.com/z", "src0"),
      // already in the standing corpus (bloom) -> dropped
      (5L, s"$prose known to the standing corpus", "https://c.example.com/w", "src0"),
      // clean survivor
      (9L, s"$prose and it is genuinely fresh content", "https://d.example.com/v", "src0"))
      .toDF("doc_id", "text", "url", "source")
    // decomposed twin of doc 1's text: NFC must make their fingerprints equal
    val decomposedTwin = s"$prose café"
    val corpusFp = Seq(s"$prose known to the standing corpus").toDF("text")
      .select(TextFunctions.md5Hash60(TextFunctions.normalized($"text")).as("fp"))
    val bf = BloomDedup.buildLong(corpusFp, $"fp", 10L, 0.01)
    val out = CorpusPipeline.prepare(docs, CorpusPipeline.Config(
      nearDupThreshold = None, decontamThreshold = None,
      stripHtml = true, nfcNormalize = true,
      urlCol = Some("url"), blockedHosts = Seq("spam.example.net"),
      minCompressionRatio = Some(0.2), dedupAgainstBloom = Some(bf)))
    val ids = out.select($"doc_id").as[Long].collect().toSet
    assert(ids == Set(1L, 9L),
      s"got $ids: 2 url-dup, 3 blocked, 4 templated, 5 in-corpus must drop")
    // the cleaned text is what downstream stages see: markup gone, NFC done
    val cleaned = out.filter($"doc_id" === 1L).select($"text").as[String].head()
    assert(!cleaned.contains("<p>") && cleaned.endsWith("café"))
    val fp = Seq(decomposedTwin).toDF("text")
      .select(TextFunctions.fingerprint(TextFunctions.nfcNormalize($"text")))
      .as[String].head()
    val fpCleaned = Seq(cleaned).toDF("text")
      .select(TextFunctions.fingerprint($"text")).as[String].head()
    assert(fp == fpCleaned, "NFC inside the pipeline must unify spellings")
  }

  test("c4 line rules + gopher quality arm compose in the pipeline") {
    val goodPage = Seq(
      "The first sentence of this page is a perfectly ordinary one.",
      "A second complete sentence follows with the usual english words in it.",
      "The third sentence makes the page long enough to survive every floor.")
      .mkString("\n")
    val shortPage = Seq(
      "The tiny first sentence sits here.",
      "The tiny second sentence too.",
      "The tiny third sentence ends.").mkString("\n")
    val docs = Seq(
      (1L, goodPage, "src0"),                                       // survives
      (2L, goodPage + "\nlorem ipsum filler", "src0"),              // C4 page ban
      (3L, "A heading without punctuation\nAnother bare fragment", "src0"), // C4 sentence floor
      (4L, shortPage, "src0"))                                      // Gopher word floor
      .toDF("doc_id", "text", "source")
    val out = CorpusPipeline.prepare(docs, CorpusPipeline.Config(
      nearDupThreshold = None, decontamThreshold = None,
      c4LineRules = true,
      gopherQuality = Some(GopherQuality.Thresholds(minWords = 20))))
    val ids = out.select($"doc_id").as[Long].collect().toSet
    assert(ids == Set(1L),
      s"got $ids: 2 lorem-banned, 3 below the sentence floor, 4 below the gopher word floor")
    val text = out.filter($"doc_id" === 1L).select($"text").as[String].head()
    assert(text == goodPage, "downstream stages see the C4-cleaned page")
  }

  test("mojibake knob repairs encoding before every later stage") {
    val clean = "a perfectly ordinary document with the usual english words " +
      "and enough of them to pass the gate — déjà vu"
    val garbled = new String(clean.getBytes("UTF-8"), "ISO-8859-1")
    val docs = Seq((1L, garbled, "src0")).toDF("doc_id", "text", "source")
    val out = CorpusPipeline.prepare(docs, CorpusPipeline.Config(
      nearDupThreshold = None, decontamThreshold = None, fixMojibake = true))
      .select($"text").as[String].collect()
    assert(out.toSeq == Seq(clean), "downstream stages must see the repaired text")
  }

  test("semantic decontamination stage drops the train doc embedded near a test doc") {
    val docs = Seq(
      (1L, "the quick brown fox jumps over the lazy dog and runs to the river with great speed", "src0"),
      (4L, "a completely original essay on the design of distributed analytics engines and their shuffles", "src0"),
      (9L, "this document paraphrases the held out evaluation content with entirely different words and phrasing throughout", "src0"),
      (27L, heldOutText, "src0") // lands in the test split
    ).toDF("doc_id", "text", "source")
    // doc 9 shares no n-gram with 27 but sits next to it in embedding
    // space (the paraphrase case); 1 and 4 are orthogonal to everything
    val emb = Seq(
      (1L, Array(1f, 0f, 0f, 0f)),
      (4L, Array(0f, 1f, 0f, 0f)),
      (9L, Array(0.1f, 0f, 0.95f, 0f)),
      (27L, Array(0f, 0f, 1f, 0f))
    ).toDF("doc_id", "embedding")
    val base = CorpusPipeline.Config(
      nearDupThreshold = None, decontamThreshold = Some(0.8))
    val lexicalOnly = CorpusPipeline.prepare(docs, base)
      .select($"doc_id").as[Long].collect().toSet
    assert(lexicalOnly == Set(1L, 4L, 9L, 27L),
      "the paraphrase shares no 3-gram, so the lexical stage keeps doc 9")
    val semantic = CorpusPipeline.prepare(docs, base.copy(
        embeddings = Some(emb), embeddingDim = 4,
        semanticDecontamThreshold = Some(0.4)))
      .select($"doc_id", $"split").as[(Long, String)].collect().toMap
    assert(semantic.keySet == Set(1L, 4L, 27L),
      s"doc 9 must drop semantically, got ${semantic.keySet}")
    assert(semantic(27L) == "test", "the test doc itself is never dropped")
  }

  test("minhash near-dup stage drops the later near-duplicate") {
    val docs = Seq(
      (1L, "the quick brown fox jumps over the lazy dog and runs to the river with great speed in the morning", "src0"),
      (3L, "the quick brown fox jumps over the lazy dog and runs to the river with great speed in the mornings", "src0"),
      (4L, "a completely original essay on the design of distributed analytics engines and their shuffles", "src0")
    ).toDF("doc_id", "text", "source")
    val out = CorpusPipeline.prepare(docs, CorpusPipeline.Config(
      nearDupThreshold = Some(0.8), decontamThreshold = None))
      .select($"doc_id").as[Long].collect().toSet
    assert(out == Set(1L, 4L))
  }

  test("mixture stage re-weights sources deterministically") {
    val docs = (0L until 400L).map { i =>
      (i, s"the number $i document talks of things that are in the set with detail", if (i % 2 == 0) "keepall" else "droptest")
    }.toDF("doc_id", "text", "source")
    val cfg = CorpusPipeline.Config(
      nearDupThreshold = None, decontamThreshold = None,
      maxDigitRatio = 1.0,
      mixtureRates = Map("keepall" -> 1.0, "droptest" -> 0.0))
    val out = CorpusPipeline.prepare(docs, cfg)
    assert(out.filter($"source" === "droptest").count() == 0)
    assert(out.filter($"source" === "keepall").count() == 200)
    // determinism: identical membership on re-run
    val a = out.select("doc_id").as[Long].collect().toSet
    val b = CorpusPipeline.prepare(docs, cfg).select("doc_id").as[Long].collect().toSet
    assert(a == b)
  }

  test("DSIR selection stage keeps top-k toward the target and equals the manual composition") {
    val docs = (0L until 200L).map { i =>
      val text =
        if (i % 2 == 0) s"the number $i document talks of things that are in the set with detail"
        else s"informe numero $i sobre cosas que estan en el conjunto con detalle y mas"
      (i, text, if (i % 2 == 0) "en" else "es")
    }.toDF("doc_id", "text", "source")
    val cfg = CorpusPipeline.Config(
      nearDupThreshold = None, decontamThreshold = None, maxDigitRatio = 1.0,
      requireKnownLang = false,
      dsirTarget = Some($"source" === "en"), dsirTopK = 40)
    val out = CorpusPipeline.prepare(docs, cfg)
    assert(out.count() == 40)
    // the selection leans toward the target-vocabulary half
    assert(out.filter($"source" === "en").count() > 20)
    // equals Dsir.resample applied to the unselected prepared corpus
    val base = CorpusPipeline.prepare(docs, cfg.copy(dsirTarget = None))
    val manual = Dsir.resample(base, "doc_id", $"text", $"source" === "en", k = 40)
      .select("doc_id").as[Long].collect().toSet
    assert(out.select("doc_id").as[Long].collect().toSet == manual)
  }

  test("token-budgeted mixture stage equals the manual composition") {
    val docs = (0L until 300L).map { i =>
      (i, s"the number $i document talks of things that are in the set with detail",
        s"src${i % 3}")
    }.toDF("doc_id", "text", "source")
    val weights = Map("src0" -> 0.6, "src1" -> 0.4) // src2 excluded
    val cfg = CorpusPipeline.Config(
      nearDupThreshold = None, decontamThreshold = None, maxDigitRatio = 1.0,
      mixtureTokenBudget = Some(2000L), mixtureTargetWeights = weights)
    val out = CorpusPipeline.prepare(docs, cfg)
    assert(out.filter($"source" === "src2").count() == 0)
    // equals mixtureSampleByBudget applied to the unbudgeted prepared corpus
    val base = CorpusPipeline.prepare(docs, cfg.copy(
      mixtureTokenBudget = None, mixtureTargetWeights = Map.empty))
    val manual = Sampling.mixtureSampleByBudget(base, $"doc_id", $"source",
      Bpe.tokenCount($"text", BpeVocab.bytes).cast("long"), weights, 2000L)
      .select("doc_id").as[Long].collect().toSet
    assert(out.select("doc_id").as[Long].collect().toSet == manual)
    // budgeted rates actually down-sample (2000 tokens << corpus mass)
    assert(out.count() > 0 && out.count() < base.count())
  }

  test("prepareIncremental: accepted == manual stage composition; audit is exact") {
    val docs = spark.read.parquet(s"$sf/documents.parquet")
    val standing = docs.filter(pmod($"doc_id", lit(5L)) =!= 0L)
    val incoming = docs.filter(pmod($"doc_id", lit(5L)) === 0L)
    val cfg = CorpusPipeline.Config(nearDupThreshold = None, decontamThreshold = None)
    val (accepted, audit, release) =
      CorpusPipeline.prepareIncrementalManaged(incoming, standing, cfg)
    try {
      val acceptedIds = accepted.select("doc_id").as[Long].collect().toSet

      // manual composition: prepare -> plain exact anti-join -> bipartite drop
      val prepared = CorpusPipeline.prepare(incoming, cfg)
      val key = TextFunctions.md5Hash60(TextFunctions.normalized($"text"))
      val exact = prepared.withColumn("__k", key)
        .join(standing.select(key.as("__k")).distinct(), Seq("__k"), "left_anti")
        .drop("__k")
      val manual = MinHashLsh.dedupAgainst(standing, exact, "doc_id",
          TextFunctions.shingleHashes($"text", 5), 64, 16, 0.8)
        .select("doc_id").as[Long].collect().toSet
      assert(acceptedIds == manual,
        "the one-call composition must equal its manual stage chain")
      // the against-corpus stages actually dropped something here
      assert(acceptedIds.size < prepared.count())

      // audit: every accepted row is 'added', the corpus itself 'unchanged'
      val counts = audit.as[(String, Long)].collect().toMap
      assert(counts.keySet == Set("added", "unchanged"))
      assert(counts("added") == acceptedIds.size.toLong)
      assert(counts("unchanged") == standing.count())
    } finally release()
  }

  test("prepareIncremental is idempotent: re-ingesting accepted rows admits nothing") {
    // the ingest replay-safety property (the same T9 discipline the CDC
    // merge keeps): after a batch is accepted into the corpus, delivering
    // the SAME batch again must admit zero rows — every row is now an
    // exact duplicate of the grown corpus, caught by the Bloom prefilter +
    // exact sliver join regardless of LSH settings. This exercises the
    // whole against-corpus funnel end to end (a false-negative anywhere
    // would re-admit a duplicate).
    val docs = spark.read.parquet(s"$sf/documents.parquet")
    val standing = docs.filter(pmod($"doc_id", lit(5L)) =!= 0L)
    val incoming = docs.filter(pmod($"doc_id", lit(5L)) === 0L)
    val cfg = CorpusPipeline.Config(nearDupThreshold = None, decontamThreshold = None)
    val (accepted, _, release) =
      CorpusPipeline.prepareIncrementalManaged(incoming, standing, cfg)
    // the grown corpus reads `accepted`, so its frames outlive the replay
    try {
      assert(accepted.count() > 0, "fixture must admit rows for the replay to mean anything")
      val grown = standing.unionByName(
        accepted.select(standing.columns.map(col): _*))
      val (replayed, _, releaseReplay) =
        CorpusPipeline.prepareIncrementalManaged(incoming, grown, cfg)
      try assert(replayed.count() == 0,
        "replaying an ingested batch against the grown corpus must admit nothing")
      finally releaseReplay()
    } finally release()
  }

  test("prepareIncremental refuses a batch that carries the gate's reserved columns") {
    // accepted carries __ck/__sig and callers drop them, so a user column of
    // either name would be overwritten and then silently lost
    val docs = spark.read.parquet(s"$sf/documents.parquet")
    val standing = docs.filter(pmod($"doc_id", lit(5L)) =!= 0L)
    val incoming = docs.filter(pmod($"doc_id", lit(5L)) === 0L).withColumn("__SIG", lit(1L))
    val cfg = CorpusPipeline.Config(nearDupThreshold = None, decontamThreshold = None)
    val before = spark.sparkContext.getPersistentRDDs.keySet.toSet
    val e = intercept[IllegalArgumentException](
      CorpusPipeline.prepareIncrementalManaged(incoming, standing, cfg))
    assert(e.getMessage.contains("__sig"))
    assert(spark.sparkContext.getPersistentRDDs.keySet.toSet == before,
      "the refused call must release the freeze it made")
  }
}
