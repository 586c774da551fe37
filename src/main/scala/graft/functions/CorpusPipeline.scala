package graft.functions

import org.apache.spark.sql.{Column, DataFrame, Row}
import org.apache.spark.sql.functions._
import graft.core.{Checkpoints, Scope}

/** One-call training-corpus preparation: the canonical chain a 100 TB text
  * pipeline runs before tokenization, composed from the engine's oracle-
  * checked primitives in the order that minimizes work at scale —
  *
  *   1. quality gate (map-side, cheapest first: shrinks everything after),
  *   2. exact/fingerprint dedup keep-first (one hash-key shuffle; removes
  *      the boilerplate mega-clusters the near-dup caps assume are gone),
  *   3. optional MinHash near-dup dedup (LSH funnel, candidate-bounded),
  *   4. deterministic split assignment (map-side, partition-independent),
  *   5. optional decontamination: drop train docs with n-gram overlap
  *      against the held-out test split (bipartite posting-list funnel),
  *      and/or SEMANTIC decontamination over a supplied embeddings frame
  *      (bipartite hyperplane-LSH funnel — catches paraphrased test
  *      material the n-gram rule can't see),
  *   6. optional per-source mixture re-weighting (map-side filter).
  *
  * Every stage is a narrow projection or a keys-only shuffle; corpus text
  * never moves except into the candidate-bounded verify joins.
  */
object CorpusPipeline {

  /** Gopher-style repetition caps (Rae et al. 2021, table A1) over the
    * fused [[TextFunctions.repetitionStats]] struct. A document is dropped
    * when ANY signal exceeds its cap.
    */
  final case class RepetitionThresholds(
      maxDupLineFrac: Double = 0.30,
      maxDupLineCharFrac: Double = 0.20,
      maxTop2Frac: Double = 0.20,
      maxTop3Frac: Double = 0.18,
      maxTop4Frac: Double = 0.16,
      maxDup5Frac: Double = 0.15)

  /** Keep-predicate for the repetition caps — one fused map-side pass
    * ([[expressions.RepetitionGateExpr]]: kernel + compares in a single
    * boolean), the same Column under batch and Structured Streaming
    * (stateless, so continuous ingest gets identical gate semantics row
    * by row). Prefer this in filters: see [[repetitionGateOn]]'s caveat.
    */
  def repetitionGate(text: Column, th: RepetitionThresholds = RepetitionThresholds()): Column = {
    import org.apache.spark.sql.graft.ColumnBridge
    ColumnBridge.column(expressions.RepetitionGateExpr(
      ColumnBridge.expression(text), th.maxDupLineFrac, th.maxDupLineCharFrac,
      th.maxTop2Frac, th.maxTop3Frac, th.maxTop4Frac, th.maxDup5Frac))
  }

  /** Same predicate over an already-computed repetition-stats struct.
    * CAVEAT: in a `filter`, predicate pushdown substitutes the struct
    * alias into EVERY conjunct and filter codegen does no cross-conjunct
    * subexpression elimination — the kernel runs six times per row
    * (measured 4× slower at sf0.1). Use [[repetitionGate]] for filters;
    * this form is for queries that genuinely project the struct fields.
    */
  def repetitionGateOn(stats: Column, th: RepetitionThresholds = RepetitionThresholds()): Column =
    stats.getField("dup_line_frac") <= th.maxDupLineFrac &&
      stats.getField("dup_line_char_frac") <= th.maxDupLineCharFrac &&
      stats.getField("top2_frac") <= th.maxTop2Frac &&
      stats.getField("top3_frac") <= th.maxTop3Frac &&
      stats.getField("top4_frac") <= th.maxTop4Frac &&
      stats.getField("dup5_frac") <= th.maxDup5Frac

  /** @param nearDupThreshold       MinHash-LSH Jaccard threshold; None skips
    * @param decontamThreshold      bipartite n-gram Jaccard threshold vs the
    *                               test split; None skips
    * @param mixtureRates           per-source keep rates; empty skips
    * @param maxGramDocFreq         stop-gram cap for the decontamination join
    * @param mixtureTokenBudget     with [[mixtureTargetWeights]]: derive the
    *                               per-source rates from a TOKEN budget
    *                               instead of hand-tuned row rates —
    *                               rate(s) = min(1, budget·w(s)/tokens(s))
    *                               over the measured post-decontamination
    *                               totals (see [[Sampling.mixtureWeights]]);
    *                               takes precedence over [[mixtureRates]]
    * @param mixtureTokens          per-row token-count column for the budget
    *                               measurement, e.g. `Bpe.tokenCount(text,
    *                               vocab)`; defaults to the BPE base-byte
    *                               count of [[Config.textCol]]
    * @param fixMojibake            repair UTF-8-as-Latin-1 mojibake in
    *                               textCol before any other stage
    * @param stripHtml              strip markup from textCol before any gate
    *                               ([[HtmlStrip.stripHtml]])
    * @param nfcNormalize           Unicode-NFC-canonicalize textCol before
    *                               any gate (after the HTML strip)
    * @param urlCol                 provenance column: enables canonical-URL
    *                               keep-first dedup (+ [[Config.blockedHosts]])
    * @param blockedHosts           registered hosts to drop when urlCol is set
    * @param minCompressionRatio    Gopher compression arm: drop docs whose
    *                               deflate ratio falls below this
    * @param dedupAgainstBloom      standing-corpus Bloom filter over
    *                               `md5Hash60(normalized(text))` keys; drops
    *                               every might-contain (stateless, fpp false
    *                               drops — the streaming-compatible trade)
    * @param c4LineRules            apply the C4 line retention + page bans
    *                               ([[C4Rules]]) after the markup strip,
    *                               rewriting textCol to the kept lines
    * @param gopherQuality          add the Gopher document-shape quality
    *                               arm ([[GopherQuality.gate]]) to the gate
    *                               conjunction
    */
  final case class Config(
      idCol: String = "doc_id",
      textCol: String = "text",
      sourceCol: String = "source",
      minChars: Int = 20,
      maxChars: Int = 20000,
      maxPunctRatio: Double = 0.2,
      maxDigitRatio: Double = 0.25,
      minMeanTokenLen: Double = 2.0,
      maxMeanTokenLen: Double = 12.0,
      requireKnownLang: Boolean = true,
      nearDupThreshold: Option[Double] = Some(0.8),
      splits: Seq[(String, Double)] = Seq("test" -> 0.05, "val" -> 0.05),
      decontamThreshold: Option[Double] = Some(0.8),
      maxGramDocFreq: Long = 100L,
      mixtureRates: Map[String, Double] = Map.empty,
      defaultRate: Double = 1.0,
      repetition: Option[RepetitionThresholds] = None,
      mixtureTokenBudget: Option[Long] = None,
      mixtureTargetWeights: Map[String, Double] = Map.empty,
      mixtureTokens: Option[Column] = None,
      dsirTarget: Option[Column] = None,
      dsirTopK: Int = 0,
      dsirBuckets: Int = 4096,
      embeddings: Option[DataFrame] = None,
      embCol: String = "embedding",
      embeddingDim: Int = 64,
      semanticDecontamThreshold: Option[Double] = None,
      fixMojibake: Boolean = false,
      stripHtml: Boolean = false,
      nfcNormalize: Boolean = false,
      urlCol: Option[String] = None,
      blockedHosts: Seq[String] = Nil,
      minCompressionRatio: Option[Double] = None,
      dedupAgainstBloom: Option[org.apache.spark.util.sketch.BloomFilter] = None,
      c4LineRules: Boolean = false,
      gopherQuality: Option[GopherQuality.Thresholds] = None)

  /** The frozen ingest gate's one MinHash/Bloom geometry. A standing
    * similarity index is valid only under one fixed signature scheme, so
    * every site that builds or probes gate state reads it here: the freeze
    * ([[freezeCorpus]]), the funnel ([[prepareIncrementalFrozen]]), the
    * [[graft.streaming.CorpusIngestSink.FrozenGate]] delta fold and
    * [[prepare]]'s Bloom probe; prepare's in-batch near-dup stage shares
    * the shingle width. 64 hashes in 16 bands of 4: a 32-hash trim
    * was measured at 35 s vs ~7 s on the `ingest_frozen_sidefiles` fixture,
    * because width-2 bands square the per-band collision probability on
    * real-text shingles and the candidate pairs dwarf the saved hashing.
    */
  object GateGeometry {
    /** character shingle width of every gate signature */
    val ShingleWidth: Int = 5
    /** MinHash signature width */
    val NumHashes: Int = 64
    /** LSH bands; `NumHashes / Bands` signature rows per band */
    val Bands: Int = 16
    /** false-positive rate of the Bloom filter over the exact keys */
    val BloomFpp: Double = 0.01
    /** bucket occupancy above which a (band, bucket) is hot and muted */
    val MaxBucketSize: Long = 4096L

    /** exact-dedup key of a document: `md5Hash60(normalized(text))` */
    def key(text: Column): Column =
      TextFunctions.md5Hash60(TextFunctions.normalized(text))
    /** hashed [[ShingleWidth]]-char shingles, the signature's input */
    def shingles(text: Column): Column =
      TextFunctions.shingleHashes(text, ShingleWidth)
    /** the [[NumHashes]]-wide MinHash signature of a document */
    def signature(text: Column): Column =
      MinHashLsh.signatureOfHashes(shingles(text), NumHashes)
    /** per-band bucket keys of a [[signature]] */
    def bandBuckets(sig: Column): Column =
      MinHashLsh.bandBuckets(sig, Bands, NumHashes / Bands)
  }

  /** Fused numeric quality gate ([[expressions.QualityGateExpr]]: one
    * stats pass + band checks in a single boolean). Prefer this in
    * filters — a filter over the stats struct multi-evaluates the kernel
    * per conjunct (same pushdown caveat as [[repetitionGateOn]]).
    */
  def qualityGate(text: Column, minChars: Int, maxChars: Int,
                  maxPunctRatio: Double, maxDigitRatio: Double,
                  minMeanTokenLen: Double, maxMeanTokenLen: Double): Column = {
    import org.apache.spark.sql.graft.ColumnBridge
    ColumnBridge.column(expressions.QualityGateExpr(
      ColumnBridge.expression(text), minChars, maxChars,
      maxPunctRatio, maxDigitRatio, minMeanTokenLen, maxMeanTokenLen))
  }

  /** Prepared corpus: the input rows that survive every configured stage,
    * plus a `split` column. Deterministic end to end — same input, same
    * output, on any partitioning.
    */
  def prepare(docs: DataFrame, cfg: Config = Config()): DataFrame = {
    val id = col(cfg.idCol)
    val text = col(cfg.textCol)

    // 0. optional raw-crawl cleanup, applied IN PLACE to textCol so every
    // later stage (gates, fingerprints, shingles, decontamination) sees the
    // cleaned text: encoding repair first (mojibake garbles the markup
    // too), then markup strip, then Unicode NFC so entity-decoded
    // characters canonicalize. All map-side, zero shuffle.
    val cleanedEnc =
      if (cfg.fixMojibake) docs.withColumn(cfg.textCol, TextFunctions.fixMojibake(text))
      else docs
    val cleaned0 =
      if (cfg.stripHtml) cleanedEnc.withColumn(cfg.textCol, HtmlStrip.stripHtml(text))
      else cleanedEnc
    val cleanedNfc =
      if (cfg.nfcNormalize)
        cleaned0.withColumn(cfg.textCol, TextFunctions.nfcNormalize(col(cfg.textCol)))
      else cleaned0

    // 0.75 optional C4 line/page rules (Raffel 2020 §2.2) — after the
    // markup strip (the rules assume visible text), before any gate: line
    // retention rewrites textCol in place, the page bans filter. All
    // map-side array HOFs, zero shuffle.
    val cleaned =
      if (cfg.c4LineRules) {
        cleanedNfc.withColumn("__c4", C4Rules.cleanText(col(cfg.textCol)))
          .filter(C4Rules.keepPage(col(cfg.textCol), col("__c4")))
          .withColumn(cfg.textCol, col("__c4")).drop("__c4")
      } else cleanedNfc

    // 0.5 optional provenance stage: host blocklist gate (map-side), then
    // canonical-URL keep-first dedup — the RefinedWeb "one document per
    // URL" rule on 16-byte-normalized keys, one keys-only agg + semi-join.
    // Rows whose URL is null/unparseable (no scheme, javascript:, relative
    // path — normalizeUrl yields null/empty) carry NO provenance identity
    // and are EXEMPT from this stage: grouping them would collapse every
    // such document into one "" key and keep a single survivor — silent
    // mass deletion on corpora with partial URL coverage. Text-level dedup
    // (the fingerprint stage below) still covers them.
    val provenanced = cfg.urlCol.fold(cleaned) { uc =>
      val notBlocked =
        if (cfg.blockedHosts.nonEmpty)
          cleaned.filter(!UrlFunctions.urlHost(col(uc)).isin(cfg.blockedHosts: _*))
        else cleaned
      val norm = UrlFunctions.normalizeUrl(col(uc))
      val hasUrl = norm.isNotNull && length(norm) > 0
      val keep = notBlocked.filter(hasUrl)
        .groupBy(norm.as("__url"))
        .agg(min(id).as(cfg.idCol)).select(cfg.idCol)
        .unionByName(notBlocked.filter(!coalesce(hasUrl, lit(false)))
          .select(id.as(cfg.idCol)))
      notBlocked.join(keep, Seq(cfg.idCol), "left_semi")
    }

    // 1. quality gate — fused map-side predicates, one kernel pass each
    val numericGate = qualityGate(text, cfg.minChars, cfg.maxChars,
      cfg.maxPunctRatio, cfg.maxDigitRatio, cfg.minMeanTokenLen,
      cfg.maxMeanTokenLen)
    val langGate =
      if (cfg.requireKnownLang) numericGate && TextFunctions.langId(text) =!= "und"
      else numericGate
    val gate0 = cfg.repetition.fold(langGate)(th => langGate && repetitionGate(text, th))
    // Gopher's compression arm: drop what deflate collapses (templated /
    // repetitive), same fused-predicate shape as the other gates
    val gate1 = cfg.minCompressionRatio.fold(gate0)(v =>
      gate0 && TextFunctions.compressionRatio(text) >= v)
    // Gopher's document-shape arm (table A1 quality half): word bounds,
    // word-length band, symbol/bullet/ellipsis ratios, alpha fraction,
    // stop-word floor — one let-bound tokenize pass ([[GopherQuality.gate]])
    val gate = cfg.gopherQuality.fold(gate1)(th =>
      gate1 && GopherQuality.gate(text, th))
    val qualityPreBloom = provenanced.filter(gate)

    // 1.5 optional incremental-ingest membership probe vs a standing
    // corpus's Bloom filter (built once, batch-side): the stateless
    // zero-join deployment — drops every might-contain, accepting the
    // filter's fpp of false drops (BloomDedup.newKeysExact is the exact
    // alternative when an anti-join is affordable)
    val quality = cfg.dedupAgainstBloom.fold(qualityPreBloom)(bf =>
      qualityPreBloom.filter(!BloomDedup.mightContain(bf, GateGeometry.key(text))))

    // 2. fingerprint dedup keep-first: min id per md5(normalized text)
    val fp = TextFunctions.fingerprint(text)
    val keepIds = quality.groupBy(fp.as("__fp")).agg(min(id).as(cfg.idCol))
      .select(cfg.idCol)
    val exactDeduped = quality.join(keepIds, Seq(cfg.idCol), "left_semi")

    // 3. optional near-dup dedup (keep-first survivor rule). Cached while
    // the small dropped-id set materializes — the LSH funnel reads its
    // input from three branches (signatures, candidate shingles, anti-join)
    val deduped = cfg.nearDupThreshold.fold(exactDeduped) { th =>
      val dupIds = Scope.using { scope =>
        Checkpoints.localize(
          MinHashLsh.nearDupPairs(scope.persist(exactDeduped), cfg.idCol,
              TextFunctions.charShingles(text, GateGeometry.ShingleWidth), threshold = th)
            .select(col("id_b").as(cfg.idCol)).distinct())
      }
      exactDeduped.join(dupIds, Seq(cfg.idCol), "left_anti")
    }

    // 3.5 optional DSIR selection toward a target domain — the paper's
    // placement: select from the deduplicated raw pool BEFORE splitting.
    // The resample funnel reads its input from several branches (two
    // tokenize passes + the id join-back), each of which would re-derive
    // gate + dedup from the raw scan, so the intermediate is cached only
    // while the k selected ids materialize (the established lifecycle).
    val selected = cfg.dsirTarget match {
      case Some(tgt) if cfg.dsirTopK > 0 =>
        val keep = Scope.using { scope =>
          Checkpoints.localize(
            Dsir.resample(scope.persist(deduped), cfg.idCol, text, tgt,
                cfg.dsirTopK, cfg.dsirBuckets)
              .select(col(cfg.idCol)))
        }
        deduped.join(keep, Seq(cfg.idCol), "left_semi")
      case _ => deduped
    }

    // 4. deterministic split assignment
    val withSplit = selected.withColumn("split", Sampling.assignSplit(id, cfg.splits))

    // 5. optional decontamination of train against the test split. The
    // bipartite funnel reads the prepared corpus from several plan branches
    // (train grams, test grams, per-doc counts), each of which would
    // re-derive gate + dedup from the raw scan — so the intermediate is
    // cached only while the (tiny) contaminated-id set is materialized,
    // then released; the final anti-join holds no cached state
    // (same lifecycle as MinHashLsh's signature cache).
    val decontaminated = cfg.decontamThreshold.fold(withSplit) { th =>
      val contaminated = Scope.using { scope =>
        val cached = scope.persist(withSplit)
        Checkpoints.localize(
          NgramJaccard.bipartitePairs(
              cached.filter(col("split") === "train"),
              cached.filter(col("split") === "test"), cfg.idCol,
              TextFunctions.wordNgramHashes(text, 3), th, cfg.maxGramDocFreq,
              // the inputs are persisted right above: every funnel branch
              // reads the cache, so a pinned gram exchange would only add
              // a full re-shuffle (round 8 measured +35% for exactly this)
              pinExchange = false)
            .select(col("id_left").as(cfg.idCol)).distinct())
      }
      withSplit.join(contaminated, Seq(cfg.idCol), "left_anti")
    }

    // 5.5 optional SEMANTIC decontamination of train against the test
    // split — catches paraphrased/reformatted test material the n-gram
    // stage can't see. Embeddings arrive as a separate frame keyed by
    // idCol; only (id, split) ⋈ embedding rows enter the bipartite LSH
    // funnel, so corpus text stays out of it entirely. Same bounded cache
    // lifecycle as the lexical stage: the slim joined frame is persisted
    // while the (tiny) contaminated-id set localizes, then released.
    val semDecontaminated = (cfg.embeddings, cfg.semanticDecontamThreshold) match {
      case (Some(embFrame), Some(th)) =>
        val contaminated = Scope.using { scope =>
          val slim = scope.persist(decontaminated.select(id, col("split"))
            .join(embFrame.select(col(cfg.idCol), col(cfg.embCol)), cfg.idCol))
          Checkpoints.localize(
            VectorSimilarity.bipartiteThresholdLsh(
                slim.filter(col("split") === "train"),
                slim.filter(col("split") === "test"),
                th, cfg.embeddingDim, idCol = cfg.idCol, vecCol = cfg.embCol)
              .select(col("id_left").as(cfg.idCol)).distinct())
        }
        decontaminated.join(contaminated, Seq(cfg.idCol), "left_anti")
      case _ => decontaminated
    }

    // 6. optional mixture re-weighting. Budgeted form first: the rates are
    // derived from per-source token totals of the PREPARED corpus, so the
    // measurement aggregation (|sources| rows to the driver) runs over the
    // cached intermediate, then only the rate map survives — same bounded
    // lifecycle as the dedup/decontamination stages.
    cfg.mixtureTokenBudget match {
      case Some(budget) if cfg.mixtureTargetWeights.nonEmpty =>
        val tok = cfg.mixtureTokens.getOrElse(
          Bpe.tokenCount(text, BpeVocab.bytes).cast("long"))
        val src = col(cfg.sourceCol)
        val inMix = semDecontaminated
          .filter(src.isin(cfg.mixtureTargetWeights.keySet.toSeq: _*))
        val rates = Scope.using { scope =>
          Sampling.mixtureWeights(
            Sampling.tokensBySource(scope.persist(inMix), src, tok),
            cfg.mixtureTargetWeights, budget)
        }
        Sampling.mixtureSample(inMix, id, src, rates, defaultRate = 0.0)
      case _ if cfg.mixtureRates.nonEmpty =>
        Sampling.mixtureSample(semDecontaminated, id, col(cfg.sourceCol),
          cfg.mixtureRates, cfg.defaultRate)
      case _ => semDecontaminated
    }
  }

  /** Day-2 ingest, one call: prepare a NEW batch against a STANDING corpus.
    *
    *   1. the full [[prepare]] chain over the new batch (cleanup, gates,
    *      in-batch dedup, splits — whatever `cfg` enables),
    *   2. EXACT dedup against the standing corpus, Bloom-prefiltered:
    *      the corpus's normalized-text fingerprints build a filter once
    *      (distributed, driver holds bits only), definitely-new rows skip
    *      the anti-join entirely, and the candidate sliver is resolved
    *      exactly ([[BloomDedup.newKeysExact]] — bit-identical to the plain
    *      anti-join, so the stage is invisible to an oracle),
    *   3. near-dup dedup against the corpus (cross-side-only bipartite LSH
    *      funnel, [[MinHashLsh.dedupAgainst]] — new-vs-new pairs are stage
    *      1's job, corpus-vs-corpus pairs are day-1's),
    *   4. a snapshot-diff audit frame: per-status counts of
    *      corpus → corpus ∪ accepted (every accepted row must surface as
    *      `added`, the corpus as `unchanged` — the regression check an
    *      ingest round commits next to its output).
    *
    * Every signature, band split, Bloom fpp and hot-bucket cap is
    * [[GateGeometry]]'s.
    *
    * Returns (accepted rows, audit, release). Scale posture: the corpus
    * contributes one keys-only filter-build pass, one distinct-key sliver
    * join, and the banded signature pass — its text never moves; each
    * stage is the already-bounded primitive it names.
    *
    * CACHE LIFETIME — the [[graft.operators.PageRank.runManaged]] pattern:
    * one [[Scope]] owns everything the RETURNED frames reference, the
    * frozen corpus and the batch funnel's persisted frames. Call
    * `release()` once `accepted`/`audit` have materialized (localize what
    * must outlive it), or one corpus-keys-sized checkpoint, the Bloom
    * broadcast and the persisted batch frames stay pinned per call. A
    * failure inside this call closes the scope before it propagates. The
    * freeze is made without banding, under [[GateGeometry]].
    */
  def prepareIncrementalManaged(newDocs: DataFrame, standingCorpus: DataFrame,
                                cfg: Config = Config(),
                                againstThreshold: Option[Double] = Some(0.8),
                                semanticAgainstThreshold: Option[Double] = None)
      : (DataFrame, DataFrame, () => Unit) = {
    val text = col(cfg.textCol)
    // one-shot freeze: the corpus's keys + signatures (+ embeddings when
    // the semantic arm is on) materialize in a SINGLE scan (previously the
    // key projection and the funnel's signature pass each re-read the
    // corpus — two scans per call)
    val frozen = freezeCorpus(standingCorpus, cfg,
      withSignatures = againstThreshold.isDefined,
      embeddings = if (semanticAgainstThreshold.isDefined) cfg.embeddings else None)
    Scope.closeOnFailure { scope =>
      scope.onClose(frozen.release())
      val accepted = prepareIncrementalFrozen(scope,
        newDocs, frozen, standingCorpus, cfg, againstThreshold,
        semanticAgainstThreshold = semanticAgainstThreshold).drop(GateColumns: _*)

      // ingest audit: old corpus vs composed corpus, per-status counts
      val composed = standingCorpus
        .unionByName(accepted.select(standingCorpus.columns.map(col): _*))
      val audit = graft.operators.SnapshotDiff
        .diff(standingCorpus, composed, cfg.idCol, TextFunctions.fingerprint(text))
        .groupBy(col("status")).agg(count(lit(1)).cast("long").as("n"))
      (accepted, audit, () => scope.close())
    }
  }

  /** A standing corpus's gate state, frozen at one point in time: the
    * 8-byte exact-dedup keys, the MinHash signature frame (when near-dup
    * gating is on), and the Bloom prefilter over the keys — everything the
    * incremental gate needs from the corpus EXCEPT candidate-verify text.
    * One localCheckpointed slim frame backs both projections, built in a
    * SINGLE corpus scan, under the one [[GateGeometry]]. The Bloom filter
    * exists only as its broadcast ([[bloomBcast]]); no driver copy of its
    * bits outlives the freeze. The freeze's [[Scope]] owns the slim frame,
    * the broadcast and the banded cache; `release()` closes that scope.
    *
    * This is the freeze-and-fold device for streaming ingest: freeze
    * once, gate many batches against (frozen + admitted-delta) state, and
    * on a cadence fold the delta into new frozen state ([[foldDelta]]) —
    * the corpus is read once per gate, not once per batch
    * ([[graft.streaming.CorpusIngestSink.FrozenGate]]).
    */
  final class FrozenCorpus private[functions] (
      scope: Scope,
      /** (`__id`, `__ck`, `__sig`[, `__emb`]), localCheckpointed */
      private[functions] val slim: DataFrame,
      /** corpus rows at freeze time */
      val rows: Long,
      /** the Bloom filter over the frozen exact-dedup keys, serialized
        * and BROADCAST — its only form: probes ship the handle in the task
        * binary, not the bits (~1.2 MB per million keys at 1% fpp —
        * plan-embedded bytes would re-ship per stage per batch);
        * unpersisted on [[release]]
        */
      val bloomBcast: org.apache.spark.broadcast.Broadcast[Array[Byte]],
      private[functions] val withSignatures: Boolean,
      private[functions] val withEmbeddings: Boolean,
      /** banded (__id, __band, __bucket) frame of the frozen signatures,
        * persisted — present when frozen `withBanded`: the corpus-side
        * banding explode + hot-bucket shuffle happen once per freeze (a
        * fold re-bands the slim frame with no shuffle), and every gated
        * batch reuses them (cached probes instead of an O(corpus) shuffle
        * per micro-batch)
        */
      private[functions] val bandedSlim: Option[DataFrame] = None,
      /** hot (band, bucket) pairs of the frozen banding, driver-localized */
      private[functions] val bandedHot: Option[DataFrame] = None,
      /** max occupancy among the frozen side's NON-hot buckets — lets the
        * gate prove a delta cannot push any bucket over the cap
        * (maxDeltaOccupancy + this ≤ cap) and skip the per-batch count
        * probe entirely; None when frozen without banding. Exact after a
        * freeze; after a [[foldDelta]] an upper bound, which only makes
        * the gate probe more buckets, never admit differently
        */
      val bandedMaxNonHot: Option[Long] = None,
      /** directory holding the freeze-time SIDE FILES (`keys/` sorted by
        * __ck, `sigs/` sorted by __id; small parquet row groups) — present
        * when the freeze wrote them. They are the PRUNED-PROBE fast path: a
        * gated batch's probe sets (bloom-positive keys, candidate ids) are
        * driver-collected and pushed as In filters into these sorted
        * scans, so per-batch corpus-side IO is bounded by the PROBES
        * (row-group statistics skip everything else), not the corpus. The
        * cached frames stay authoritative as the fallback for over-cap
        * probe sets. Bucket probes always join the cached [[bandedSlim]]:
        * a pruned read costs at least one row group (~10k banded rows) per
        * probe, and a batch probes ~16 uniform buckets per doc, so it beats
        * the resident frame only above ~10k corpus docs per batch doc
        * (~10M docs for a 1000-doc batch).
        */
      private[functions] val sideDir: Option[String] = None,
      /** prefix-partition count of the keys side file (`__pfx =
        * pmod(value, sidePfx)` directory column; set whenever [[sideDir]]
        * is). Directory-level partition pruning evaluates an In set
        * EXACTLY at listing time regardless of its size — the first
        * pruning stage that cannot silently degrade the way parquet's
        * >threshold In-to-range row-group rewrite does over uniform-hash
        * domains.
        */
      private[functions] val sidePfx: Int = 0) {
    /** max probe values inlined into one pruned side-file read; above it
      * callers fall back to the cached frames (the In filter's literal
      * set and the per-row-group evaluation stay bounded)
      */
    private[functions] val sideProbeCap: Int = 1 << 16
    /** one DataFrame per side-file sub-dir, memoized for the freeze's
      * lifetime: a fresh `read.parquet` per probe re-lists the directory
      * tree and re-reads a footer for schema EVERY batch — per-batch
      * driver work that grows with the prefix-partition count. The cached
      * relation's file index is built once per freeze or fold, over a
      * given schema ([[sideSchema]]); per-batch probe filters still prune
      * partitions/row groups at query planning.
      */
    @transient private lazy val sideReadCache =
      scala.collection.mutable.Map.empty[String, DataFrame]
    private def sideRead(sub: String): DataFrame = sideReadCache.synchronized {
      sideReadCache.getOrElseUpdate(sub, slim.sparkSession.read
        .schema(sideSchema(slim, sub)).parquet(sideDir.get + "/" + sub))
    }
    // How the value-level In reaches parquet (verified against Spark
    // 4.1.2 bytecode, ParquetFilters — the r17 verdict's premise is
    // INVERTED on this version): a pushed In with MORE values than
    // spark.sql.parquet.pushdown.inFilterThreshold (default 10) becomes
    // parquet's NATIVE set-based FilterApi.in — exact at row-group-stats
    // and dictionary level, so the sorted side files prune correctly at
    // any probe size. At or BELOW the threshold Spark instead builds a
    // recursive OR-chain of equalities; raising the threshold to "help"
    // large probe sets therefore forces a probe-set-deep OR chain whose
    // recursive visitor StackOverflowErrors around ~2k values (hit
    // empirically at sf0.01) — the threshold must be left ALONE.
    private def pruned(sub: String, keyName: String, probes: Seq[Any]): Option[DataFrame] =
      if (sideDir.isEmpty || probes.size > sideProbeCap) None
      else Some(sideRead(sub).filter(SetFilters.probeFilter(col(keyName), probes)))
    /** [[pruned]] plus the prefix-partition filter: the probe values'
      * `__pfx` classes are computed driver-side (same `floorMod` as the
      * write's `pmod`) and pushed as a partition-column In — file listing
      * then touches only the probed directories, an exact prune with no
      * row-group-statistics dependence at any probe-set size.
      */
    private def prunedPfx(sub: String, keyName: String, probes: Seq[Any]): Option[DataFrame] =
      if (sideDir.isEmpty || probes.size > sideProbeCap) None
      else if (probes.exists(p => !p.isInstanceOf[java.lang.Number])) None
      else {
        val pfx = probes.iterator
          .map(p => java.lang.Math.floorMod(p.asInstanceOf[java.lang.Number].longValue, sidePfx.toLong).toInt)
          .toSet.toSeq
        Some(sideRead(sub)
          .filter(col("__pfx").isin(pfx: _*) &&
            SetFilters.probeFilter(col(keyName), probes))
          .drop("__pfx"))
      }
    /** frozen keys restricted to `probes` — IO ∝ probes, or None */
    def prunedKeys(probes: Seq[Any]): Option[DataFrame] =
      prunedPfx("keys", "__ck", probes)
    /** frozen signatures restricted to the given ids, or None. Not prefix-
      * partitioned: ids are caller-typed (strings included), and candidate
      * ids arrive append-ordered, so the id-sorted row groups already
      * carry tight min/max ranges.
      */
    def prunedSigs(probes: Seq[Any]): Option[DataFrame] =
      pruned("sigs", "__id", probes)
    /** whether the pruned-probe fast path is available at all */
    def hasSideFiles: Boolean = sideDir.isDefined
    /** the frozen banded frame + hot set, when frozen `withBanded` */
    def banded: Option[(DataFrame, DataFrame)] = bandedSlim.zip(bandedHot)
    /** (`__ck`) — frozen exact-dedup keys, read from the shared cache. */
    def keys: DataFrame = slim.select(col("__ck"))
    /** (`__id`, `__sig`) — frozen signatures; None when frozen without. */
    def sigs: Option[DataFrame] =
      if (withSignatures)
        Some(slim.select(col("__id"), col("__sig")).filter(col("__sig").isNotNull))
      else None
    /** (`__id`, `__emb`) — frozen embeddings (semantic gate); None when
      * frozen without. Corpus rows lacking an embedding carry none and are
      * invisible to the semantic arm — by design, on BOTH sides.
      */
    def embs: Option[DataFrame] =
      if (withEmbeddings)
        Some(slim.select(col("__id"), col("__emb")).filter(col("__emb").isNotNull))
      else None
    /** Release every freeze resource (idempotent). */
    def release(): Unit = scope.close()
  }

  /** Freeze a standing corpus's gate state in ONE scan: project
    * (id, exact-key, signature) together — plus the embedding via one
    * keyed left join when the semantic arm is on — localCheckpoint the
    * slim frame, build the Bloom filter from the checkpointed keys and
    * broadcast its bytes (the driver filter is garbage once serialized).
    * Day-0 (empty corpus) gets an explicitly empty filter — Spark's
    * `stat.bloomFilter` NPEs on zero rows, and every probe of the empty
    * filter correctly answers "proven new". The filter is monolithic (the
    * [[BloomDedup]] posture note).
    *
    * Keys, signatures, the Bloom fpp, the banding and the hot-bucket cap
    * all come from [[GateGeometry]]. `withBanded` also persists the banded
    * signature frame and its hot set. `sideFileDir` writes the `keys/` and
    * `sigs/` side files once the corpus holds at least `sideFileMinRows`
    * rows ([[writeFullSideFiles]]).
    */
  def freezeCorpus(standingCorpus: DataFrame, cfg: Config = Config(),
                   withSignatures: Boolean = true,
                   embeddings: Option[DataFrame] = None,
                   withBanded: Boolean = false,
                   sideFileDir: Option[String] = None,
                   sideFileMinRows: Long = 200000L): FrozenCorpus = {
    require(!withBanded || withSignatures,
      "banded freeze state derives from signatures")
    import GateGeometry._
    val text = col(cfg.textCol)
    val sig =
      if (withSignatures) signature(text)
      else lit(null).cast("array<bigint>")
    // NO parallelism floor on the freeze scan: an interleaved min-of-2 A/B
    // (r19) measured FanOut(standingCorpus) at 1.29× on ingest_lifecycle
    // (which freezes per batch) and 1.09× on ingest_semantic_gate — the
    // payload exchange plus wider tiny-task stages cost more than the
    // serialized md5/minhash pass saves at micro-corpus scale, and at
    // warehouse scale the scan already plans more partitions than cores.
    val base = standingCorpus
      .select(col(cfg.idCol).as("__id"), key(text).as("__ck"), sig.as("__sig"))
    // LOCALCHECKPOINT, not persist — and not for lineage reasons: a
    // persisted plan that READS the corpus path is registered with the
    // CacheManager, and Spark's own parquet INSERT into that path calls
    // refreshByPath, which invalidates every such entry — so the frozen
    // gate's OWN per-batch appends were re-executing the whole corpus
    // signature scan from raw text on the next touch (measured r19:
    // frozen.sigs.count 0.77 s cached → 16.3 s after one append at 400k
    // docs; ~430 s of task time per gated batch in the crossover). A
    // localCheckpoint truncates to block-store RDDs with no CacheManager
    // entry — immune to the refresh, and semantically the truer FREEZE: a
    // recompute-after-append would silently read the mutated target
    // mid-window. Blocks die with their executor; a lost block fails the
    // batch and the next one re-freezes (same recovery story as the delta
    // checkpoint parts).
    // Everything below registers with ONE scope, owned by the returned
    // FrozenCorpus; any failure closes it.
    Scope.closeOnFailure { scope =>
      // the job that fills the checkpoint also counts it
      val (slim, rows) = scope.checkpointCounted(embeddings.fold(base)(e => base.join(
        e.select(col(cfg.idCol).as("__id"), col(cfg.embCol).as("__emb")),
        Seq("__id"), "left")))
      val bloomBc = broadcastBloom(scope, slim, rows)
      val (bnd, hot, maxNonHot) =
        if (!withBanded) (None, None, None)
        else {
          // the freeze-amortized banding: explode once, persist; the hot
          // set's groupBy shuffle (the per-batch cost center the frozen
          // gate removes) runs here, once per freeze, and materializes
          // the banded cache as a side effect.
          // persist stays correct here: banded's plan reads slim's
          // CHECKPOINT (a LogicalRDD, no file-source path), so
          // refreshByPath cannot match this cache entry, and the columnar
          // cache format keeps the 16×-exploded frame ~3× smaller than
          // row-format checkpoint blocks would be
          val banded = scope.persist(bandedOf(slim))
          // the occupancy feeds two actions, then dies with a local scope
          // (the freeze's would hold it as long as the banded cache)
          Scope.using { tmp =>
            val occ = tmp.persist(banded.groupBy(col("__band"), col("__bucket"))
              .agg(count(lit(1)).as("__bsz")))
            val hotLocal = scope.localize(
              occ.filter(col("__bsz") > MaxBucketSize)
                .select(col("__band"), col("__bucket")))
            val nonHotMax = occ.filter(col("__bsz") <= MaxBucketSize)
              .agg(max(col("__bsz"))).head() match {
              case r if r.isNullAt(0) => 0L // every bucket hot (or none)
              case r => r.getLong(0)
            }
            (Some(banded), Some(hotLocal), Some(nonHotMax))
          }
        }
      val (side, pfxParts) = writeFullSideFiles(slim, rows, sideFileDir,
        sideFileMinRows, withSignatures)
      new FrozenCorpus(scope, slim, rows, bloomBc, withSignatures,
        embeddings.isDefined, bnd, hot, maxNonHot, side, pfxParts)
    }
  }

  /** The Bloom filter over a slim frame's `rows` keys, broadcast under
    * `scope`. An empty frame gets an explicitly empty filter: Spark's
    * `stat.bloomFilter` NPEs on zero rows, and every probe of the empty
    * filter correctly answers "proven new".
    */
  private def broadcastBloom(scope: Scope, slim: DataFrame, rows: Long)
      : org.apache.spark.broadcast.Broadcast[Array[Byte]] =
    scope.broadcast(slim.sparkSession, BloomDedup.filterBytes(
      if (rows == 0L) org.apache.spark.util.sketch.BloomFilter.create(1L, GateGeometry.BloomFpp)
      else BloomDedup.buildLongNonEmpty(slim, col("__ck"), rows, GateGeometry.BloomFpp)))

  /** The banded (`__id`, `__band`, `__bucket`) rows of a slim frame's
    * signatures, under [[GateGeometry]].
    */
  private def bandedOf(slim: DataFrame): DataFrame = MinHashLsh.bandedFrame(
    slim.select(col("__id"), col("__sig")).filter(col("__sig").isNotNull),
    GateGeometry.Bands, GateGeometry.NumHashes)

  /** The side-file schemas, given so a side read infers nothing: `keys/`
    * holds `__ck` under its `__pfx` directories, `sigs/` the slim frame's
    * (`__id`, `__sig`). Parquet reads every column back as nullable.
    */
  private def sideSchema(slim: DataFrame, sub: String)
      : org.apache.spark.sql.types.StructType = {
    import org.apache.spark.sql.types._
    val fields =
      if (sub == "keys") Seq(StructField("__ck", LongType), StructField("__pfx", IntegerType))
      else slim.select(col("__id"), col("__sig")).schema.fields.toSeq
    StructType(fields.map(_.copy(nullable = true)))
  }

  /** Write a slim frame's keys and signatures as SIDE FILES under `dir`:
    * `keys/` hash-split into `pfx` `__pfx` directories, each sorted by
    * `__ck`, and the non-null signatures as `sigFiles` id-sorted files in
    * `sigs/`. A freeze overwrites both with its full copy; a fold appends
    * its delta beside them under the same `pfx`.
    *
    * TWO pruning stages (r18, re-derived from Spark 4.1.2 bytecode — see
    * the [[FrozenCorpus.pruned]] note):
    *   1. keys carry a `__pfx = pmod(value, P)` DIRECTORY partition —
    *      partition pruning evaluates the probe In set exactly at listing
    *      time, any size, no statistics involved, bounding even the
    *      LISTING and footer reads by the probes' pfx classes;
    *   2. within a directory, per-file sort gives narrow row-group
    *      min/max ranges, and any probe set larger than the default
    *      inFilterThreshold (10) reaches parquet as the NATIVE set-based
    *      In predicate — exact row-group and dictionary pruning at any
    *      probe size, no conf changes needed (and none wanted: raising
    *      the threshold forces the OR-chain path, which stack-overflows
    *      around 2k values).
    * Together: a probe touches its pfx directory, and inside it only the
    * row groups whose range holds its value — per-batch side IO ∝ probes
    * × rowGroupRows, independent of corpus size.
    */
  private def writeSideFiles(slim: DataFrame, dir: String, pfx: Int, sigFiles: Int,
                             withSignatures: Boolean, append: Boolean): Unit = {
    import org.apache.spark.sql.SaveMode
    val blockOpt = "parquet.block.size"
    val blockSz = (1L << 20).toString // ~50k narrow rows per group
    // a full copy HASH-repartitions on the key + sorts within partitions,
    // NOT repartitionByRange: range partitioning's boundary sampling was a
    // measured super-linear term in the freeze; each pfx class lands whole
    // in one task, so every directory gets ~one file, internally sorted
    // for stage-2 row-group pruning. A fold's delta is small: one task
    // writes it sorted, one file per directory, without a shuffle
    def spread(df: DataFrame, n: Int, key: Column) =
      if (append) df.coalesce(1) else df.repartition(n, key)
    val mode = if (append) SaveMode.Append else SaveMode.Overwrite
    val pfxCol = pmod(col("__ck"), lit(pfx.toLong)).cast("int").as("__pfx")
    spread(slim.select(col("__ck"), pfxCol), pfx, col("__pfx"))
      .sortWithinPartitions(col("__pfx"), col("__ck"))
      .write.option(blockOpt, blockSz).partitionBy("__pfx")
      .mode(mode).parquet(dir + "/keys")
    // sigs stay UNPARTITIONED: ids are caller-typed (strings included, no
    // driver-replicable pfx), and candidate ids are append-ordered so the
    // id-sorted groups already prune tightly
    if (withSignatures)
      spread(slim.select(col("__id"), col("__sig")).filter(col("__sig").isNotNull),
          sigFiles, col("__id"))
        .sortWithinPartitions(col("__id"))
        .write.option(blockOpt, blockSz)
        .mode(mode).parquet(dir + "/sigs")
  }

  /** A freeze's side files: written in full ([[writeSideFiles]]) when
    * `dir` is set and the slim frame's `rows` reach `minRows` — below it
    * the cached frames are faster than any fixed job overhead (the same
    * crossover argument as the gate itself). Returns the directory and its
    * prefix-partition count P = clamp(rows / 500k, 8, 1024), which scales
    * with the corpus so directories stay coarse enough to list cheaply but
    * fine enough that a steady batch's probe set touches a strict subset
    * of them; (None, 0) when nothing was written.
    */
  private def writeFullSideFiles(slim: DataFrame, rows: Long, dir: Option[String],
                                 minRows: Long, withSignatures: Boolean): (Option[String], Int) =
    if (dir.isEmpty || rows == 0L || rows < minRows) (None, 0)
    else {
      val p = math.max(8L, math.min(1024L, rows / 500000L)).toInt
      writeSideFiles(slim, dir.get, p, math.max(4L, math.min(256L, rows / 4000000L)).toInt,
        withSignatures, append = false)
      (dir, p)
    }

  /** Fold an admitted `delta` ([[deltaProjection]] rows) into `frozen`:
    * the state [[freezeCorpus]] would build over the frozen corpus plus
    * the delta, made without reading, hashing or shuffling the corpus.
    * `frozen` stays open; its owner releases it once this returns.
    *   - slim: one counted localCheckpoint of frozen slim ∪ the delta's
    *     (`__id`, `__ck`, `__sig`[, `__emb`]);
    *   - Bloom filter: rebuilt from the new slim's keys at
    *     [[GateGeometry.BloomFpp]], one job over block-resident longs, so
    *     its sizing stays exact;
    *   - banded frame: the rows of banded ∪ posexplode(delta `__bb`),
    *     banded again from the new slim and persisted, so its plan stays
    *     one checkpoint deep over any number of folds; its first read fills
    *     it, the refresh batch's own funnel join;
    *   - hot set: the frozen hot set plus the delta's buckets whose frozen
    *     + delta count passes [[GateGeometry.MaxBucketSize]] — the funnel's
    *     crossing probe ([[MinHashLsh.suspectBuckets]]), which counts only
    *     suspect buckets and, with `deltaBucketCounts` known, usually none;
    *   - max non-hot occupancy: an upper bound from the same counts, never
    *     below the truth — a bucket that went hot may have held it, and an
    *     uncounted bucket is priced at the frozen max plus its delta count;
    *   - side files: the delta's keys appended under the frozen `__pfx`
    *     layout, its signatures as one more id-sorted file; a state
    *     without side files gets them in full ([[writeFullSideFiles]]).
    * A failure releases everything this call made; side files may then
    * hold a partial append, so the caller must drop `frozen` too (the
    * next full freeze overwrites them).
    */
  private[graft] def foldDelta(frozen: FrozenCorpus, delta: DataFrame,
                               deltaBucketCounts: Option[Map[(Int, Long), Long]],
                               sideFileDir: Option[String],
                               sideFileMinRows: Long): FrozenCorpus = {
    import GateGeometry._
    val spark = delta.sparkSession
    Scope.closeOnFailure { scope =>
      val (slim, rows) = scope.checkpointCounted(frozen.slim.unionByName(
        delta.select(frozen.slim.columns.toSeq.map(col): _*)))
      val bloomBc = broadcastBloom(scope, slim, rows)
      val (bnd, hot, maxNonHot) = (frozen.banded, frozen.bandedMaxNonHot) match {
        case (Some((oldBanded, oldHot)), Some(m)) =>
          // the funnel's crossing probe, run once for the whole window:
          // only suspect buckets are counted, against the filled frozen
          // banding — usually none, and then no job runs
          val suspects = MinHashLsh.suspectBuckets(spark,
            Some(delta.select(posexplode(col("__bb")).as(Seq("__band", "__bucket")))),
            deltaBucketCounts, Some(m), MaxBucketSize)
          val (grown, countedMax) = suspects.fold((Seq.empty[Row], 0L)) { t =>
            val n = col("__n")
            val r = MinHashLsh.stackedOccupancy(oldBanded, t).agg(
              collect_list(when(n > MaxBucketSize, struct(col("__band"), col("__bucket")))),
              coalesce(max(when(n <= MaxBucketSize, n)), lit(0L))).head()
            (r.getSeq[Row](0), r.getLong(1))
          }
          // an uncounted bucket holds at most m frozen rows plus its delta
          // count, which stays within the cap or it would be a suspect
          val uncountedMax = deltaBucketCounts.iterator.flatMap(_.valuesIterator)
            .map(_ + m).filter(_ <= MaxBucketSize).maxOption.getOrElse(0L)
          val h =
            if (grown.isEmpty && oldHot.isLocal) oldHot
            else scope.localize(oldHot.unionByName(spark.createDataFrame(
              java.util.Arrays.asList(grown: _*), oldHot.schema)).distinct())
          // banded again from the new slim; its first read fills the cache
          (Some(scope.persist(bandedOf(slim))), Some(h),
            Some(Seq(m, uncountedMax, countedMax).max))
        case _ => (None, None, None)
      }
      val (side, pfxParts) = frozen.sideDir match {
        case Some(dir) =>
          writeSideFiles(delta, dir, frozen.sidePfx, 1, frozen.withSignatures,
            append = true)
          (Some(dir), frozen.sidePfx)
        case None => writeFullSideFiles(slim, rows, sideFileDir, sideFileMinRows,
          frozen.withSignatures)
      }
      new FrozenCorpus(scope, slim, rows, bloomBc, frozen.withSignatures,
        frozen.withEmbeddings, bnd, hot, maxNonHot, side, pfxParts)
    }
  }

  /** The per-doc columns [[prepareIncrementalFrozen]] adds to `accepted`. */
  private[graft] val GateColumns: Seq[String] = Seq("__ck", "__sig")

  /** The admitted DELTA's one frame: the projection a frozen gate folds
    * each admitted batch into, and the only shape
    * [[prepareIncrementalFrozen]] reads a delta in. `admitted` is that
    * function's `accepted` frame, so the key and signature are projected,
    * not recomputed. Columns:
    *   - `__id` — the document id;
    *   - `__ck` — its [[GateGeometry.key]];
    *   - `__sig` — its [[GateGeometry.signature]], null unless
    *     `withSignatures`;
    *   - `__bb` — that signature's [[GateGeometry.bandBuckets]] (band b's
    *     bucket at position b), null unless `withSignatures`;
    *   - `__emb` — the row's vector from `embeddings` (keyed by
    *     `cfg.idCol`, left-joined; null for rows without one), present only
    *     when `embeddings` is given.
    */
  private[graft] def deltaProjection(admitted: DataFrame, cfg: Config,
                                     withSignatures: Boolean,
                                     embeddings: Option[DataFrame]): DataFrame = {
    import GateGeometry._
    val nullArr = lit(null).cast("array<bigint>")
    val base = admitted.select(col(cfg.idCol).as("__id"), col("__ck"),
      (if (withSignatures) col("__sig") else nullArr).as("__sig"),
      (if (withSignatures) bandBuckets(col("__sig")) else nullArr).as("__bb"))
    embeddings.fold(base)(e => base.join(e.select(col(cfg.idCol).as("__id"),
      col(cfg.embCol).as("__emb")), Seq("__id"), "left"))
  }

  /** The day-2 gate against FROZEN corpus state: in-batch [[prepare]],
    * exact dedup vs the frozen keys (Bloom prefilter + exact sliver join),
    * near-dup dedup vs the frozen signatures. `corpusDocs` supplies
    * candidate-verify TEXT lazily — with zero candidates it is never
    * scanned, so a whole micro-batch can gate without touching corpus
    * storage.
    *
    * `delta` is the corpus rows admitted since the freeze, as ONE
    * [[deltaProjection]] frame; every delta slice the gate needs is a
    * projection of it (keys `__ck`; the non-null `__sig`/`__emb` rows; the
    * banded rows `posexplode(__bb)`, so banding the delta runs no job of
    * its own). Rows the Bloom filter proves new against the FROZEN corpus
    * may still duplicate the delta, so the exact stage anti-joins the
    * delta keys after the frozen split, and the delta signatures ride into
    * the near-dup funnel's corpus side. `deltaBucketCounts`, when the
    * caller knows it, is the delta's exact (band, bucket) occupancy; the
    * banded funnel then probes frozen counts for suspect buckets only.
    * With the delta maintained faithfully, admissions are IDENTICAL to
    * re-freezing every batch — the equality [[graft.streaming]]'s
    * FrozenGateSpec pins — because frozen + delta IS the corpus.
    *
    * The funnel's geometry is [[GateGeometry]]'s, the one the freeze used:
    * a banded freeze supplies its cached banding and hot set, and a freeze
    * made without banding ([[prepareIncrementalManaged]]) has them derived
    * lazily for this call, through the same funnel.
    *
    * Returns `accepted`: the surviving batch rows plus `__ck`, their
    * [[GateGeometry.key]], and — when `againstThreshold` is set — `__sig`,
    * their [[GateGeometry.signature]], both computed once per doc while
    * gating, in the shape [[deltaProjection]] reads. Callers that write or
    * return the rows drop the two columns, so both names are reserved:
    * `newDocs` must not carry a `__ck` or `__sig` column (any case), which
    * would otherwise be overwritten here and dropped there. The batch's own persisted frames
    * register with the caller's `scope`, which must stay open until
    * `accepted` has materialized; the frozen state is not the scope's.
    */
  def prepareIncrementalFrozen(scope: Scope,
                               newDocs: DataFrame, frozen: FrozenCorpus,
                               corpusDocs: => DataFrame,
                               cfg: Config = Config(),
                               againstThreshold: Option[Double] = Some(0.8),
                               semanticAgainstThreshold: Option[Double] = None,
                               delta: Option[DataFrame] = None,
                               deltaBucketCounts: Option[Map[(Int, Long), Long]] = None)
      : DataFrame = {
    import GateGeometry._
    require(!newDocs.columns.exists(c => GateColumns.exists(_.equalsIgnoreCase(c))),
      s"the batch must not carry the gate's reserved columns ${GateColumns.mkString(", ")}")
    val text = col(cfg.textCol)
    // 1. in-batch preparation
    val prepared = prepare(newDocs, cfg)

    // 2. exact dedup: Bloom split + sliver join against the FROZEN keys
    // first (the filter covers exactly those), then a plain anti-join
    // against the small delta — a delta row is never "proven new" by the
    // frozen filter's fast path because that path skips only the frozen
    // join, not this one. With freeze-time side files the sliver's keys
    // are driver-collected and pushed into the key-sorted side scan —
    // the exact check then reads ∝ sliver, never a corpus-keys pass.
    val afterFrozen =
      if (frozen.hasSideFiles) {
        // the keyed batch feeds the split's two branches AND the sliver
        // collect — persist the slim projection so none re-derives the
        // in-batch prepare chain (BloomDedup.newKeysExact's plan note)
        val keyed = scope.persist(prepared.withColumn("__ck", key(text)))
        BloomDedup.newKeysExactPruned(keyed, frozen.prunedKeys,
          frozen.keys, "__ck", frozen.bloomBcast)
      } else BloomDedup.newKeysExact(
        prepared.withColumn("__ck", key(text)), frozen.keys, "__ck", frozen.bloomBcast)
    // exactNew feeds several plan branches downstream (both sides of the
    // against-corpus signature funnel, the exact-verify shingle scan, the
    // final anti-join), and each would otherwise re-derive the ENTIRE
    // in-batch prepare chain from the raw scan (measured 1.6× on the warm
    // pipeline at sf0.1). Persisted, not localized: it carries the
    // batch's surviving TEXT rows, which must not land on the driver. It
    // keeps the exact key and, with near-dup gating on, adds the MinHash
    // signature: the cache fill is the one pass that signs each doc, and
    // the funnel and the caller's delta fold read the columns back.
    val exactNew0 = delta.fold(afterFrozen)(d =>
      afterFrozen.join(d.select(col("__ck")).distinct(), Seq("__ck"), "left_anti"))
    val exactNew = scope.persist(
      if (againstThreshold.isDefined) exactNew0.withColumn("__sig", signature(text))
      else exactNew0)

    // 3. near-dup against frozen signatures ∪ delta signatures — through
    // the frozen BANDED state when the freeze carried it (per-batch
    // corpus-side work becomes cached probes; the banding explode and
    // hot-bucket shuffle were paid once at freeze); a freeze without
    // banding hands the funnel the same two frames as lazy plans, neither
    // persisted — identical admissions either way
    val lexAccepted = againstThreshold.fold(exactNew) { th =>
      val corpusSigs = frozen.sigs.getOrElse(throw new IllegalStateException(
        "near-dup gating requested but the corpus was frozen without signatures"))
      val (bnd, hot) = frozen.banded.getOrElse {
        val b = MinHashLsh.bandedFrame(corpusSigs, Bands, NumHashes)
        (b, MinHashLsh.hotBucketsOf(b, MaxBucketSize))
      }
      val batchSigs = exactNew.select(col(cfg.idCol).as("__id"), col("__sig"))
        .filter(col("__sig").isNotNull)
      val pairs = MinHashLsh.bipartitePairsFrozenBanded(corpusSigs, bnd, hot,
        delta, corpusDocs, exactNew, batchSigs, cfg.idCol, shingles(text),
        NumHashes, Bands, th, maxBucketSize = MaxBucketSize,
        deltaBucketCounts = deltaBucketCounts,
        frozenMaxNonHot = frozen.bandedMaxNonHot,
        prunedSigsFor = if (frozen.hasSideFiles) Some(frozen.prunedSigs _) else None)
      exactNew.join(pairs.select(col("id_right").as(cfg.idCol)).distinct(),
        Seq(cfg.idCol), "left_anti")
    }

    // 4. SEMANTIC near-dup against frozen embeddings ∪ delta embeddings —
    // the paraphrase arm the lexical funnel can't see (same motivation as
    // the train/test semantic decontamination stage). Batch rows join
    // their embeddings from cfg.embeddings by id; rows without one are
    // invisible to this arm on both sides, by design. LSH-prefiltered
    // threshold join (bipartiteThresholdLsh) — candidates from cross-side
    // bucket collisions only, exact cosine verifies, miss probability
    // ~9e-8 per qualifying pair at the defaults.
    semanticAgainstThreshold.fold(lexAccepted) { th =>
      val corpusEmb = frozen.embs.getOrElse(throw new IllegalStateException(
        "semantic gating requested but the corpus was frozen without embeddings"))
      val embFrame = cfg.embeddings.getOrElse(throw new IllegalStateException(
        "semantic gating requires cfg.embeddings for the batch side"))
      val allEmb = delta.map(_.select(col("__id"), col("__emb"))
          .filter(col("__emb").isNotNull))
        .fold(corpusEmb)(corpusEmb.unionByName(_))
      val batchEmb = lexAccepted.select(col(cfg.idCol).as("__id"))
        .join(embFrame.select(col(cfg.idCol).as("__id"),
          col(cfg.embCol).as("__emb")), "__id")
      val dupIds = VectorSimilarity.bipartiteThresholdLsh(
          allEmb, batchEmb, th, cfg.embeddingDim,
          idCol = "__id", vecCol = "__emb")
        .select(col("id_right").as(cfg.idCol)).distinct()
      lexAccepted.join(dupIds, Seq(cfg.idCol), "left_anti")
    }
  }
}
