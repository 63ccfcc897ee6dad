package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

import graft.functions.TextAnalysis

/** The end-to-end pretraining-corpus curation pipeline — the composition
  * the LLM-data operators exist for: language-ID → quality gate → exact
  * dedup → MinHash-LSH near-dup dedup → (optional deterministic
  * subsampling / domain balancing) → token accounting, as ONE
  * declarative plan. Catalyst sees a single DAG, so column pruning and
  * predicate pushdown cross stage boundaries, and nothing volume-sized
  * ever touches the driver.
  *
  * Dedup policy (both stages): a document is dropped iff ANY smaller-id
  * document duplicates it — kept or not. For exact dedup that is min-per-
  * content-hash; for near-dup it is "no near-duplicate neighbor with a
  * smaller id" — on a duplicate chain a→b→c this keeps exactly the chain
  * minimum (b is killed by a, c by b even though b itself was dropped):
  * a transitive-chain policy, deterministic without an iterative
  * connected-components pass. (True greedy keep-first against only the
  * KEPT set would also keep c; that variant needs iteration.) The full
  * component-canonical policy — keep exactly each component's min-id
  * member — is [[Dedup.dropNonCanonical]]; on a star 1~3, 2~3 the two
  * differ (see its Scaladoc), pick per corpus.
  */
object Curation {

  /** Curate (doc_id, text) documents. Returns survivors with their
    * computed metadata: (doc_id, lang, quality, n_tokens, text).
    *
    * @param minQuality  quality-gate threshold in [0,1]
    * @param minBands    bands that must agree to call a pair near-dup
    * @param normalizeUnicode NFC-normalize text BEFORE any hashing —
    *                    required for a multilingual corpus, where NFC/NFD
    *                    mixed encodings of the same text would otherwise
    *                    defeat both the exact-md5 and the minhash stages
    *                    (they hash bytes, not graphemes). Off by default:
    *                    single-encoder corpora (the test fixtures) are
    *                    byte-stable already and the survivors' `text`
    *                    column stays byte-identical to the input.
    * @param maxBandFreq near-dup hot-band stop-list: band keys shared by
    *                    more than this many docs are dropped before the
    *                    pair join — the boilerplate skew defense, with the
    *                    miss trade documented on [[Dedup.dedupAgainst]].
    * @param keepBestQuality near-dup survivor policy: false (default) =
    *                    the single-pass smaller-id-neighbor policy in the
    *                    object Scaladoc; true = [[Dedup.keepBest]] — each
    *                    duplicate CLUSTER (full transitive closure) keeps
    *                    its highest-quality member, min-id tiebreak. The
    *                    quality-aware form is what production curation
    *                    wants (keep the clean mirror, not the first-
    *                    crawled copy) and costs a connected-components
    *                    pass (a few edge-linear shuffle rounds) on top of
    *                    the same band join.
    * @param embeddings  optional (doc_id, embedding) frame enabling the
    *                    SEMANTIC dedup stage: paraphrases share no token
    *                    sets — invisible to every hash stage above — but
    *                    sit in the same embedding neighborhood.
    *                    [[Ann.semanticNearDupPairs]] (Lloyd-centroid
    *                    assignment → within-list cosine ≥
    *                    `semanticMinCos`) contributes pairs into the SAME
    *                    survivor policy as the token pairs, so quality-
    *                    aware keepBest spans both graphs. Docs absent
    *                    from the frame simply can't semantic-dedup.
    * @param semanticMinCos within-list cosine threshold for the semantic
    *                    stage (SemDedup reports 0.9-ish for paraphrase
    *                    pruning)
    * @param semanticLists inverted-list count for the semantic stage —
    *                    scale with the corpus (√N-ish) to keep the
    *                    per-list verification node-sized
    * @param removeSpanK optional exact-substring pre-pass
    *                    ([[Dedup.removeSpans]] with this window size):
    *                    excise repeated k-token runs — boilerplate
    *                    headers, license blocks, templated chrome —
    *                    keeping one occurrence corpus-wide BEFORE
    *                    quality scoring and document-level dedup. The
    *                    production order (Lee et al.): shared chrome
    *                    would otherwise both inflate quality signals and
    *                    glue unrelated documents into near-dup pairs.
    * @param maxSurprisal optional [[perplexityScore]] gate: drop docs
    *                    whose mean bigram surprisal (under a model
    *                    trained on the quality-gated corpus itself)
    *                    exceeds this — the CCNet fluency filter. Unlike
    *                    the narrow heuristic gates this costs the bigram
    *                    model aggs + one per-doc score join.
    * @param classifierWeights optional [[classifierScore]] gate with
    *                    caller-supplied [[trainQualityClassifier]]
    *                    weights (training needs labels curate doesn't
    *                    have — train once against a reference
    *                    target/background split, reuse across runs);
    *                    docs scoring below `minClassifierScore` drop.
    * @param minClassifierScore classifier keep threshold (σ scale,
    *                    0.5 = "more target-like than not")
    */
  def curate(docs0: DataFrame, minQuality: Double = 0.3,
      minBands: Int = 4,
      maxDupLines: Double = 1.0, maxTopNgram: Double = 1.0,
      normalizeUnicode: Boolean = false,
      keepBestQuality: Boolean = false,
      maxBandFreq: Option[Long] = None,
      embeddings: Option[DataFrame] = None,
      semanticMinCos: Double = 0.9,
      semanticLists: Int = 8,
      removeSpanK: Option[Int] = None,
      maxSurprisal: Option[Double] = None,
      classifierWeights: Option[Seq[Double]] = None,
      minClassifierScore: Double = 0.5): DataFrame = {
    // Stage 0 (optional): canonical Unicode bytes, a codegen'd narrow map
    // fused into the same scan stage as the feature columns below.
    val docsN = if (normalizeUnicode) {
      graft.ops.Custom.register(docs0.sparkSession)
      docs0.withColumn("text", TextAnalysis.normalizeNfc(col("text")))
    } else docs0
    // Stage 0.5 (optional): exact-substring excision — AFTER byte
    // canonicalization (window hashes need canonical bytes), BEFORE any
    // scoring or hashing reads the text.
    val docs = removeSpanK match {
      case Some(k) => Dedup.removeSpans(docsN, "text", k)
      case None => docsN
    }
    // Stage 1+2: per-doc columnar features + quality/repetition gates
    // (narrow, pushed to the scan), then exact dedup = min doc_id per
    // content hash. Repetition gates default to off (1.0).
    val scored = docs
      .select(col("doc_id"), col("text"),
        TextAnalysis.languageId(col("text")).as("lang"),
        TextAnalysis.qualityScore(col("text")).as("quality"),
        TextAnalysis.tokenCount(col("text")).as("n_tokens"))
      .filter(col("quality") >= minQuality &&
        TextAnalysis.duplicateLineFraction(col("text")) <= maxDupLines &&
        TextAnalysis.topNgramFraction(col("text"), 2) <= maxTopNgram)
    // Stage 2b (optional): the corpus-model gates — LM fluency and
    // trained-classifier. Both join a per-doc score frame (not narrow
    // like the heuristic gates); the perplexity model trains on the
    // quality-gated corpus so junk doesn't pollute its counts.
    val lmGated = maxSurprisal match {
      case Some(maxS) =>
        // the gated frame is read three times here (model corpus, score
        // side, join left) — cache it or the narrow gate stack re-runs
        // per reference (T.cached registers it for post-run release)
        val sc = graft.ops.T.cached(scored)
        sc.join(perplexityScore(sc, sc)
          .select(col("doc_id"), col("score").as("ppl")), "doc_id")
          .filter(col("ppl") <= maxS).drop("ppl")
      case None => scored
    }
    val clfGated = classifierWeights match {
      case Some(w) => lmGated
        .join(classifierScore(lmGated, w)
          .select(col("doc_id"), col("score").as("clf")), "doc_id")
        .filter(col("clf") >= minClassifierScore).drop("clf")
      case None => lmGated
    }
    // T.cached: feeds the pair stage AND the final anti-join; registered
    // for post-materialization release by the harness.
    val exactKept = graft.ops.T.cached(clfGated
      .withColumn("ch", md5(col("text")))
      .withColumn("keep", col("doc_id") === min("doc_id")
        .over(org.apache.spark.sql.expressions.Window.partitionBy("ch")))
      .filter(col("keep"))
      .drop("ch", "keep"))
    // Stage 3: minhash near-dup pairs over the exact-dedup survivors via
    // the library's one pair path (Dedup.minhashSelfPairs: one native
    // Md5MinHash pass per document, identical-signature contraction, and
    // the hot-band stop-list).
    val pairs = Dedup.minhashSelfPairs(exactKept, minBands, maxBandFreq)
    // Stage 3b (optional): semantic pairs over the exact-dedup survivors'
    // embeddings, unioned into the same pair graph — one survivor policy
    // then covers token-space AND embedding-space duplicates (a doc can
    // be killed by either kind of neighbor).
    val allPairs = embeddings match {
      case Some(e) =>
        val survEmb = e.select(col("doc_id").as("vec_id"), col("embedding"))
          .join(exactKept.select(col("doc_id").as("vec_id")), Seq("vec_id"),
            "left_semi")
        pairs.select("a_id", "b_id").unionByName(
          Ann.semanticNearDupPairs(survEmb, semanticMinCos, semanticLists)
            .select("a_id", "b_id"))
      case None => pairs.select("a_id", "b_id")
    }
    if (keepBestQuality)
      Dedup.keepBest(exactKept, allPairs, "quality")
        .select("doc_id", "lang", "quality", "n_tokens", "text")
    else {
      val dropIds = allPairs
        .select(col("b_id").as("doc_id")).distinct() // the larger id dies
      exactKept.join(dropIds, Seq("doc_id"), "left_anti")
        .select("doc_id", "lang", "quality", "n_tokens", "text")
    }
  }

  /** Deterministic 1-in-`k` subsample (graded form: x_sample_hash): the
    * keep decision is a pure function of doc_id — no RNG, so reruns,
    * retried tasks, and different partitionings all keep the same rows.
    * Narrow filter; composes anywhere in the pipeline.
    */
  def sampleHash(docs: DataFrame, k: Int, salt: String = "smp"): DataFrame =
    docs.filter(pmod(
      conv(substring(md5(concat(lit(s"$salt:"), col("doc_id").cast("string"))), 1, 8), 16, 10)
        .cast("bigint"), lit(k.toLong)) === 0)

  /** Domain mixing / balanced sampling (graded form: x_mix_balance):
    * downsample every `domainCol` group to the smallest group's size with
    * per-group acceptance rates, decided by the same deterministic hash
    * as sampleHash. The acceptance threshold u < (n_target/n_group)·2^32
    * is precomputed per group as a rounded bigint — one integer compare
    * per row, no overflow at any group size (the graded query instead
    * uses the product form u·n_group < n_target·2^32, exact cross-engine
    * but bigint-bounded to ~2e9 rows/group; here rerun-determinism is
    * what matters and the threshold is a pure function of the counts).
    * The rates frame is one row per domain → broadcast; the corpus
    * streams through a narrow filter.
    */
  def mixBalance(docs: DataFrame, domainCol: String = "source",
      salt: String = "mix"): DataFrame = {
    val u = conv(substring(md5(concat(lit(s"$salt:"), col("doc_id").cast("string"))), 1, 8), 16, 10)
      .cast("bigint")
    val counts = docs.groupBy(domainCol).agg(count(lit(1)).as("n_group"))
    val target = counts.agg(min(col("n_group")).as("n_target"))
    val rates = counts.crossJoin(target).select(col(domainCol),
      floor(col("n_target").cast("double") / col("n_group") * lit(4294967296.0))
        .cast("bigint").as("u_max"))
    docs.join(broadcast(rates), domainCol)
      .filter(u < col("u_max"))
      .select(docs.columns.map(col).toIndexedSeq: _*) // original column order
  }

  /** Sequence packing (graded form: x_pack_chunks): assign each document
    * to a fixed token-budget training chunk. Documents are ordered by a
    * deterministic per-doc hash (a rerun-stable shuffle — adjacent crawl
    * order would correlate chunk contents), token counts are prefix-summed,
    * and a document's chunk is `floor(tokens_before_it / budget)` — the
    * "document never splits, chunks may overflow by one tail doc" packing
    * a sequence loader does before example slicing.
    *
    * Scale: ONE window per `groupCol` partition (lang here, a shard column
    * at 100 TB — the caller picks a key whose groups fit a task; packing
    * is embarrassingly parallel across groups and chunk ids only need to
    * be unique WITHIN a group). Adds (chunk, tok_start) to the input rows.
    */
  def packSequences(docs: DataFrame, budget: Int, groupCol: String = "lang",
      tokenCol: String = "n_tokens", salt: String = "pack"): DataFrame = {
    val u = conv(substring(md5(concat(lit(s"$salt:"), col("doc_id").cast("string"))), 1, 8), 16, 10)
      .cast("bigint")
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(groupCol).orderBy(col("pack_u"), col("doc_id"))
      .rowsBetween(org.apache.spark.sql.expressions.Window.unboundedPreceding, -1)
    docs.withColumn("pack_u", u)
      .withColumn("tok_start",
        coalesce(sum(col(tokenCol).cast("bigint")).over(w), lit(0L)))
      .withColumn("chunk", floor(col("tok_start") / lit(budget.toDouble)).cast("bigint"))
      .drop("pack_u")
  }

  /** DSIR-style hashed-unigram importance weights (the published
    * importance-resampling recipe: score documents by how much more likely
    * their hashed n-gram profile is under a TARGET corpus than under the
    * BACKGROUND corpus; Xie et al. 2023). Tokens hash into `buckets`
    * cells (md5-derived — deterministic cross-engine), each cell's weight
    * is the add-one-smoothed log-likelihood ratio
    * `ln((t+1)/(T+K)) − ln((b+1)/(B+K))`. Returns one row per bucket —
    * K rows total, broadcast-sized by construction no matter the corpus:
    * the two corpus passes are partial-aggregated explodes, the totals
    * are scalar aggs, and nothing doc-sized leaves the executors.
    */
  def importanceWeights(target: DataFrame, background: DataFrame,
      textCol: String = "text", buckets: Int = 64): DataFrame = {
    def bucketed(df: DataFrame): DataFrame =
      df.select(explode(split(col(textCol), "\\s+")).as("tok"))
        .select(pmod(conv(substring(md5(col("tok")), 1, 6), 16, 10)
          .cast("bigint"), lit(buckets.toLong)).as("bucket"))
    val spine = target.sparkSession.range(buckets).select(col("id").as("bucket"))
    val tCnt = bucketed(target).groupBy("bucket").agg(count(lit(1)).as("tcnt"))
    val bCnt = bucketed(background).groupBy("bucket").agg(count(lit(1)).as("bcnt"))
    val tTot = bucketed(target).agg(count(lit(1)).as("ttot"))
    val bTot = bucketed(background).agg(count(lit(1)).as("btot"))
    spine.join(tCnt, Seq("bucket"), "left").join(bCnt, Seq("bucket"), "left")
      .crossJoin(tTot).crossJoin(bTot)
      .select(col("bucket"),
        (log((coalesce(col("tcnt"), lit(0L)) + 1.0) / (col("ttot") + buckets))
          - log((coalesce(col("bcnt"), lit(0L)) + 1.0) / (col("btot") + buckets)))
          .as("weight"))
  }

  /** Score documents against [[importanceWeights]]: mean per-token bucket
    * weight (>0 ⇒ the doc reads more like the target corpus). The weights
    * frame is K rows → broadcast; the corpus side is one narrow explode +
    * partial-aggregated groupBy(doc) — linear, no corpus-sized shuffle key.
    */
  def importanceScore(docs: DataFrame, weights: DataFrame,
      textCol: String = "text", buckets: Int = 64): DataFrame = {
    val toks = docs.select(col("doc_id"),
        explode(split(col(textCol), "\\s+")).as("tok"))
      .select(col("doc_id"), pmod(conv(substring(md5(col("tok")), 1, 6), 16, 10)
        .cast("bigint"), lit(buckets.toLong)).as("bucket"))
    toks.join(broadcast(weights), "bucket")
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n_tok"),
        // + 0.0 (and on the oracle): the mean of signed log-ratio
        // weights lives near zero on balanced docs — a tiny negative
        // rounds to -0.0 on DuckDB but +0.0 through Spark's BigDecimal
        // round, and the driver's pandas hash is sign-aware (the
        // x_emb_cov class, caught at sf0.1 round 12).
        (round(sum("weight") / count(lit(1)), 6) + lit(0.0)).as("score"))
  }

  /** CCNet-style LM quality scoring (graded form: x_text_perplexity):
    * score each document by its mean bigram surprisal under an add-one-
    * smoothed bigram model trained on `corpus` — the published
    * "perplexity filter" recipe (Wenzek et al. 2020 score with a
    * Kneser-Ney LM; add-one over the corpus itself is the dependency-free
    * form, same ranking signal). Surprisal of bigram (w1,w2) =
    * `ln(c(w1)+V) − ln(c(w1,w2)+1)`; low mean ⇒ fluent/typical text,
    * high ⇒ gibberish or OOV-dense. Returns (doc_id, n_big, score) for
    * EVERY doc (<2 tokens ⇒ 0 bigrams, score 0).
    *
    * Scale: the bigram count table is corpus-derived (NOT broadcast —
    * the score join shuffles on the bigram key, partial-aggregated both
    * sides); the unigram join piggybacks on w1; V is a scalar agg. All
    * explodes are map-side; nothing doc-sized reaches the driver.
    */
  def perplexityScore(docs: DataFrame, corpus: DataFrame,
      textCol: String = "text"): DataFrame = {
    def bigrams(df: DataFrame) = {
      val toks = split(col(textCol), "\\s+")
      // sequence(a, b) DESCENDS when a > b — guarded by the size test
      df.filter(size(toks) >= 2)
        .select(col("doc_id"), explode(transform(
          sequence(lit(0), size(toks) - 2),
          i => struct(element_at(toks, i + 1).as("w1"),
            element_at(toks, i + 2).as("w2")))).as("bg"))
        .select(col("doc_id"), col("bg.w1").as("w1"), col("bg.w2").as("w2"))
    }
    val corpusToks = corpus.select(explode(split(col(textCol), "\\s+")).as("w1"))
    // T.cached: the unigram table feeds BOTH the score join and the
    // vocab scalar — uncached, each consumer re-runs the full corpus
    // explode + aggregate. The frame is vocab-sized, safe to pin.
    val uni = graft.ops.T.cached(
      corpusToks.groupBy("w1").agg(count(lit(1)).as("uni_cnt")))
    // V = |distinct w1| = the unigram table's row count: counting uni's
    // rows (vocab-sized input) replaces a second full corpus-token
    // explode + distinct-aggregate shuffle with identical value (split
    // never yields null tokens, so no null-group divergence)
    val vocab = uni.agg(count(lit(1)).as("vs"))
    val big = bigrams(corpus).groupBy("w1", "w2").agg(count(lit(1)).as("big_cnt"))
    val scored = bigrams(docs)
      .join(big, Seq("w1", "w2"), "left")
      .join(uni, Seq("w1"), "left")
      .crossJoin(vocab)
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n_big"),
        round(avg(log(coalesce(col("uni_cnt"), lit(0L)) + col("vs"))
          - log(coalesce(col("big_cnt"), lit(0L)) + 1)), 6).as("score"))
    docs.select("doc_id").join(scored, Seq("doc_id"), "left")
      .select(col("doc_id"), coalesce(col("n_big"), lit(0L)).as("n_big"),
        coalesce(col("score"), lit(0.0)).as("score"))
  }

  /** Temperature-based domain mixing (graded form: x_mix_temperature):
    * downsample each `domainCol` group toward `N · n_d^α / Σ n^α` — the
    * published multilingual sampling rule (α≈0.3 flattens the domain
    * distribution without mixBalance's hard floor; α=1 keeps natural
    * proportions, α=0 is uniform). Targets are capped at the group size
    * (a filter cannot upsample); the keep decision is the same
    * deterministic md5 accept as [[mixBalance]], in the exact product
    * form `u·n_d < target·2^32` (bigint-bounded to ~2e9 rows/group).
    * The per-domain target frame is broadcast; the corpus streams
    * through one narrow filter.
    */
  def temperatureBalance(docs: DataFrame, domainCol: String = "source",
      alpha: Double = 0.3, salt: String = "temp"): DataFrame = {
    val u = conv(substring(md5(concat(lit(s"$salt:"), col("doc_id").cast("string"))), 1, 8), 16, 10)
      .cast("bigint")
    val counts = docs.groupBy(domainCol).agg(count(lit(1)).as("n_group"))
    val tot = counts.agg(sum(pow(col("n_group"), alpha)).as("sw"),
      sum(col("n_group")).as("nn"))
    // round(…, 6) BEFORE floor: with equal-sized domains the true ratio
    // is exactly integral, and a last-ulp Σ n^α difference (summation
    // order, libm pow) would otherwise flip floor across engines/runs
    val targets = counts.crossJoin(tot).select(col(domainCol), col("n_group"),
      least(floor(round(col("nn") * pow(col("n_group"), alpha) / col("sw"), 6))
        .cast("bigint"), col("n_group")).as("n_target"))
    docs.join(broadcast(targets), domainCol)
      .filter(u * col("n_group") < col("n_target") * lit(4294967296L))
      .select(docs.columns.map(col).toIndexedSeq: _*)
  }

  /** Hashed bag-of-words features for the linear quality classifier:
    * one row per (doc, bucket) with x = in-doc token share of the bucket
    * and the binary label. Bucket = first 24 md5 bits mod `buckets` —
    * the [[importanceWeights]] hashing, so both quality signals share
    * one feature space. The per-doc normalizing window spans ≤ `buckets`
    * rows per key — node-sized at any corpus scale.
    */
  private def classifierFeatures(docs: DataFrame, targetCond: Column,
      textCol: String, buckets: Int): DataFrame = {
    val w = org.apache.spark.sql.expressions.Window.partitionBy("doc_id")
    docs.select(col("doc_id"),
        when(targetCond, 1.0).otherwise(0.0).as("y"),
        explode(split(col(textCol), "\\s+")).as("tok"))
      .select(col("doc_id"), col("y"),
        pmod(conv(substring(md5(col("tok")), 1, 6), 16, 10).cast("bigint"),
          lit(buckets.toLong)).as("bucket"))
      .groupBy("doc_id", "y", "bucket").agg(count(lit(1)).as("cnt"))
      .withColumn("x", col("cnt").cast("double") / sum("cnt").over(w))
  }

  /** fastText-style linear quality classifier (the classifier filter of
    * the GPT-3/LLaMA pipelines, dependency-free form): logistic
    * regression over hashed bag-of-words buckets, trained full-batch for
    * a PINNED number of gradient rounds — `w ← w + lr·Σ x·(y−σ(w·x))/N`,
    * weights rounded to 9 decimals each round. The pinned rounds + the
    * per-round rounding are what make training reproducible enough to
    * grade cross-engine (the x_text_bpe driver-loop device: each round
    * is one aggregation, unrolled into CTEs on the oracle side).
    *
    * Scale: each round touches the feature frame twice (per-doc z agg,
    * per-bucket gradient agg) — both partial-aggregated shuffles; only
    * the `buckets`-length weight vector ever reaches the driver (the
    * sanctioned agg→decide pattern). Returns the learned weights.
    */
  def trainQualityClassifier(docs: DataFrame, targetCond: Column,
      textCol: String = "text", buckets: Int = 64, rounds: Int = 4,
      lr: Double = 8.0): Seq[Double] = {
    def round9(v: Double): Double =
      BigDecimal.valueOf(v).setScale(9, BigDecimal.RoundingMode.HALF_UP).toDouble
    // flat plan across rounds, vocab-bounded rows; T.checkpointed (not a
    // bare localCheckpoint) so the blocks are actually freed — Dataset
    // .unpersist does NOT drop checkpoint blocks (LogicalRDD leaf, not a
    // cached plan), they otherwise linger until the RDD object is GC'd
    val ft = graft.ops.T.checkpointed(
      classifierFeatures(docs, targetCond, textCol, buckets), eager = true)
    try {
      val nDocs = docs.count().toDouble
      var w = Array.fill(buckets)(0.0)
      for (_ <- 0 until rounds) {
        val wArr = array(w.toIndexedSeq.map(lit): _*)
        val z = ft.groupBy("doc_id").agg(first(col("y")).as("y"),
          sum(col("x") * element_at(wArr, col("bucket").cast("int") + 1)).as("z"))
          .withColumn("p", lit(1.0) / (lit(1.0) + exp(-col("z"))))
        val grads = ft.join(z.select("doc_id", "p"), Seq("doc_id"))
          .groupBy("bucket")
          .agg(sum(col("x") * (col("y") - col("p"))).as("g"))
          .collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
        w = Array.tabulate(buckets)(b =>
          round9(w(b) + lr * grads.getOrElse(b.toLong, 0.0) / nDocs))
      }
      w.toIndexedSeq
    } finally graft.ops.T.freeCheckpoint(ft)
  }

  /** Score documents with [[trainQualityClassifier]] weights: σ(w·x)
    * over the same hashed features — >0.5 reads like the target class.
    * The weight vector rides along as a literal array (no join); one
    * narrow explode + per-doc agg.
    */
  def classifierScore(docs: DataFrame, weights: Seq[Double],
      textCol: String = "text", buckets: Int = 64): DataFrame = {
    val wArr = array(weights.map(lit): _*)
    classifierFeatures(docs, lit(false), textCol, buckets)
      .groupBy("doc_id")
      .agg(sum(col("x") * element_at(wArr, col("bucket").cast("int") + 1)).as("z"))
      .select(col("doc_id"),
        round(lit(1.0) / (lit(1.0) + exp(-col("z"))), 6).as("score"))
  }

  /** Per-domain quota capping (graded form: x_mix_domains) — the
    * RefinedWeb-style "no single site dominates" rule: keep at most `cap`
    * documents per canonical host (UrlOps.urlHost over `urlCol`), chosen
    * by a deterministic per-doc hash order. Hash order matters: crawl
    * order would bias survivors toward whatever was fetched first, and an
    * RNG would make retried tasks disagree; the md5 rank is rerun-stable
    * and partition-independent. Returns the surviving rows with the
    * canonical `host` appended.
    *
    * Scale: ONE row_number window partitioned by host — embarrassingly
    * parallel across hosts; a pathological mega-host costs the window
    * sort of its own rows only (and is exactly the host the cap is FOR).
    */
  def capPerDomain(docs: DataFrame, urlCol: String = "url", cap: Int = 1000,
      salt: String = "cap"): DataFrame = {
    val u = conv(substring(md5(concat(lit(s"$salt:"), col("doc_id").cast("string"))), 1, 8), 16, 10)
      .cast("bigint")
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("host")).orderBy(col("cap_u"), col("doc_id"))
    docs.withColumn("host", graft.functions.UrlOps.urlHost(col(urlCol)))
      .withColumn("cap_u", u)
      .withColumn("cap_rn", row_number().over(w))
      .filter(col("cap_rn") <= cap)
      .drop("cap_u", "cap_rn")
  }

  /** Probability-proportional-to-size Bernoulli sampling (graded form:
    * x_sample_weighted): keep each row with probability
    * `weight / max(weight)` — the curation primitive for length- or
    * quality-proportional subsampling (longer/better documents survive
    * proportionally more often). The keep decision is the exact integer
    * product test `u · w_max < w · 2^32` (u = first 32 md5 bits of the
    * salted doc_id): a pure function of (doc_id, weights), so reruns,
    * retried tasks, and any partitioning keep the same rows, and the same
    * arithmetic is expressible on any engine. Two corollaries the spec
    * pins: weight 0 is never kept, weight = w_max always is.
    *
    * Scale: w_max is a 1-row agg crossJoined back (broadcast by
    * construction); the corpus streams through a narrow filter. Exactness
    * bound: int64 products need `w_max < 2^31` — weights are token/char
    * counts, orders of magnitude below that — and the bound is ENFORCED
    * on the 1-row agg (raise_error), because with ANSI off an oversized
    * weight would silently wrap `u · w_max` and corrupt keep decisions
    * rather than fail.
    */
  def sampleProportional(docs: DataFrame, weightCol: String,
      salt: String = "pps"): DataFrame = {
    val u = conv(substring(md5(concat(lit(s"$salt:"), col("doc_id").cast("string"))), 1, 8), 16, 10)
      .cast("bigint")
    val mx = docs.agg(max(col(weightCol).cast("bigint")).as("pps_w_max"))
      .select(when(col("pps_w_max") < lit(2147483648L), col("pps_w_max"))
        .otherwise(raise_error(concat(
          lit("sampleProportional: w_max >= 2^31 would overflow the exact int64 product test, w_max="),
          col("pps_w_max").cast("string"))))
        .as("pps_w_max"))
    docs.crossJoin(broadcast(mx))
      .filter(u * col("pps_w_max") < col(weightCol).cast("bigint") * lit(4294967296L))
      .select(docs.columns.map(col).toIndexedSeq: _*)
  }

  /** Exact-quota stratified sampling (graded form: x_sample_stratified):
    * allocate a GLOBAL document budget across strata proportionally to
    * stratum size with largest-remainder (Hamilton) rounding — so the
    * quotas are integers, sum exactly to `budget`, and every stratum with
    * enough mass is represented — then keep each stratum's first `quota`
    * documents in salted-md5 rank order. Every step is a pure function of
    * (doc_id, strata counts): no RNG, both engines replay it exactly.
    *
    * Returns (strata frame with `n_docs`/`quota`, kept rows of `docs`).
    *
    * Scale: the strata/alloc/quota frames are |strata|-sized (thousands,
    * not corpus-sized) — the single-partition window computing the
    * largest-remainder ranks is over THAT frame, never the corpus, and
    * the quota table broadcasts back. The corpus side pays one rank
    * window per stratum (shuffle by strata key). When a stratum is
    * 100 TB-hot, the standard two-pass bound applies: pre-filter to
    * u < (quota/n_docs)·2³²·(1+ε) (the [[sampleProportional]] integer
    * device), THEN rank the ~quota·(1+ε) survivors exactly — the full
    * per-stratum sort never happens. Kept rows are identical because
    * rank order is u order and the pre-filter keeps a superset of the
    * first `quota` of it.
    */
  def stratifiedQuota(docs: DataFrame, strataCols: Seq[String], budget: Int,
      salt: String = "strat"): (DataFrame, DataFrame) = {
    val ks = strataCols.map(col)
    val u = conv(substring(md5(concat(lit(s"$salt:"), col("doc_id").cast("string"))), 1, 8), 16, 10)
      .cast("bigint")
    val strata = docs.groupBy(ks: _*).agg(count(lit(1)).as("n_docs"))
    val tot = strata.agg(sum("n_docs").as("n_total"))
    // floor share + remainder; ranks/totals over the |strata|-sized frame
    val rankW = org.apache.spark.sql.expressions.Window
      .orderBy(col("rem").desc +: ks.map(_.asc): _*)
    val allW = org.apache.spark.sql.expressions.Window.rowsBetween(
      org.apache.spark.sql.expressions.Window.unboundedPreceding,
      org.apache.spark.sql.expressions.Window.unboundedFollowing)
    val quota = strata.crossJoin(broadcast(tot))
      .withColumn("base_q", expr(s"($budget * n_docs) div n_total"))
      .withColumn("rem", expr(s"($budget * n_docs) % n_total"))
      .withColumn("rr", row_number().over(rankW))
      .withColumn("base_total", sum("base_q").over(allW))
      .withColumn("quota",
        col("base_q") + when(col("rr") <= lit(budget) - col("base_total"), 1L)
          .otherwise(0L))
      .select(ks :+ col("n_docs") :+ col("quota"): _*)
    val rkW = org.apache.spark.sql.expressions.Window
      .partitionBy(ks: _*).orderBy(col("strat_u"), col("doc_id"))
    val kept = docs.withColumn("strat_u", u)
      .withColumn("strat_rk", row_number().over(rkW))
      .join(broadcast(quota.select(ks :+ col("quota"): _*)), strataCols)
      .filter(col("strat_rk") <= col("quota"))
      .select(docs.columns.map(col).toIndexedSeq: _*)
    (quota, kept)
  }

  /** Epoch-weighted up/down-sampling (graded form: x_mix_epochs): emit
    * each document `rate(lang)` times in expectation — `floor(rate)`
    * exact copies, plus one more when the deterministic doc hash falls
    * under the fractional remainder. Rates above 1 are the mixture-EPOCH
    * lever (high-quality subsets repeated per training epoch, the
    * published LLM data-mixing practice); rates below 1 downsample, and
    * rate 1 passes through untouched — one formula covers the whole
    * mixture table.
    *
    * Determinism: the fractional accept is the sampleHash device (first
    * 32 md5 bits of salt:doc_id), and the threshold
    * `floor(frac · 2^32)` is precomputed on the DRIVER per language —
    * the per-row test is one integer compare, exact on any engine, so
    * reruns/retries/partitionings emit identical copy sets. The emitted
    * `copy` index (1..n) keeps downstream shuffles from collapsing the
    * duplicates and gives sequence packing distinct rows to place.
    *
    * Scale: narrow per-row explode — no shuffle, no driver state; output
    * volume is Σ rate(lang)·n(lang) rows by construction, the budget the
    * caller chose. Unlisted languages default to rate 1.
    */
  def upsampleEpochs(docs: DataFrame, rates: Map[String, Double],
      langCol: String = "lang", salt: String = "ep"): DataFrame = {
    require(rates.values.forall(r => r >= 0 && r <= 1000),
      s"rates must be in [0, 1000], got $rates — a negative rate is " +
        "meaningless and a huge one is almost certainly a unit mistake")
    val u = conv(substring(md5(concat(lit(s"$salt:"), col("doc_id").cast("string"))), 1, 8), 16, 10)
      .cast("bigint")
    val whole = rates.foldRight(lit(1): Column) { case ((k, v), els) =>
      when(col(langCol) === lit(k), lit(v.toInt)).otherwise(els)
    }
    val thr = rates.foldRight(lit(0L): Column) { case ((k, v), els) =>
      when(col(langCol) === lit(k),
        lit(math.floor((v - v.toInt) * 4294967296.0).toLong)).otherwise(els)
    }
    docs
      .withColumn("ep_n", whole + when(u < thr, lit(1)).otherwise(lit(0)))
      .withColumn("copy", explode(when(col("ep_n") > 0,
        sequence(lit(1), col("ep_n"))).otherwise(lit(Array.empty[Int]))))
      .drop("ep_n")
  }

  /** Deterministic train/validation/test split (graded form:
    * x_sample_split): every doc lands in exactly one named bucket by
    * where its 32-bit salted md5 falls against the CUMULATIVE fraction
    * thresholds (floor(cum·2³²), driver-precomputed — one integer
    * compare chain per row). The assignment is a pure function of
    * doc_id: stable across reruns, partitionings, and corpus growth
    * (a doc added later cannot move an existing doc's split — the
    * property that keeps eval sets uncontaminated as the corpus is
    * re-crawled). Narrow projection; no shuffle.
    */
  def assignSplit(docs: DataFrame,
      fracs: Seq[(String, Double)] =
        Seq("train" -> 0.98, "val" -> 0.01, "test" -> 0.01),
      salt: String = "split"): DataFrame = {
    require(math.abs(fracs.map(_._2).sum - 1.0) < 1e-9,
      "split fractions must sum to 1")
    require(fracs.forall(_._2 > 0),
      s"every split fraction must be positive, got $fracs — a zero or " +
        "negative fraction makes its bucket (or a later one) unreachable")
    val u = conv(substring(md5(concat(lit(s"$salt:"), col("doc_id").cast("string"))), 1, 8), 16, 10)
      .cast("bigint")
    val thresholds = splitThresholds(fracs)
    val splitCol = fracs.init.map(_._1).zip(thresholds)
      .foldRight(lit(fracs.last._1): Column) { case ((nm, thr), els) =>
        when(u < lit(thr), lit(nm)).otherwise(els)
      }
    docs.withColumn("split", splitCol)
  }

  /** The cumulative integer thresholds assignSplit compares against —
    * exposed so the oracle SQL embeds the IDENTICAL driver-computed
    * constants (never re-deriving them in SQL float arithmetic).
    */
  def splitThresholds(fracs: Seq[(String, Double)]): Seq[Long] =
    fracs.init.scanLeft(0.0)((acc, kv) => acc + kv._2).tail
      .map(c => math.floor(c * 4294967296.0).toLong)

  /** Per-language corpus accounting over a curated frame: documents,
    * tokens, mean quality — the report a curation run ends with. One
    * partial-aggregated shuffle.
    */
  def report(curated: DataFrame): DataFrame =
    curated.groupBy("lang")
      .agg(count(lit(1)).as("n_docs"),
        sum("n_tokens").as("n_tokens"),
        round(avg("quality"), 6).as("mean_quality"))
      .orderBy("lang")
}
