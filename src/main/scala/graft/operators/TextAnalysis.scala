package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.DecimalType

/** Text-analysis operators for training-data curation: language ID from
  * token-frequency profiles, heuristic quality scoring, token counting,
  * and normalized-document fingerprinting.
  *
  * All pure string/array expressions (whole-stage codegen); lang-ID's
  * profile table is tiny and broadcast into the scoring join.
  */
object TextAnalysis {

  /** Heuristic stopword list used by the quality score (drawn from the
    * corpus vocabulary; any fixed list works — it is part of the operator's
    * contract, not learned).
    */
  val Stopwords: Seq[String] = Seq("the", "a")

  /** Data-driven language ID: build a per-language profile (top
    * `profileSize` tokens by frequency, ties broken by token) from the
    * labeled corpus, then classify each document by profile-token hit count
    * (ties broken by language code). Profiles are tiny → broadcast join;
    * the heavy side is one explode + two aggregations.
    */
  def langId(docs: DataFrame, idCol: String, textCol: String,
             langCol: String, profileSize: Int = 5): DataFrame = {
    val toks = docs.select(col(idCol).as("doc_id"), col(langCol).as("lang"),
      explode(split(col(textCol), " ")).as("tok"))
    val freq = toks.groupBy("lang", "tok").agg(count(lit(1)).as("c"))
    val profile = freq
      .withColumn("rn", row_number().over(
        Window.partitionBy("lang").orderBy(col("c").desc, col("tok"))))
      .filter(col("rn") <= profileSize)
      .select(col("lang").as("plang"), col("tok"))
    val hits = toks.join(broadcast(profile), "tok")
      .groupBy("doc_id", "plang").agg(count(lit(1)).as("score"))
    val pred = hits
      .withColumn("rn", row_number().over(
        Window.partitionBy("doc_id").orderBy(col("score").desc, col("plang"))))
      .filter(col("rn") === 1)
      .select(col("doc_id"), col("plang"))
    docs.select(col(idCol).as("doc_id"))
      .join(pred, Seq("doc_id"), "left")
      .select(col("doc_id"), coalesce(col("plang"), lit("und")).as("pred_lang"))
  }

  /** Segment-level language ID — code-switching / wrong-label detection:
    * split each document into fixed `segTokens`-token segments, classify
    * every segment against the same corpus-derived profiles [[langId]]
    * uses, and report per doc how many segments resolved, how many
    * DISTINCT languages they landed on, the majority segment language,
    * and whether the doc is mixed. A doc whose segments disagree is a
    * code-switched page or a concatenation artifact — exactly what a
    * doc-level classifier averages away.
    *
    * Plan: segment ids are integer math on the token position (one
    * explode, no second pass over text); profiles broadcast; every
    * window partitions by doc (or doc+segment) — nothing corpus-sized in
    * one task.
    */
  def segmentLangProfile(docs: DataFrame, idCol: String, textCol: String,
                         langCol: String, segTokens: Int = 40,
                         profileSize: Int = 5): DataFrame = {
    require(segTokens >= 1, "segTokens must be >= 1")
    val toks = docs.select(col(idCol).as("doc_id"), col(langCol).as("lang"),
      posexplode(split(col(textCol), " ")).as(Seq("pos", "tok")))
    val freq = toks.groupBy("lang", "tok").agg(count(lit(1)).as("c"))
    val profile = freq
      .withColumn("rn", row_number().over(
        Window.partitionBy("lang").orderBy(col("c").desc, col("tok"))))
      .filter(col("rn") <= profileSize)
      .select(col("lang").as("plang"), col("tok"))
    val segHits = toks
      .withColumn("seg", expr(s"pos div $segTokens"))
      .join(broadcast(profile), "tok")
      .groupBy("doc_id", "seg", "plang").agg(count(lit(1)).as("score"))
    val segPred = segHits
      .withColumn("rn", row_number().over(
        Window.partitionBy("doc_id", "seg")
          .orderBy(col("score").desc, col("plang"))))
      .filter(col("rn") === 1)
      .select(col("doc_id"), col("seg"), col("plang"))
    val perDoc = segPred.groupBy("doc_id")
      .agg(count(lit(1)).as("n_segments"),
        countDistinct(col("plang")).as("n_langs"))
    val majority = segPred.groupBy("doc_id", "plang")
      .agg(count(lit(1)).as("nseg"))
      .withColumn("rn", row_number().over(
        Window.partitionBy("doc_id").orderBy(col("nseg").desc, col("plang"))))
      .filter(col("rn") === 1)
      .select(col("doc_id"), col("plang").as("majority_lang"))
    perDoc.join(majority, "doc_id")
      .select(col("doc_id"), col("n_segments"), col("n_langs"),
        col("majority_lang"), (col("n_langs") > 1).as("mixed"))
  }

  /** Heuristic quality score in [0,1]: half from length saturation
    * (n_tokens/200 capped at 1), half from non-stopword density. Exact
    * double arithmetic in a fixed evaluation order so the oracle matches
    * bit-for-bit before rounding.
    */
  def qualityScore(text: Column): Column = {
    val ws = split(text, " ")
    val nTok = size(ws)
    val stop = size(filter(ws, t => t.isin(Stopwords: _*)))
    val lenScore = least(lit(1.0), nTok.cast("double") / lit(200.0))
    val stopRatio = stop.cast("double") / nTok
    round(lit(0.5) * lenScore + lit(0.5) * (lit(1.0) - stopRatio), 4)
  }

  /** Whitespace token count plus the chars/4 BPE-ish estimate (integer
    * arithmetic only — no fp divergence).
    */
  def tokenCounts(docs: DataFrame, idCol: String, textCol: String,
                  nCharsCol: String): DataFrame =
    docs.select(col(idCol).as("doc_id"),
      size(split(col(textCol), " ")).cast("long").as("ws_tokens"),
      ((col(nCharsCol) + 3) / lit(4)).cast("long").as("bpe_tokens"))

  /** Normalized-document fingerprint: lowercase, trim, collapse internal
    * whitespace, md5. Identical docs modulo spacing/case share a
    * fingerprint.
    */
  def fingerprint(text: Column): Column =
    md5(regexp_replace(lower(trim(text)), " +", " "))

  /** Top-k terms per document by TF-IDF (idf = ln(N/df), N = corpus size,
    * df = documents containing the term). Two aggregations + one broadcast
    * of the scalar N; the per-doc top-k is a bounded window. All double
    * arithmetic in one fixed order (tf * ln(N/df)) so ranks and rounded
    * scores reproduce bit-for-bit on any engine.
    */
  def tfidfTopTerms(docs: DataFrame, idCol: String, textCol: String,
                    k: Int): DataFrame = {
    // r15: tokenize after the doc_id exchange (see tfidfQueryTopK) —
    // hash(doc_id) carries the tf aggregate and the per-doc top-k heap.
    val toks = Scans.spreadByKey(docs, col(idCol))
      .select(col(idCol).as("doc_id"),
        explode(split(col(textCol), " ")).as("term"))
    val tf = toks.groupBy("doc_id", "term").agg(count(lit(1)).as("tf"))
    val dfreq = tf.groupBy("term").agg(count(lit(1)).as("df"))
    val n = docs.select(countDistinct(col(idCol)).as("n_docs"))
    val scored = tf.join(dfreq, "term")
      .crossJoin(broadcast(n))
      .withColumn("score",
        col("tf").cast("double") *
          log(col("n_docs").cast("double") / col("df").cast("double")))
    // Bounded per-group heaps (TopKPerGroup) instead of the row_number
    // window: shuffle carries <= k rows per doc per partition and no
    // full-group sort materializes; rank semantics are identical.
    org.apache.spark.sql.graft.TopKPerGroup(
        scored, Seq(col("doc_id")), Seq(col("score").desc, col("term")), k)
      .select(col("doc_id"), col("term"), col("rank").cast("long").as("rank"),
        round(col("score"), 4).as("tfidf"))
  }

  /** Bigram-LM fluency scoring (the perplexity-filter shape of
    * CCNet-style curation, with the corpus as its own model): unigram and
    * bigram counts over the corpus form an add-one-smoothed conditional
    * model p(w2|w1) = (c(w1 w2)+1)/(c(w1)+V); every document reports its
    * bigram count, mean and minimum conditional probability. Documents
    * whose mean sits far below the corpus norm are the incoherent/noisy
    * tail a perplexity gate drops.
    *
    * Determinism: probabilities are held in scaled-integer space —
    * p12 = (c2+1)·10¹² div (c1+V), exact BIGINT arithmetic — and summed
    * as decimals, so every aggregate is order-independent and
    * engine-exact; the only floating-point steps are two final IEEE
    * divisions. (The 10¹² scale bounds c2 < ~9.2e6 before int64
    * overflow — beyond that, widen to decimal multiplies.)
    *
    * Plan: two count aggregations build the model (map-side partial), the
    * doc bigram relation joins them on the token keys (AQE broadcasts the
    * model sides while they fit; at corpus scale they shuffle — both
    * sides partitioned by the same key), V broadcasts as a one-row
    * scalar, and one final groupBy(doc_id) folds the scores.
    */
  def bigramLmScore(docs: DataFrame, idCol: String, textCol: String): DataFrame = {
    val bi = TextDedup.gramRows(docs, idCol, textCol, 2)
    val uni = TextDedup.gramRows(docs, idCol, textCol, 1)
    val biCounts = bi.groupBy("s").agg(count(lit(1)).as("c2"))
    val uniCounts = uni.groupBy(col("s").as("w1")).agg(count(lit(1)).as("c1"))
    val vocab = uni.select(countDistinct(col("s")).as("v"))
    bi.join(biCounts, "s")
      .withColumn("w1", substring_index(col("s"), " ", 1))
      .join(uniCounts, "w1")
      .crossJoin(broadcast(vocab))
      .withColumn("p12", expr("(c2 + 1) * 1000000000000 div (c1 + v)"))
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n_bigrams"),
        sum(col("p12").cast(DecimalType(38, 0))).as("psum"),
        min(col("p12")).as("min_p12"))
      .select(col("doc_id"), col("n_bigrams"),
        (col("psum").cast("double") / col("n_bigrams").cast("double") /
          lit(1000000000000.0)).as("avg_p"),
        col("min_p12"))
  }

  /** Mask every match of `pattern` and count the masked spans — the
    * PII-redaction shape (emails, phone numbers, ids); the pattern is the
    * caller's contract. Pure string expressions, fully codegen'd, no
    * shuffle.
    */
  def redact(df: DataFrame, textCol: String, pattern: String,
             replacement: String): DataFrame =
    df.withColumn("redacted",
        regexp_replace(col(textCol), pattern, replacement))
      .withColumn("n_masked",
        regexp_count(col(textCol), lit(pattern)).cast("long"))

  /** Corpus-wide n-gram frequencies (NON-distinct, unlike the dedup
    * shingle relation): posexplode + lead window, then one count
    * aggregation — the vocabulary/phrase-mining primitive.
    */
  def ngramCounts(docs: DataFrame, idCol: String, textCol: String,
                  n: Int): DataFrame =
    TextDedup.gramRows(docs, idCol, textCol, n)
      .groupBy(col("s").as("ngram")).agg(count(lit(1)).as("cnt"))

  /** Intra-document repetition profile (Gopher-style quality rules):
    * token total, distinct-token count, duplicate-token fraction, and
    * top-token dominance (most frequent token's share). One explode and
    * two aggregations, both partial-aggregated map-side and shuffled on
    * doc id only — no O(n²), no HOF lambdas.
    */
  def repetitionProfile(docs: DataFrame, idCol: String,
                        textCol: String): DataFrame = {
    // One exchange, before the explode: hash-partitioning on doc_id
    // satisfies both downstream groupings (doc_id,tok) and (doc_id), so
    // the un-exploded docs shuffle once and both aggregations are local.
    val toks = Scans.spreadByKey(docs, col(idCol))
      .select(col(idCol).as("doc_id"),
        explode(split(col(textCol), " ")).as("tok"))
    toks.groupBy("doc_id", "tok").agg(count(lit(1)).as("c"))
      .groupBy("doc_id").agg(
        sum("c").as("n_tokens"),
        count(lit(1)).as("n_distinct"),
        max("c").as("top_cnt"))
      .select(col("doc_id"),
        col("n_tokens").cast("long").as("n_tokens"),
        col("n_distinct"),
        round(lit(1.0) - col("n_distinct").cast("double") /
          col("n_tokens").cast("double"), 4).as("dup_ratio"),
        round(col("top_cnt").cast("double") /
          col("n_tokens").cast("double"), 4).as("top_token_share"))
  }

  /** Named-rule quality gate (the Gopher-style filter battery): per-doc
    * flags for token-count bounds, mean-word-length bounds, and
    * alphabetic-word fraction, plus the conjunction. Mean word length
    * derives arithmetically ((chars - spaces) / words — no lambda); the
    * alpha fraction is the one rule needing a per-word predicate, so this
    * is the configurable slow-path gate — the codegen'd [[qualityScore]]
    * is the hot-path score.
    */
  def qualityRules(docs: DataFrame, idCol: String, textCol: String,
                   minTokens: Int = 25, maxTokens: Int = 100000,
                   minMeanWordLen: Double = 4.0, maxMeanWordLen: Double = 10.0,
                   minAlphaFrac: Double = 0.8): DataFrame = {
    val ws = split(col(textCol), " ")
    val n = size(ws).cast("double")
    val meanLen = (length(col(textCol)).cast("double") - n + 1.0) / n
    val alphaFrac = size(filter(ws, w => w.rlike("[a-zA-Z]"))).cast("double") / n
    docs.select(col(idCol).as("doc_id"),
        size(ws).cast("long").as("n_tokens"),
        round(meanLen, 4).as("mean_word_len"),
        round(alphaFrac, 4).as("alpha_frac"))
      .withColumn("ok_tokens",
        col("n_tokens") >= minTokens && col("n_tokens") <= maxTokens)
      .withColumn("ok_word_len",
        col("mean_word_len") >= minMeanWordLen &&
          col("mean_word_len") <= maxMeanWordLen)
      .withColumn("ok_alpha", col("alpha_frac") >= minAlphaFrac)
      .withColumn("keep",
        col("ok_tokens") && col("ok_word_len") && col("ok_alpha"))
  }

  /** Corpus composition report: per (source, lang) document counts, char
    * and whitespace-token totals, and each cell's share of the corpus —
    * the data-mixing summary a sampling plan starts from. Heavy input,
    * tiny output: one partial-aggregated groupBy; the share is a window
    * over the already-aggregated (small) relation.
    */
  def corpusMix(docs: DataFrame, sourceCol: String, langCol: String,
                textCol: String, nCharsCol: String): DataFrame = {
    val agg = docs.groupBy(col(sourceCol).as("source"), col(langCol).as("lang"))
      .agg(count(lit(1)).as("n_docs"),
        sum(col(nCharsCol)).cast("long").as("total_chars"),
        sum(size(split(col(textCol), " ")).cast("long")).cast("long")
          .as("total_tokens"))
    agg.withColumn("doc_share",
      round(col("n_docs").cast("double") /
        sum(col("n_docs")).over(Window.partitionBy()).cast("double"), 6))
  }

  /** Portable hashed feature id in [0, dims): first 8 md5 hex chars of the
    * token parsed as a long, mod dims. Any engine with md5 reproduces it —
    * the cross-engine analogue of fastText's token-hash bucketing.
    */
  def hashedFeature(tok: Column, dims: Int): Column =
    conv(substring(md5(tok), 1, 8), 16, 10).cast("long") % dims

  /** Linear classifier scoring over hashed bag-of-words features — the
    * fastText-style quality-classifier shape (the model that separates
    * "reference-like" from "crawl-like" text in LLM curation pipelines).
    * `weights` is the trained model as a (feature, weight) relation with
    * integer weights in fixed-point space; scoring is: hash each token
    * occurrence to a feature id, sum the matched weights per document.
    *
    * Plan: one token explode + a broadcast join against the model (a
    * model table is dims rows — KBs to MBs — so the join is map-side at
    * any corpus scale) + one groupBy(doc_id). Integer sums ⇒
    * order-independent and engine-exact; the caller applies whatever
    * threshold/sigmoid calibration downstream (monotone in the score).
    */
  def classifierScore(docs: DataFrame, idCol: String, textCol: String,
                      weights: DataFrame, dims: Int): DataFrame = {
    // Exchange BEFORE the explode (r14; the gramRows rationale): the
    // final groupBy(doc_id) needed a doc_id exchange anyway — moving it
    // ahead of the explode shuffles one row per DOC instead of one per
    // matched token, and the per-token md5 feature hashing runs at full
    // parallelism instead of inside the single-task scan stage of the
    // one-file test corpus.
    val toks = Scans.spreadByKey(docs, col(idCol))
      .select(col(idCol).as("doc_id"),
        explode(split(col(textCol), " ")).as("tok"))
    toks.select(col("doc_id"), hashedFeature(col("tok"), dims).as("feature"))
      .join(broadcast(weights), "feature")
      .groupBy("doc_id")
      .agg(count(lit(1)).cast("long").as("n_tokens"),
        sum(col("weight")).cast("long").as("score"))
  }

  /** Deterministic stand-in model for [[classifierScore]]: weight(f) =
    * (f·2654435761) mod 17 − 8, an integer in [−8, 8] derived from the
    * feature id (Knuth multiplicative constant). A real deployment swaps
    * this relation for trained weights; everything downstream is
    * unchanged.
    */
  def syntheticWeights(spark: SparkSession, dims: Int): DataFrame =
    spark.range(dims).select(col("id").as("feature"),
      (col("id") * lit(2654435761L) % 17 - 8).cast("long").as("weight"))

  /** Per-source distinctive-token report: for each source, the top-k
    * tokens by lift = p(tok | source) / p(tok), the log-odds-style
    * keyword surfacing used to audit what a sub-corpus is "about" (and to
    * catch contamination/boilerplate concentrated in one source). Lift is
    * held in scaled-integer space — lift_ppm = c_st·N·10⁶ div (n_s·c_t),
    * exact BIGINT — so ranking and values are engine-identical. Low-count
    * tokens (c_st < minCount) are excluded as noise.
    *
    * Plan: one token explode feeds three partial aggregations
    * ((source,tok), tok, source) — heavy input, vocabulary-sized outputs;
    * the token- and source-marginals join back on their keys (AQE
    * broadcasts while small) and the corpus total crosses as a one-row
    * broadcast. The top-k window runs over the aggregated relation only.
    * Overflow bound: c_st·N·10⁶ needs c_st·N < 9.2e12 — beyond that,
    * widen the multiply to decimal(38,0).
    */
  def tokenLiftBySource(docs: DataFrame, idCol: String, sourceCol: String,
                        textCol: String, k: Int, minCount: Long): DataFrame = {
    val toks = docs.select(col(sourceCol).as("source"),
      explode(split(col(textCol), " ")).as("tok"))
    val st = toks.groupBy("source", "tok").agg(count(lit(1)).as("c_st"))
    val t = toks.groupBy("tok").agg(count(lit(1)).as("c_t"))
    val s = toks.groupBy("source").agg(count(lit(1)).as("n_s"))
    val n = toks.select(count(lit(1)).as("n_total"))
    val lifted = st.filter(col("c_st") >= minCount)
      .join(t, "tok").join(s, "source").crossJoin(broadcast(n))
      .select(col("source"), col("tok"),
        col("c_st").cast("long").as("c_st"),
        expr("c_st * n_total * 1000000 div (n_s * c_t)").as("lift_ppm"))
    // TopKPerGroup (bounded per-partition heaps, ≤ k rows/source/partition
    // cross the shuffle) — the per-source row_number window would sort each
    // source's FULL filtered vocabulary in a single task.
    org.apache.spark.sql.graft.TopKPerGroup(lifted, Seq(col("source")),
        Seq(col("lift_ppm").desc, col("tok")), k)
      .select(col("source"), col("rank").cast("long").as("rank"),
        col("tok"), col("c_st"), col("lift_ppm"))
  }

  /** The top-V vocabulary as a first-class artifact (rank, token, corpus
    * frequency, document frequency) — what a tokenizer trainer or the
    * [[oovRate]] gate consumes. One token-count aggregate, then
    * [[Analytics.topKRanked]]: a bounded per-partition heap of V rows,
    * one task merging and numbering them, count-desc with token
    * tie-break so the relation is engine-portable. The count relation is
    * never sorted in one task.
    */
  def vocabBuild(docs: DataFrame, idCol: String, textCol: String,
                 vocabSize: Int): DataFrame = {
    val toks = docs.select(col(idCol).as("doc_id"),
      explode(split(col(textCol), " ")).as("tok"))
    val counts = toks.groupBy("tok")
      .agg(count(lit(1)).as("cf"), countDistinct(col("doc_id")).as("df"))
    // Bounded-heap top-V with its rank (TopKPerGroup, no group) — the
    // vocabulary relation is corpus-vocab-sized (billions of rows at
    // 100 TB); an unpartitioned row_number window over it is a one-task
    // sort.
    Analytics.topKRanked(counts, "cf", "tok", vocabSize)
      .select(col("rank"), col("tok"), col("cf"), col("df"))
  }

  /** One BPE training round: corpus-weighted adjacent-symbol-pair counts
    * (the statistic every merge step of byte-pair-encoding tokenizer
    * training maximizes — Sennrich et al. '16 shape). Words are
    * lowercased ASCII-letter runs; each distinct word contributes its
    * internal character bigrams weighted by its corpus frequency, so a
    * word with a repeated bigram ("aaa" → "aa" twice) counts it per
    * occurrence-position, exactly as BPE does.
    *
    * Plan: the pair explosion runs over the VOCABULARY-sized distinct-word
    * relation (first groupBy map-side combines the corpus stream down to
    * it), never the token stream — at 100 TB the bigram stage is bounded
    * by |vocab|·avg_len, not corpus size. Top-K is the bounded-heap
    * [[Analytics.topKRanked]], never a full sort.
    */
  def bpePairCounts(docs: DataFrame, textCol: String, topK: Int): DataFrame = {
    val words = docs.select(
        explode(split(lower(col(textCol)), "[^a-z]+")).as("w"))
      .filter(length(col("w")) >= 2)
      .groupBy("w").agg(count(lit(1)).as("wc"))
    val pairCounts = words
      .select(col("wc"), explode(expr(
        "transform(sequence(1, length(w) - 1), i -> substring(w, i, 2))"))
        .as("pair"))
      .groupBy("pair").agg(sum(col("wc")).as("pair_count"))
    Analytics.topKRanked(pairCounts, "pair_count", "pair", topK)
      .select(col("rank"), col("pair"), col("pair_count"))
  }

  /** Out-of-vocabulary rate per document against the corpus' own top-V
    * vocabulary — the tokenizer-coverage check run before committing a
    * corpus to a fixed vocab. Vocabulary = the vocabSize most frequent
    * tokens (count desc, token asc tie-break); each document reports its
    * token total, OOV occurrences, and OOV rate in ppm (exact integer
    * div).
    *
    * Plan: token counts aggregate once; the vocab is a top-V window over
    * the vocabulary-sized count relation and broadcasts back as a
    * semi-join side; per-doc totals are one groupBy. No shuffle carries
    * more than the token explode already did.
    */
  def oovRate(docs: DataFrame, idCol: String, textCol: String,
              vocabSize: Int): DataFrame = {
    val toks = docs.select(col(idCol).as("doc_id"),
      explode(split(col(textCol), " ")).as("tok"))
    // Membership only — no rank needed, so plain orderBy.limit
    // (TakeOrdered) suffices; no window at all.
    val vocab = toks.groupBy("tok").agg(count(lit(1)).as("c"))
      .orderBy(col("c").desc, col("tok")).limit(vocabSize)
      .select(col("tok"))
    toks.join(broadcast(vocab).withColumn("in_vocab", lit(1L)),
        Seq("tok"), "left")
      .groupBy("doc_id")
      .agg(count(lit(1)).cast("long").as("n_tokens"),
        sum(when(col("in_vocab").isNull, 1L).otherwise(0L)).cast("long")
          .as("oov_tokens"))
      .withColumn("oov_ppm", expr("oov_tokens * 1000000 div n_tokens"))
  }

  /** Length-bucketed batching economics: bucket documents by whitespace
    * token count (`bucketTokens`-wide ranges) and report, per bucket, the
    * doc count, the longest member, total tokens, and the padding waste
    * (in exact ppm) of batching that bucket at its max length — the
    * report that sizes inference/training micro-batches (batch same-length
    * docs together and the pad-token fraction is what you pay; one global
    * batch pays `1 - mean/max`). Pure projection + one map-side-combined
    * groupBy over a handful of buckets; all integer arithmetic.
    */
  def lengthBucketReport(docs: DataFrame, textCol: String,
                         bucketTokens: Int = 64): DataFrame = {
    require(bucketTokens >= 1, "bucketTokens must be >= 1")
    docs.select(size(split(col(textCol), " ")).cast("long").as("n_tokens"))
      .select(expr(s"n_tokens div $bucketTokens").as("bucket"), col("n_tokens"))
      .groupBy("bucket")
      .agg(count(lit(1)).cast("long").as("n_docs"),
        max("n_tokens").as("max_tokens"),
        sum("n_tokens").cast("long").as("sum_tokens"))
      .select(col("bucket"), col("n_docs"), col("max_tokens"), col("sum_tokens"),
        expr("(n_docs * max_tokens - sum_tokens) * 1000000 div (n_docs * max_tokens)")
          .as("pad_waste_ppm"))
  }

  /** Zipf-law fit of the corpus token-frequency distribution: OLS slope /
    * intercept of ln(count) against ln(rank) over the top-`fitV` tokens —
    * the one-row diagnostic a corpus owner reads to spot a broken crawl
    * (natural text slopes ≈ −1; boilerplate floods or synthetic spam bend
    * the curve). Ranking reuses the scale-safe [[Analytics.topKRanked]]
    * top-V (the corpus-vocabulary relation is never sorted in one task);
    * the regression then runs over the V-row result, with each OLS term
    * cast to DECIMAL before summing so the fit is partition-order
    * independent.
    */
  def zipfFit(docs: DataFrame, textCol: String, fitV: Int): DataFrame = {
    val counts = docs.select(explode(split(col(textCol), " ")).as("tok"))
      .groupBy("tok").agg(count(lit(1)).as("cf"))
    val top = Analytics.topKRanked(counts, "cf", "tok", fitV)
      .select(log(col("rank").cast("double")).as("x"),
        log(col("cf").cast("double")).as("y"))
    val dec = (c: Column) => c.cast("decimal(38,12)")
    top.agg(
        count(lit(1)).as("n"),
        sum(dec(col("x"))).as("sx"), sum(dec(col("y"))).as("sy"),
        sum(dec(col("x") * col("x"))).as("sxx"),
        sum(dec(col("x") * col("y"))).as("sxy"))
      .select(col("n"),
        round((col("n") * col("sxy") - col("sx") * col("sy")).cast("double") /
          (col("n") * col("sxx") - col("sx") * col("sx")).cast("double"), 6)
          .as("slope"),
        round((col("sy").cast("double") -
          ((col("n") * col("sxy") - col("sx") * col("sy")).cast("double") /
            (col("n") * col("sxx") - col("sx") * col("sx")).cast("double")) *
            col("sx").cast("double")) / col("n"), 6).as("intercept"))
  }

  /** Per-source unigram Shannon entropy (in nats): H = ln(N) − Σc·ln(c)/N
    * over the source's token counts — low entropy flags a template-flooded
    * or near-constant source, high entropy tracks genuine lexical
    * diversity; alongside type/token counts it is the standard
    * corpus-diversity panel. Two grouped aggregates (token counts, then
    * per-source reduction); the per-token ln(c) terms sum in DECIMAL so
    * the entropy is exact-reproducible regardless of partitioning.
    */
  def tokenEntropy(docs: DataFrame, sourceCol: String,
                   textCol: String): DataFrame = {
    val counts = docs.select(col(sourceCol).as("source"),
        explode(split(col(textCol), " ")).as("tok"))
      .groupBy("source", "tok").agg(count(lit(1)).as("c"))
    counts.groupBy("source")
      .agg(
        sum(col("c")).cast("long").as("n_tokens"),
        count(lit(1)).as("n_types"),
        sum((col("c").cast("double") * log(col("c").cast("double")))
          .cast("decimal(38,12)")).as("sclnc"))
      .select(col("source"), col("n_tokens"), col("n_types"),
        round(log(col("n_tokens").cast("double")) -
          col("sclnc").cast("double") / col("n_tokens"), 6)
          .as("entropy_nats"))
  }

  /** Per-source type-token ratio panel: corpus-level TTR (distinct tokens /
    * total tokens, in exact ppm) plus the mean per-document TTR — the two
    * diverge exactly when documents are individually diverse but repeat
    * EACH OTHER, which is the near-dup signature a quality dashboard wants
    * next to the dedup reports. Doc-level ratios are row-wise doubles
    * rounded once, then averaged via a DECIMAL sum (order-independent).
    */
  def ttrProfile(docs: DataFrame, idCol: String, sourceCol: String,
                 textCol: String): DataFrame = {
    val toks = docs.select(col(idCol).as("doc_id"),
      col(sourceCol).as("source"),
      explode(split(col(textCol), " ")).as("tok"))
    val perDoc = toks.groupBy("source", "doc_id")
      .agg(count(lit(1)).as("n"), countDistinct(col("tok")).as("t"))
      .select(col("source"),
        round(col("t").cast("double") / col("n"), 9).as("doc_ttr"))
    val perSource = toks.groupBy("source")
      .agg(sum(lit(1L)).as("n_tokens"),
        countDistinct(col("tok")).as("n_types"))
    perDoc.groupBy("source")
      .agg(count(lit(1)).as("n_docs"),
        round(sum(col("doc_ttr").cast("decimal(38,12)")).cast("double") /
          count(lit(1)), 6).as("mean_doc_ttr"))
      .join(perSource, "source")
      .select(col("source"), col("n_docs"),
        expr("n_types * 1000000 div n_tokens").as("corpus_ttr_ppm"),
        col("mean_doc_ttr"))
  }

  /** Trigram language-model scoring with stupid backoff (Brants et al.
    * '07) against a held-out split: the perplexity-style fluency signal
    * the cheap-LM filtering stage of a curation pipeline uses, one level
    * up from [[bigramLmScore]]. Docs with `doc_id % holdoutMod == 0` are
    * SCORED; all others TRAIN the counts (self-scoring would make every
    * trigram known and the backoff dead code). Per scored trigram:
    * p = c123/c12, backing off to 0.4·c23/c2 then 0.4²·c3/N (with a 1/N
    * OOV floor); the report carries the per-doc mean ln p plus how often
    * each backoff level fired (the shape of that histogram is itself the
    * domain-shift signal).
    *
    * Plan: trigram construction is an array transform (no window, no
    * self-join); count tables are grouped counts joined back on the
    * scored side (test-fraction-sized). Per-token terms are row-wise
    * doubles rounded once and DECIMAL-summed per doc.
    */
  def trigramBackoffScore(docs: DataFrame, idCol: String, textCol: String,
                          holdoutMod: Int = 10): DataFrame = {
    require(holdoutMod >= 2, "holdoutMod must be >= 2")
    // r15: the train token total rides the unigram relation as a
    // broadcast scalar instead of a separate count() driver job. (A
    // pre-explode doc_id spread was TRIED alongside and REVERTED — the
    // token-keyed n-gram aggregates re-exchange regardless, so the spread
    // was a net exchange added; interleaved A/B inconclusive-to-worse.)
    val withWs = docs
      .select(col(idCol).as("doc_id"), split(col(textCol), " ").as("ws"))
    val train = withWs.filter(col("doc_id") % holdoutMod =!= 0)
    val test = withWs.filter(col("doc_id") % holdoutMod === 0)
    val trainToks = train.select(explode(col("ws")).as("w"))
    val uni = trainToks.groupBy("w").agg(count(lit(1)).as("c1"))
    val nTotalDf = uni.agg(sum(col("c1")).as("n_total"))
    def bigrams(df: DataFrame): DataFrame = df.select(col("doc_id"),
      explode(expr("transform(sequence(1, size(ws) - 1), " +
        "i -> struct(element_at(ws, i) as w1, element_at(ws, i + 1) as w2))"))
        .as("b")).select(col("doc_id"), col("b.w1"), col("b.w2"))
    val bi = bigrams(train).groupBy("w1", "w2").agg(count(lit(1)).as("c2"))
    val tri = train.select(
        explode(expr("transform(sequence(1, size(ws) - 2), " +
          "i -> struct(element_at(ws, i) as w1, element_at(ws, i + 1) as w2, " +
          "element_at(ws, i + 2) as w3))")).as("t"))
      .groupBy("t.w1", "t.w2", "t.w3").agg(count(lit(1)).as("c3"))
    val testTri = test.filter(size(col("ws")) >= 3).select(col("doc_id"),
        explode(expr("transform(sequence(1, size(ws) - 2), " +
          "i -> struct(element_at(ws, i) as w1, element_at(ws, i + 1) as w2, " +
          "element_at(ws, i + 2) as w3))")).as("t"))
      .select(col("doc_id"), col("t.w1"), col("t.w2"), col("t.w3"))
    val scoredTri = testTri
      .crossJoin(broadcast(nTotalDf))
      .join(tri, Seq("w1", "w2", "w3"), "left")
      .join(bi.select(col("w1"), col("w2"), col("c2").as("c12")),
        Seq("w1", "w2"), "left")
      .join(bi.select(col("w1").as("w2"), col("w2").as("w3"),
        col("c2").as("c23")), Seq("w2", "w3"), "left")
      .join(uni.select(col("w").as("w2"), col("c1").as("c1w2")), Seq("w2"), "left")
      .join(uni.select(col("w").as("w3"), col("c1").as("c1w3")), Seq("w3"), "left")
      .withColumn("level",
        when(col("c3").isNotNull, 0)
          .when(col("c23").isNotNull, 1)
          .otherwise(2))
      .withColumn("p",
        when(col("level") === 0,
          col("c3").cast("double") / col("c12"))
        .when(col("level") === 1,
          lit(0.4) * col("c23").cast("double") / col("c1w2"))
        .otherwise(lit(0.16) *
          coalesce(col("c1w3"), lit(1L)).cast("double") /
            coalesce(col("n_total"), lit(0L)).cast("double")))
      .withColumn("term", round(log(col("p")), 9))
    scoredTri.groupBy("doc_id")
      .agg(count(lit(1)).as("n_trigrams"),
        round(sum(col("term").cast("decimal(38,12)")).cast("double") /
          count(lit(1)), 6).as("avg_logp"),
        count(when(col("level") === 1, 1)).as("n_backoff_bi"),
        count(when(col("level") === 2, 1)).as("n_backoff_uni"))
  }

  /** BM25 retrieval scoring of the corpus against a fixed term set — the
    * classic relevance ranking (Robertson/Sparck-Jones) a RAG or
    * search-over-corpus layer runs before any embedding stage:
    * score(d) = Σ_t idf_t · tf·(k1+1)/(tf + k1·(1−b+b·dl/avgdl)) with the
    * +1-smoothed idf (always positive). Term stats are one grouped count;
    * the query relation is |Q| rows broadcast into it; avgdl is a 1-row
    * broadcast. Per-term contributions are row-wise doubles rounded once
    * and DECIMAL-summed per doc (≤|Q| terms), so the score is exact-
    * reproducible; the top slice is a distributed TakeOrdered.
    */
  def bm25TopK(docs: DataFrame, idCol: String, textCol: String,
               queryTerms: Seq[String], topK: Int,
               k1: Double = 1.2, b: Double = 0.75): DataFrame = {
    require(queryTerms.nonEmpty, "queryTerms must be non-empty")
    val spark = docs.sparkSession
    import spark.implicits._
    // r15: a pre-explode doc_id spread was TRIED here and REVERTED —
    // unlike the minhash/tfidf-top-terms paths, the per-byte work after
    // this explode is a broadcast term filter (3 terms), so the added
    // exchange + wide TakeOrdered cost more than the 1-task tokenize
    // (interleaved solo A/B ×0.84/×0.72 on bm25_topk, 2 pairs,
    // code-identical control flat).
    val toks = docs.select(col(idCol).as("doc_id"),
      explode(split(col(textCol), " ")).as("tok"))
    val dl = toks.groupBy("doc_id").agg(count(lit(1)).as("dl"))
    val totals = dl.agg(count(lit(1)).as("n_docs"),
      sum(col("dl")).cast("double").as("sum_dl"))
    val q = queryTerms.toDF("tok")
    val tf = toks.join(broadcast(q), "tok")
      .groupBy("doc_id", "tok").agg(count(lit(1)).as("tf"))
    val dfreq = tf.groupBy("tok").agg(count(lit(1)).as("df"))
    val term = tf.join(broadcast(dfreq), "tok")
      .join(dl, "doc_id")
      .crossJoin(broadcast(totals))
      .withColumn("idf",
        log((col("n_docs") - col("df") + 0.5) / (col("df") + 0.5) + 1.0))
      .withColumn("contrib", round(col("idf") *
        (col("tf") * (k1 + 1)) /
        (col("tf") + lit(k1) * (lit(1 - b) + lit(b) * col("dl") /
          (col("sum_dl") / col("n_docs")))), 9))
    term.groupBy("doc_id")
      .agg(count(lit(1)).as("n_matched_terms"),
        round(sum(col("contrib").cast("decimal(38,12)")).cast("double"), 6)
          .as("bm25"))
      .orderBy(col("bm25").desc, col("doc_id")).limit(topK)
  }

  /** TF-IDF document scoring against a fixed term set — the second
    * lexical retriever next to [[bm25TopK]] (no length normalization, no
    * saturation: raw tf·ln(N/df)), kept so the fusion entry exercises
    * two genuinely different rankers. Same plan shape as BM25.
    */
  def tfidfQueryTopK(docs: DataFrame, idCol: String, textCol: String,
                     queryTerms: Seq[String], topK: Int): DataFrame = {
    require(queryTerms.nonEmpty, "queryTerms must be non-empty")
    val spark = docs.sparkSession
    import spark.implicits._
    // r15: a pre-explode doc_id spread AND an in-plan broadcast fold of
    // the corpus count were TRIED here and REVERTED (interleaved solo
    // A/B, code-identical control flat): the post-explode work is a
    // 3-term broadcast filter — too light to pay for an added exchange —
    // and the bare `docs.count()` is a parquet METADATA count (near-free
    // driver job), where the in-plan `agg(count)` fold forced a real
    // scan plus a broadcast stage (retrieval_rrf_fusion ~+0.4 s).
    val toks = docs.select(col(idCol).as("doc_id"),
      explode(split(col(textCol), " ")).as("tok"))
    val nDocs = docs.count()
    val q = queryTerms.toDF("tok")
    val tf = toks.join(broadcast(q), "tok")
      .groupBy("doc_id", "tok").agg(count(lit(1)).as("tf"))
    val dfreq = tf.groupBy("tok").agg(count(lit(1)).as("df"))
    tf.join(broadcast(dfreq), "tok")
      .withColumn("contrib", round(col("tf") *
        log(lit(nDocs.toDouble) / col("df")), 9))
      .groupBy("doc_id")
      .agg(round(sum(col("contrib").cast("decimal(38,12)")).cast("double"), 6)
        .as("tfidf"))
      .orderBy(col("tfidf").desc, col("doc_id")).limit(topK)
  }

  /** Reciprocal-rank fusion of retriever rankings (Cormack et al. '09):
    * fused(d) = Σ_r 1/(K + rank_r(d)) — the standard hybrid-retrieval
    * merge (lexical + semantic, or any committee of rankers), robust to
    * incomparable score scales because only RANKS enter. Input relations
    * carry (doc_id, rank); docs absent from a list simply contribute
    * nothing. Per-doc contributions rounded once and DECIMAL-summed; the
    * union is ≤ Σ topK rows, so every step is bounded by the candidate
    * lists, not the corpus.
    */
  def rrfFuse(rankings: Seq[DataFrame], kConst: Int, topK: Int): DataFrame = {
    require(rankings.nonEmpty, "need at least one ranking")
    rankings.map(_.select(col("doc_id"), col("rank")))
      .reduce(_ unionByName _)
      .withColumn("contrib",
        round(lit(1.0) / (lit(kConst) + col("rank")), 9))
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n_lists"),
        round(sum(col("contrib").cast("decimal(38,12)")).cast("double"), 6)
          .as("rrf_score"))
      .orderBy(col("rrf_score").desc, col("doc_id")).limit(topK)
  }

  /** Deterministic text normalization — lowercase, strip every char
    * outside [a-z0-9 ], collapse whitespace runs, trim — the
    * canonicalization in front of exact-dedup so that case / punctuation /
    * spacing variants of the same content collide (CCNet/RefinedWeb-style
    * normalize-then-hash). Pure codegen'd projection; returns the original
    * row plus `norm_text` and a `changed` flag.
    */
  def normalizeText(docs: DataFrame, textCol: String): DataFrame =
    docs.withColumn("norm_text",
        trim(regexp_replace(regexp_replace(lower(col(textCol)),
          "[^a-z0-9 ]", ""), " +", " ")))
      .withColumn("changed", col("norm_text") =!= col(textCol))

  /** Per-source unigram KL divergence vs the corpus distribution —
    * D(p_s ‖ p_corpus) = Σ_t p_s(t)·ln(p_s(t)/p_c(t)) — the
    * distribution-shift panel next to [[tokenEntropy]]: a source whose
    * token mix diverges from the pool (spam floods, wrong language,
    * template farms) reads high. Every source term exists in the corpus
    * (p_c > 0), so the sum is always finite. Three map-side-combined
    * group-bys; the per-term doubles are row-wise and the terms sum in
    * DECIMAL (order-independent); the corpus-total scalar broadcasts.
    */
  def klDivergenceSources(docs: DataFrame, sourceCol: String,
                          textCol: String): DataFrame = {
    val st = docs.select(col(sourceCol).as("source"),
        explode(split(col(textCol), " ")).as("tok"))
      .groupBy("source", "tok").agg(count(lit(1)).as("c"))
    val perSource = st.groupBy("source").agg(sum(col("c")).cast("long").as("ns"))
    val perTok = st.groupBy("tok").agg(sum(col("c")).cast("long").as("ct"))
    val total = st.agg(sum(col("c")).cast("long").as("nn"))
    val ps = col("c").cast("double") / col("ns")
    val pc = col("ct").cast("double") / col("nn")
    st.join(perSource, "source")
      .join(perTok, "tok")
      .crossJoin(broadcast(total))
      .select(col("source"), col("ns"),
        (ps * log(ps / pc)).cast("decimal(38,12)").as("term"))
      .groupBy("source")
      .agg(max(col("ns")).as("n_tokens"),
        // + 0.0 folds a rounded -0.0 to 0.0 (engine-portable rendering)
        (round(sum(col("term")).cast("double"), 6) + lit(0.0)).as("kl_nats"))
  }

  /** Boilerplate-template mining: documents collapse to their leading
    * `prefixTokens`-token template; the top-`k` templates by document
    * count (with source spread and a deterministic example id) surface
    * the mirror/chrome candidates a boilerplate filter should review.
    * One group-by + the bounded-heap ranking ([[Analytics.topKRanked]]
    * — never a corpus-wide window).
    */
  def templateTopK(docs: DataFrame, idCol: String, sourceCol: String,
                   textCol: String, prefixTokens: Int, k: Int): DataFrame = {
    require(prefixTokens > 0, "prefixTokens must be positive")
    val g = docs.select(
        array_join(slice(split(col(textCol), " "), 1, prefixTokens), " ")
          .as("template"),
        col(sourceCol).as("source"), col(idCol).as("doc_id"))
      .groupBy("template")
      .agg(count(lit(1)).as("n_docs"),
        countDistinct(col("source")).as("n_sources"),
        min(col("doc_id")).as("example_doc_id"))
    Analytics.topKRanked(g, "n_docs", "template", k)
      .select(col("rank"), col("template"), col("n_docs"),
        col("n_sources"), col("example_doc_id"))
  }

  /** Per-document n-gram NOVELTY: the share of a doc's distinct n-grams
    * that appear in no other document (df = 1) — high scores mark genuinely
    * original text, low scores mark recombinations of corpus phrases, the
    * per-doc complement of the corpus-level dedup reports. Integer-exact
    * ppm (no float). Shapes: the doc→gram explode collapses to DISTINCT
    * (doc, gram) before the df aggregate, so the gram relation is bounded
    * by content volume; both group-bys are map-side combined.
    */
  def ngramNovelty(docs: DataFrame, idCol: String, textCol: String,
                   n: Int): DataFrame = {
    val grams = TextDedup.gramRows(docs, idCol, textCol, n)
      .select(col("doc_id"), col("s").as("gram")).distinct()
    val df = grams.groupBy("gram").agg(count(lit(1)).as("gdf"))
    grams.join(df, "gram")
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n_grams"),
        count(when(col("gdf") === 1, 1)).as("n_unique"))
      .select(col("doc_id"), col("n_grams"), col("n_unique"),
        expr("n_unique * 1000000 div n_grams").as("novelty_ppm"))
  }

  /** Tokenizer-fertility panel per source: whitespace words vs BPE-proxy
    * subtokens (the corpus-budgeting heuristic — how many model tokens a
    * "word" costs in each source; code/URL-heavy sources read high).
    * Integer-exact ppm ratios from one map-side-combined aggregate.
    */
  def tokenizerFertility(docs: DataFrame, sourceCol: String, textCol: String,
                         nCharsCol: String): DataFrame =
    docs.select(col(sourceCol).as("source"),
        size(split(col(textCol), " ")).cast("long").as("ws"),
        ((col(nCharsCol) + 3) / lit(4)).cast("long").as("bpe"),
        col(nCharsCol).cast("long").as("chars"))
      .groupBy("source")
      .agg(count(lit(1)).as("n_docs"),
        sum(col("ws")).cast("long").as("n_words"),
        sum(col("bpe")).cast("long").as("n_subtokens"),
        sum(col("chars")).cast("long").as("n_chars"))
      .select(col("source"), col("n_docs"), col("n_words"),
        col("n_subtokens"),
        expr("n_subtokens * 1000000 div n_words").as("fertility_ppm"),
        expr("n_chars * 1000000 div n_subtokens").as("chars_per_subtoken_ppm"))

  /** Preference-pair construction for reward-model data: documents sharing
    * a prompt TEMPLATE (leading `prefixTokens` tokens) pair up as
    * (chosen, rejected) = (best, worst) by score with deterministic
    * id tie-breaks, keeping only groups with a strict score gap — the
    * join-free analogue of "pick max/min response per prompt". One
    * group-by with struct-ordered min/max (no window, no self-join).
    */
  def preferencePairs(docs: DataFrame, idCol: String, textCol: String,
                      scoreCol: String, prefixTokens: Int): DataFrame = {
    require(prefixTokens > 0, "prefixTokens must be positive")
    val keyed = docs.select(
      array_join(slice(split(col(textCol), " "), 1, prefixTokens), " ")
        .as("template"),
      col(idCol).as("doc_id"), col(scoreCol).cast("long").as("score"))
    // (score asc, -doc_id asc): max ⇒ best score, smaller id on ties;
    // min ⇒ worst score, larger id on ties — both ends deterministic.
    val ord = struct(col("score"), (-col("doc_id")).as("nid"))
    keyed.groupBy("template")
      .agg(count(lit(1)).as("n_docs"),
        max(ord).as("best"), min(ord).as("worst"))
      .filter(col("n_docs") >= 2 &&
        col("best.score") > col("worst.score"))
      .select(col("template"), col("n_docs"),
        (-col("best.nid")).as("chosen_id"),
        col("best.score").as("chosen_score"),
        (-col("worst.nid")).as("rejected_id"),
        col("worst.score").as("rejected_score"))
  }
}
