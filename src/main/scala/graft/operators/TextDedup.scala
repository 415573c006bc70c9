package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Document deduplication for LLM-training-data pipelines: exact dedup,
  * exhaustive n-gram-Jaccard pairs, MinHash+LSH candidate generation with
  * exact verification, and SimHash fingerprints.
  *
  * Hot paths avoid higher-order array functions entirely — Spark evaluates
  * those as interpreted lambdas (CodegenFallback), which measured ~10x
  * slower than the equivalent relational form. Shingling is posexplode +
  * lead() windows, minhashing is a 128-column min-aggregate, banding is
  * multi-argument xxhash64 — all whole-stage-codegen territory. Candidate
  * generation is an equi-join on (band, bandHash) so Catalyst shuffles on
  * the bucket key; at 100 TB the LSH path is the one that survives, and
  * the exhaustive pair enumeration exists as its correctness oracle.
  */
object TextDedup {

  /** Whitespace tokens. */
  def tokens(text: Column): Column = split(text, " ")

  /** Distinct word n-gram shingles as an array column (spec/API surface;
    * the distributed paths use [[shingleTable]]). Documents shorter than n
    * words produce an empty set.
    */
  def shingles(text: Column, n: Int): Column = {
    val ws = split(text, " ")
    val grams = transform(
      sequence(lit(1), size(ws) - (n - 1)),
      i => concat_ws(" ", (0 until n).map(j => element_at(ws, i + j)): _*))
    array_distinct(
      when(size(ws) >= n, grams).otherwise(array().cast("array<string>")))
  }

  /** Exact dedup groups: one row per distinct payload with the surviving
    * (minimum) id and the duplicate count. Plain hash groupBy — map-side
    * partial aggregation makes this a single shuffle of distinct texts.
    */
  def exactGroups(docs: DataFrame, idCol: String, textCol: String): DataFrame =
    docs.groupBy(md5(col(textCol)).as("text_hash"))
      .agg(min(col(idCol)).as("keep_id"), count(lit(1)).as("n_dups"))

  /** Paragraph-granularity exact dedup: segment each document, hash each
    * segment, keep only the globally-first occurrence of every distinct
    * segment (order = (doc_id, para_idx), fully tie-broken) — the
    * paragraph-unit form of exact-substring training-data dedup
    * (boilerplate paragraphs, repeated headers/footers, license blocks
    * survive document-level dedup and fall here). One shuffle on the
    * segment hash; the per-hash window sorts groups bounded by dup count.
    * Segmentation is fixed `wordsPerPara`-word windows (the corpus has no
    * newline structure; a real pipeline passes its own boundary rule by
    * pre-splitting — the dedup contract is the same for any segmenter).
    * The chunking transform is per-row interpreted (HOF); the shuffle and
    * window dominate at scale.
    */
  def paragraphDedup(docs: DataFrame, idCol: String, textCol: String,
                     wordsPerPara: Int): DataFrame =
    segmentRows(docs, idCol, textCol, wordsPerPara)
      .withColumn("para_hash", md5(col("para")))
      .withColumn("keep", row_number().over(
        Window.partitionBy("para_hash")
          .orderBy(col("doc_id"), col("para_idx"))) === 1)
      .select(col("doc_id"), col("para_idx").cast("long").as("para_idx"),
        col("para_hash"), col("keep"))

  /** Fixed `wordsPerPara`-word segmentation as a (doc_id, para_idx, para)
    * relation — the shared unit under [[paragraphDedup]] and
    * [[removeBoilerplate]]. Per-row interpreted chunking (HOF transform);
    * whatever shuffles consume it dominate at scale. Empty documents
    * produce no segments.
    */
  private[operators] def segmentRows(docs: DataFrame, idCol: String,
                                     textCol: String, wordsPerPara: Int): DataFrame = {
    require(wordsPerPara >= 1, "wordsPerPara must be >= 1")
    val ws = split(col(textCol), " ")
    val nChunks = ceil(size(ws).cast("double") / wordsPerPara).cast("int")
    docs.select(col(idCol).as("doc_id"),
        when(size(ws) > 0,
          transform(sequence(lit(0), nChunks - 1),
            i => concat_ws(" ",
              slice(ws, i * wordsPerPara + 1, lit(wordsPerPara)))))
          .otherwise(array().cast("array<string>")).as("paras"))
      .select(col("doc_id"), posexplode(col("paras")).as(Seq("para_idx", "para")))
  }

  /** Frequency-based boilerplate removal (the RefinedWeb/CCNet cleanup
    * step under document-level dedup): segments whose hash occurs in at
    * least `minDocs` DISTINCT documents are dropped everywhere, and each
    * document's surviving segments reassemble in order. Documents whose
    * every segment is boilerplate drop out entirely.
    *
    * Plan shape: one segment relation feeds (a) the boilerplate hash set
    * (groupBy segment hash, distinct-doc count — map-side partial aggs)
    * and (b) a left-anti join against that set; the per-doc reassembly is
    * one groupBy(doc_id) whose order is restored by sorting (para_idx,
    * para) structs inside the aggregate, so the text is independent of
    * partitioning. The boilerplate set is duplicate-segment-count sized —
    * tiny next to the corpus — so at scale the anti join broadcasts.
    */
  def removeBoilerplate(docs: DataFrame, idCol: String, textCol: String,
                        wordsPerPara: Int, minDocs: Int): DataFrame = {
    require(minDocs >= 2, "minDocs must be >= 2")
    // 64-bit hash key (not md5 hex strings): the boilerplate-set shuffle
    // and the anti join move 8-byte longs; collision argument as in
    // [[minhashLshPairs]]
    //
    // Exchange BEFORE the interpreted chunking transform (r14): the HOF
    // runs per row outside codegen — on the single-file test corpus the
    // whole segmentation otherwise serialized onto the one scan task —
    // and this operator's per-doc groupings (totals, reassembly) are
    // satisfied by the doc_id partitioning, so their exchanges disappear
    // (net exchange count unchanged; paragraphDedup keys only on
    // para_hash and deliberately does NOT take this repartition — its
    // single-exchange plan is spec-pinned).
    val segs = segmentRows(Scans.spreadByKey(docs, col(idCol)), idCol, textCol,
        wordsPerPara)
      .withColumn("para_hash", xxhash64(col("para")))
    val boiler = segs.groupBy("para_hash")
      .agg(count_distinct(col("doc_id")).as("n_docs"))
      .filter(col("n_docs") >= minDocs)
      .select("para_hash")
    val totals = segs.groupBy("doc_id").agg(count(lit(1)).as("n_segments"))
    segs.join(boiler, Seq("para_hash"), "left_anti")
      .groupBy("doc_id")
      .agg(
        array_join(transform(
          array_sort(collect_list(struct(col("para_idx"), col("para")))),
          e => e.getField("para")), " ").as("clean_text"),
        count(lit(1)).as("n_kept"))
      .join(totals, Seq("doc_id"))
      .select(col("doc_id"), col("clean_text"), col("n_kept"),
        (col("n_segments") - col("n_kept")).as("n_removed"))
  }

  /** Exploded distinct (doc_id, shingle) relation. posexplode + lead()
    * instead of an array-transform expression: the window runs inside
    * codegen and the token explosion shuffles once on doc_id.
    */
  def shingleTable(docs: DataFrame, idCol: String,
                   textCol: String, n: Int): DataFrame =
    gramRows(docs, idCol, textCol, n).distinct()

  /** Non-distinct (doc_id, s) gram rows shared by the string and hashed
    * shingle relations (and TextAnalysis.ngramCounts).
    */
  private[operators] def gramRows(docs: DataFrame, idCol: String, textCol: String,
                                  n: Int, spread: Boolean = true): DataFrame = {
    require(n >= 1, s"shingle size must be >= 1, got $n")
    // n ≥ 2 needs the lead() window, i.e. an exchange on doc_id — put it
    // BEFORE the token explode (r14 optimization): the shuffle then moves
    // each document's text once (one row per doc) instead of one row per
    // token (~5x the bytes in row overhead), and the explode itself runs
    // at full parallelism instead of inside the scan stage — the sf
    // corpus is one single-row-group parquet file, so the scan is one
    // task. Same exchange count, strictly fewer shuffled bytes, the
    // repetitionProfile discipline.
    def base(d: DataFrame) = d.select(col(idCol).as("doc_id"),
      posexplode(split(col(textCol), " ")).as(Seq("pos", "tok")))
    if (n == 1) base(docs).select(col("doc_id"), col("tok").as("s"))
    else {
      val w = Window.partitionBy("doc_id").orderBy("pos")
      val leads = (1 until n).map(i => lead(col("tok"), i).over(w).as(s"l$i"))
      base(if (spread) Scans.spreadByKey(docs, col(idCol)) else docs)
        .select(col("doc_id") +: col("tok") +: leads: _*)
        .filter(col(s"l${n - 1}").isNotNull)
        .select(col("doc_id"),
          concat_ws(" ", col("tok") +: (1 until n).map(i => col(s"l$i")): _*).as("s"))
    }
  }

  /** Exhaustive pairs with n-gram-set Jaccard >= threshold. Candidate pairs
    * come from a self-join on shared shingles (never O(n^2) when shingle
    * document frequencies are bounded); the Jaccard is exact integer
    * arithmetic divided once in double, so it is bit-identical across
    * engines.
    */
  def jaccardPairs(docs: DataFrame, idCol: String, textCol: String,
                   n: Int, threshold: Double): DataFrame = {
    val sh = shingleTable(docs, idCol, textCol, n)
    val sizes = sh.groupBy("doc_id").agg(count(lit(1)).as("sz"))
    val inter = sh.as("a")
      .join(sh.as("b"), col("a.s") === col("b.s") && col("a.doc_id") < col("b.doc_id"))
      .groupBy(col("a.doc_id").as("doc_a"), col("b.doc_id").as("doc_b"))
      .agg(count(lit(1)).as("inter"))
    withJaccard(inter, sizes, threshold)
  }

  private def withJaccard(interPairs: DataFrame, sizes: DataFrame,
                          threshold: Double): DataFrame =
    interPairs
      .join(sizes.withColumnRenamed("doc_id", "doc_a").withColumnRenamed("sz", "sz_a"), "doc_a")
      .join(sizes.withColumnRenamed("doc_id", "doc_b").withColumnRenamed("sz", "sz_b"), "doc_b")
      .withColumn("jaccard",
        col("inter").cast("double") / (col("sz_a") + col("sz_b") - col("inter")))
      .filter(col("jaccard") >= threshold)
      .select(col("doc_a"), col("doc_b"), round(col("jaccard"), 4).as("jaccard"))

  /** Asymmetric containment pairs: C(A→B) = |A∩B| / |A| over shingle
    * sets — the doc-inside-doc detector. Jaccard misses a short document
    * quoted whole inside a long one (the union dwarfs the intersection);
    * containment flags it at ~1.0. Emits ordered pairs (doc_a < doc_b)
    * whose larger directional containment clears `threshold`, with both
    * directions reported in exact ppm (inter·10⁶ div sz, BIGINT — no fp
    * anywhere, engine-identical).
    *
    * Candidates come from the shared-shingle self-join (never O(n²) when
    * shingle document frequencies are bounded — the same guarantee
    * jaccardPairs rides); sizes join back per side. At corpus scale swap
    * the candidate stage for [[lshCandidatesFromHashes]] and verify the
    * candidates exactly the same way.
    */
  def containmentPairs(docs: DataFrame, idCol: String, textCol: String,
                       n: Int, thresholdPpm: Long): DataFrame = {
    val sh = shingleTable(docs, idCol, textCol, n)
    val sizes = sh.groupBy("doc_id").agg(count(lit(1)).as("sz"))
    sh.as("a")
      .join(sh.as("b"), col("a.s") === col("b.s") && col("a.doc_id") < col("b.doc_id"))
      .groupBy(col("a.doc_id").as("doc_a"), col("b.doc_id").as("doc_b"))
      .agg(count(lit(1)).as("inter"))
      .join(sizes.withColumnRenamed("doc_id", "doc_a").withColumnRenamed("sz", "sz_a"), "doc_a")
      .join(sizes.withColumnRenamed("doc_id", "doc_b").withColumnRenamed("sz", "sz_b"), "doc_b")
      .select(col("doc_a"), col("doc_b"), col("inter").cast("long").as("inter"),
        expr("inter * 1000000 div sz_a").as("contain_a_ppm"),
        expr("inter * 1000000 div sz_b").as("contain_b_ppm"))
      .filter(greatest(col("contain_a_ppm"), col("contain_b_ppm")) >= thresholdPpm)
  }

  /** [[containmentPairs]] at its 100 TB configuration: candidate pairs come
    * only from shingles whose document frequency is ≤ `maxDf` (ubiquitous
    * shingles are boilerplate — each contributes df² pairs and no
    * containment signal), then every candidate is verified EXACTLY against
    * the full shingle sets, so per-pair values are identical to the
    * exhaustive form and only pairs overlapping solely in >maxDf shingles
    * are (deliberately) excluded. The cap bounds the candidate join at
    * maxDf·|shingles| pairs — the same df-bound discipline the LSH dedup
    * rides — and the verification join touches candidate rows only.
    */
  def containmentPairsCapped(docs: DataFrame, idCol: String, textCol: String,
                             n: Int, thresholdPpm: Long, maxDf: Long): DataFrame =
    containmentPairsCappedFrom(
      shingleHashTable(docs, idCol, textCol, n), thresholdPpm, maxDf)

  /** [[containmentPairsCapped]] over a PRE-BUILT (doc_id, h) shingle-hash
    * relation — the index-priced form. The plan references the shingle
    * relation FIVE times (df counts, both sides of the rare self-join,
    * both verify sides); fed from raw documents each reference re-pays
    * the explode + lead-window + distinct shuffle (the sf100 probe
    * measured ~105 GB of spill doing exactly that), while fed from the
    * materialized h-bucketed table (`shingle_index_roundtrip`) the df
    * grouping and the rare self-join run in place with NO exchange and
    * the verify joins move only candidate-bounded rows.
    */
  def containmentPairsCappedFrom(sh: DataFrame, thresholdPpm: Long,
                                 maxDf: Long): DataFrame = {
    // Two scale disciplines on top of the exhaustive form:
    // (1) every stage runs on 64-bit shingle HASHES (set semantics per
    //     the collision argument at [[minhashLshPairs]]);
    // (2) the rare-shingle self-join aggregates straight to per-pair
    //     shared-rare counts (no distinct), and only pairs whose UPPER
    //     BOUND can clear the threshold reach exact verification:
    //     inter_total <= inter_rare + min(common_a, common_b), where
    //     common_x = #shingles of x with df > maxDf. On a self-similar
    //     corpus most candidates share 1-2 shingles and prune here
    //     without ever touching the full shingle sets (measured ~6x on
    //     the bench corpus); emitted values are exact and unchanged.
    val sizes = sh.groupBy("doc_id").agg(count(lit(1)).as("sz"))
    val rare = sh.join(
      sh.groupBy("h").agg(count(lit(1)).as("df")).filter(col("df") <= maxDf)
        .select("h"),
      "h")
    val rareSizes = rare.groupBy("doc_id").agg(count(lit(1)).as("rsz"))
    // per-doc: total shingles and how many are NOT rare (the slack term)
    val stats = sizes.join(rareSizes, Seq("doc_id"), "left")
      .select(col("doc_id"), col("sz"),
        (col("sz") - coalesce(col("rsz"), lit(0L))).as("common"))
    val interRare = rare.as("a")
      .join(rare.as("b"), col("a.h") === col("b.h") && col("a.doc_id") < col("b.doc_id"))
      .groupBy(col("a.doc_id").as("doc_a"), col("b.doc_id").as("doc_b"))
      .agg(count(lit(1)).as("inter_rare"))
    val cand = interRare
      .join(stats.select(col("doc_id").as("doc_a"), col("sz").as("sz_a"),
        col("common").as("common_a")), "doc_a")
      .join(stats.select(col("doc_id").as("doc_b"), col("sz").as("sz_b"),
        col("common").as("common_b")), "doc_b")
      // a div b >= t <=> a >= t*b for non-negative longs, so the bound is
      // exact with respect to the integer-ppm final filter
      .filter((col("inter_rare") + least(col("common_a"), col("common_b"))) *
        1000000L >= lit(thresholdPpm) * least(col("sz_a"), col("sz_b")))
      .select("doc_a", "doc_b")
    cand
      .join(sh.select(col("doc_id").as("doc_a"), col("h")), "doc_a")
      .join(sh.select(col("doc_id").as("doc_b"), col("h")), Seq("doc_b", "h"))
      .groupBy("doc_a", "doc_b")
      .agg(count(lit(1)).as("inter"))
      .join(sizes.withColumnRenamed("doc_id", "doc_a").withColumnRenamed("sz", "sz_a"), "doc_a")
      .join(sizes.withColumnRenamed("doc_id", "doc_b").withColumnRenamed("sz", "sz_b"), "doc_b")
      .select(col("doc_a"), col("doc_b"), col("inter").cast("long").as("inter"),
        expr("inter * 1000000 div sz_a").as("contain_a_ppm"),
        expr("inter * 1000000 div sz_b").as("contain_b_ppm"))
      .filter(greatest(col("contain_a_ppm"), col("contain_b_ppm")) >= thresholdPpm)
  }

  // ------------------------------------------------------------- MinHash

  /** MinHash signature columns m0..m{numPerm-1} per doc_id from a
    * (doc_id, s) shingle relation. Each shingle is hashed ONCE with
    * xxhash64; permutation i is the cheap re-mix xxhash64(h, i) folded by a
    * min-aggregate (numPerm longs of state per doc, map-side partial agg,
    * one shuffle on doc_id). An array-lambda formulation would re-hash the
    * strings once per permutation AND run interpreted.
    */
  def minhashSignatureCols(shingleRows: DataFrame, numPerm: Int): DataFrame =
    minhashSignatureColsFromHashes(
      shingleRows.select(col("doc_id"), xxhash64(col("s")).as("h")), numPerm)

  /** As [[minhashSignatureCols]] but over pre-hashed shingles (doc_id, h). */
  def minhashSignatureColsFromHashes(hashedRows: DataFrame, numPerm: Int): DataFrame = {
    val minCols = (0 until numPerm).map(i => min(xxhash64(col("h"), lit(i))).as(s"m$i"))
    hashedRows.groupBy("doc_id").agg(minCols.head, minCols.tail: _*)
  }

  /** Distinct (doc_id, h) with h = xxhash64(shingle): the hash is applied
    * BEFORE the distinct so the dedup shuffle and every downstream join
    * move longs, not shingle strings.
    */
  def shingleHashTable(docs: DataFrame, idCol: String, textCol: String,
                       n: Int, spread: Boolean = true): DataFrame =
    gramRows(docs, idCol, textCol, n, spread)
      .select(col("doc_id"), xxhash64(col("s")).as("h")).distinct()

  /** Signature as one array<long> column (API/spec convenience). */
  def minhashSignatures(shingleRows: DataFrame, numPerm: Int): DataFrame =
    minhashSignatureCols(shingleRows, numPerm)
      .select(col("doc_id"),
        array((0 until numPerm).map(i => col(s"m$i")): _*).as("sig"))

  /** The banded key relation (doc_id, band, bh) — one row per LSH band
    * per document. THIS is the materializable LSH index: written once
    * bucketed on (band, bh) (ParquetSink.writeLshIndex), every future
    * ingest batch equi-joins it for candidates without shuffling the
    * corpus side.
    */
  def bandedKeys(sh: DataFrame, numPerm: Int, bands: Int): DataFrame =
    sh.groupBy("doc_id")
      .agg(org.apache.spark.sql.graft.MinHashAggFunctions
        .minhashBandKeys(col("h"), numPerm, bands).as("bk"))
      .select(col("doc_id"), posexplode(col("bk")).as(Seq("band", "bh")))

  /** LSH candidate pairs (doc_a < doc_b, distinct) from a (doc_id, h)
    * shingle-hash relation: band keys via the typed aggregate, bucket
    * equi-join on (band, key). Exposed for the streaming form's spec and
    * for callers that verify candidates their own way.
    */
  def lshCandidatesFromHashes(sh: DataFrame, numPerm: Int,
                              bands: Int): DataFrame = {
    val banded = bandedKeys(sh, numPerm, bands)
    banded.as("a")
      .join(banded.as("b"),
        col("a.band") === col("b.band") && col("a.bh") === col("b.bh") &&
          col("a.doc_id") < col("b.doc_id"))
      .select(col("a.doc_id").as("doc_a"), col("b.doc_id").as("doc_b"))
      .distinct()
  }

  /** MinHash+LSH near-dup pairs, exact-verified: banding proposes candidate
    * pairs (equi-join on the band bucket), then the exact shingle-set
    * Jaccard is recomputed per candidate via a shingle join — so the output
    * equals the exhaustive [[jaccardPairs]] whenever the LSH parameters
    * give full recall at the threshold.
    *
    * Scale shape: one scan + one window computes shingles; signatures
    * shuffle on doc_id; candidates shuffle on (band, bandHash);
    * verification joins the (small) candidate set back to the shingle
    * relation. No O(n^2) stage anywhere.
    */
  def minhashLshPairs(docs: DataFrame, idCol: String, textCol: String,
                      n: Int, numPerm: Int, bands: Int,
                      threshold: Double, spread: Boolean = true): DataFrame = {
    require(numPerm % bands == 0, "numPerm must be a multiple of bands")
    // Shingles collapse to 64-bit hashes BEFORE the set-dedup: every
    // downstream shuffle/join carries 8-byte keys instead of strings, and
    // set semantics survive because a 64-bit collision inside one corpus
    // is ~(distinct shingles)^2 / 2^65 — ~1e-9 here, and it would only
    // perturb one candidate's Jaccard by one count.
    //
    // The minhash signature + banding collapse into ONE typed aggregate
    // (MinHashAgg) emitting the band-key array directly. The declarative
    // alternative — numPerm min(xxhash64(h, i)) columns + one xxhash64 per
    // band — is semantically identical but makes every plan above it
    // numPerm columns wide, and the per-column analysis/codegen costs
    // measured larger than the entire data pass at bench scale. Keeping
    // plans narrow also keeps every stage's generated code small and
    // cache-friendly.
    //
    // The shingle relation feeds three consumers (band keys, sizes, both
    // verification sides). Explicitly caching it — grouped or un-grouped —
    // measured SLOWER than recompute at bench scale (columnar cache build
    // of array columns dominates); AQE's runtime exchange reuse already
    // dedupes the token-explode shuffle, which is the expensive part.
    val sh = shingleHashTable(docs, idCol, textCol, n, spread)
    val sizes = sh.groupBy("doc_id").agg(count(lit(1)).as("sz"))
    val candidates = lshCandidatesFromHashes(sh, numPerm, bands)
    // Exact verification: join the (tiny) candidate set back to the
    // shingle relation; the shared-hash count is the exact set
    // intersection, so the Jaccard is bit-identical to the exhaustive
    // baseline.
    val inter = candidates
      .join(sh.as("sa"), col("doc_a") === col("sa.doc_id"))
      .join(sh.as("sb"),
        col("doc_b") === col("sb.doc_id") && col("sa.h") === col("sb.h"))
      .groupBy("doc_a", "doc_b").agg(count(lit(1)).as("inter"))
    withJaccard(inter, sizes, threshold)
  }

  /** Cross-document repeated-span detection — the exact-substring dedup
    * shape of Lee et al. '21 ("Deduplicating Training Data Makes LMs
    * Better"), token granularity: every stride-1 window of `windowTokens`
    * tokens is hashed; windows whose hash occurs more than once in the
    * corpus are duplicated content; per document, overlapping/adjacent
    * duplicated windows merge into maximal spans (start inclusive, end
    * exclusive, token positions). Any repeated substring of >=
    * windowTokens tokens is covered by such a span; two distinct repeats
    * closer than one window merge conservatively (the over-approximation
    * every windowed variant of the suffix-array method makes).
    *
    * Scale shape: the window relation is one scan + lead() window per
    * doc (the shingle idiom) hashing to longs; the duplicate filter is
    * one count-by-hash reusing its own exchange for the semi-join back;
    * span merging runs only over DUPLICATED window starts (tiny vs the
    * corpus) with per-doc lag/cumsum windows. No pair join anywhere —
    * repeats are found by grouping, not pairing.
    */
  def repeatedSpans(docs: DataFrame, idCol: String, textCol: String,
                    windowTokens: Int): DataFrame = {
    require(windowTokens >= 2, "windowTokens must be >= 2")
    val l = windowTokens
    // Exchange BEFORE the token explode (r14; the gramRows rationale):
    // the window needs doc_id partitioning anyway — shuffling whole
    // documents moves ~5x fewer bytes than shuffling token rows, and the
    // explode leaves the single-task scan stage.
    val base = Scans.spreadByKey(docs, col(idCol))
      .select(col(idCol).as("doc_id"),
        posexplode(split(col(textCol), " ")).as(Seq("pos", "tok")))
    val w = Window.partitionBy("doc_id").orderBy("pos")
    val leads = (1 until l).map(i => lead(col("tok"), i).over(w).as(s"l$i"))
    val win = base.select(col("doc_id") +: col("pos") +: col("tok") +: leads: _*)
      .filter(col(s"l${l - 1}").isNotNull)
      .select(col("doc_id"), col("pos").cast("long").as("pos"),
        xxhash64(concat_ws(" ", col("tok") +: (1 until l).map(i => col(s"l$i")): _*)).as("h"))
    val dupHashes = win.groupBy("h").agg(count(lit(1)).as("c"))
      .filter(col("c") > 1).select("h")
    val dup = win.join(dupHashes, "h").select("doc_id", "pos")
    val byDoc = Window.partitionBy("doc_id").orderBy("pos")
    val spans = dup
      .withColumn("new_span",
        when(col("pos") - lag(col("pos"), 1).over(byDoc) <= l, 0L).otherwise(1L))
      .withColumn("span_id", sum(col("new_span")).over(
        byDoc.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
    spans.groupBy("doc_id", "span_id")
      .agg(min(col("pos")).as("span_start"),
        (max(col("pos")) + l).as("span_end"),
        count(lit(1)).as("n_windows"))
  }

  /** The removal half of exact-substring dedup: excise every repeated
    * span EXCEPT its canonical occurrence (keep-one semantics, Lee et
    * al. '21). Occurrences are grouped by the md5 of the span's token
    * slice — spans carrying identical content form one group and the
    * (min doc_id, min span_start) member survives; partially-overlapping
    * repeats whose merged spans differ in content keep both (the
    * conservative choice). Output: (doc_id, clean_text,
    * n_removed_tokens) for every input document; a fully-boilerplate doc
    * comes back with empty text, ready for a length gate.
    *
    * Scale shape: only documents that LOSE a span are re-assembled
    * (token explode + in-aggregate sort, the removeBoilerplate idiom);
    * everything else passes through untouched — and because
    * single-space tokenization is exactly inverted by the single-space
    * join, the two branches agree byte-for-byte on any input. The
    * canonical-pick window partitions by content hash (group size =
    * occurrence count, never corpus-sized).
    */
  def removeRepeatedSpans(docs: DataFrame, idCol: String, textCol: String,
                          windowTokens: Int): DataFrame = {
    val spans = repeatedSpans(docs, idCol, textCol, windowTokens)
    val withContent = spans
      .join(docs.select(col(idCol).as("doc_id"), col(textCol).as("_t")), "doc_id")
      .withColumn("ch", md5(concat_ws(" ",
        slice(split(col("_t"), " "), col("span_start").cast("int") + 1,
          (col("span_end") - col("span_start")).cast("int")))))
    // Eager localCheckpoint TRUNCATES LINEAGE (the Clustering discipline):
    // the removal set is tiny — only spans that LOSE the canonical pick —
    // but its upstream plan is the whole span-detection pipeline, and
    // three downstream branches (anti-join, affected set, accounting)
    // would otherwise each re-pay it. One evaluation, constant-size plan
    // for every consumer.
    val rem = withContent
      .withColumn("rn", row_number().over(
        Window.partitionBy("ch").orderBy("doc_id", "span_start")))
      .filter(col("rn") > 1)
      .select(col("doc_id").as("r_doc"), col("span_start"), col("span_end"))
      .localCheckpoint(true)
    val affected = rem.select(col("r_doc").as("doc_id")).distinct()
    val tokens = docs.select(col(idCol).as("doc_id"),
        posexplode(split(col(textCol), " ")).as(Seq("pos", "tok")))
      .withColumn("pos", col("pos").cast("long"))
      .join(affected, "doc_id")
    val kept = tokens.join(rem,
        tokens("doc_id") === rem("r_doc") &&
          col("pos") >= col("span_start") && col("pos") < col("span_end"),
        "left_anti")
    val rebuilt = kept.groupBy("doc_id")
      .agg(concat_ws(" ", transform(
          array_sort(collect_list(struct(col("pos"), col("tok")))),
          s => s.getField("tok"))).as("clean_text"),
        count(lit(1)).as("n_kept"))
    val affectedOut = docs.select(col(idCol).as("doc_id"),
        size(split(col(textCol), " ")).cast("long").as("n_tokens"))
      .join(affected, "doc_id")
      .join(rebuilt, Seq("doc_id"), "left")
      .select(col("doc_id"), coalesce(col("clean_text"), lit("")).as("clean_text"),
        (col("n_tokens") - coalesce(col("n_kept"), lit(0L))).as("n_removed_tokens"))
    val untouched = docs.select(col(idCol).as("doc_id"), col(textCol).as("clean_text"))
      .join(affected, Seq("doc_id"), "left_anti")
      .withColumn("n_removed_tokens", lit(0L))
    affectedOut.unionByName(untouched)
  }

  /** The dedup threshold-picking report: LSH candidate pairs bucketed by
    * exact shingle-set Jaccard into 5%-wide bands above a recall-certain
    * floor — pair counts, distinct docs involved, and the band's actual
    * Jaccard range. What a corpus owner reads BEFORE choosing the dedup
    * threshold (the text-side sibling of `Ann.ivfRecallReport`).
    *
    * Exactness discipline: the floor filter is the exact rational test
    * `inter·floorDen >= union·floorNum` and the band is pure integer
    * arithmetic `(inter·20) div union` — no float compare anywhere a
    * boundary could flip, so the SQL oracle reproduces every bucket
    * bit-for-bit. The floor must sit where the banding gives ~certain
    * recall (32x4 bands at 0.8: P(miss) < 5e-8), making LSH candidates
    * equal to the exhaustive pair set the oracle enumerates.
    */
  def thresholdReport(docs: DataFrame, idCol: String, textCol: String,
                      n: Int, numPerm: Int, bands: Int,
                      floorNum: Int, floorDen: Int): DataFrame = {
    require(floorNum >= 0 && floorDen > 0, "floor must be a valid fraction")
    val sh = shingleHashTable(docs, idCol, textCol, n)
    val sizes = sh.groupBy("doc_id").agg(count(lit(1)).as("sz"))
    val candidates = lshCandidatesFromHashes(sh, numPerm, bands)
    val inter = candidates
      .join(sh.as("sa"), col("doc_a") === col("sa.doc_id"))
      .join(sh.as("sb"),
        col("doc_b") === col("sb.doc_id") && col("sa.h") === col("sb.h"))
      .groupBy("doc_a", "doc_b").agg(count(lit(1)).as("inter"))
    val b = inter
      .join(sizes.withColumnRenamed("doc_id", "doc_a").withColumnRenamed("sz", "sz_a"), "doc_a")
      .join(sizes.withColumnRenamed("doc_id", "doc_b").withColumnRenamed("sz", "sz_b"), "doc_b")
      .withColumn("un", col("sz_a") + col("sz_b") - col("inter"))
      .filter(col("inter") * floorDen >= col("un") * floorNum)
      .select(col("doc_a"), col("doc_b"),
        expr("(inter * 20) div un").as("jacc_band"),
        (col("inter").cast("double") / col("un")).as("jacc"))
    val pairCounts = b.groupBy("jacc_band")
      .agg(count(lit(1)).as("n_pairs"),
        round(min(col("jacc")), 4).as("min_jaccard"),
        round(max(col("jacc")), 4).as("max_jaccard"))
    val docCounts = b
      .select(col("jacc_band"), explode(array(col("doc_a"), col("doc_b"))).as("doc_id"))
      .groupBy("jacc_band").agg(countDistinct(col("doc_id")).as("n_docs"))
    pairCounts.join(docCounts, "jacc_band")
      .select(col("jacc_band"), col("n_pairs"), col("n_docs"),
        col("min_jaccard"), col("max_jaccard"))
  }

  /** Incremental near-dup detection: every `newDocs` document that
    * near-duplicates a `corpus` document (doc_a = incoming id, doc_b =
    * corpus id, exact shingle-set Jaccard ≥ threshold). The production
    * ingest shape — a daily batch checks against the standing corpus
    * WITHOUT re-pairing the corpus against itself: band keys build on
    * each side and the candidate equi-join crosses sides only, so cost
    * scales with |batch| + matching buckets, never corpus². At 100 TB the
    * corpus' banded relation is the precomputed LSH index (write it once,
    * bucket-partitioned by (band, bh)); each ingest batch re-derives only
    * its own signatures. Precondition: ids are disjoint across sides
    * (both relations share one id space).
    */
  def minhashLshPairsAgainst(newDocs: DataFrame, corpus: DataFrame,
                             idCol: String, textCol: String,
                             n: Int, numPerm: Int, bands: Int,
                             threshold: Double): DataFrame = {
    require(numPerm % bands == 0, "numPerm must be a multiple of bands")
    val shNew = shingleHashTable(newDocs, idCol, textCol, n)
    val shOld = shingleHashTable(corpus, idCol, textCol, n)
    def banded(sh: DataFrame): DataFrame = sh.groupBy("doc_id")
      .agg(org.apache.spark.sql.graft.MinHashAggFunctions
        .minhashBandKeys(col("h"), numPerm, bands).as("bk"))
      .select(col("doc_id"), posexplode(col("bk")).as(Seq("band", "bh")))
    val candidates = banded(shNew).as("a")
      .join(banded(shOld).as("b"),
        col("a.band") === col("b.band") && col("a.bh") === col("b.bh") &&
          col("a.doc_id") =!= col("b.doc_id"))
      .select(col("a.doc_id").as("doc_a"), col("b.doc_id").as("doc_b"))
      .distinct()
    // verification runs over the union of both shingle relations so one
    // sizes relation serves both sides of every candidate
    val sh = shNew.unionByName(shOld)
    val sizes = sh.groupBy("doc_id").agg(count(lit(1)).as("sz"))
    val inter = candidates
      .join(sh.as("sa"), col("doc_a") === col("sa.doc_id"))
      .join(sh.as("sb"),
        col("doc_b") === col("sb.doc_id") && col("sa.h") === col("sb.h"))
      .groupBy("doc_a", "doc_b").agg(count(lit(1)).as("inter"))
    withJaccard(inter, sizes, threshold)
  }

  /** Incremental maintenance of the MATERIALIZED LSH index — the text
    * twin of [[graft.operators.Ann.ivfIndexUpsert]]: apply a document
    * snapshot diff to the standing banded-key relation and verified pair
    * relation, instead of re-pairing the corpus against itself.
    *
    *   - stale ids (changed ∪ removed) drop their banded keys and every
    *     pair touching them;
    *   - changed docs (inserts + new text of updates) re-shingle, re-band
    *     and candidate-join against the MAINTAINED index (kept keys ∪
    *     fresh keys — one equi-join on (band, bh), so changed↔unchanged
    *     and changed↔changed candidates fall out of the same join);
    *   - exact Jaccard verification re-shingles ONLY candidate
    *     endpoints, never the corpus.
    *
    * Because unchanged documents keep byte-identical texts (hence
    * identical band keys and pairwise Jaccards), the output pair
    * relation is row-identical to a full [[minhashLshPairs]] rebuild of
    * the new corpus — which is exactly what the oracle recomputes.
    *
    * Scale shape: every stage is delta- or candidate-sized except two
    * anti-joins against the small stale set (broadcast); the corpus-
    * sized banded index streams through un-shuffled (bucketed on
    * (band, bh) it co-locates with the candidate join too).
    *
    * EXECUTION SEMANTICS: with `eagerCheckpoint = true` (the default,
    * and what the benched entries price) this method RUNS SPARK JOBS AT
    * CALL TIME — the delta-sized intermediates are eagerly
    * localCheckpointed, so the call is not a lazy plan-builder and an
    * `explain`/conditional caller triggers real work. localCheckpoint
    * blocks are NON-REPLICATED executor-local state: on a multi-executor
    * cluster an executor loss makes the truncated lineage unrecoverable
    * and fails the job (acceptable for an idempotent maintenance batch
    * that simply re-runs; not for a pipeline stage that must survive
    * preemption). Callers needing lazy composition or fault-tolerant
    * lineage pass `eagerCheckpoint = false` and apply their own
    * persistence discipline (e.g. `persist` + unpersist, or reliable
    * `checkpoint` to the cluster FS) — correctness is unaffected, only
    * re-execution shape.
    *
    * @param prevPairs  standing verified pairs (doc_a < doc_b, jaccard)
    * @param prevBanded standing banded keys (doc_id, band, bh)
    * @param currDocs   the NEW corpus snapshot
    * @param changedIds doc_id relation: inserts + updated docs
    * @param removedIds doc_id relation: docs absent from `currDocs`
    * @param eagerCheckpoint truncate lineage on the delta-sized
    *                   intermediates (eager jobs at call time; see above)
    * @return (maintained pairs, maintained banded keys, added pairs)
    */
  def upsertLshPairs(prevPairs: DataFrame, prevBanded: DataFrame,
                     currDocs: DataFrame, changedIds: DataFrame,
                     removedIds: DataFrame, idCol: String, textCol: String,
                     n: Int, numPerm: Int, bands: Int,
                     threshold: Double,
                     eagerCheckpoint: Boolean = true): (DataFrame, DataFrame, DataFrame) = {
    // Composed from the parts split (the Ann.ivfIndexUpsert pattern), so
    // every rebuild-equivalence oracle/spec on this form gates the parts
    // form the delta-cost publish consumes.
    val (stale, bandedChanged, added) = upsertLshPairsParts(prevPairs,
      prevBanded, currDocs, changedIds, removedIds, idCol, textCol,
      n, numPerm, bands, threshold, eagerCheckpoint)
    val keptBanded = prevBanded.join(stale, Seq("doc_id"), "left_anti")
    val keptPairs = prevPairs
      .join(stale.select(col("doc_id").as("doc_a")), Seq("doc_a"), "left_anti")
      .join(stale.select(col("doc_id").as("doc_b")), Seq("doc_b"), "left_anti")
      .select("doc_a", "doc_b", "jaccard")
    (keptPairs.unionByName(added), keptBanded.unionByName(bandedChanged), added)
  }

  /** [[upsertLshPairs]] split at its carry-over boundary — the DELTA
    * pieces the partition-location-swap publish consumes: `(stale ids,
    * fresh banded keys of the changed docs, verified added pairs)`. The
    * caller derives each standing table's affected partitions and their
    * new content from these (stale/added endpoints bound the affected
    * sets) instead of re-unioning the corpus-sized carry-over just to
    * rewrite it. The union form above is parts-composed, so its
    * rebuild-equality oracle gates this split too.
    */
  def upsertLshPairsParts(prevPairs: DataFrame, prevBanded: DataFrame,
                          currDocs: DataFrame, changedIds: DataFrame,
                          removedIds: DataFrame, idCol: String,
                          textCol: String, n: Int, numPerm: Int, bands: Int,
                          threshold: Double,
                          eagerCheckpoint: Boolean = true,
                          t: graft.PhaseTimer = graft.NoTimer)
      : (DataFrame, DataFrame, DataFrame) = {
    require(numPerm % bands == 0, "numPerm must be a multiple of bands")
    // Eager localCheckpoints TRUNCATE LINEAGE on the delta-sized
    // relations (the Clustering discipline): the caller typically
    // derives changed/removed from a corpus-sized snapshot diff and then
    // WRITES the returned relations as separate jobs — without the
    // cuts, `stale` re-runs that diff in three anti-joins and the
    // minhash banding of the changed docs (128 perms x shingles, the
    // CPU-heavy stage) re-executes in every subplan that references
    // `bandedChanged` or `cand`. All are delta/candidate-sized by
    // the operator's contract, so the cached blocks stay small at any
    // corpus scale.
    // With eagerCheckpoint the cuts RUN at call time, so wrapping each
    // in a phase label gives the probe the true stage attribution
    // (banding vs candidate join vs exact verify) of the SAME code the
    // entries ship.
    def cut(label: String)(df: DataFrame): DataFrame =
      if (eagerCheckpoint) t(label)(df.localCheckpoint(true)) else df
    val stale = cut("stale_cut")(changedIds.select(col("doc_id"))
      .unionByName(removedIds.select(col("doc_id"))).distinct())
    val keptBanded = prevBanded.join(broadcast(stale), Seq("doc_id"), "left_anti")
    val changedDocs = currDocs.join(
      changedIds.select(col("doc_id").as(idCol)), Seq(idCol), "left_semi")
    val bandedChanged = cut("band_changed")(
      bandedKeys(shingleHashTable(changedDocs, idCol, textCol, n), numPerm, bands))
    val newBanded = keptBanded.unionByName(bandedChanged)
    // BROADCAST the delta side of the candidate join: bandedChanged is
    // |changed docs| × bands rows (delta-sized by this operator's
    // contract — an ingest batch, never the corpus), while newBanded is
    // corpus-sized. The explicit hint PINS what AQE already picks from
    // the checkpointed relation's exact stats (at 100 TB plan-time
    // stats can mislead; a fallback to sort-merge would shuffle+sort
    // the corpus side): the standing banded relation streams through
    // ONE column-pruned scan, no exchange. sf100 attribution
    // (BENCH_SF100_SWAP_r14.json): this scan IS the dedup delta
    // compute's dominant term (~17.6 s of 24.6 s) — the honest floor
    // for file-based storage, since the delta's ~|delta|·bands random
    // hash keys saturate any row-group pruning; embarrassingly
    // parallel at cluster scale, one corpus scan per maintenance batch.
    val cand = cut("candidate_join")(
      broadcast(bandedChanged).as("a").join(newBanded.as("b"),
        col("a.band") === col("b.band") && col("a.bh") === col("b.bh") &&
          col("a.doc_id") =!= col("b.doc_id"))
      .select(least(col("a.doc_id"), col("b.doc_id")).as("doc_a"),
        greatest(col("a.doc_id"), col("b.doc_id")).as("doc_b"))
      .distinct())
    val endpoints = cand.select(col("doc_a").as(idCol))
      .unionByName(cand.select(col("doc_b").as(idCol))).distinct()
    // shVer feeds three subplans (sizes + both sides of the
    // intersection self-join); it is candidate-endpoint-sized, so the
    // cut trades a bounded cache for two re-shingling passes.
    val shVer = cut("verify_shingle")(shingleHashTable(
      currDocs.join(endpoints, Seq(idCol), "left_semi"), idCol, textCol, n))
    val sizes = shVer.groupBy("doc_id").agg(count(lit(1)).as("sz"))
    val inter = cand
      .join(shVer.as("sa"), col("doc_a") === col("sa.doc_id"))
      .join(shVer.as("sb"),
        col("doc_b") === col("sb.doc_id") && col("sa.h") === col("sb.h"))
      .groupBy("doc_a", "doc_b").agg(count(lit(1)).as("inter"))
    // added feeds the delta content, the affected-partition set and the
    // re-close seeds — cut so the verify join runs once
    val added = cut("verify_jaccard")(withJaccard(inter, sizes, threshold))
    (stale, bandedChanged, added)
  }

  /** Benchmark decontamination: for every candidate doc, the number of its
    * distinct n-gram shingles that appear anywhere in the benchmark set,
    * and a flag at `minOverlap` — the standard overlap test run before
    * training on scraped data. One shingle pass per side, a semi-ish join
    * on the 8-byte shingle hash, one count per doc; benchmark shingles
    * dedupe corpus-wide first so the join never multiplies per benchmark
    * doc.
    */
  def contamination(docs: DataFrame, benchmark: DataFrame, idCol: String,
                    textCol: String, n: Int, minOverlap: Int): DataFrame = {
    val docSh = shingleHashTable(docs, idCol, textCol, n)
    val benchSh = shingleHashTable(benchmark, idCol, textCol, n)
      .select(col("h")).distinct()
    val overlaps = docSh.join(benchSh, "h")
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n_shared"))
    // TOTAL over the candidate docs: zero-overlap docs must appear with
    // n_shared=0 so filter(!contaminated) selects the whole clean set,
    // not just the docs that happened to overlap a little.
    docs.select(col(idCol).as("doc_id")).distinct()
      .join(overlaps, Seq("doc_id"), "left")
      .select(col("doc_id"),
        coalesce(col("n_shared"), lit(0L)).as("n_shared"))
      .withColumn("contaminated", (col("n_shared") >= minOverlap))
  }

  /** [[contamination]] with a broadcast Bloom prefilter on the corpus
    * side: the benchmark's distinct shingle hashes build one Bloom filter
    * (driver-held, O(bits) not O(rows) — the sketch analogue of a
    * broadcast join), and only corpus shingles the filter admits enter
    * the shuffle for the exact semi-join. False positives are removed by
    * that exact join, so the output is IDENTICAL to [[contamination]] —
    * same oracle — while the shuffled corpus volume drops to
    * ~hits + fpp·misses. This is the shape that matters at 100 TB: the
    * corpus-side shingle shuffle is the dominant cost and benchmark sets
    * are tiny, so nearly the whole corpus side short-circuits map-side.
    *
    * The benchmark count + filter build are two metadata-scale driver
    * steps over the SMALL side only (like AQE stats or GlobalIds'
    * min/max); the corpus side stays fully distributed. The membership
    * probe is Spark's own codegen'd [[BloomFilterMightContain]] over the
    * serialized filter literal — the exact expression injected runtime
    * row-level filters use, so the probe stays inside whole-stage
    * codegen (no UDF boundary on the hot corpus scan).
    */
  def contaminationBloom(docs: DataFrame, benchmark: DataFrame, idCol: String,
                         textCol: String, n: Int, minOverlap: Int,
                         fpp: Double = 0.01): DataFrame = {
    val docSh = shingleHashTable(docs, idCol, textCol, n)
    val benchSh = shingleHashTable(benchmark, idCol, textCol, n)
      .select(col("h")).distinct()
    val expected = math.max(benchSh.count(), 1L)
    val bf = benchSh.stat.bloomFilter("h", expected, fpp)
    val bfBytes = {
      val bos = new java.io.ByteArrayOutputStream()
      bf.writeTo(bos)
      bos.toByteArray
    }
    val mightContain =
      org.apache.spark.sql.graft.GraftExpressions.bloomMightContain(bfBytes, col("h"))
    val overlaps = docSh.filter(mightContain)
      .join(benchSh, "h")
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n_shared"))
    docs.select(col(idCol).as("doc_id")).distinct()
      .join(overlaps, Seq("doc_id"), "left")
      .select(col("doc_id"),
        coalesce(col("n_shared"), lit(0L)).as("n_shared"))
      .withColumn("contaminated", (col("n_shared") >= minOverlap))
  }

  // ------------------------------------------------------------- SimHash

  /** 64-bit SimHash fingerprints: per-token xxhash64, term-frequency
    * weighted bit votes, sign of each vote becomes the bit. A TF-weighted
    * vote is identical to summing ±1 per token OCCURRENCE, so no (doc,
    * token) pre-aggregation is needed — one explode feeding one wide
    * per-doc aggregate (64 longs of map-side state per doc), a single
    * shuffle independent of corpus width.
    */
  def simhash(docs: DataFrame, idCol: String, textCol: String): DataFrame = {
    val toks = docs
      .select(col(idCol).as("doc_id"), explode(split(col(textCol), " ")).as("tok"))
      .select(col("doc_id"), xxhash64(col("tok")).as("h"))
    // One typed aggregate (SimHashAgg) folds the 64 bit votes into the
    // fingerprint long directly — the 64-sum-column declarative form is
    // semantically identical (spec-verified) but pays per-column
    // planning/codegen costs through every downstream stage.
    toks.groupBy("doc_id").agg(
      org.apache.spark.sql.graft.SimHashAggFunctions.simhashFp(col("h"))
        .as("simhash"))
  }

  /** Hamming distance between two 64-bit fingerprints. */
  def hamming(a: Column, b: Column): Column = bit_count(a.bitwiseXOR(b))

  /** `array<struct<band,bv>>` of a 64-bit signature split into `bands`
    * contiguous bit bands (the trailing band absorbs remainder bits when
    * 64 isn't divisible). Shared blocking primitive of the SimHash and
    * SRP pair generators — explode it and equi-join on (band, bv).
    */
  private[operators] def bitBandStructs(sig: Column, bands: Int,
                                        bandOffset: Int = 0): Column = {
    require(bands > 0 && bands <= 64, "bands must be in [1, 64]")
    val width = 64 / bands
    array((0 until bands).map { b =>
      val lo = b * width
      val hi = if (b == bands - 1) 64 else lo + width
      val mask = if (hi - lo == 64) -1L else (1L << (hi - lo)) - 1L
      struct(lit(bandOffset + b).as("band"),
        shiftright(sig, lo).bitwiseAND(lit(mask)).as("bv"))
    }: _*)
  }

  /** SimHash near-dup pairs with hamming distance <= maxHamming, found by
    * bit-band blocking: the 64-bit fingerprint splits into `maxHamming+1`
    * equal bands, and by pigeonhole two fingerprints within the distance
    * bound agree EXACTLY on at least one band — so candidates come from an
    * equi-join on (band, band bits) and recall is 100% by construction,
    * with the exact hamming filter applied after. Same shuffle shape as
    * MinHash LSH banding: no O(n^2) stage, candidates scale with real
    * duplication.
    */
  def simhashPairs(docs: DataFrame, idCol: String, textCol: String,
                   maxHamming: Int): DataFrame = {
    require(maxHamming >= 0 && maxHamming < 8, "maxHamming must be in [0, 8)")
    val bands = maxHamming + 1
    val fp = simhash(docs, idCol, textCol)
    val banded = fp.select(col("doc_id"), col("simhash"),
        explode(bitBandStructs(col("simhash"), bands)).as("k"))
      .select(col("doc_id"), col("simhash"),
        col("k.band").as("band"), col("k.bv").as("bv"))
    banded.as("a")
      .join(banded.as("b"),
        col("a.band") === col("b.band") && col("a.bv") === col("b.bv") &&
          col("a.doc_id") < col("b.doc_id"))
      .select(col("a.doc_id").as("doc_a"), col("b.doc_id").as("doc_b"),
        hamming(col("a.simhash"), col("b.simhash")).cast("long").as("hamming"))
      .filter(col("hamming") <= maxHamming)
      .distinct()
  }

  /** Suffix→prefix overlap join — split-document detection: pairs where
    * doc A's TAIL equals doc B's HEAD (pagination splits, "continued on
    * next page" article halves, chunked uploads), which neither Jaccard
    * nor prefix-fuzzy matching targets. Candidates block on an exact
    * 16-char tail=head equi-join; the overlap then widens to the longest
    * verified level (16/32/64 chars). Only same-block pairs are ever
    * compared, and the block key is a 16-char exact match — collisions
    * between unrelated docs are rare by construction, no cap needed at
    * the 64-char verify cost.
    */
  def overlapStitchPairs(docs: DataFrame, idCol: String,
                         textCol: String): DataFrame = {
    val d = docs.filter(length(col(textCol)) >= 64)
    def tailN(n: Int) =
      expr(s"substring($textCol, length($textCol) - ${n - 1}, $n)")
    val heads = d.select(col(idCol).as("doc_b"),
      substring(col(textCol), 1, 16).as("h16"),
      substring(col(textCol), 1, 32).as("h32"),
      substring(col(textCol), 1, 64).as("h64"))
    val tails = d.select(col(idCol).as("doc_a"),
      tailN(16).as("t16"), tailN(32).as("t32"), tailN(64).as("t64"))
    tails.join(heads,
        col("t16") === col("h16") && col("doc_a") =!= col("doc_b"))
      .select(col("doc_a"), col("doc_b"),
        when(col("t64") === col("h64"), 64L)
          .when(col("t32") === col("h32"), 32L)
          .otherwise(16L).as("overlap_len"))
  }

  /** Blocked fuzzy-match join by edit distance: document pairs whose
    * text PREFIXES (first `prefixLen` chars) are within `maxDist`
    * Levenshtein — the entity-resolution / near-identical-head screen
    * (same article under two byline edits, mirrored pages with injected
    * dates) that token-set Jaccard misses because it ignores order.
    *
    * Candidate generation is equi-join blocking on the first `blockLen`
    * chars: only same-block pairs ever evaluate the O(prefixLen²) edit
    * distance, so cost is Σ_b |block_b|², never corpus². A `maxBlock`
    * guard drops degenerate blocks (a boilerplate prefix shared by
    * millions of docs) the same way the LSH paths cap buckets — capped
    * blocks are a recall loss the report makes explicit, not a silent
    * quadratic. Levenshtein is the textbook DP both engines implement
    * identically.
    */
  def fuzzyPrefixPairs(docs: DataFrame, idCol: String, textCol: String,
                       blockLen: Int, prefixLen: Int, maxDist: Int,
                       maxBlock: Int = 1000): DataFrame = {
    require(blockLen >= 1 && prefixLen >= blockLen, "need prefixLen >= blockLen >= 1")
    val keyed = docs.select(col(idCol).as("doc_id"),
      substring(col(textCol), 1, blockLen).as("blk"),
      substring(col(textCol), 1, prefixLen).as("pfx"))
    val small = keyed.groupBy("blk").agg(count(lit(1)).as("bn"))
      .filter(col("bn") <= maxBlock).select("blk")
    val blocked = keyed.join(small, "blk")
    blocked.as("a")
      .join(blocked.as("b"),
        col("a.blk") === col("b.blk") && col("a.doc_id") < col("b.doc_id"))
      .select(col("a.doc_id").as("doc_a"), col("b.doc_id").as("doc_b"),
        levenshtein(col("a.pfx"), col("b.pfx")).cast("long").as("edit_dist"))
      .filter(col("edit_dist") <= maxDist)
  }
}
