package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Embedding similarity search: exact cosine pairs, brute-force top-k
  * (the correctness baseline), and IVF coarse quantization (the scale
  * path: broadcast centroids, per-bucket search).
  *
  * Cosine is computed with codegen'd higher-order array expressions —
  * float elements widened to double, summed left-to-right, divided by each
  * norm in a fixed order — so any engine evaluating the same IEEE sequence
  * reproduces it exactly.
  */
object Ann {

  /** Sequential-sum dot product of two float-array columns in double
    * (composable higher-order form; interpreted — prefer [[cosine]] in hot
    * paths, which is a codegen'd native expression).
    */
  def dot(a: Column, b: Column): Column =
    aggregate(zip_with(a, b, (x, y) => x.cast("double") * y.cast("double")),
      lit(0.0), (acc, x) => acc + x)

  /** Cosine similarity via the native codegen'd expression; identical IEEE
    * evaluation order to the higher-order form (dot summed left-to-right,
    * then / sqrt(normA) / sqrt(normB)).
    */
  def cosine(a: Column, b: Column): Column =
    org.apache.spark.sql.graft.GraftExpressions.floatVecCosine(a, b)

  /** All vector pairs (id_a < id_b) with cosine >= threshold. Exhaustive —
    * the embedding near-dup correctness baseline. At scale, pre-bucket with
    * [[ivfAssign]] and join within buckets instead.
    */
  def cosinePairs(emb: DataFrame, idCol: String, vecCol: String,
                  threshold: Double): DataFrame = {
    val a = emb.select(col(idCol).as("id_a"), col(vecCol).as("va"))
    val b = emb.select(col(idCol).as("id_b"), col(vecCol).as("vb"))
    a.join(b, col("id_a") < col("id_b"))
      .withColumn("cosine", cosine(col("va"), col("vb")))
      .filter(col("cosine") >= threshold)
      .select(col("id_a"), col("id_b"), round(col("cosine"), 4).as("cosine"))
  }

  /** Brute-force cosine top-k: every query scored against every candidate,
    * ranked per query (cosine desc, candidate id asc). Queries are expected
    * to be a small DataFrame → broadcast side of the join.
    */
  def bruteForceTopK(queries: DataFrame, candidates: DataFrame,
                     idCol: String, vecCol: String, k: Int): DataFrame = {
    val q = queries.select(col(idCol).as("query_id"), col(vecCol).as("qv"))
    val c = candidates.select(col(idCol).as("neighbor_id"), col(vecCol).as("nv"))
    val scored = c.join(broadcast(q), col("query_id") =!= col("neighbor_id"))
      .withColumn("cos_raw", cosine(col("qv"), col("nv")))
    // TopKPerGroup (custom Catalyst operator): bounded per-partition heaps
    // with a partial stage before the shuffle — the window row_number form
    // would sort every candidate per query; identical rank semantics.
    org.apache.spark.sql.graft.TopKPerGroup(scored, Seq(col("query_id")),
        Seq(col("cos_raw").desc, col("neighbor_id")), k)
      .select(col("query_id"), col("neighbor_id"),
        col("rank").cast("long").as("rank"),
        round(col("cos_raw"), 4).as("cosine"))
  }

  /** Symmetric int8 quantization of an embedding column: each vector
    * scales by its own max-abs so values land in [-127, 127]. Long format
    * (vec_id, dim, q) — the storage-path transform that cuts a 100 TB
    * float32 embedding table 4x before ANN indexing; the per-vector scale
    * survives as max_abs for dequantization.
    */
  def quantizeInt8(emb: DataFrame, idCol: String, vecCol: String): DataFrame =
    emb.select(col(idCol).as("vec_id"), col(vecCol).as("v"))
      .withColumn("m", array_max(transform(col("v"), x => abs(x.cast("double")))))
      .filter(col("m") > 0)
      .select(col("vec_id"), col("m"), posexplode(col("v")).as(Seq("dim", "x")))
      .select(col("vec_id"), col("dim").cast("long").as("dim"),
        round(col("x").cast("double") * 127 / col("m")).cast("int").as("q"),
        round(col("m"), 6).as("max_abs"))

  /** Per-dimension mean/variance of the embedding table — the whitening /
    * feature-normalization statistics an embedding-training pipeline
    * computes before standardizing or PCA-ing a corpus. Sums run in exact
    * DECIMAL space so the answer is independent of partitioning (double
    * accumulation order would drift per run); the final mean/variance
    * derive from those exact sums in one double step, rounded.
    *
    * Plan: one posexplode (n·dim rows) into a single map-side-combined
    * groupBy of |dim| groups — no join, no window; the shuffle carries
    * |dim| partial rows per task regardless of corpus size.
    */
  def dimStats(emb: DataFrame, vecCol: String): DataFrame = {
    val sxd = col("sx").cast("double") / col("n")
    val sx2d = col("sx2").cast("double") / col("n")
    emb.select(posexplode(col(vecCol)).as(Seq("dim", "x")))
      .select(col("dim").cast("long").as("dim"), col("x").cast("double").as("xd"))
      .groupBy("dim")
      .agg(count(lit(1)).as("n"),
        sum(col("xd").cast("decimal(38,12)")).as("sx"),
        sum((col("xd") * col("xd")).cast("decimal(38,12)")).as("sx2"))
      .select(col("dim"), col("n"),
        // + 0.0 canonicalizes IEEE -0.0 → 0.0 (engines differ at round();
        // first bites at sf10, where a sign-flipped replica dim's mean
        // rounds to a negative zero in DuckDB)
        (round(sxd, 6) + lit(0.0)).as("mean"),
        (round(sx2d - sxd * sxd, 6) + lit(0.0)).as("variance"))
  }

  /** Per-dimension-PAIR covariance of the embedding corpus — the full
    * (upper-triangle) covariance matrix PCA / ZCA whitening consumes,
    * where [[dimStats]] only gives the diagonal. All d·(d-1)/2 product
    * sums fold in ONE pass through [[org.apache.spark.sql.graft
    * .PairProductSumAgg]] — a vector-valued TypedImperativeAggregate
    * whose buffer holds the pair cells as exact 128-bit split decimals,
    * so no d·(d-1)/2-row-per-input explode ever materializes (the prior
    * posexplode plan inflated the corpus 2016× at d=64 before the
    * map-side combine). Bit-compatible with summing the products in
    * DECIMAL(38,12) (order-independent, engine-exact — spec-proven
    * against the declarative plan); the (pidx → i,j) mapping and
    * per-dim mean sums are tiny broadcast relations on the AGGREGATED
    * side, never touching the corpus scan.
    */
  def dimCovariance(emb: DataFrame, vecCol: String, dims: Int): DataFrame = {
    require(dims >= 2, "dims must be >= 2")
    val spark = emb.sparkSession
    // PairProductSumAgg lays pidx out for width-`dims` vectors and skips
    // any other width — a stray short/long vector would otherwise
    // contribute to the wrong (i,j) cells. The upfront filter keeps the
    // row COUNT consistent with the skip.
    val vecs = emb.filter(size(col(vecCol)) === dims)
    val pairs = spark.range(dims).selectExpr("cast(id as int) as i")
      .crossJoin(spark.range(dims).selectExpr("cast(id as int) as j"))
      .filter(col("j") > col("i"))
      .withColumn("pidx",
        expr(s"i * (${2 * dims} - i - 1) div 2 + j - i - 1").cast("int"))
    val pairSums = vecs.agg(
        count(lit(1)).as("n"),
        org.apache.spark.sql.graft.PairProductSumFunctions
          .pairProductSums(col(vecCol), dims).as("sp_arr"))
      .select(col("n"), posexplode(col("sp_arr")).as(Seq("pidx", "sp")))
      // empty corpus: emit no rows (as the grouped form did), not 0/0
      .filter(col("n") > 0)
    val dimSums = vecs.select(posexplode(col(vecCol)).as(Seq("dim", "x")))
      .groupBy("dim")
      .agg(sum(col("x").cast("double").cast("decimal(38,12)")).as("sx"))
    pairSums.join(broadcast(pairs), "pidx")
      .join(broadcast(dimSums.select(col("dim").as("i"), col("sx").as("sxi"))), "i")
      .join(broadcast(dimSums.select(col("dim").as("j"), col("sx").as("sxj"))), "j")
      .select(col("i").cast("long").as("dim_i"), col("j").cast("long").as("dim_j"),
        col("n"),
        // + 0.0 canonicalizes IEEE -0.0 → 0.0 (engines differ at round())
        (round(col("sp").cast("double") / col("n") -
          (col("sxi").cast("double") / col("n")) *
          (col("sxj").cast("double") / col("n")), 6) + lit(0.0)).as("cov"))
  }

  /** Whitening APPLY: standardize each vector element against the corpus'
    * own [[dimStats]] — wx = (x - mean_d) / sqrt(var_d + eps) — the
    * feature-normalization step in front of cosine/PQ stages. The stats
    * relation is |dim| rows, broadcast into one corpus scan; output in
    * long (vec_id, dim, wx) format. Stats enter at their ROUNDED
    * 6-decimal values, so the transform is reproducible from the
    * published dimStats artifact alone (and engine-portable: sqrt is
    * correctly rounded, the eval order is fixed).
    */
  def standardize(emb: DataFrame, idCol: String, vecCol: String,
                  eps: Double = 1e-9): DataFrame = {
    val stats = dimStats(emb, vecCol).select(col("dim"), col("mean"),
      col("variance"))
    emb.select(col(idCol).as("vec_id"),
        posexplode(col(vecCol)).as(Seq("dim", "x")))
      .select(col("vec_id"), col("dim").cast("long").as("dim"),
        col("x").cast("double").as("xd"))
      .join(broadcast(stats), "dim")
      .select(col("vec_id"), col("dim"),
        round((col("xd") - col("mean")) / sqrt(col("variance") + eps), 6)
          .as("wx"))
  }

  /** IVF coarse quantization: assign each vector to its nearest centroid by
    * cosine (ties → smallest centroid id). Centroids broadcast; one scan of
    * the vectors, no shuffle except the ranking window on vec id.
    */
  def ivfAssign(emb: DataFrame, centroids: DataFrame,
                idCol: String, vecCol: String,
                centroidIdCol: String, centroidVecCol: String): DataFrame = {
    val v = emb.select(col(idCol).as("vec_id"), col(vecCol).as("v"))
    val cts = centroids.select(col(centroidIdCol).as("centroid_id"),
      col(centroidVecCol).as("cv"))
    v.join(broadcast(cts))
      .withColumn("cos_raw", cosine(col("v"), col("cv")))
      .withColumn("rn", row_number().over(
        Window.partitionBy("vec_id")
          .orderBy(col("cos_raw").desc, col("centroid_id"))))
      .filter(col("rn") === 1)
      .select(col("vec_id"), col("centroid_id"),
        round(col("cos_raw"), 4).as("cosine"))
  }

  /** Embedding near-dup pairs restricted to IVF buckets: candidates are
    * pairs assigned to the same centroid, so pair generation scales with
    * bucket size instead of corpus size (the exhaustive [[cosinePairs]] is
    * the recall oracle — bucketing trades recall at bucket borders for the
    * O(n^2) cut, exactly like LSH banding for text).
    */
  def bucketedCosinePairs(emb: DataFrame, assignments: DataFrame,
                          idCol: String, vecCol: String,
                          threshold: Double): DataFrame = {
    val withBucket = emb.select(col(idCol).as("vec_id"), col(vecCol).as("v"))
      .join(assignments.select("vec_id", "centroid_id"), "vec_id")
    val a = withBucket.select(col("vec_id").as("id_a"), col("v").as("va"),
      col("centroid_id"))
    val b = withBucket.select(col("vec_id").as("id_b"), col("v").as("vb"),
      col("centroid_id"))
    a.join(b, Seq("centroid_id"))
      .filter(col("id_a") < col("id_b"))
      .withColumn("cosine", cosine(col("va"), col("vb")))
      .filter(col("cosine") >= threshold)
      .select(col("id_a"), col("id_b"), round(col("cosine"), 4).as("cosine"))
  }

  /** SRP-LSH near-dup pairs: signed-random-projection signatures
    * ([[org.apache.spark.sql.graft.SrpFunctions.srpSign]]) bucketed by bit
    * bands, candidates exact-verified with the codegen'd cosine. A third
    * scale path beside IVF bucketing: no centroids to choose, recall
    * governed by band geometry. P[one signature bit agrees] = 1 - θ/π, so
    * a band of `64·words/bands` bits matches with that to the width-th
    * power. Pairs with signature hamming < bands are recalled with
    * certainty (pigeonhole); the rest probabilistically (spec-measured).
    *
    * Scale calculus (probe-measured at 100x, SURVEY §3): a random pair
    * collides on an r-bit band with probability ~2^-r, so candidate volume
    * is ~n²·bands·2^-r/2 — governed entirely by band WIDTH. Wide bands
    * (r ≥ 16, reachable only with `words` > 1 signatures) keep random
    * collisions negligible while near-identical vectors (cosine ≥ 0.95,
    * the dedup regime) still match whole bands; this is the SRP scale
    * configuration. Narrow bands (r = 4) are a correctness/recall tool for
    * LOOSE thresholds at modest n: 2^4 buckets per band makes candidates
    * quadratic regardless of data, so at scale a loose threshold belongs
    * to IVF bucketing ([[bucketedCosinePairs]]), whose bucket count grows
    * with k instead of being capped by signature bits.
    *
    * `maxBucket` > 0 drops (band, bucket) groups larger than the cap
    * before pair generation — the skew guard (degenerate directions, e.g.
    * all-zero or constant-sign regions, otherwise emit one quadratic
    * bucket). A pair loses only the capped band's vote; it is still found
    * through any uncapped band it shares. Same contract as the streaming
    * LSH frequency cap (StreamingDedup).
    */
  def srpPairs(emb: DataFrame, idCol: String, vecCol: String,
               threshold: Double, bands: Int = 8, words: Int = 1,
               maxBucket: Int = 0): DataFrame = {
    require(words > 0 && bands > 0 && bands % words == 0,
      "bands must be a positive multiple of words")
    require(64 % (bands / words) == 0, "per-word band count must divide 64")
    val bandsPerWord = bands / words
    // signatures derive from the CALLER'S vector column, not the "v"
    // alias — an input that happens to own a column named "v" must not
    // shadow it
    val sigCols = (0 until words).map(w =>
      org.apache.spark.sql.graft.SrpFunctions.srpSign(col(vecCol), 42L + w)
        .as(s"sig_$w"))
    val sig = emb.select(Seq(col(idCol).as("vec_id"), col(vecCol).as("v")) ++
      sigCols: _*)
    val allBands = concat((0 until words).map(w =>
      TextDedup.bitBandStructs(col(s"sig_$w"), bandsPerWord,
        bandOffset = w * bandsPerWord)): _*)
    val banded0 = sig.select(col("vec_id"), col("v"),
        explode(allBands).as("k"))
      .select(col("vec_id"), col("v"),
        col("k.band").as("band"), col("k.bv").as("bv"))
    // The cap's window count shuffles on (band, bv) — the same key the
    // candidate self-join hashes on, so the exchange is reused, not added.
    val banded =
      if (maxBucket <= 0) banded0
      else banded0.withColumn("bucket_n",
          count(lit(1)).over(Window.partitionBy("band", "bv")))
        .filter(col("bucket_n") <= maxBucket)
        .drop("bucket_n")
    banded.as("a")
      .join(banded.as("b"),
        col("a.band") === col("b.band") && col("a.bv") === col("b.bv") &&
          col("a.vec_id") < col("b.vec_id"))
      .select(col("a.vec_id").as("id_a"), col("b.vec_id").as("id_b"),
        cosine(col("a.v"), col("b.v")).as("cos_raw"))
      .filter(col("cos_raw") >= threshold)
      .select(col("id_a"), col("id_b"), round(col("cos_raw"), 4).as("cosine"))
      .distinct()
  }

  /** Embedding-space benchmark decontamination: corpus vectors with
    * cosine ≥ threshold to ANY benchmark vector, with hit count and the
    * strongest match (the semantic sibling of the shingle-overlap
    * [[TextDedup.decontaminate]] — catches paraphrased/translated
    * benchmark leakage exact n-grams miss). The benchmark side is tiny
    * by nature (eval sets), so it BROADCASTS and the corpus scans once —
    * no shuffle of the big side, no bucketing recall loss, and the
    * exhaustive SQL is a true oracle. corpus·|bench| cosines is the
    * honest cost; for benchmark sets too big to broadcast, pre-restrict
    * candidates with [[ivfAssign]] buckets on both sides first.
    */
  def decontaminateEmbedding(corpus: DataFrame, bench: DataFrame,
                             idCol: String, vecCol: String,
                             threshold: Double): DataFrame = {
    val c = corpus.select(col(idCol).as("vec_id"), col(vecCol).as("v"))
    val b = bench.select(col(vecCol).as("bv"))
    c.join(broadcast(b), cosine(col("v"), col("bv")) >= threshold)
      .groupBy("vec_id")
      .agg(count(lit(1)).as("n_hits"),
        round(max(cosine(col("v"), col("bv"))), 4).as("max_cosine"))
  }

  /** Deterministic kmeans‖-style seeded centroid init (Bahmani et al.,
    * VLDB'12 sampling shape): `rounds` passes each sample points with
    * probability ∝ their cosine distance from the current center set
    * (oversampling l = oversample·k), with every random draw replaced by
    * an xxhash64(vec_id, seed, round) uniform — same (data, k, seed) ⇒
    * same centroids on any partitioning (costs sum over decimal). Each
    * round is one broadcast-scored scan; candidates stay in a DataFrame
    * end-to-end (each round hash-capped at l rows, so the relation is
    * O(k) by construction) and only the k FINAL picks ever reach the
    * driver (O(k·dim) payload). The reduction to k centers —
    * deterministic weighted farthest-first (greedy kmeans++ without RNG,
    * ties → min id), batched — runs DISTRIBUTED, with pick/membership
    * set operations as broadcast anti-joins (never k-sized IN-list
    * literals). Output re-labelled 0..k-1 in candidate-id order.
    */
  def initCentroids(emb: DataFrame, idCol: String, vecCol: String, k: Int,
                    seed: Long, rounds: Int = 2,
                    oversample: Double = 2.0): DataFrame = {
    require(k > 0 && rounds >= 1, "k and rounds must be positive")
    val spark = emb.sparkSession
    import spark.implicits._
    val v = emb.select(col(idCol).as("vec_id"), col(vecCol).as("v"))

    def uniform(round: Int): Column =
      pmod(xxhash64(col("vec_id"), lit(seed), lit(round)), lit(1000000000L))
        .cast("double") / 1e9

    // The result is a driver-built relation, so every cut taken here is
    // dead on return and released there — not per pass: a lazy cut
    // still reads its predecessor's blocks until its own first action.
    val cuts = scala.collection.mutable.ArrayBuffer.empty[Scans.Cut]
    def held(c: Scans.Cut): DataFrame = { cuts += c; c.df }
    // round 0: the hash-minimal vector seeds the center set. Candidates
    // live in a cut DataFrame throughout — the driver never holds
    // candidate VECTORS beyond the final k picks, so resident memory
    // stays O(k·dim) however rounds·oversample scale, and every
    // membership test is a broadcast (anti-)join, never a k-sized IN-list
    // literal (whose expression tree alone costs O(k) analysis time).
    // r15: every candidate checkpoint also observes its row count, so the
    // post-loop `nCand` read is a driver-side scalar instead of one more
    // count job over the relation.
    def ckCounted(df: DataFrame): (DataFrame, Long) = {
      val o = org.apache.spark.sql.Observation()
      val ck = held(Scans.cut(df.observe(o, count(lit(1)).as("n")),
        "kmeans_candidates"))
      (ck, Scans.observed(o, "initCentroids candidate count")("n")
        .asInstanceOf[Long])
    }
    var (candDf, nCandCur) = ckCounted(
      v.orderBy(xxhash64(col("vec_id"), lit(seed)), col("vec_id"))
        .limit(1)
        .select(col("vec_id").as("cand_id"), col("v").as("cv")))

    val l = oversample * k
    val lCap = math.max(1, math.ceil(l).toInt)
    var exhausted = false
    for (r <- 1 to rounds if !exhausted) {
      val cents = candDf.select(col("cand_id").as("centroid_id"), col("cv"))
      // r15: ONE assign pass per round. The scored relation feeds both
      // the round's total cost and its distance-proportional sample; the
      // former separate `agg(sum).head()` action re-ran the whole
      // assign-to-nearest-candidate pass (the round's CPU) just to read
      // one scalar. Checkpoint `scored` once and read the cost from an
      // Observation on the same job; the sample then reads cached
      // blocks. The checkpoint is (vec_id, d) — 16 bytes/row — and is
      // released as soon as the round's candidate set is materialized.
      val costObs = org.apache.spark.sql.Observation()
      val scored = Scans.cut(
        ivfAssign(v, cents, "vec_id", "v", "centroid_id", "cv")
          .select(col("vec_id"), greatest(lit(0.0), lit(1.0) - col("cosine")).as("d"))
          .observe(costObs,
            sum(col("d").cast(org.apache.spark.sql.types.DecimalType(38, 12)))
              .cast("double").as("cost")),
        "kmeans_scored")
      // a null sum (empty corpus) reads as exhausted — the padding below
      // covers it (the former head().getDouble raised on that input)
      val cost =
        Scans.observed(costObs, "initCentroids round cost")("cost") match {
          case d: java.lang.Double => d.doubleValue()
          case _ => 0.0
        }
      if (cost <= 0) exhausted = true // every point already at a center
      else {
        // distance-proportional sample, hard-capped at l rows per round
        // (hash-ordered TakeOrdered) so candidate growth is bounded by
        // design, not by sampling luck
        val sampled = v.join(scored.df, "vec_id")
          .filter(uniform(r) < least(lit(1.0), lit(l) * col("d") / lit(cost)))
          .orderBy(xxhash64(col("vec_id"), lit(seed + 2), lit(r)), col("vec_id"))
          .limit(lCap)
          .select(col("vec_id").as("cand_id"), col("v").as("cv"))
        // re-sampling an existing center is impossible (its d is 0), but
        // dedup anyway: the relation is O(k) rows, the safety is free
        val (ck, n) = ckCounted(candDf.unionByName(sampled)
          .dropDuplicates("cand_id"))
        candDf = ck
        nCandCur = n
      }
      scored.release()
    }
    // pad deterministically if sampling came up short of k
    val nCand = nCandCur
    if (nCand < k) {
      val extra = v
        .join(broadcast(candDf.select(col("cand_id").as("vec_id"))),
          Seq("vec_id"), "left_anti")
        .orderBy(xxhash64(col("vec_id"), lit(seed + 1)), col("vec_id"))
        .limit(k - nCand.toInt)
        .select(col("vec_id").as("cand_id"), col("v").as("cv"))
      candDf = held(Scans.cut(candDf.unionByName(extra), "kmeans_padded",
        eager = false))
    }
    val nCandTotal = math.max(nCand, k.toLong)

    // weight candidates by their attracted point counts (one assign pass)
    val weights = ivfAssign(v,
        candDf.select(col("cand_id").as("centroid_id"), col("cv")),
        "vec_id", "v", "centroid_id", "cv")
      .groupBy("centroid_id").agg(count(lit(1)).as("w"))

    // Weighted farthest-first down to k, in batched picks: each pass
    // updates every candidate's running min-distance-to-chosen against
    // only the NEWLY chosen centers, then takes the next ⌈k/passes⌉
    // candidates by (weight·minDist desc, id asc). Within a batch picks
    // don't see each other — the scalable-kmeans‖ batching approximation;
    // candidates arrive pre-spread by the distance-proportional sampling
    // above, so quality tracks the serial greedy. Two same-semantics
    // forms: small candidate sets reduce ON THE DRIVER (zero Spark jobs —
    // the distributed loop's per-pass job overhead dominates tiny
    // relations), production-scale sets (k ≈ √n ⇒ candidates ≈
    // rounds·oversample·k) reduce on executors with driver work O(k·dim).
    val candWeighted = candDf
      .join(weights.select(col("centroid_id").as("cand_id"), col("w")),
        Seq("cand_id"), "left")
      .select(col("cand_id").as("cid"), col("cv"),
        coalesce(col("w"), lit(0L)).as("w"))
    val passes = math.min(16, k)
    val batchSize = math.max(1, (k + passes - 1) / passes)
    val chosen =
      if (nCandTotal * k <= InitCentroidsLocalReduceMaxWork)
        // collected whole in one job — a checkpoint first would just be
        // an extra materialization
        reduceLocal(candWeighted, k, passes, batchSize)
      else
        // iterated over by the pass loop — cut lineage once up front
        reduceDistributed(held(Scans.cut(candWeighted, "kmeans_weighted",
          eager = false)), k, passes, batchSize)
    cuts.foreach(_.release())
    chosen.sortBy(_._1).zipWithIndex
      .map { case ((_, vec), i) => (i.toLong, vec) }.toSeq
      .toDF("centroid_id", "cv")
  }

  /** Work ceiling (candidates × k ≈ total distance evaluations) for the
    * driver-local farthest-first reduction: below it the candidate
    * relation is a few MB, the whole reduction is ≤ ~2M cosines
    * (sub-second serial), and the distributed loop's ~4 Spark jobs ×
    * min(16,k) passes are pure scheduling overhead (measured 2.3× on
    * ann_ivf_refined_assign at sf0.1); above it — the production k ≈ √n
    * regime — the reduction runs on executors. Both paths implement
    * IDENTICAL batched-pick semantics, and [[cosineLocal]] replicates
    * FloatVecCosine's IEEE evaluation order, so the chosen set is the
    * same wherever the threshold lands (spec-asserted).
    */
  private val InitCentroidsLocalReduceMaxWork = 2000000L

  /** FloatVecCosine's exact arithmetic (elementwise double products
    * summed left-to-right, dot / sqrt(na) / sqrt(nb)) on the driver —
    * JVM double ops are deterministic, so this is bit-identical to the
    * codegen'd executor expression.
    */
  private[graft] def cosineLocal(x: Array[Float], y: Array[Float]): Double = {
    val n = math.min(x.length, y.length)
    var dot = 0.0
    var i = 0
    while (i < n) { dot += x(i).toDouble * y(i).toDouble; i += 1 }
    var na = 0.0
    i = 0
    while (i < x.length) { val v = x(i).toDouble; na += v * v; i += 1 }
    var nb = 0.0
    i = 0
    while (i < y.length) { val v = y(i).toDouble; nb += v * v; i += 1 }
    dot / math.sqrt(na) / math.sqrt(nb)
  }

  /** Weighted farthest-first down to k, batched — driver-local form for
    * small candidate sets (≤ [[InitCentroidsLocalReduceMax]] rows, a few
    * MB). Seed = (max weight, min id); each pass updates every remaining
    * candidate's min-distance against only the NEWLY chosen batch, then
    * takes the next ⌈k/passes⌉ by (weight·minDist desc, id asc); within a
    * batch picks don't see each other — semantics identical to
    * [[reduceDistributed]], job count zero.
    */
  private[operators] def reduceLocal(candWeighted: DataFrame, k: Int, passes: Int,
                          batchSize: Int): Seq[(Long, Array[Float])] = {
    val spark = candWeighted.sparkSession
    import spark.implicits._
    val all = candWeighted.select(col("cid"), col("cv"), col("w"))
      .as[(Long, Array[Float], Long)]
      .collect()
    val seed = all.minBy { case (cid, _, w) => (-w, cid) }
    val chosen = scala.collection.mutable.ArrayBuffer[(Long, Array[Float])](
      (seed._1, seed._2))
    var remaining = all.filter(_._1 != seed._1)
      .map { case (cid, cv, w) => (cid, cv, w, Double.MaxValue) }
    var newPicks: Seq[(Long, Array[Float])] = chosen.toSeq
    while (chosen.size < k && newPicks.nonEmpty) {
      remaining = remaining.map { case (cid, cv, w, d) =>
        var nd = d
        newPicks.foreach { case (_, bv) =>
          val cand = 1.0 - cosineLocal(cv, bv)
          if (cand < nd) nd = cand
        }
        (cid, cv, w, nd)
      }
      val take = math.min(batchSize, k - chosen.size)
      newPicks = remaining
        .sortBy { case (cid, _, w, d) => (-(w.toDouble * d), cid) }
        .take(take)
        .map { case (cid, cv, _, _) => (cid, cv) }.toSeq
      chosen ++= newPicks
      val picked = newPicks.map(_._1).toSet
      remaining = remaining.filterNot { case (cid, _, _, _) => picked(cid) }
    }
    chosen.toSeq
  }

  /** The same batched weighted farthest-first over a candidate DataFrame —
    * the production-scale path (candidates ≈ rounds·oversample·k rows at
    * k ≈ √n): min-distance updates and TakeOrdered picks run on
    * executors; the driver only collects the ≤ k picks (O(k·dim)).
    */
  private[operators] def reduceDistributed(candWeighted: DataFrame, k: Int, passes: Int,
                                batchSize: Int): Seq[(Long, Array[Float])] = {
    val spark = candWeighted.sparkSession
    import spark.implicits._
    val seedRow = candWeighted.orderBy(col("w").desc, col("cid")).limit(1)
      .as[(Long, Array[Float], Long)].head()
    val chosen = scala.collection.mutable.ArrayBuffer[(Long, Array[Float])](
      (seedRow._1, seedRow._2))
    var cand = candWeighted.filter(col("cid") =!= seedRow._1)
      .withColumn("min_d", lit(Double.MaxValue))
    var newPicks: Seq[(Long, Array[Float])] = chosen.toSeq
    // the picks are collected, so every pass's cut is dead on return
    val cuts = scala.collection.mutable.ArrayBuffer.empty[Scans.Cut]
    while (chosen.size < k && newPicks.nonEmpty) {
      val batch = newPicks.toDF("bid", "bv")
      val upd = cand.select(col("cid"), col("cv")).join(broadcast(batch))
        .groupBy("cid")
        .agg(min(lit(1.0) - cosine(col("cv"), col("bv"))).as("nd"))
      // lazy cut: the relation is O(candidates) rows — cutting lineage
      // each pass keeps the plan from re-deriving every earlier pass's
      // join chain, and the pick below is the action that fills it
      cuts += Scans.cut(cand.join(upd, "cid")
        .withColumn("min_d", least(col("min_d"), col("nd")))
        .drop("nd"), "kmeans_reduce_pass", eager = false)
      cand = cuts.last.df
      val take = math.min(batchSize, k - chosen.size)
      newPicks = cand
        .orderBy((col("w").cast("double") * col("min_d")).desc, col("cid"))
        .limit(take)
        .select(col("cid"), col("cv")).as[(Long, Array[Float])].collect().toSeq
      chosen ++= newPicks
      if (newPicks.nonEmpty) {
        val pickedIds = newPicks.map(_._1).toDF("cid")
        cand = cand.join(broadcast(pickedIds), Seq("cid"), "left_anti")
      }
    }
    cuts.foreach(_.release())
    chosen.toSeq
  }

  /** Deterministic Lloyd refinement of IVF centroids: a fixed number of
    * assign→mean iterations. Means use decimal sums (partition-order
    * independent) and dimensions reassemble via sorted structs (no
    * collect_list order dependence), so the refined centroids are
    * bit-reproducible. Centroids stay tiny → every iteration is one
    * broadcast-join scan of the vectors plus a (centroid, dim) aggregate.
    */
  def kmeansRefine(emb: DataFrame, initCentroids: DataFrame,
                   idCol: String, vecCol: String,
                   centroidIdCol: String, centroidVecCol: String,
                   iters: Int): DataFrame = {
    require(iters >= 0, "iters must be >= 0")
    var cents = initCentroids.select(col(centroidIdCol).as("centroid_id"),
      col(centroidVecCol).as("cv"))
    for (_ <- 0 until iters) {
      val assign = ivfAssign(emb, cents, idCol, vecCol, "centroid_id", "cv")
        .select("vec_id", "centroid_id")
      val members = emb.select(col(idCol).as("vec_id"), col(vecCol).as("v"))
        .join(assign, "vec_id")
      val dimMeans = members
        .select(col("centroid_id"), posexplode(col("v")).as(Seq("dim", "x")))
        .groupBy("centroid_id", "dim")
        .agg((sum(col("x").cast(org.apache.spark.sql.types.DecimalType(38, 12)))
          .cast("double") / count(lit(1))).as("mean"))
      cents = dimMeans
        .groupBy("centroid_id")
        .agg(array_sort(collect_list(struct(col("dim"), col("mean")))).as("dm"))
        .select(col("centroid_id"),
          transform(col("dm"), s => s.getField("mean").cast("float")).as("cv"))
    }
    cents
  }

  /** IVF-restricted top-k: each query searches only vectors assigned to its
    * own centroid bucket. `assignments` is (vec_id, centroid_id) from
    * [[ivfAssign]]. The candidate join shuffles on centroid_id — buckets
    * are co-located, so per-bucket search scales with bucket size, not
    * corpus size.
    */
  def ivfTopK(emb: DataFrame, assignments: DataFrame, queryIds: DataFrame,
              idCol: String, vecCol: String, k: Int): DataFrame = {
    val assigned = emb.select(col(idCol).as("vec_id"), col(vecCol).as("v"))
      .join(assignments.select("vec_id", "centroid_id"), "vec_id")
    ivfTopKIndexed(assigned, queryIds, idCol, k)
  }

  /** [[ivfTopK]] over a pre-materialized index relation
    * (vec_id, v, centroid_id) — the 100 TB shape: the index is written
    * ONCE (bucketed by centroid_id, [[graft.sources.ParquetSink
    * .writeBucketedSnapshot]]) and every query batch probes it without
    * re-deriving assignments; with the bucketed layout the bucket join
    * needs no shuffle on the index side.
    */
  def ivfTopKIndexed(assigned: DataFrame, queryIds: DataFrame,
                     idCol: String, k: Int): DataFrame = {
    val q = assigned.join(broadcast(queryIds.select(col(idCol).as("vec_id"))), "vec_id")
      .select(col("vec_id").as("query_id"), col("v").as("qv"), col("centroid_id"))
    val scored = assigned
      .select(col("vec_id").as("neighbor_id"), col("v").as("nv"), col("centroid_id"))
      .join(q, "centroid_id")
      .filter(col("query_id") =!= col("neighbor_id"))
      .withColumn("cos_raw", cosine(col("qv"), col("nv")))
    org.apache.spark.sql.graft.TopKPerGroup(scored, Seq(col("query_id")),
        Seq(col("cos_raw").desc, col("neighbor_id")), k)
      .select(col("query_id"), col("neighbor_id"),
        col("rank").cast("long").as("rank"),
        round(col("cos_raw"), 4).as("cosine"))
  }

  /** k-nearest-neighbor GRAPH over the whole corpus: every vector is a
    * query, edges = its top-k most-similar bucket-mates — the input
    * relation of graph-based curation (kNN-graph clustering, diversity
    * filtering, graph-connectivity dedup a la SemDeDup variants). Unlike
    * [[ivfTopK]] there is no query-side broadcast (ALL ids would be the
    * corpus itself): the bucket SELF-join co-locates each IVF bucket and
    * scores within it, so cost is Σ bucket² — n^1.5 at k ≈ √n centroids —
    * and the bounded-heap top-k caps the output shuffle at k edges per
    * node per partition.
    */
  def knnGraph(emb: DataFrame, assignments: DataFrame,
               idCol: String, vecCol: String, k: Int): DataFrame =
    knnGraphWithCentroid(emb, assignments, idCol, vecCol, k)
      .drop("centroid_id")

  /** [[knnGraph]] with the QUERY's centroid_id carried through — the
    * materialized-index form: since a query's candidates come only from
    * its own IVF bucket, the centroid column is exactly what lets
    * [[knnEdgeIndexUpsert]] carry unaffected buckets over wholesale on a
    * snapshot diff. Same operator tree (the plain form is this plus a
    * final projection), so ranks/cosines are bit-identical.
    */
  def knnGraphWithCentroid(emb: DataFrame, assignments: DataFrame,
                           idCol: String, vecCol: String, k: Int): DataFrame = {
    val assigned = emb.select(col(idCol).as("vec_id"), col(vecCol).as("v"))
      .join(assignments.select("vec_id", "centroid_id"), "vec_id")
    val scored = assigned
      .select(col("vec_id").as("query_id"), col("v").as("qv"), col("centroid_id"))
      .join(assigned
        .select(col("vec_id").as("neighbor_id"), col("v").as("nv"), col("centroid_id")),
        Seq("centroid_id"))
      .filter(col("query_id") =!= col("neighbor_id"))
      .withColumn("cos_raw", cosine(col("qv"), col("nv")))
    org.apache.spark.sql.graft.TopKPerGroup(scored, Seq(col("query_id")),
        Seq(col("cos_raw").desc, col("neighbor_id")), k)
      .select(col("query_id"), col("neighbor_id"),
        col("rank").cast("long").as("rank"),
        round(col("cos_raw"), 4).as("cosine"), col("centroid_id"))
  }

  /** Incremental kNN-edge-index maintenance — the edge-relation face of
    * the snapshot-diff discipline ([[ivfIndexUpsert]] maintains the
    * assignments, THIS maintains the edges built on them): a corpus diff
    * (I/U/D) applies to the materialized centroid-carrying edge relation
    * at FROZEN centroids by recomputing ONLY the affected buckets.
    *
    * Exactness argument: a query's candidates come exclusively from its
    * own IVF bucket (the [[knnGraph]] contract), centroids are frozen,
    * and unchanged vectors keep byte-identical embeddings hence
    * identical assignments — so a bucket no changed/removed/inserted
    * vector maps into (under its OLD or NEW assignment) has
    * element-identical membership in both corpora, and its edges carry
    * over wholesale. Every other bucket recomputes bucket-locally over
    * the MAINTAINED assignment index. Output is row-identical to a full
    * rebuild of the new corpus at the same frozen centroid set
    * (oracle-gated; carry-over-not-recompute is spec-gated by a
    * poisoned-bucket test).
    *
    * Scale shape: the diff join is corpus-sized but streams (no state
    * beyond the shuffle); both assignment probes are delta-sized at
    * broadcast centroids; `affected` is ≤ 2·|delta| centroid ids
    * (broadcast); the carry-over is an anti-join the centroid-bucketed
    * base table serves without a shuffle; the recompute pays
    * Σ bucket² over AFFECTED buckets only.
    *
    * Inherits both of [[ivfIndexUpsert]]'s contract assumptions: the
    * snapshot diff compares `xxhash64(vector)` (a 64-bit old/new
    * collision reads as unchanged and skips that update — negligible,
    * but a semantic departure from exact comparison), and the
    * maintained assignment index must be ivfAssign-consistent at the
    * frozen centroids.
    *
    * @param base    standing edge relation WITH centroid —
    *                [[knnGraphWithCentroid]] of the previous corpus
    * @param currIdx the maintained IVF index of the NEW corpus at the
    *                same frozen centroids — [[ivfIndexUpsert]]'s output
    *                (vec_id, v, centroid_id)
    */
  def knnEdgeIndexUpsert(base: DataFrame, currIdx: DataFrame,
                         prevEmb: DataFrame, currEmb: DataFrame,
                         centroids: DataFrame, idCol: String, vecCol: String,
                         centroidIdCol: String, centroidVecCol: String,
                         k: Int): DataFrame = {
    val affected = affectedBuckets(prevEmb, currEmb, centroids, idCol,
      vecCol, centroidIdCol, centroidVecCol).affected
    val recomputed = knnEdgeRecompute(
      currIdx.join(broadcast(affected), Seq("centroid_id"), "left_semi"), k)
    base.join(broadcast(affected), Seq("centroid_id"), "left_anti")
      .select("query_id", "neighbor_id", "rank", "cosine", "centroid_id")
      .unionByName(recomputed)
  }

  /** Recomputes the kNN edges of a set of buckets from their member
    * rows `(vec_id, v, centroid_id)` — the recompute tail of
    * [[knnEdgeIndexUpsert]], exposed so a caller already holding the
    * affected buckets' rows (e.g. [[ivfIndexUpsertParts]]'s
    * affectedRows, which ARE exactly those rows since both derive the
    * same affected set) can skip a second snapshot-diff pass.
    * Bucket-local self-join + bounded-heap top-k.
    */
  def knnEdgeRecompute(bucketRows: DataFrame, k: Int): DataFrame = {
    val scored = bucketRows
      .select(col("vec_id").as("query_id"), col("v").as("qv"), col("centroid_id"))
      .join(bucketRows
        .select(col("vec_id").as("neighbor_id"), col("v").as("nv"), col("centroid_id")),
        Seq("centroid_id"))
      .filter(col("query_id") =!= col("neighbor_id"))
      .withColumn("cos_raw", cosine(col("qv"), col("nv")))
    org.apache.spark.sql.graft.TopKPerGroup(scored,
        Seq(col("query_id")), Seq(col("cos_raw").desc, col("neighbor_id")), k)
      .select(col("query_id"), col("neighbor_id"),
        col("rank").cast("long").as("rank"),
        round(col("cos_raw"), 4).as("cosine"), col("centroid_id"))
  }

  /** One round of k-NN label spreading over the [[knnGraph]]: each vector
    * takes the MAJORITY label of its k nearest neighbours (vote-count
    * desc, smaller label on ties) — the semi-supervised labelling /
    * label-noise-detection primitive (a vector whose own label disagrees
    * with its neighbourhood is a mislabel candidate or a boundary point).
    * The vote aggregate groups (query, label): ≤ |labels| rows per query
    * reach the majority window, which partitions BY QUERY — never a
    * corpus-sized single-task sort.
    */
  def knnLabelSpread(emb: DataFrame, assignments: DataFrame,
                     idCol: String, vecCol: String, labelCol: String,
                     k: Int): DataFrame =
    knnLabelSpreadFrom(knnGraph(emb, assignments, idCol, vecCol, k),
      emb, idCol, labelCol)

  /** [[knnLabelSpread]] over a PRE-BUILT (query_id, neighbor_id, rank,
    * cosine) edge relation — the index-priced form: the IVF assign +
    * bucket self-join + bounded-heap top-k that dominate the spread's
    * cost are paid once when the edge relation is materialized
    * (`knn_graph_index_roundtrip`), and every reader prices at the
    * grouped-vote cost. Rows are identical to the recompute form by the
    * index's freshness contract.
    */
  def knnLabelSpreadFrom(edges: DataFrame, emb: DataFrame,
                         idCol: String, labelCol: String): DataFrame = {
    val g = edges
    val votes = g.join(emb.select(col(idCol).as("neighbor_id"),
        col(labelCol).as("nlabel")), "neighbor_id")
      .groupBy("query_id", "nlabel")
      .agg(count(lit(1)).as("votes"))
    val pred = votes.withColumn("rn", row_number().over(
        Window.partitionBy("query_id")
          .orderBy(col("votes").desc, col("nlabel"))))
      .filter(col("rn") === 1)
    pred.join(emb.select(col(idCol).as("query_id"),
        col(labelCol).as("label")), "query_id")
      .select(col("query_id").as("vec_id"),
        col("label").cast("long").as("label"),
        col("nlabel").cast("long").as("pred_label"),
        col("votes"),
        (col("label") === col("nlabel")).as("agree"))
  }

  /** Confusion matrix of [[knnLabelSpread]]'s neighbourhood vote against
    * the stored labels — the one-screen label-quality report (diagonal =
    * neighbourhood-consistent mass; off-diagonal cells localize which
    * label pairs blur). One grouped count over the spread output.
    */
  def knnConfusion(spread: DataFrame): DataFrame =
    spread.groupBy("label", "pred_label")
      .agg(count(lit(1)).as("n"))

  /** Hard-negative mining for contrastive training: per query vector, the
    * top-k most-similar vectors whose LABEL differs — the highest-loss
    * negatives an embedding-model trainer pairs with each anchor. Same
    * IVF-bucketed shape as [[ivfTopK]] (query side broadcast into its
    * bucket, bounded-heap top-k), with the label-mismatch predicate
    * applied inside the bucket join so same-class candidates never reach
    * the heap. The anchor itself shares its own label, so self-matches are
    * excluded for free.
    */
  def hardNegatives(emb: DataFrame, assignments: DataFrame,
                    queryIds: DataFrame, idCol: String, vecCol: String,
                    labelCol: String, k: Int): DataFrame = {
    val assigned = emb.select(col(idCol).as("vec_id"), col(vecCol).as("v"),
        col(labelCol).as("lbl"))
      .join(assignments.select("vec_id", "centroid_id"), "vec_id")
    val q = assigned.join(broadcast(queryIds.select(col(idCol).as("vec_id"))), "vec_id")
      .select(col("vec_id").as("query_id"), col("v").as("qv"),
        col("lbl").as("q_lbl"), col("centroid_id"))
    val scored = assigned
      .select(col("vec_id").as("neighbor_id"), col("v").as("nv"),
        col("lbl").as("n_lbl"), col("centroid_id"))
      .join(q, "centroid_id")
      .filter(col("n_lbl") =!= col("q_lbl"))
      .withColumn("cos_raw", cosine(col("qv"), col("nv")))
    org.apache.spark.sql.graft.TopKPerGroup(scored, Seq(col("query_id")),
        Seq(col("cos_raw").desc, col("neighbor_id")), k)
      .select(col("query_id"), col("neighbor_id"),
        col("rank").cast("long").as("rank"),
        round(col("cos_raw"), 4).as("cosine"))
  }

  /** Metadata-FILTERED vector search — top-k restricted to neighbors
    * matching a predicate on their metadata label (the "filtered ANN"
    * feature class of production vector stores: search within a tenant,
    * a language, a safety tier). The index stays built on the FULL
    * corpus (filtering at probe time, not index time — the filter
    * changes per query family, the index does not); the predicate sits
    * INSIDE the bucket join, so non-matching candidates never reach the
    * bounded top-k heap. Same scale shape as [[ivfTopK]]/[[
    * hardNegatives]]: broadcast queries, centroid-bucketed candidate
    * join, ≤k rows per query per partition cross the shuffle.
    */
  def filteredTopK(emb: DataFrame, assignments: DataFrame,
                   queryIds: DataFrame, idCol: String, vecCol: String,
                   labelCol: String, neighborLabel: Int, k: Int): DataFrame = {
    val assigned = emb.select(col(idCol).as("vec_id"), col(vecCol).as("v"),
        col(labelCol).as("lbl"))
      .join(assignments.select("vec_id", "centroid_id"), "vec_id")
    val q = assigned
      .join(broadcast(queryIds.select(col(idCol).as("vec_id"))), "vec_id")
      .select(col("vec_id").as("query_id"), col("v").as("qv"),
        col("centroid_id"))
    val scored = assigned
      .filter(col("lbl") === neighborLabel)
      .select(col("vec_id").as("neighbor_id"), col("v").as("nv"),
        col("centroid_id"))
      .join(q, "centroid_id")
      .filter(col("query_id") =!= col("neighbor_id"))
      .withColumn("cos_raw", cosine(col("qv"), col("nv")))
    org.apache.spark.sql.graft.TopKPerGroup(scored, Seq(col("query_id")),
        Seq(col("cos_raw").desc, col("neighbor_id")), k)
      .select(col("query_id"), col("neighbor_id"),
        col("rank").cast("long").as("rank"),
        round(col("cos_raw"), 4).as("cosine"))
  }

  /** Incremental maintenance of a materialized IVF index — the CDC×ANN
    * composition: apply a snapshot diff of the embedding corpus
    * (inserts / updates / deletes) to an existing index relation
    * `(vec_id, v, centroid_id)` WITHOUT rebuilding it. New and updated
    * vectors assign against the FROZEN centroid set (the index's
    * partitioning is part of its contract — re-deriving centroids would
    * invalidate every bucket); deleted and updated ids anti-join out of
    * the base. Because unchanged rows already hold the assignment the
    * same frozen centroids would produce, the result is row-identical
    * to a full rebuild of the new corpus at that centroid set — which
    * is exactly what the oracle recomputes, and probe answers over the
    * upserted index equal the rebuilt index's (spec-proven).
    *
    * Scale shape: the diff is one pk full-outer join (shuffle-free when
    * both snapshots are bucketed by id), the touched set is
    * delta-sized — assignment joins it against broadcast centroids, and
    * the carry-over anti-join's affected-bucket set broadcasts; the
    * corpus-sized base streams through untouched. Drift of the data under the frozen
    * centroids is the retrain tripwire: feed [[centroidDrift]] with
    * slice 0 = base assignment, slice 1 = upserted assignment and
    * retrain when bucket-mean cosines sag (spec demonstrates the
    * composition).
    *
    * Two assumptions callers inherit (both part of the maintained-index
    * contract, stated here because the composed forms below rely on
    * them):
    * (1) the snapshot diff compares `xxhash64(vector)` — a 64-bit
    * old/new hash collision on one id reads as "unchanged" and silently
    * skips that update (later diffs compare the same hashes, so it is
    * never revisited). Probability is negligible at any real corpus
    * size — the same no-collision argument every hash-keyed oracle in
    * this library rests on — but callers needing exact comparison must
    * diff vectors themselves and feed I/U/D sets directly.
    * (2) `base.centroid_id` must equal [[ivfAssign]] of each row's prev
    * vector at `centroids` — true of every index this library builds
    * (ivfAssign-derived, maintained at frozen centroids). A base whose
    * stored assignments drifted from that function could keep a deleted
    * row alive in an unaffected bucket; REBUILD such an index rather
    * than upserting it.
    */
  def ivfIndexUpsert(base: DataFrame, prevEmb: DataFrame, currEmb: DataFrame,
                     centroids: DataFrame, idCol: String, vecCol: String,
                     centroidIdCol: String, centroidVecCol: String): DataFrame = {
    // Composed from the parts split, so the entry's rebuild oracle gates
    // BOTH forms: carry-over is exact because a removed row's stored
    // assignment equals the deterministic re-assignment of its old vector
    // at the frozen centroids (scaladoc assumption 2) — i.e. every
    // removed/changed row lies inside an affected bucket, making
    // (base − affected buckets) ∪ affectedRows ≡ (base − removed) ∪
    // freshly-assigned incoming.
    val (affected, affectedRows) = ivfIndexUpsertParts(base, prevEmb,
      currEmb, centroids, idCol, vecCol, centroidIdCol, centroidVecCol)
    base.join(broadcast(affected), Seq("centroid_id"), "left_anti")
      .select("vec_id", "v", "centroid_id")
      .unionByName(affectedRows)
  }

  /** The (inserts ∪ updates ∪ deletes) slice of an embedding snapshot
    * diff, CONTENT-HASHED: the full-outer pk join compares
    * xxhash64(vector) — 8 bytes per row cross the corpus-sized diff
    * shuffle instead of the vectors themselves (at production dims a
    * vector is KBs; the raw-vector join would shuffle the whole corpus
    * body twice) — and only the touched rows' vectors are then fetched
    * back with delta-sized semi-joins against the snapshots (broadcast
    * probe side, no corpus shuffle). Hash equality ⇒ unchanged rests on
    * the same corpus-wide no-collision argument as every hash-keyed
    * dedup oracle. Output: (vec_id, pv, nv) for touched rows only.
    */
  private def touchedDiff(prevEmb: DataFrame, currEmb: DataFrame,
                          idCol: String, vecCol: String): DataFrame = {
    val p = prevEmb.select(col(idCol).as("vec_id"),
      xxhash64(col(vecCol)).as("ph"))
    val c = currEmb.select(col(idCol).as("vec_id"),
      xxhash64(col(vecCol)).as("ch"))
    // cut: the id set feeds BOTH broadcast probes below — without it
    // the corpus diff join would execute once per probe build
    val touchedIds = Scans.cut(p.join(c, Seq("vec_id"), "full_outer")
      .filter(!(col("ph") <=> col("ch")))
      .select(col("vec_id"), col("ph").isNotNull.as("had"),
        col("ch").isNotNull.as("has")), "ivf_touched_ids").df
    val pv = prevEmb.select(col(idCol).as("vec_id"), col(vecCol).as("pv"))
      .join(broadcast(touchedIds.filter(col("had")).select("vec_id")),
        Seq("vec_id"), "left_semi")
    val nv = currEmb.select(col(idCol).as("vec_id"), col(vecCol).as("nv"))
      .join(broadcast(touchedIds.filter(col("has")).select("vec_id")),
        Seq("vec_id"), "left_semi")
    pv.join(nv, Seq("vec_id"), "full_outer")
      .select("vec_id", "pv", "nv")
  }

  /** [[ivfIndexUpsert]] split at its carry-over boundary for the
    * DELTA-COST PUBLISH: (affected centroid ids, the new full content of
    * exactly those buckets). A bucket is affected when a changed id maps
    * into it under its OLD or NEW vector — the old-side probe re-assigns
    * the leaving vectors at the same frozen centroids, which reproduces
    * the stored assignment exactly (assignment is a deterministic
    * function of vector × frozen centroid set, tie-broken on centroid
    * id). Affected-bucket content = the base rows of those buckets minus
    * removed/changed ids, plus the freshly assigned incoming rows; rows
    * of every other bucket are untouched by the diff, so a publish that
    * references their files in place is row-identical to
    * [[ivfIndexUpsert]] (oracle-gated through the entry). Inherits both
    * of [[ivfIndexUpsert]]'s contract assumptions (hash-compared diff,
    * ivfAssign-consistent stored assignments).
    *
    * Scale shape: both probes and the anti-join sets are delta-sized at
    * broadcast centroids; the base-side read of affected buckets prunes
    * to affected partitions when `base` is the partitioned standing
    * table (isin on the partition key pushes to partition pruning).
    */
  def ivfIndexUpsertParts(base: DataFrame, prevEmb: DataFrame,
                          currEmb: DataFrame, centroids: DataFrame,
                          idCol: String, vecCol: String,
                          centroidIdCol: String, centroidVecCol: String)
      : (DataFrame, DataFrame) = {
    val diff = affectedBuckets(prevEmb, currEmb, centroids, idCol, vecCol,
      centroidIdCol, centroidVecCol)
    val removed = diff.leaving.select("vec_id")
    val incomingAssigned = diff.incoming
      .join(diff.incomingAssign.select("vec_id", "centroid_id"), "vec_id")
      .select(col("vec_id"), col("v"), col("centroid_id"))
    val affectedRows = base
      .join(broadcast(diff.affected), Seq("centroid_id"), "left_semi")
      .join(broadcast(removed), Seq("vec_id"), "left_anti")
      .select(col("vec_id"), col("v"), col("centroid_id"))
      .unionByName(incomingAssigned)
    (diff.affected, affectedRows)
  }

  /** An embedding snapshot diff at frozen centroids: the touched rows'
    * NEW vectors (`incoming`, vec_id + v), their OLD vectors (`leaving`),
    * the incoming rows' assignment (`incomingAssign`, [[ivfAssign]]'s
    * output) and the `affected` centroid ids — every bucket a changed
    * id maps into under its old OR new vector.
    */
  private case class AffectedBuckets(incoming: DataFrame,
      leaving: DataFrame, incomingAssign: DataFrame, affected: DataFrame)

  /** The one derivation of [[AffectedBuckets]], shared by
    * [[ivfIndexUpsertParts]] and [[knnEdgeIndexUpsert]]: ONE pass over
    * the corpus-sized diff behind a cut; everything after it is
    * delta-sized, and every consumer (the publish's affected-set
    * collect, the delta write, a bucket self-join) reads cached blocks.
    */
  private def affectedBuckets(prevEmb: DataFrame, currEmb: DataFrame,
                              centroids: DataFrame, idCol: String,
                              vecCol: String, centroidIdCol: String,
                              centroidVecCol: String): AffectedBuckets = {
    val touched = Scans.cut(touchedDiff(prevEmb, currEmb, idCol, vecCol),
      "ivf_touched").df
    val incoming = touched.filter(col("nv").isNotNull)
      .select(col("vec_id"), col("nv").as("v"))
    val leaving = touched.filter(col("pv").isNotNull)
      .select(col("vec_id"), col("pv").as("v"))
    // one incoming-assignment plan feeds both consumers (the affected
    // set and the fresh rows), so the physical planner's exchange reuse
    // sees identical subtrees instead of two re-derivations
    val incomingAssign = ivfAssign(incoming, centroids, "vec_id", "v",
      centroidIdCol, centroidVecCol)
    // both probes are delta-sized against the broadcast frozen set; cut
    // so the swap publish's driver-side partition list and the
    // carry-over anti-join both read the tiny cached set
    val affected = Scans.cut(
      ivfAssign(leaving, centroids, "vec_id", "v",
          centroidIdCol, centroidVecCol).select("centroid_id")
        .unionByName(incomingAssign.select("centroid_id"))
        .distinct(),
      "ivf_affected_buckets").df
    AffectedBuckets(incoming, leaving, incomingAssign, affected)
  }

  /** Top principal component by POWER ITERATION — the distributed
    * matvec loop behind PCA/spectral embedding diagnostics, run for a
    * FIXED iteration count from a FIXED start vector so the result is a
    * pure function of the data (no randomness, resumable on any
    * engine). Each iteration is two exploded matvecs — s = Xw per row,
    * z = Xᵀs per dim — with every sum in DECIMAL (order-independent);
    * only the |dims|-sized normalize touches doubles, in a fixed order.
    * Per iteration: two shuffles keyed by row id / dim — corpus-linear
    * scan cost, state is one dims-sized broadcast vector.
    */
  def pcaTopComponent(emb: DataFrame, idCol: String, vecCol: String,
                      dims: Int, iters: Int = 2): DataFrame = {
    require(dims >= 2 && iters >= 1, "need dims >= 2, iters >= 1")
    val spark = emb.sparkSession
    import java.math.{BigDecimal => JBD}
    // r15 (guide §1.2 step 1 — fix the distributed algorithm first): each
    // iteration is ONE aggregation pass over the vector rows via
    // PowerStepAgg — a row's s = Σᵢ dec12(xᵢ·wᵢ) is a function of the row
    // itself, so z = Xᵀ(Xw) needs no exploded matvec relation, no
    // persist, and no join. The former relational form (posexplode →
    // persist → 2 joins + 3 exchanges per iteration) read its
    // single-partition cache one core at a time at bench scale and paid
    // ~10 driver jobs; this shape is iters scans, each a map-side
    // aggregate, identical output (exact decimal semantics — see
    // PowerStepAgg's scaladoc; kernel-vs-relational equality is
    // spec-gated, the entry itself oracle-gated). The dims-sized
    // normalize/update runs on the driver exactly like the former
    // collect()-based finalize — bounded state, not data work.
    var w: Array[Double] = Array.fill(dims)(1.0 / math.sqrt(dims.toDouble))
    var zNull: Array[Boolean] = null
    var zD: Array[Double] = null
    var nn: Double = Double.NaN
    var nnNull = true
    var anyRows = false
    for (_ <- 0 until iters) {
      val arr = emb.agg(org.apache.spark.sql.graft.PowerStepFunctions
        .powerStep(col(vecCol), w.toSeq).as("z"))
        .head().getSeq[JBD](0)
      anyRows = arr(dims).longValue() > 0L
      zNull = Array.tabulate(dims)(i => arr(i) == null)
      zD = Array.tabulate(dims)(i => if (arr(i) == null) Double.NaN
                                     else arr(i).doubleValue())
      // nn = sqrt(toDouble(Σ dec12(zᵢ²))): null/NaN/∞ products skipped
      // exactly as the relational sum's cast-to-null skips them
      var sumZZ: JBD = null
      var i = 0
      while (i < dims) {
        val p = zD(i) * zD(i)
        if (!p.isNaN && !p.isInfinite) {
          val d = JBD.valueOf(p).setScale(12, java.math.RoundingMode.HALF_UP)
          sumZZ = if (sumZZ == null) d else sumZZ.add(d)
        }
        i += 1
      }
      nnNull = sumZZ == null
      nn = if (nnNull) Double.NaN else math.sqrt(sumZZ.doubleValue())
      // next direction: NULL cells (z or nn) become NaN — their products
      // are skipped by the kernel exactly as null products are by the
      // relational sum; genuine NaN/∞ divisions flow through identically
      w = Array.tabulate(dims)(i =>
        if (zNull(i) || nnNull) Double.NaN else zD(i) / nn)
    }
    // Spark's round(double, 6): NaN/∞ pass through, else HALF_UP
    def round6(d: Double): Double =
      if (d.isNaN || d.isInfinite) d
      else JBD.valueOf(d).setScale(6, java.math.RoundingMode.HALF_UP)
        .doubleValue()
    val schema = org.apache.spark.sql.types.StructType(Seq(
      org.apache.spark.sql.types.StructField("dim",
        org.apache.spark.sql.types.LongType, nullable = false),
      org.apache.spark.sql.types.StructField("loading",
        org.apache.spark.sql.types.DoubleType, nullable = true),
      org.apache.spark.sql.types.StructField("lambda",
        org.apache.spark.sql.types.DoubleType, nullable = true)))
    // no row passed the width gate ⇒ the relational per-dim groupBy had
    // zero groups ⇒ empty result (NOT dims null rows)
    val rows: Seq[org.apache.spark.sql.Row] =
      if (!anyRows) Seq.empty
      else (0 until dims).map { i =>
        val loading: Any =
          if (zNull(i) || nnNull) null else round6(zD(i) / nn)
        val lambda: Any = if (nnNull) null else round6(nn)
        org.apache.spark.sql.Row(i.toLong, loading, lambda)
      }
    spark.createDataFrame(
      java.util.Arrays.asList(rows: _*), schema)
  }

  /** Multi-probe IVF top-k: each query searches the buckets of its
    * `nprobe` nearest centroids (nprobe=1 degenerates to [[ivfTopK]]'s
    * own-bucket search — probe ranking uses the same cosine-desc /
    * centroid-id tie-break as [[ivfAssign]]). Probe selection scores
    * queries × centroids, both broadcast-small; the candidate search
    * still joins on centroid_id, so cost scales with the probed buckets'
    * sizes, not corpus size. Recall is monotone in nprobe (candidate
    * sets nest as probes grow) — spec-measured against brute force.
    */
  def ivfTopKProbed(emb: DataFrame, assignments: DataFrame,
                    centroids: DataFrame, queryIds: DataFrame,
                    idCol: String, vecCol: String,
                    centroidIdCol: String, centroidVecCol: String,
                    k: Int, nprobe: Int): DataFrame = {
    require(nprobe >= 1, "nprobe must be >= 1")
    val q = emb.select(col(idCol).as("query_id"), col(vecCol).as("qv"))
      .join(broadcast(queryIds.select(col(idCol).as("query_id"))), "query_id")
    val cts = centroids.select(col(centroidIdCol).as("centroid_id"),
      col(centroidVecCol).as("cv"))
    val probes = q.join(broadcast(cts))
      .withColumn("rn", row_number().over(
        Window.partitionBy("query_id")
          .orderBy(cosine(col("qv"), col("cv")).desc, col("centroid_id"))))
      .filter(col("rn") <= nprobe)
      .select(col("query_id"), col("qv"), col("centroid_id"))
    val cands = emb.select(col(idCol).as("neighbor_id"), col(vecCol).as("nv"))
      .join(assignments.select(col("vec_id").as("neighbor_id"),
        col("centroid_id")), "neighbor_id")
    // a vector lives in exactly one bucket and probes are distinct buckets,
    // so no (query, neighbor) pair can appear twice — no dedup needed
    val scored = cands.join(broadcast(probes), "centroid_id")
      .filter(col("query_id") =!= col("neighbor_id"))
      .withColumn("cos_raw", cosine(col("qv"), col("nv")))
    org.apache.spark.sql.graft.TopKPerGroup(scored, Seq(col("query_id")),
        Seq(col("cos_raw").desc, col("neighbor_id")), k)
      .select(col("query_id"), col("neighbor_id"),
        col("rank").cast("long").as("rank"),
        round(col("cos_raw"), 4).as("cosine"))
  }

  /** The ANN evaluation harness as one query: recall@k of the multi-probe
    * IVF search against brute-force ground truth, one row per probe
    * level — what an index owner reads before picking nprobe. Cosines
    * are computed ONCE at the largest probe level (each candidate pair
    * tagged with its bucket's probe rank `pr`), then expanded per level
    * by a broadcast join on `pr <= nprobe` — the expansion duplicates
    * scored rows, never rescores — and ranked by the bounded-heap
    * TopKPerGroup on (nprobe, query). Recall is exact integer ppm
    * (hits·10⁶ div truth rows). Candidate-set nesting makes n_hits
    * monotone in nprobe by construction (spec-asserted).
    */
  def ivfRecallReport(emb: DataFrame, assignments: DataFrame,
                      centroids: DataFrame, queries: DataFrame,
                      idCol: String, vecCol: String,
                      centroidIdCol: String, centroidVecCol: String,
                      k: Int, nprobes: Seq[Int]): DataFrame = {
    require(nprobes.nonEmpty && nprobes.forall(_ >= 1), "nprobes must be >= 1")
    val spark = emb.sparkSession
    import spark.implicits._
    val maxNp = nprobes.max
    val q = emb.select(col(idCol).as("query_id"), col(vecCol).as("qv"))
      .join(broadcast(queries.select(col(idCol).as("query_id"))), "query_id")
    val cts = centroids.select(col(centroidIdCol).as("centroid_id"),
      col(centroidVecCol).as("cv"))
    val probes = q.join(broadcast(cts))
      .withColumn("pr", row_number().over(
        Window.partitionBy("query_id")
          .orderBy(cosine(col("qv"), col("cv")).desc, col("centroid_id"))))
      .filter(col("pr") <= maxNp)
      .select(col("query_id"), col("qv"), col("centroid_id"), col("pr"))
    val cands = emb.select(col(idCol).as("neighbor_id"), col(vecCol).as("nv"))
      .join(assignments.select(col("vec_id").as("neighbor_id"),
        col("centroid_id")), "neighbor_id")
    val scoredPairs = cands.join(broadcast(probes), "centroid_id")
      .filter(col("query_id") =!= col("neighbor_id"))
      .select(col("query_id"), col("neighbor_id"), col("pr"),
        cosine(col("qv"), col("nv")).as("cos_raw"))
    val np = nprobes.map(_.toLong).toDF("nprobe")
    val expanded = scoredPairs.join(broadcast(np), col("pr") <= col("nprobe"))
    val probedTopK = org.apache.spark.sql.graft.TopKPerGroup(expanded,
        Seq(col("nprobe"), col("query_id")),
        Seq(col("cos_raw").desc, col("neighbor_id")), k)
      .select(col("nprobe"), col("query_id"), col("neighbor_id"))
    val truth = bruteForceTopK(queries, emb, idCol, vecCol, k)
      .select(col("query_id"), col("neighbor_id"))
    val hits = probedTopK.join(truth, Seq("query_id", "neighbor_id"))
      .groupBy("nprobe").agg(count(lit(1)).as("n_hits"))
    val denom = truth.agg(count(lit(1)).as("n_truth"))
    // every requested probe level gets a row — a level with recall 0
    // must report n_hits=0, not vanish from the report (callers iterate
    // "one row per nprobe")
    np.join(hits, Seq("nprobe"), "left")
      .select(col("nprobe"), coalesce(col("n_hits"), lit(0L)).as("n_hits"))
      .join(broadcast(denom))
      .select(col("nprobe"), col("n_hits"),
        expr("n_hits * 1000000 div n_truth").as("recall_ppm"))
  }

  /** Embedding-drift monitor: per label, the cosine between the centroid
    * of one corpus slice and the centroid of another (here: a caller-
    * supplied boolean split column) — the retraining tripwire that
    * catches a drifting encoder or a poisoned refresh before it reaches
    * the index. Per-dimension means accumulate in DECIMAL (partitioning-
    * independent, the [[dimStats]] discipline); the cosine folds over the
    * |dims|-sized mean relation — everything after the first aggregate is
    * corpus-size-independent.
    */
  def centroidDrift(emb: DataFrame, vecCol: String, labelCol: String,
                    sliceCol: String): DataFrame = {
    val means = emb.select(col(labelCol).as("label"),
        col(sliceCol).cast("int").as("half"),
        posexplode(col(vecCol)).as(Seq("dim", "x")))
      .select(col("label"), col("half"), col("dim"),
        col("x").cast("double").as("xd"))
      .groupBy("label", "half", "dim")
      .agg(count(lit(1)).as("n"),
        sum(col("xd").cast("decimal(38,12)")).as("sx"))
      .select(col("label"), col("half"), col("dim"), col("n"),
        (col("sx").cast("double") / col("n")).as("m"))
    val h0 = means.filter(col("half") === 0)
      .select(col("label"), col("dim"), col("n").as("n0"), col("m").as("m0"))
    val h1 = means.filter(col("half") === 1)
      .select(col("label"), col("dim"), col("n").as("n1"), col("m").as("m1"))
    h0.join(h1, Seq("label", "dim"))
      .groupBy("label")
      .agg(max(col("n0")).as("n_a"), max(col("n1")).as("n_b"),
        sum((col("m0") * col("m1")).cast("decimal(38,12)")).as("dot"),
        sum((col("m0") * col("m0")).cast("decimal(38,12)")).as("s0"),
        sum((col("m1") * col("m1")).cast("decimal(38,12)")).as("s1"))
      .select(col("label"), col("n_a"), col("n_b"),
        round(col("dot").cast("double") /
          sqrt(col("s0").cast("double") * col("s1").cast("double")), 6)
          .as("centroid_cos"))
  }
}
