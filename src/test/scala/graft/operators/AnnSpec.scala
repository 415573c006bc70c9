package graft.operators

import org.apache.spark.sql.functions._

import graft.SparkSpec

class AnnSpec extends SparkSpec {

  private def vecs = {
    val spark0 = spark
    import spark0.implicits._
    Seq(
      (0L, Array(1.0f, 0.0f)),
      (1L, Array(0.9f, 0.1f)),     // near 0
      (2L, Array(0.0f, 1.0f)),     // orthogonal to 0
      (3L, Array(-1.0f, 0.0f))     // opposite of 0
    ).toDF("vec_id", "embedding")
  }

  test("cosine: exact values on axis-aligned vectors") {
    val row = vecs.filter(col("vec_id") === 0).alias("a")
      .crossJoin(vecs.filter(col("vec_id") === 2).alias("b"))
      .select(Ann.cosine(col("a.embedding"), col("b.embedding")).as("c"))
      .head()
    assert(math.abs(row.getDouble(0)) < 1e-12)
  }

  test("cosinePairs returns ordered pairs above threshold") {
    val pairs = Ann.cosinePairs(vecs, "vec_id", "embedding", 0.9)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(pairs == Set((0L, 1L)))
  }

  test("bruteForceTopK ranks by cosine desc with id tie-break") {
    val out = Ann.bruteForceTopK(vecs.filter(col("vec_id") === 0), vecs,
        "vec_id", "embedding", 3)
      .collect().map(r => (r.getLong(1), r.getLong(2))).toList
    assert(out.map(_._1) == List(1L, 2L, 3L)) // near, orthogonal, opposite
    assert(out.map(_._2) == List(1L, 2L, 3L))
  }

  test("ivfAssign picks the nearest centroid; ivfTopK stays in-bucket") {
    val centroids = vecs.filter(col("vec_id").isin(0L, 2L))
    val assign = Ann.ivfAssign(vecs, centroids,
      "vec_id", "embedding", "vec_id", "embedding")
    val m = assign.collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    // (-1,0) is closer to centroid (0,1) (cos 0) than to (1,0) (cos -1)
    assert(m(1L) == 0L && m(2L) == 2L && m(0L) == 0L && m(3L) == 2L)
    val topk = Ann.ivfTopK(vecs, assign, vecs.filter(col("vec_id") === 0),
      "vec_id", "embedding", 5)
      .collect().map(r => r.getLong(1)).toSet
    // bucket of centroid 0 contains {0,1}; 2 and 3 are in the other bucket
    assert(topk == Set(1L))
  }

  test("hardNegatives keeps only cross-label neighbors, ranked by cosine") {
    val spark0 = spark
    import spark0.implicits._
    val labeled = Seq(
      (0L, Array(1.0f, 0.0f), 7),
      (1L, Array(0.9f, 0.1f), 7),    // same label as anchor -> excluded
      (2L, Array(0.8f, 0.2f), 8),    // nearest cross-label
      (3L, Array(0.0f, 1.0f), 9)     // farther cross-label
    ).toDF("vec_id", "embedding", "label")
    // one bucket: single centroid
    val assign = Ann.ivfAssign(labeled, labeled.filter(col("vec_id") === 0),
      "vec_id", "embedding", "vec_id", "embedding")
    val out = Ann.hardNegatives(labeled, assign,
        labeled.filter(col("vec_id") === 0), "vec_id", "embedding", "label", 2)
      .collect().map(r => (r.getLong(1), r.getLong(2))).toList
    assert(out == List((2L, 1L), (3L, 2L))) // label-7 neighbor 1 never appears
  }

  test("dimStats: exact decimal mean/variance per dimension") {
    val spark0 = spark
    import spark0.implicits._
    val df = Seq(
      (0L, Array(1.0f, 2.0f)),
      (1L, Array(3.0f, 2.0f)),
      (2L, Array(5.0f, 2.0f))).toDF("vec_id", "embedding")
    val m = Ann.dimStats(df, "embedding").collect()
      .map(r => r.getLong(0) -> ((r.getLong(1), r.getDouble(2), r.getDouble(3)))).toMap
    assert(m(0L) == ((3L, 3.0, 2.666667))) // var of {1,3,5} = 8/3, rounded
    assert(m(1L) == ((3L, 2.0, 0.0)))
  }

  test("dimCovariance: upper-triangle covariance matches hand computation") {
    val spark0 = spark
    import spark0.implicits._
    // dims 0 and 1 perfectly correlated (y = 2x), dim 2 constant
    val df = Seq(
      (0L, Array(1.0f, 2.0f, 5.0f)),
      (1L, Array(2.0f, 4.0f, 5.0f)),
      (2L, Array(3.0f, 6.0f, 5.0f))).toDF("vec_id", "embedding")
    val m = Ann.dimCovariance(df, "embedding", 3).collect()
      .map(r => (r.getLong(0), r.getLong(1)) ->
        ((r.getLong(2), r.getDouble(3)))).toMap
    assert(m.keySet == Set((0L, 1L), (0L, 2L), (1L, 2L)))
    // cov(x, 2x) = 2*var(x); var{1,2,3} = 2/3
    assert(m((0L, 1L)) == ((3L, 1.333333)))
    assert(m((0L, 2L)) == ((3L, 0.0)))
    assert(m((1L, 2L)) == ((3L, 0.0)))
    // a wrong-width vector is excluded, not silently mis-mapped into
    // the wrong (i,j) cells
    val withStray = df.unionByName(
      Seq((3L, Array(9.0f, 9.0f))).toDF("vec_id", "embedding"))
    val m2 = Ann.dimCovariance(withStray, "embedding", 3).collect()
      .map(r => (r.getLong(0), r.getLong(1)) ->
        ((r.getLong(2), r.getDouble(3)))).toMap
    assert(m2 == m)
  }

  test("ivfTopKIndexed over a bucketed round-trip equals the direct path") {
    val emb = graft.Tables.embeddings(spark, sfDir)
    val cents = emb.filter(col("vec_id") % 40 === 0)
    val assign = Ann.ivfAssign(emb, cents, "vec_id", "embedding",
      "vec_id", "embedding")
    val direct = Ann.ivfTopK(emb, assign, emb.filter(col("vec_id") % 17 === 0),
      "vec_id", "embedding", k = 3)
    val indexed = emb.select(col("vec_id"), col("embedding"))
      .join(assign.select("vec_id", "centroid_id"), "vec_id")
      .select(col("vec_id"), col("embedding").as("v"), col("centroid_id"))
    graft.sources.ParquetSink.writeBucketedSnapshot(indexed,
      "ivf_index_spec", Seq("centroid_id"), buckets = 8)
    val viaIndex = Ann.ivfTopKIndexed(spark.table("ivf_index_spec"),
      emb.filter(col("vec_id") % 17 === 0), "vec_id", k = 3)
    def canon(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
        r.getDouble(3))).toSet
    assert(canon(viaIndex) == canon(direct) && canon(direct).nonEmpty)
    // the materialized index side enters the bucket join WITHOUT a shuffle
    viaIndex.write.format("noop").mode("overwrite").save()
    val plan = viaIndex.queryExecution.executedPlan.toString
    val exchanges = "Exchange hashpartitioning".r.findAllIn(plan).length
    assert(exchanges <= 2, s"index side should not reshuffle:\n$plan")
  }

  test("knnLabelSpread: majority vote, tie to smaller label, mislabels flagged") {
    val spark0 = spark
    import spark0.implicits._
    // two tight clusters; vec 5 sits in cluster A's region but carries
    // label 9 (a mislabel). One centroid per cluster (ids 0, 10).
    val emb = Seq(
      (0L, Array(1.0f, 0.0f), 1),
      (1L, Array(0.99f, 0.1f), 1),
      (2L, Array(0.98f, 0.12f), 1),
      (5L, Array(0.97f, 0.14f), 9),  // mislabel in cluster A
      (10L, Array(0.0f, 1.0f), 2),
      (11L, Array(0.1f, 0.99f), 2),
      (12L, Array(0.12f, 0.98f), 2)
    ).toDF("vec_id", "embedding", "label")
    val cents = emb.filter(col("vec_id") % 10 === 0)
    val assign = Ann.ivfAssign(emb, cents, "vec_id", "embedding",
      "vec_id", "embedding")
    val spread = Ann.knnLabelSpread(emb, assign, "vec_id", "embedding",
        "label", k = 3)
      .collect().map(r => r.getLong(0) ->
        ((r.getLong(1), r.getLong(2), r.getBoolean(4)))).toMap
    // the mislabel's neighbourhood is all label 1 → pred 1, disagree
    assert(spread(5L) == ((9L, 1L, false)))
    assert(spread(1L) == ((1L, 1L, true)))
    assert(spread(11L) == ((2L, 2L, true)))
    val conf = Ann.knnConfusion(Ann.knnLabelSpread(emb, assign,
        "vec_id", "embedding", "label", k = 3))
      .collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getLong(2)).toMap
    assert(conf((9L, 1L)) == 1L)
    assert(conf((1L, 1L)) == 3L)
    assert(conf((2L, 2L)) == 3L)
  }

  test("standardize: wx from the rounded published dimStats") {
    val spark0 = spark
    import spark0.implicits._
    val df = Seq(
      (0L, Array(1.0f, 2.0f)),
      (1L, Array(3.0f, 2.0f)),
      (2L, Array(5.0f, 2.0f))).toDF("vec_id", "embedding")
    val out = Ann.standardize(df, "vec_id", "embedding").collect()
      .map(r => (r.getLong(0), r.getLong(1)) -> r.getDouble(2)).toMap
    // dim 0: mean 3, var(rounded) 2.666667 -> wx = (x-3)/sqrt(2.666667+1e-9)
    val s0 = math.sqrt(2.666667 + 1e-9)
    assert(out((0L, 0L)) == math.rint((1.0 - 3.0) / s0 * 1e6) / 1e6)
    assert(out((2L, 0L)) == math.rint((5.0 - 3.0) / s0 * 1e6) / 1e6)
    // dim 1 constant: variance 0 -> (x-mean)=0, wx exactly 0
    assert((0L to 2L).forall(i => out((i, 1L)) == 0.0))
  }

  test("srpPairs: precision 1.0 (exact-verified), recall measured vs exhaustive") {
    val emb = graft.Tables.embeddings(spark, sfDir)
    val exhaustive = Ann.cosinePairs(emb, "vec_id", "embedding", 0.4)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val srp = Ann.srpPairs(emb, "vec_id", "embedding", 0.4, bands = 16)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    // exact cosine verification => no false positives, ever
    assert(srp.subsetOf(exhaustive))
    // 16x4 banding at this corpus's cosine 0.4-0.6 pairs: per-band match
    // P = (1-theta/pi)^4 ~ 0.16-0.25, over 16 bands -> expected recall >0.9
    assert(exhaustive.nonEmpty)
    val recall = srp.size.toDouble / exhaustive.size
    assert(recall >= 0.8, s"recall $recall below 0.8 ($srp of $exhaustive)")
    // deterministic across evaluations
    val srp2 = Ann.srpPairs(emb, "vec_id", "embedding", 0.4, bands = 16)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(srp == srp2)
  }

  test("srpPairs multi-word: word 0 bands unchanged, extra words only add recall") {
    val emb = graft.Tables.embeddings(spark, sfDir)
    val one = Ann.srpPairs(emb, "vec_id", "embedding", 0.4, bands = 16)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    // words=2 at the same band width keeps word 0's banding bit-identical,
    // so its candidates (and thus verified pairs) are a superset
    val two = Ann.srpPairs(emb, "vec_id", "embedding", 0.4,
        bands = 32, words = 2)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(one.subsetOf(two))
    val exhaustive = Ann.cosinePairs(emb, "vec_id", "embedding", 0.4)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(two.subsetOf(exhaustive)) // still exact-verified
  }

  test("srpPairs wide bands: duplicates certain, random candidate mass collapses") {
    val spark0 = spark
    import spark0.implicits._
    val emb = graft.Tables.embeddings(spark, sfDir)
      .select("vec_id", "embedding")
    // Scaled copies share every projection sign (doubling is IEEE-exact),
    // so all 256 signature bits match -> recalled through EVERY band.
    val dups = emb.select((col("vec_id") + 1000000L).as("vec_id"),
      transform(col("embedding"), x => x * lit(2.0f)).as("embedding"))
    val corpus = emb.unionByName(dups)
    val wide = Ann.srpPairs(corpus, "vec_id", "embedding", 0.99,
        bands = 8, words = 4) // r = 32-bit bands
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val ids = emb.select(col("vec_id")).as[Long].collect()
    val expected = ids.map(i => (i, i + 1000000L)).toSet
    assert(expected.subsetOf(wide), s"missing ${(expected -- wide).take(3)}")

    // Candidate mass sum_buckets n(n-1)/2: r=32 bands leave random pairs
    // essentially collision-free; r=4 bands force ~n^2/2^r per band.
    def candidateMass(bands: Int, words: Int): Long = {
      val bandsPerWord = bands / words
      val sigs = (0 until words).map(w => org.apache.spark.sql.graft
        .SrpFunctions.srpSign(col("embedding"), 42L + w).as(s"sig_$w"))
      val banded = corpus.select(sigs: _*).select(explode(concat(
        (0 until words).map(w => TextDedup.bitBandStructs(
          col(s"sig_$w"), bandsPerWord, w * bandsPerWord)): _*)).as("k"))
      banded.groupBy("k").count()
        .agg(sum((col("count") * (col("count") - 1) / 2).cast("long")))
        .head().getLong(0)
    }
    val wideMass = candidateMass(bands = 8, words = 4)
    val narrowMass = candidateMass(bands = 16, words = 1)
    assert(wideMass * 10 < narrowMass,
      s"wide-band candidate mass $wideMass not << narrow $narrowMass")

    // maxBucket: generous cap is a no-op; tiny cap still runs, still exact
    val capped = Ann.srpPairs(corpus, "vec_id", "embedding", 0.99,
        bands = 8, words = 4, maxBucket = 1000000)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(capped == wide)
    val tiny = Ann.srpPairs(corpus, "vec_id", "embedding", 0.99,
        bands = 8, words = 4, maxBucket = 2)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(tiny.subsetOf(wide))
  }

  test("decontaminateEmbedding flags only corpus vectors near a benchmark vector") {
    val bench = vecs.filter(col("vec_id") === 0)     // (1, 0)
    val corpus = vecs.filter(col("vec_id") =!= 0)
    val out = Ann.decontaminateEmbedding(corpus, bench,
        "vec_id", "embedding", threshold = 0.9)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toMap
    // only vec 1 (cos ~0.994) is near the benchmark; 2 orthogonal, 3 opposite
    assert(out == Map(1L -> 1L))
  }

  test("kmeansRefine moves centroids to exact member means, reproducibly") {
    val spark0 = spark
    import spark0.implicits._
    // two tight clusters around the axes; init centroids off-center
    val data = Seq(
      (0L, Array(1.0f, 0.1f)), (1L, Array(1.0f, -0.1f)),
      (2L, Array(0.1f, 1.0f)), (3L, Array(-0.1f, 1.0f))
    ).toDF("vec_id", "embedding")
    val init = Seq((0L, Array(0.9f, 0.3f)), (1L, Array(0.3f, 0.9f)))
      .toDF("centroid_id", "embedding")
    val refined = Ann.kmeansRefine(data, init, "vec_id", "embedding",
        "centroid_id", "embedding", iters = 2)
      .collect().map(r => r.getLong(0) -> r.getSeq[Float](1)).toMap
    // cluster {0,1} mean = (1.0, 0.0); cluster {2,3} mean = (0.0, 1.0)
    assert(refined(0L) == Seq(1.0f, 0.0f))
    assert(refined(1L) == Seq(0.0f, 1.0f))
    val again = Ann.kmeansRefine(data, init, "vec_id", "embedding",
        "centroid_id", "embedding", iters = 2)
      .collect().map(r => r.getLong(0) -> r.getSeq[Float](1)).toMap
    assert(refined == again)
  }

  /** `body`'s result and the RDD ids it leaves persisted:
    * `initCentroids` returns a driver-built relation, so every cut it
    * took must be released.
    */
  private def persistedAfter[A](body: => A): (A, Set[Int]) = {
    val before = spark.sparkContext.getPersistentRDDs.keySet.toSet
    val out = body
    (out, spark.sparkContext.getPersistentRDDs.keySet.toSet -- before)
  }

  test("initCentroids: deterministic, k respected, distinct real vectors") {
    val emb = graft.Tables.embeddings(spark, sfDir)
    val (c1, leaked) = persistedAfter(
      Ann.initCentroids(emb, "vec_id", "embedding", k = 8, seed = 7L)
        .collect().map(r => r.getLong(0) -> r.getSeq[Float](1)).toMap)
    assert(leaked.isEmpty, s"initCentroids left persisted RDDs $leaked")
    assert(c1.size == 8)
    assert(c1.keySet == (0L until 8L).toSet) // relabelled 0..k-1
    assert(c1.values.toSeq.distinct.size == 8) // no duplicate centers
    val c2 = Ann.initCentroids(emb, "vec_id", "embedding", k = 8, seed = 7L)
      .collect().map(r => r.getLong(0) -> r.getSeq[Float](1)).toMap
    assert(c1 == c2) // same seed, same centroids
    val c3 = Ann.initCentroids(emb, "vec_id", "embedding", k = 8, seed = 8L)
      .collect().map(r => r.getLong(0) -> r.getSeq[Float](1)).toMap
    assert(c1 != c3) // seed actually drives the sampling
    // every centroid is a real corpus vector (init samples, never averages)
    val corpus = emb.select("embedding").collect()
      .map(_.getSeq[Float](0)).toSet
    assert(c1.values.forall(corpus.contains))
  }

  test("local and distributed farthest-first reductions pick identical sets") {
    // the small-candidate fast path (zero Spark jobs) must be
    // semantics-identical to the executor-side batched reduction —
    // cosineLocal replicates FloatVecCosine's IEEE order, so the picks
    // agree element-for-element wherever the work threshold lands
    val spark0 = spark
    import spark0.implicits._
    val cand = spark.range(200).select(col("id").as("cid"),
        array((0 until 6).map(d =>
          ((pmod(xxhash64(col("id"), lit(d)), lit(1000)).cast("double") / 500.0)
            - 1.0).cast("float")): _*).as("cv"),
        pmod(xxhash64(col("id"), lit(99L)), lit(50L)).as("w"))
      .localCheckpoint()
    for (k <- Seq(3, 17, 64)) {
      val passes = math.min(16, k)
      val batchSize = math.max(1, (k + passes - 1) / passes)
      val l = Ann.reduceLocal(cand, k, passes, batchSize)
      val dd = Ann.reduceDistributed(cand, k, passes, batchSize)
      assert(l.map(_._1) == dd.map(_._1), s"k=$k ids diverge")
      assert(l.map(_._2.toSeq) == dd.map(_._2.toSeq), s"k=$k vectors diverge")
    }
  }

  test("initCentroids at k=1000: full coverage with the distributed reduction") {
    // The production regime (k ≈ √n): the candidate→k reduction must not
    // be a serial driver loop. This drives k=1000 over a 5000-vector
    // synthetic corpus — the batched distributed farthest-first collects
    // only O(k·dim) to the driver (the picks themselves); the serial form
    // this replaced would do k·candidates ≈ 4·10⁶ driver cosines here and
    // ~10⁹ at n=10⁹.
    val spark0 = spark
    import spark0.implicits._
    val emb = spark.range(5000).select(col("id").as("vec_id"),
      array((0 until 8).map(d =>
        ((pmod(xxhash64(col("id"), lit(d)), lit(1000)).cast("double") / 500.0) - 1.0)
          .cast("float")): _*)
        .as("embedding"))
    val (cents, leaked) = persistedAfter(
      Ann.initCentroids(emb, "vec_id", "embedding", k = 1000, seed = 3L)
        .collect().map(r => r.getLong(0) -> r.getSeq[Float](1)).toMap)
    assert(leaked.isEmpty, s"initCentroids left persisted RDDs $leaked")
    assert(cents.size == 1000)
    assert(cents.keySet == (0L until 1000L).toSet)   // relabelled 0..k-1
    assert(cents.values.toSeq.distinct.size == 1000) // distinct real centers
  }

  test("ivfTopKProbed: nprobe=1 equals own-bucket ivfTopK; recall monotone in nprobe") {
    val emb = graft.Tables.embeddings(spark, sfDir)
    val cents = emb.filter(col("vec_id") % 25 === 0)
    val assign = Ann.ivfAssign(emb, cents,
      "vec_id", "embedding", "vec_id", "embedding")
    val queries = emb.filter(col("vec_id") % 37 === 0)
    def rows(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    val one = rows(Ann.ivfTopKProbed(emb, assign, cents, queries,
      "vec_id", "embedding", "vec_id", "embedding", k = 3, nprobe = 1))
    val own = rows(Ann.ivfTopK(emb, assign, queries, "vec_id", "embedding", k = 3))
    assert(one == own)
    // ground truth: brute-force top-3 over the whole corpus
    val truth = Ann.bruteForceTopK(queries, emb, "vec_id", "embedding", 3)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    def recall(probed: Set[(Long, Long, Long)]): Double =
      probed.map(t => (t._1, t._2)).count(truth.contains).toDouble / truth.size
    def probedRecall(nprobe: Int): Double =
      recall(rows(Ann.ivfTopKProbed(emb, assign, cents, queries,
        "vec_id", "embedding", "vec_id", "embedding", k = 3, nprobe = nprobe)))
    val r1 = recall(one)
    val r2 = probedRecall(2)
    val r5 = probedRecall(5)
    val r20 = probedRecall(20) // all 20 buckets probed = exhaustive search
    assert(r2 >= r1 && r5 >= r2 && r20 >= r5,
      s"recall must be monotone in nprobe: $r1 / $r2 / $r5 / $r20")
    assert(r20 == 1.0, s"probing every bucket must recover brute force, got $r20")
    assert(r5 > r1, s"probing 5 of 20 buckets should beat 1 of 20: $r5 vs $r1")
    info(f"recall@3: nprobe=1 $r1%.3f, 2 $r2%.3f, 5 $r5%.3f, 20 $r20%.3f")
  }

  test("ivfRecallReport: recall monotone in nprobe, agrees with per-level probed search") {
    val emb = graft.Tables.embeddings(spark, sfDir)
    val cents = emb.filter(col("vec_id") % 25 === 0)
    val assign = Ann.ivfAssign(emb, cents,
      "vec_id", "embedding", "vec_id", "embedding")
    val queries = emb.filter(col("vec_id") % 37 === 0)
    val report = Ann.ivfRecallReport(emb, assign, cents, queries,
        "vec_id", "embedding", "vec_id", "embedding", k = 3, nprobes = Seq(1, 2, 4))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
      .sortBy(_._1)
    assert(report.map(_._1).toSeq == Seq(1L, 2L, 4L))
    // candidate sets nest, so hits (and ppm) are monotone in nprobe
    assert(report.sliding(2).forall(p => p(0)._2 <= p(1)._2), report.mkString(", "))
    assert(report.forall(r => r._3 >= 0 && r._3 <= 1000000))
    // cross-check one level against the standalone probed search
    val truth = Ann.bruteForceTopK(queries, emb, "vec_id", "embedding", 3)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val probed2 = Ann.ivfTopKProbed(emb, assign, cents, queries,
        "vec_id", "embedding", "vec_id", "embedding", k = 3, nprobe = 2)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val expectHits2 = probed2.count(truth.contains).toLong
    assert(report.find(_._1 == 2L).get._2 == expectHits2,
      s"report hits@nprobe=2 must equal the standalone search's: $report vs $expectHits2")
  }

  test("ivfRecallReport keeps zero-hit probe levels as n_hits=0 rows") {
    // the query is the LONE member of its own bucket, so nprobe=1 probes
    // an empty candidate set — that level must still appear in the report
    // (callers iterate "one row per nprobe"), not silently vanish
    val spark0 = spark
    import spark0.implicits._
    val emb = Seq(
      (0L, Array(1.0f, 0.0f)),
      (1L, Array(0.0f, 1.0f)),
      (2L, Array(0.1f, 1.0f)),
      (3L, Array(-0.1f, 1.0f))
    ).toDF("vec_id", "embedding")
    val cents = Seq((0L, Array(1.0f, 0.0f)), (1L, Array(0.0f, 1.0f)))
      .toDF("vec_id", "embedding")
    val assign = Ann.ivfAssign(emb, cents,
      "vec_id", "embedding", "vec_id", "embedding")
    val queries = emb.filter(col("vec_id") === 0L)
    val report = Ann.ivfRecallReport(emb, assign, cents, queries,
        "vec_id", "embedding", "vec_id", "embedding",
        k = 2, nprobes = Seq(1, 2))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
      .sortBy(_._1)
    assert(report.map(_._1).toSeq == Seq(1L, 2L),
      s"zero-hit level must not vanish: ${report.mkString(", ")}")
    assert(report(0) == ((1L, 0L, 0L)), report.mkString(", "))
    assert(report(1) == ((2L, 2L, 1000000L)), report.mkString(", "))
  }

  test("pq encode picks the per-subspace nearest codeword") {
    val emb = graft.Tables.embeddings(spark, sfDir)
    val cb = Pq.codebookFromSample(emb.filter(col("vec_id") % 25 === 0),
      "vec_id", "embedding", m = 4, subDim = 16)
    val enc = Pq.encode(emb, cb, "vec_id", "embedding", subDim = 16)
    // every (vec, subspace, candidate code) distance; the encoded choice
    // must hold the minimum (ties -> min code)
    val l2 = org.apache.spark.sql.graft.GraftExpressions.floatVecL2Sq _
    val all = emb.select(col("vec_id"), col("embedding"))
      .join(broadcast(cb))
      .select(col("vec_id"), col("subspace"), col("code"),
        l2(slice(col("embedding"), col("subspace") * 16 + 1, lit(16)),
          col("cvs")).as("d"))
    val best = all.groupBy("vec_id", "subspace")
      .agg(min(struct(col("d"), col("code"))).as("b"))
      .select(col("vec_id"), col("subspace"), col("b.code").as("code"))
    val mismatch = enc.select("vec_id", "subspace", "code")
      .exceptAll(best).count()
    assert(mismatch == 0)
    assert(enc.count() == emb.count() * 4)
  }

  test("pq adcTopK with a corpus-complete codebook equals exact L2 top-k") {
    val spark0 = spark
    import spark0.implicits._
    // codebook = every vector: each vector encodes to itself (d = 0), so
    // ADC(q, x) = L2(q, x) exactly and PQ degenerates to exact search
    val vs = Seq(
      (0L, Array(1.0f, 0.0f, 0.0f, 0.0f)),
      (1L, Array(0.9f, 0.1f, 0.0f, 0.0f)),
      (2L, Array(0.0f, 1.0f, 0.5f, 0.0f)),
      (3L, Array(0.0f, 0.9f, 0.6f, 0.1f)),
      (4L, Array(-1.0f, 0.0f, 0.0f, 1.0f)),
      (5L, Array(0.5f, 0.5f, 0.5f, 0.5f))
    ).toDF("vec_id", "embedding")
    val cb = Pq.codebookFromSample(vs, "vec_id", "embedding", m = 2, subDim = 2)
    val codes = Pq.encode(vs, cb, "vec_id", "embedding", subDim = 2)
    assert(codes.filter(col("dist") =!= 0.0).count() == 0)
    val got = Pq.adcTopK(codes.select("vec_id", "subspace", "code"), cb, vs,
        "vec_id", "embedding", subDim = 2, k = 2)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    val l2 = org.apache.spark.sql.graft.GraftExpressions.floatVecL2Sq _
    val truth = vs.select(col("vec_id").as("query_id"), col("embedding").as("qv"))
      .join(vs.select(col("vec_id").as("neighbor_id"), col("embedding").as("nv")),
        col("query_id") =!= col("neighbor_id"))
      .select(col("query_id"), col("neighbor_id"),
        l2(col("qv"), col("nv")).as("d"))
      .withColumn("rank", row_number().over(
        org.apache.spark.sql.expressions.Window.partitionBy("query_id")
          .orderBy(col("d"), col("neighbor_id"))))
      .filter(col("rank") <= 2)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(3).toLong)).toSet
    assert(got == truth)
  }

  test("pq adcTopK recall vs exact L2 top-k on real embeddings") {
    val emb = graft.Tables.embeddings(spark, sfDir)
    val cb = Pq.codebookFromSample(emb.filter(col("vec_id") % 25 === 0),
      "vec_id", "embedding", m = 4, subDim = 16)
    val codes = Pq.encode(emb, cb, "vec_id", "embedding", subDim = 16)
      .select("vec_id", "subspace", "code")
    val queries = emb.filter(col("vec_id") % 37 === 0)
    val got = Pq.adcTopK(codes, cb, queries, "vec_id", "embedding",
        subDim = 16, k = 3)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val l2 = org.apache.spark.sql.graft.GraftExpressions.floatVecL2Sq _
    val truth = emb.select(col("vec_id").as("neighbor_id"), col("embedding").as("nv"))
      .join(broadcast(queries.select(col("vec_id").as("query_id"),
        col("embedding").as("qv"))), col("query_id") =!= col("neighbor_id"))
      .select(col("query_id"), col("neighbor_id"), l2(col("qv"), col("nv")).as("d"))
      .withColumn("rank", row_number().over(
        org.apache.spark.sql.expressions.Window.partitionBy("query_id")
          .orderBy(col("d"), col("neighbor_id"))))
      .filter(col("rank") <= 3)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val recall = got.count(truth.contains).toDouble / truth.size
    assert(recall > 0.0 && recall <= 1.0)
    info(f"pq adc recall@3 = $recall%.3f (codebook: every 25th vector)")
  }

  test("ivfadcTopK with complete residual codebook + all probes = exact L2 search") {
    val spark0 = spark
    import spark0.implicits._
    // all values are small dyadic rationals, so residual floats are exact
    // and ADC over a corpus-complete residual codebook degenerates to
    // EXACT L2 ranking — the FAISS composition's correctness limit
    val vs = Seq(
      (0L, Array(1.0f, 0.0f, 0.0f, 0.0f)),
      (1L, Array(0.75f, 0.25f, 0.0f, 0.0f)),
      (2L, Array(0.0f, 1.0f, 0.5f, 0.0f)),
      (3L, Array(0.0f, 0.75f, 0.5f, 0.25f)),
      (4L, Array(-1.0f, 0.0f, 0.0f, 1.0f)),
      (5L, Array(0.5f, 0.5f, 0.5f, 0.5f))
    ).toDF("vec_id", "embedding")
    val cents = Seq((0L, Array(0.5f, 0.25f, 0.0f, 0.0f)),
                    (1L, Array(0.0f, 0.5f, 0.5f, 0.25f)))
      .toDF("centroid_id", "cv")
    val assign = Ann.ivfAssign(vs, cents, "vec_id", "embedding", "centroid_id", "cv")
    val rv = Pq.ivfResiduals(vs, assign, cents,
      "vec_id", "embedding", "centroid_id", "cv")
    // corpus-complete codebook: every residual is its own codeword
    val cb = Pq.codebookFromSample(rv, "vec_id", "rv", m = 2, subDim = 2)
    val codes = Pq.encode(rv, cb, "vec_id", "rv", subDim = 2)
      .join(assign.select("vec_id", "centroid_id"), "vec_id")
      .select("vec_id", "centroid_id", "subspace", "code")
    // nprobe = all buckets: candidate set = whole corpus; with zero
    // quantization error ADC(q,x) = L2(q_res, x_res) = L2(q, x) exactly
    // (dyadic values: the residual subtraction is lossless)
    val got = Pq.ivfadcTopK(codes, cb, cents, vs,
        "vec_id", "embedding", "centroid_id", "cv", subDim = 2, k = 2, nprobe = 2)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    val l2 = org.apache.spark.sql.graft.GraftExpressions.floatVecL2Sq _
    val truth = vs.select(col("vec_id").as("query_id"), col("embedding").as("qv"))
      .join(vs.select(col("vec_id").as("neighbor_id"), col("embedding").as("nv")),
        col("query_id") =!= col("neighbor_id"))
      .select(col("query_id"), col("neighbor_id"),
        l2(col("qv"), col("nv")).as("d"))
      .withColumn("rank", row_number().over(
        org.apache.spark.sql.expressions.Window.partitionBy("query_id")
          .orderBy(col("d"), col("neighbor_id"))))
      .filter(col("rank") <= 2)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(3).toLong)).toSet
    assert(got == truth)
  }

  test("ivfadcTopK on real embeddings: quantization-only loss vs exact probed search") {
    val emb = graft.Tables.embeddings(spark, sfDir)
    val cents = emb.filter(col("vec_id") % 25 === 0)
      .select(col("vec_id").as("centroid_id"), col("embedding").as("cv"))
    val assign = Ann.ivfAssign(emb, cents, "vec_id", "embedding", "centroid_id", "cv")
    val rv = Pq.ivfResiduals(emb, assign, cents,
      "vec_id", "embedding", "centroid_id", "cv")
    val cb = Pq.codebookFromSample(
      rv.filter(col("vec_id") % 25 === 7 && col("vec_id") < 25 * 64),
      "vec_id", "rv", m = 4, subDim = 16)
    val codes = Pq.encode(rv, cb, "vec_id", "rv", subDim = 16)
      .join(assign.select("vec_id", "centroid_id"), "vec_id")
      .select("vec_id", "centroid_id", "subspace", "code")
    val queries = emb.filter(col("vec_id") % 37 === 0)
    def adcSet(codebook: org.apache.spark.sql.DataFrame,
               cds: org.apache.spark.sql.DataFrame) =
      Pq.ivfadcTopK(cds, codebook, cents, queries,
          "vec_id", "embedding", "centroid_id", "cv", subDim = 16, k = 3, nprobe = 2)
        .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val got = adcSet(cb, codes)
    // exact-L2 ranking over the SAME probed candidate set: isolates the
    // quantization loss from the coarse quantizer's own recall loss
    val cos = org.apache.spark.sql.graft.GraftExpressions.floatVecCosine _
    val l2 = org.apache.spark.sql.graft.GraftExpressions.floatVecL2Sq _
    val probes = queries.select(col("vec_id").as("query_id"), col("embedding").as("qv"))
      .join(broadcast(cents))
      .withColumn("rn", row_number().over(
        org.apache.spark.sql.expressions.Window.partitionBy("query_id")
          .orderBy(cos(col("qv"), col("cv")).desc, col("centroid_id"))))
      .filter(col("rn") <= 2)
      .select(col("query_id"), col("qv"), col("centroid_id"))
    val exact = emb.select(col("vec_id").as("neighbor_id"), col("embedding").as("nv"))
      .join(assign.select(col("vec_id").as("neighbor_id"), col("centroid_id")),
        "neighbor_id")
      .join(broadcast(probes), "centroid_id")
      .filter(col("query_id") =!= col("neighbor_id"))
      .select(col("query_id"), col("neighbor_id"), l2(col("qv"), col("nv")).as("d"))
      .withColumn("rank", row_number().over(
        org.apache.spark.sql.expressions.Window.partitionBy("query_id")
          .orderBy(col("d"), col("neighbor_id"))))
      .filter(col("rank") <= 3)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val overlap = got.count(exact.contains).toDouble / exact.size
    assert(got.map(_._1) == exact.map(_._1), "every query answered")
    // the quantization knob: a corpus-complete residual codebook drives
    // the quantization error to (float-rounding) zero, so the ADC ranking
    // must converge to the exact probed-L2 ranking; the small sampled
    // codebook may rank loosely on these clusterless synthetic vectors
    // but can never do better than the complete one
    val cbFull = Pq.codebookFromSample(rv, "vec_id", "rv", m = 4, subDim = 16)
    val codesFull = Pq.encode(rv, cbFull, "vec_id", "rv", subDim = 16)
      .join(assign.select("vec_id", "centroid_id"), "vec_id")
      .select("vec_id", "centroid_id", "subspace", "code")
    val gotFull = adcSet(cbFull, codesFull)
    val overlapFull = gotFull.count(exact.contains).toDouble / exact.size
    assert(overlapFull >= 0.9,
      s"complete codebook must reproduce exact probed L2: $overlapFull")
    assert(overlapFull >= overlap,
      s"more codewords cannot hurt: full $overlapFull vs sampled $overlap")
    info(f"ivfadc overlap@3 vs exact probed L2: sampled cb $overlap%.3f, complete cb $overlapFull%.3f")
  }

  test("frameSlices partitions the payload exactly; frameFeatures is deterministic") {
    val spark0 = spark
    import spark0.implicits._
    val df = Seq((1L, Array.tabulate[Byte](600)(_.toByte)),
                 (2L, Array[Byte](1, 2, 3))).toDF("doc_id", "payload")
    val frames = Multimodal.frameSlices(df, "doc_id", "payload", frameBytes = 256)
    val byDoc = frames.collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getAs[Array[Byte]](2)))
      .groupBy(_._1)
    assert(byDoc(1L).map(_._3.length).sorted.toSeq == Seq(88, 256, 256))
    assert(byDoc(2L).map(_._3.length).toSeq == Seq(3))
    // reassembling the frames in order gives the original payload
    val rebuilt = byDoc(1L).sortBy(_._2).flatMap(_._3)
    assert(rebuilt.toSeq == Array.tabulate[Byte](600)(_.toByte).toSeq)
    val feats = Multimodal.frameFeatures(frames.as[Multimodal.FrameRow]).collect()
    // the 600-byte ramp repeats with period 256, so frames 0 and 1 of doc 1
    // are byte-identical and must share a feature; the other two differ
    assert(feats.length == 4 && feats.map(_.feature).distinct.length == 3)
  }

  test("multimodal payloadMeta checksum is the exact polynomial over raw bytes") {
    val spark0 = spark
    import spark0.implicits._
    // full 0-255 byte range (beyond ASCII), an empty payload, and a
    // multi-frame one — checked against an independent JVM fold
    def ref(bytes: Array[Byte]): Long =
      bytes.foldLeft(0L)((acc, b) => (acc * 31 + (b & 0xff)) % 1000000007L)
    val payloads = Map(
      1L -> "hello".getBytes("UTF-8"),
      2L -> Array.fill[Byte](600)(7),
      3L -> Array.tabulate[Byte](256)(_.toByte),
      4L -> Array.empty[Byte])
    val ds = payloads.toSeq.map { case (id, p) => Multimodal.MediaRow(id, p) }.toDS()
    val out = Multimodal.payloadMeta(ds.toDF(), "doc_id", "payload")
      .collect().map(r => r.getLong(0) -> r).toMap
    assert(out(1L).getLong(1) == 5 && out(1L).getLong(3) == 1)
    assert(out(2L).getLong(1) == 600 && out(2L).getLong(3) == 3)
    assert(out(4L).getLong(1) == 0 && out(4L).getLong(3) == 0)
    for ((id, p) <- payloads)
      assert(out(id).getLong(4) == ref(p), s"doc $id checksum")
  }

  test("real JDK codec: PNG round trip is lossless, non-images drop, resize scales") {
    val spark0 = spark
    import spark0.implicits._
    val ids = Seq(java.lang.Long.valueOf(0L), java.lang.Long.valueOf(3L),
      java.lang.Long.valueOf(10L)).toDS()
    val pngs = Multimodal.syntheticPngs(ids)
    // the payloads are REAL PNG bytes (magic \x89PNG)
    val first = pngs.collect().map(r => r.doc_id -> r.payload).toMap
    assert(first.values.forall(p =>
      (p(0) & 0xff) == 0x89 && p(1) == 'P' && p(2) == 'N' && p(3) == 'G'))
    // decode reproduces the generator's integer formula exactly (lossless)
    val feats = Multimodal.decodeImages(pngs)
      .collect().map(f => f.doc_id -> f).toMap
    for (id <- Seq(0L, 3L, 10L)) {
      val (w, h) = ((8 + id % 5).toInt, (8 + id % 7).toInt)
      val expected = (for (y <- 0 until h; x <- 0 until w)
        yield (id * 31 + x * 7 + y * 13) % 256).sum
      assert(feats(id).width == w && feats(id).height == h)
      assert(feats(id).sum_luma == expected, s"doc $id")
    }
    // non-image payloads are dropped, not errors
    val mixed = pngs.union(Seq(
      Multimodal.MediaRow(99L, "not a png".getBytes("UTF-8"))).toDS())
    assert(Multimodal.decodeImages(mixed).collect().map(_.doc_id).toSet ==
      Set(0L, 3L, 10L))
    // real pixel-domain resize: output decodes to the target dims
    val resized = Multimodal.decodeImages(Multimodal.resizeImages(pngs, 4, 4))
      .collect()
    assert(resized.length == 3 && resized.forall(f => f.width == 4 && f.height == 4))
  }

  test("perceptualHash: gradient-sign fixed values, length gate, dup groups") {
    val spark0 = spark
    import spark0.implicits._
    // true binary gradients, spanning beyond 7-bit ASCII (up to byte 255)
    val up = (0 to 62).map(j => (193 + j).toByte).toArray     // strictly rising
    val down = up.reverse                                     // strictly falling
    val docs = Seq((1L, up), (2L, down), (3L, up),
        (4L, Array[Byte](1, 2, 3)))
      .toDF("doc_id", "payload")
    val sigs = Multimodal.perceptualHash(docs, "doc_id", "payload", nBits = 62)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    // len 63 => stride 1, all 62 comparisons rise: sum 2^0..2^61 = 2^62-1
    assert(sigs(1L) === (1L << 62) - 1)
    assert(sigs(2L) === 0L)
    assert(sigs(3L) === sigs(1L))
    // payloads below nBits+1 bytes carry no gradient signal and drop out
    assert(!sigs.contains(4L))
    val dups = Multimodal.phashDupGroups(
        Multimodal.perceptualHash(docs, "doc_id", "payload", nBits = 62))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    assert(dups.toSeq === Seq(((1L << 62) - 1, 2L, 1L)))
  }

  test("perceptualHash kernel equals the relational byte-read form") {
    // r14: the signature moved from builtin byte reads to the codegen'd
    // GraftByteOps.phash kernel — pin bit-for-bit equality against the
    // conv∘hex∘substring formulation on payloads with non-unit strides,
    // lengths that don't divide evenly, and full-range byte values.
    val spark0 = spark
    import spark0.implicits._
    val payloads = Seq(
      (1L, Array.tabulate(200)(j => ((j * 31 + 7) % 256).toByte)),
      (2L, Array.tabulate(63)(j => ((255 - j * 5) % 256).toByte)),
      (3L, Array.tabulate(499)(j => ((j * j * 7 + j * 13) % 256).toByte)),
      (4L, Array.tabulate(64)(j => ((j % 3) * 120 % 256).toByte)))
    val docs = payloads.toDF("doc_id", "payload")
    for (nBits <- Seq(8, 62)) {
      val got = Multimodal.perceptualHash(docs, "doc_id", "payload", nBits)
        .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
      val ref = docs
        .filter(octet_length(col("payload")) >= nBits + 1)
        .withColumn("stride", expr(s"(octet_length(payload) - 1) div $nBits"))
        .select(col("doc_id"),
          expr(s"""aggregate(sequence(0, ${nBits - 1}), cast(0 as bigint),
            |(acc, j) -> acc + if(
            |  cast(conv(hex(substring(payload, cast(1 + (j+1) * stride as int), 1)), 16, 10) as int) >
            |  cast(conv(hex(substring(payload, cast(1 + j * stride as int), 1)), 16, 10) as int),
            |  shiftleft(cast(1 as bigint), j), cast(0 as bigint)))""".stripMargin)
            .as("phash"))
        .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
      assert(got === ref, s"nBits=$nBits")
    }
  }

  test("filteredTopK only returns neighbors with the target label") {
    val spark0 = spark
    import spark0.implicits._
    val emb = Seq(
      (0L, Array(1.0f, 0.0f), 1),
      (1L, Array(0.99f, 0.14f), 2),    // closest to 0 but wrong label
      (2L, Array(0.9f, 0.44f), 3),     // label-3, second closest
      (3L, Array(0.0f, 1.0f), 3),      // label-3, orthogonal
      (4L, Array(0.7f, 0.7f), 3)       // label-3, diagonal
    ).toDF("vec_id", "embedding", "label")
    // one centroid → one bucket: the filter, not the bucketing, decides
    val cents = Seq((100L, Array(1.0f, 0.0f))).toDF("vec_id", "embedding")
    val assign = Ann.ivfAssign(emb, cents, "vec_id", "embedding",
      "vec_id", "embedding")
    val got = Ann.filteredTopK(emb, assign,
        emb.filter(col("vec_id") === 0L), "vec_id", "embedding", "label",
        neighborLabel = 3, k = 2)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    // ranks: label-3 by cosine to (1,0): 2 (0.898) > 4 (0.707) > 3 (0)
    assert(got.toSeq === Seq((0L, 2L, 1L), (0L, 4L, 2L)))
  }

  test("ivfIndexUpsert equals a frozen-centroid rebuild; probes agree; drift composes") {
    val spark0 = spark
    import spark0.implicits._
    val rng = new scala.util.Random(31)
    def vec() = Array.fill(4)((rng.nextGaussian() * 3).toFloat)
    val prevRows = (0L until 60L).map(id => (id, vec()))
    val prev = prevRows.toDF("vec_id", "v")
    // curr: delete %13==1, update %7==2 (fresh vector), insert 100..104
    val currRows = prevRows.filter(_._1 % 13 != 1)
      .map { case (id, v) => (id, if (id % 7 == 2) vec() else v) } ++
      (100L until 105L).map(id => (id, vec()))
    val curr = currRows.toDF("vec_id", "v")
    val cents = prev.filter(col("vec_id") % 12 === 0) // frozen
    def assignOf(emb: org.apache.spark.sql.DataFrame) =
      emb.select(col("vec_id"), col("v"))
        .join(Ann.ivfAssign(emb, cents, "vec_id", "v", "vec_id", "v")
          .select("vec_id", "centroid_id"), "vec_id")
    val base = assignOf(prev)
    val upserted = Ann.ivfIndexUpsert(base, prev, curr, cents,
      "vec_id", "v", "vec_id", "v")
    val rebuilt = assignOf(curr)
    def canon(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(r => (r.getLong(0),
        r.getSeq[Float](1).toList, r.getLong(2))).toSet
    assert(canon(upserted) === canon(rebuilt))
    // probe answers over the upserted index equal the rebuilt index's
    val queries = curr.filter(col("vec_id") % 5 === 0).select("vec_id")
    def probe(idx: org.apache.spark.sql.DataFrame) =
      Ann.ivfTopKIndexed(idx, queries, "vec_id", k = 2)
        .collect().map(_.toSeq).toSet
    assert(probe(upserted) === probe(rebuilt) && probe(upserted).nonEmpty)
    // retrain tripwire: centroidDrift over base (slice 0) vs upserted
    // (slice 1) bucket populations — buckets untouched by the diff hold
    // cosine 1, every shared bucket reports a value
    val sliced = base.withColumn("slice", lit(0))
      .unionByName(upserted.withColumn("slice", lit(1)))
    val drift = Ann.centroidDrift(sliced, "v", "centroid_id", "slice")
    val byBucket = drift.collect()
      .map(r => r.getLong(0) -> r.getDouble(3)).toMap
    assert(byBucket.nonEmpty && byBucket.values.forall(c => c <= 1.0 + 1e-9))
    val touched = (prevRows.filter(_._1 % 13 == 1).map(_._1) ++
      prevRows.filter(_._1 % 7 == 2).map(_._1)).toSet
    val touchedBuckets = base
      .filter(col("vec_id").isin(touched.toSeq: _*))
      .select("centroid_id").as[Long].collect().toSet ++
      upserted.join(rebuilt.select("vec_id"), Seq("vec_id"), "left_semi")
        .filter(col("vec_id") >= 100L || col("vec_id") % 7 === 2)
        .select("centroid_id").as[Long].collect().toSet
    byBucket.foreach { case (b, c) =>
      if (!touchedBuckets.contains(b)) assert(c === 1.0, s"bucket $b")
    }
  }

  test("pcaTopComponent converges toward the dominant axis") {
    val spark0 = spark
    import spark0.implicits._
    // X = 4 rows of (2,0) + 1 row of (0,1): XᵀX = diag(16, 1), top
    // eigenvector = e0. After 2 iterations from (1,1)/√2 the loading is
    // (256, 1)/√65537 and λ = √(65537/257).
    val emb = (0L until 4L).map(i => (i, Array(2.0f, 0.0f))) :+
      ((4L, Array(0.0f, 1.0f)))
    val got = Ann.pcaTopComponent(emb.toDF("vec_id", "embedding"),
        "vec_id", "embedding", dims = 2, iters = 2)
      .collect().map(r => r.getLong(0) -> ((r.getDouble(1), r.getDouble(2))))
      .toMap
    assert(math.abs(got(0L)._1 - 256.0 / math.sqrt(65537.0)) < 1e-6)
    assert(math.abs(got(1L)._1 - 1.0 / math.sqrt(65537.0)) < 1e-6)
    assert(math.abs(got(0L)._2 - math.sqrt(65537.0 / 257.0)) < 1e-4)
  }

  test("pcaTopComponent PowerStepAgg matches the relational matvec plan") {
    // The r15 one-pass aggregate must be BIT-identical to the former
    // posexplode → sum(cast(x*w as decimal(38,12))) → join → per-dim sum
    // form it replaced (the oracle gates the entry; this gates the
    // kernel on adversarial shapes the sf data does not contain:
    // negative/large magnitudes, null cells, wrong-width and null
    // vectors, and an input with no valid row at all).
    val spark0 = spark
    import spark0.implicits._
    def relational(emb: org.apache.spark.sql.DataFrame, dims: Int,
                   iters: Int): Array[org.apache.spark.sql.Row] = {
      val v = emb.filter(size(col("embedding")) === dims)
        .select(col("vec_id").as("rid"),
          posexplode(col("embedding")).as(Seq("dim", "x")))
        .select(col("rid"), col("dim").cast("long").as("dim"),
          col("x").cast("double").as("x"))
      def dec(c: org.apache.spark.sql.Column) = c.cast("decimal(38,12)")
      var w = spark0.range(dims).select(col("id").as("dim"),
        lit(1.0 / math.sqrt(dims.toDouble)).as("w"))
      var norm: org.apache.spark.sql.DataFrame = null
      for (_ <- 0 until iters) {
        val s = v.join(broadcast(w), "dim").groupBy("rid")
          .agg(sum(dec(col("x") * col("w"))).cast("double").as("s"))
        val z = v.join(s, "rid").groupBy("dim")
          .agg(sum(dec(col("x") * col("s"))).cast("double").as("z"))
        val n = z.agg(
          sqrt(sum(dec(col("z") * col("z"))).cast("double")).as("nn"))
        norm = n
        w = z.crossJoin(broadcast(n))
          .select(col("dim"), (col("z") / col("nn")).as("w"))
      }
      w.crossJoin(broadcast(norm))
        .select(col("dim"), round(col("w"), 6).as("loading"),
          round(col("nn"), 6).as("lambda"))
        .collect().sortBy(_.getLong(0))
    }
    val rnd = new scala.util.Random(42)
    val dims = 5
    val rows: Seq[(Long, Array[java.lang.Float])] =
      (0L until 40L).map { i =>
        val a = Array.tabulate[java.lang.Float](dims)(d =>
          java.lang.Float.valueOf(
            ((rnd.nextDouble() - 0.3) * math.pow(10, rnd.nextInt(5))).toFloat))
        if (i % 11 == 3) a(rnd.nextInt(dims)) = null // null cell
        (i, a)
      } ++ Seq(
        (100L, Array.tabulate[java.lang.Float](dims - 1)(_ =>
          java.lang.Float.valueOf(1f))), // wrong width: skipped
        (101L, null) // null vector: skipped
      )
    val emb = rows.toDF("vec_id", "embedding")
    for (iters <- Seq(1, 2)) {
      val got = Ann.pcaTopComponent(emb, "vec_id", "embedding", dims, iters)
        .collect().sortBy(_.getLong(0))
      val want = relational(emb, dims, iters)
      assert(got.length === want.length)
      got.zip(want).foreach { case (g, e) => assert(g === e, s"iters=$iters") }
    }
    // no valid row at all: relational groupBy has zero groups -> empty
    val none = Seq((1L, Array.tabulate[java.lang.Float](dims - 2)(_ =>
      java.lang.Float.valueOf(1f)))).toDF("vec_id", "embedding")
    assert(Ann.pcaTopComponent(none, "vec_id", "embedding", dims, 2).count() === 0L)
    assert(relational(none, dims, 2).isEmpty)
  }

  test("centroidDrift: identical slices cos 1, orthogonal slices cos 0") {
    val spark0 = spark
    import spark0.implicits._
    val emb = Seq(
      // label 1: both slices centered on (1,0) → cos 1
      (0L, Array(1.0f, 0.0f), 1, 0),
      (1L, Array(1.0f, 0.0f), 1, 1),
      (2L, Array(3.0f, 0.0f), 1, 0),
      (3L, Array(3.0f, 0.0f), 1, 1),
      // label 2: slice 0 on x, slice 1 on y → cos 0
      (4L, Array(2.0f, 0.0f), 2, 0),
      (5L, Array(0.0f, 5.0f), 2, 1)
    ).toDF("vec_id", "embedding", "label", "slice")
    val got = Ann.centroidDrift(emb, "embedding", "label", "slice")
      .collect().map(r => r.getInt(0) ->
        ((r.getLong(1), r.getLong(2), r.getDouble(3)))).toMap
    assert(got(1) === ((2L, 2L, 1.0)))
    assert(got(2) === ((1L, 1L, 0.0)))
  }
}
