package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.DecimalType

/** Product quantization (Jégou et al., PAMI'11): split each vector into
  * `m` subspaces, quantize every subvector against a per-subspace
  * codebook, and answer top-k with asymmetric distance computation (ADC)
  * — query-to-codeword distances come from a tiny lookup table while the
  * corpus is represented by `m` small codes per vector.
  *
  * This is the memory-bound 100 TB ANN path: a 64-dim float32 corpus
  * (256 B/vector) compresses to m=4 bytes of codes, so the ADC scan reads
  * ~64x less data than brute force, and the only shuffle is the per-
  * (query, vector) distance sum — map-side combined, `m` rows in, one
  * out. Codebooks and LUTs are O(m·ksub) and O(q·m·ksub) — broadcast.
  *
  * All distances are squared L2 over doubles, summed left-to-right
  * (native codegen expression), and cross-subspace ADC sums accumulate in
  * decimal — exact, order-independent, engine-portable.
  */
object Pq {

  private val l2sq = org.apache.spark.sql.graft.GraftExpressions.floatVecL2Sq _

  /** Per-subspace codebook from a deterministic sample of the corpus:
    * codeword `code` of subspace `s` is dims [s·subDim, (s+1)·subDim) of
    * the sample's code-th vector (ordered by id). Sample size = ksub
    * (codewords per subspace); the relation is m·ksub rows of subDim
    * floats — KBs, broadcast everywhere it is used. A production refiner
    * would Lloyd-iterate each subspace ([[Ann.kmeansRefine]] shape); the
    * sampled form keeps the codebook an exact, oracle-reproducible
    * function of the data.
    *
    * SCALE NOTE: pass a FIXED-SIZE sample (e.g. 256 vectors) — a sample
    * whose size grows with the corpus (every k-th vector) makes the
    * encode join n·m·ksub = O(n²/k), the same trap as a grows-with-n IVF
    * centroid rule. With constant ksub the ADC pipeline probes linear to
    * 100x (SURVEY §3).
    */
  def codebookFromSample(sample: DataFrame, idCol: String, vecCol: String,
                         m: Int, subDim: Int): DataFrame = {
    require(m > 0 && subDim > 0, "m and subDim must be positive")
    val subspaces = array((0 until m).map(lit): _*)
    sample
      .select(col(idCol).as("sid"), col(vecCol).as("sv"))
      .withColumn("code", row_number().over(
        org.apache.spark.sql.expressions.Window.orderBy(col("sid"))) - 1)
      .select(col("code").cast("long").as("code"),
        explode(subspaces).as("subspace"), col("sv"))
      .select(col("subspace").cast("long").as("subspace"), col("code"),
        slice(col("sv"), col("subspace") * subDim + 1, lit(subDim)).as("cvs"))
  }

  /** PQ encoding: for every vector and subspace, the nearest codeword
    * (squared L2, ties → smallest code) and its distance. One scan of the
    * corpus against the broadcast codebook; the nearest-code fold is a
    * min(struct(d, code)) aggregate — map-side combined, no window over
    * the corpus.
    */
  def encode(emb: DataFrame, codebook: DataFrame, idCol: String,
             vecCol: String, subDim: Int): DataFrame = {
    val v = emb.select(col(idCol).as("vec_id"), col(vecCol).as("v"))
    val scored = v.join(broadcast(codebook))
      .withColumn("d",
        l2sq(slice(col("v"), col("subspace") * subDim + 1, lit(subDim)),
          col("cvs")))
    scored.groupBy("vec_id", "subspace")
      .agg(min(struct(col("d"), col("code"))).as("best"))
      .select(col("vec_id"), col("subspace"),
        col("best.code").as("code"), round(col("best.d"), 4).as("dist"))
  }

  /** IVF residuals: each vector minus its assigned centroid — what IVFADC
    * (Jégou PAMI'11 §IV; the FAISS IVFPQ index) quantizes instead of the
    * raw vectors, because residuals concentrate near the origin and the
    * same codebook budget buys far less quantization error. One broadcast
    * join of the tiny centroid relation; the subtraction is the codegen'd
    * [[org.apache.spark.sql.graft.FloatVecSub]] (exact float rounding, so
    * an engine computing `CAST(v AS DOUBLE)-CAST(cv AS DOUBLE)` cast back
    * to REAL reproduces it bit-for-bit).
    */
  def ivfResiduals(emb: DataFrame, assignments: DataFrame, centroids: DataFrame,
                   idCol: String, vecCol: String,
                   centroidIdCol: String, centroidVecCol: String): DataFrame = {
    val sub = org.apache.spark.sql.graft.GraftExpressions.floatVecSub _
    emb.select(col(idCol).as("vec_id"), col(vecCol).as("v"))
      .join(assignments.select("vec_id", "centroid_id"), "vec_id")
      .join(broadcast(centroids.select(col(centroidIdCol).as("centroid_id"),
        col(centroidVecCol).as("cv"))), "centroid_id")
      .select(col("vec_id"), col("centroid_id"),
        sub(col("v"), col("cv")).as("rv"))
  }

  /** IVFADC top-k (the FAISS IVFPQ search): each query probes its `nprobe`
    * nearest centroid buckets (cosine ranking, [[Ann.ivfAssign]]'s
    * tie-break, so one scored relation serves assignment and probing);
    * within a probed bucket the approximate distance is the ADC sum over
    * the RESIDUAL codes, with a per-(query, probe) LUT built from the
    * query's own residual against that centroid. This is the
    * billion-scale composition: the coarse quantizer cuts the scan to the
    * probed buckets, PQ cuts the bytes per scanned vector to `m` codes,
    * and everything that isn't corpus-sized (centroids, codebook, LUT =
    * queries x nprobe x m x ksub rows) broadcasts.
    *
    * `codes` is (vec_id, centroid_id, subspace, code) — [[encode]] over
    * [[ivfResiduals]] joined back to its assignment. A vector lives in
    * exactly one bucket, so no (query, neighbor) pair can arrive through
    * two probes — the decimal ADC sum is over exactly `m` rows.
    */
  def ivfadcTopK(codes: DataFrame, codebook: DataFrame, centroids: DataFrame,
                 queries: DataFrame, idCol: String, vecCol: String,
                 centroidIdCol: String, centroidVecCol: String,
                 subDim: Int, k: Int, nprobe: Int): DataFrame = {
    require(nprobe >= 1, "nprobe must be >= 1")
    val cos = org.apache.spark.sql.graft.GraftExpressions.floatVecCosine _
    val sub = org.apache.spark.sql.graft.GraftExpressions.floatVecSub _
    val q = queries.select(col(idCol).as("query_id"), col(vecCol).as("qv"))
    val cts = centroids.select(col(centroidIdCol).as("centroid_id"),
      col(centroidVecCol).as("cv"))
    val probes = q.join(broadcast(cts))
      .withColumn("rn", row_number().over(
        org.apache.spark.sql.expressions.Window.partitionBy("query_id")
          .orderBy(cos(col("qv"), col("cv")).desc, col("centroid_id"))))
      .filter(col("rn") <= nprobe)
      .select(col("query_id"), col("centroid_id"),
        sub(col("qv"), col("cv")).as("qrv"))
    val lut = probes.join(broadcast(codebook))
      .select(col("query_id"), col("centroid_id"), col("subspace"), col("code"),
        l2sq(slice(col("qrv"), col("subspace") * subDim + 1, lit(subDim)),
          col("cvs")).as("d"))
    val summed = codes.join(broadcast(lut), Seq("centroid_id", "subspace", "code"))
      .filter(col("vec_id") =!= col("query_id"))
      .groupBy(col("query_id"), col("vec_id").as("neighbor_id"))
      .agg(sum(col("d").cast(DecimalType(38, 12))).as("adc_exact"))
    org.apache.spark.sql.graft.TopKPerGroup(summed, Seq(col("query_id")),
        Seq(col("adc_exact"), col("neighbor_id")), k)
      .select(col("query_id"), col("neighbor_id"),
        col("rank").cast("long").as("rank"),
        round(col("adc_exact").cast("double"), 4).as("adc"))
  }

  /** ADC top-k over PQ codes: approximate distance(q, x) = Σ_s
    * LUT[q][s][code_x[s]]. The LUT (queries × codebook) broadcasts; the
    * code relation joins it map-side, and the per-(query, vector) sum
    * accumulates in decimal (order-independent across subspaces). Top-k
    * per query via the bounded-heap TopKPerGroup operator — the shuffle
    * after the sum carries ≤ k rows per query per partition.
    */
  def adcTopK(codes: DataFrame, codebook: DataFrame, queries: DataFrame,
              idCol: String, vecCol: String, subDim: Int, k: Int): DataFrame = {
    val q = queries.select(col(idCol).as("query_id"), col(vecCol).as("qv"))
    val lut = q.join(broadcast(codebook))
      .select(col("query_id"), col("subspace"), col("code"),
        l2sq(slice(col("qv"), col("subspace") * subDim + 1, lit(subDim)),
          col("cvs")).as("d"))
    val summed = codes.join(broadcast(lut), Seq("subspace", "code"))
      .filter(col("vec_id") =!= col("query_id"))
      .groupBy(col("query_id"), col("vec_id").as("neighbor_id"))
      .agg(sum(col("d").cast(DecimalType(38, 12))).as("adc_exact"))
    org.apache.spark.sql.graft.TopKPerGroup(summed, Seq(col("query_id")),
        Seq(col("adc_exact"), col("neighbor_id")), k)
      .select(col("query_id"), col("neighbor_id"),
        col("rank").cast("long").as("rank"),
        round(col("adc_exact").cast("double"), 4).as("adc"))
  }
}
