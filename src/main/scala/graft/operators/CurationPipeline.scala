package graft.operators

import org.apache.spark.sql.{Column, DataFrame, Observation}
import org.apache.spark.sql.functions._

/** End-to-end corpus curation: the composed form of the individual
  * curation operators, in the order a training-data pipeline runs them —
  *
  *   1. exact dedup (md5 groups, keep the min doc id),
  *   2. heuristic quality gate ([[TextAnalysis.qualityScore]] ≥ min),
  *   3. intra-doc repetition gate (dup-token fraction ≤ max),
  *   4. near-dup clustering (MinHash+LSH pairs, exact-verified →
  *      connected components → keep cluster canonicals),
  *   5. per-language stratified sample (hash order, deterministic).
  *
  * Every stage is the already-oracle-checked operator; stages 1-3 are one
  * declarative plan (no collect between stages), so Catalyst sees them
  * whole — filters merge, column pruning reaches the scan, and the LSH
  * stage only processes survivors of the cheap gates. The gate-survivor
  * relation is locally checkpointed (r15): the clustering loop and the
  * final anti-join each consume it, and the checkpoint makes the gates
  * execute once per pipeline instead of once per consumer. Deterministic
  * end to end: same input ⇒ same curated set on any partitioning.
  */
object CurationPipeline {

  /** Thresholds are the caller's policy; defaults match the inventory
    * queries' parameters.
    */
  final case class Config(
      qualityMin: Double = 0.5,
      dupRatioMax: Double = 0.3,
      shingleN: Int = 3,
      numPerm: Int = 128,
      bands: Int = 32,
      jaccardThreshold: Double = 0.8,
      perLangSample: Int = 20)

  /** The pipeline's intermediate relations, exposed so callers can count,
    * inspect, or branch any stage without re-deriving it.
    */
  final case class Stages(input: DataFrame, afterExact: DataFrame,
                          gated: DataFrame, deduped: DataFrame,
                          sampled: DataFrame)

  def stages(docs: DataFrame, idCol: String, textCol: String,
             langCol: String, cfg: Config = Config()): Stages =
    buildStages(docs, idCol, textCol, langCol, cfg, observations = None)

  /** Stage names, in pipeline order; index = stage number. */
  val stageNames: IndexedSeq[String] =
    IndexedSeq("input", "exact_dedup", "quality_gates", "near_dedup",
      "stratified_sample")

  /** [[stages]] with a named count observation planted at each stage
    * boundary, so all five survivor counts come out of ONE execution of
    * the final plan (CollectMetrics is a filter-pushdown barrier and is
    * not double-counted when a stage relation is referenced more than
    * once in the DAG — pinned by spec).
    * The plain [[stages]]/[[curate]] path stays observation-free so the
    * barriers can't block cross-stage optimization there.
    */
  def observedStages(docs: DataFrame, idCol: String, textCol: String,
                     langCol: String, cfg: Config = Config())
      : (Stages, IndexedSeq[Observation]) = {
    val obs = stageNames.map(n => Observation(s"curation_$n"))
    (buildStages(docs, idCol, textCol, langCol, cfg, Some(obs)), obs)
  }

  private def buildStages(docs: DataFrame, idCol: String, textCol: String,
                          langCol: String, cfg: Config,
                          observations: Option[IndexedSeq[Observation]]): Stages = {
    def tap(stage: Int)(df: DataFrame): DataFrame = observations match {
      case Some(obs) => df.observe(obs(stage), count(lit(1)).as("n_docs"))
      case None      => df
    }
    val base = tap(0)(docs.select(col(idCol).as("doc_id"),
      col(textCol).as("text"), col(langCol).as("lang")))

    // 1. exact dedup: survivors are each hash-group's min id
    val exactKeep = TextDedup.exactGroups(base, "doc_id", "text")
      .select(col("keep_id").as("doc_id"))
    val afterExact = tap(1)(base.join(exactKeep, "doc_id"))

    // 2.+3. cheap per-row gates before anything quadratic-ish
    val rep = TextAnalysis.repetitionProfile(afterExact, "doc_id", "text")
      .select(col("doc_id"), col("dup_ratio"))
    // The gate survivors feed TWO separate executions: the near-dup
    // clustering loop materializes its edge relation (LSH over `gated`)
    // in its own checkpoint action, and the caller's final action runs
    // `gated` again under the anti-join. An eager cut here makes the
    // exact-dedup + gates subtree execute ONCE per pipeline instead of
    // twice (r15 — reuse over recompute; the survivors are a filtered
    // projection of the input, far smaller than the corpus, and the
    // context cleaner frees the blocks with the relation). Stage-0/1/2
    // observations ride the checkpoint job (as `initCentroids`' candidate
    // counts read through `Scans.observed`; spec-gated here by
    // "stageCounts equals independent per-stage counts").
    val gated = Scans.cut(tap(2)(afterExact
      .filter(TextAnalysis.qualityScore(col("text")) >= cfg.qualityMin)
      .join(rep, "doc_id")
      .filter(col("dup_ratio") <= cfg.dupRatioMax)
      .select(col("doc_id"), col("text"), col("lang"))), "curation_gated").df

    // 4. near-dup clustering over the survivors; drop non-canonicals
    // spread = false (r14): `gated` is already exchange-partitioned by
    // the upstream joins — the shingle window rides that partitioning via
    // ENSURE_REQUIREMENTS; an explicit spread here would insert a
    // redundant exchange Catalyst cannot elide.
    val pairs = TextDedup.minhashLshPairs(gated, "doc_id", "text",
      cfg.shingleN, cfg.numPerm, cfg.bands, cfg.jaccardThreshold,
      spread = false)
    val dropped = Clustering.dedupClusters(pairs, "doc_a", "doc_b")
      .filter(!col("keep")).select(col("doc_id"))
    val deduped = tap(3)(gated.join(dropped, Seq("doc_id"), "left_anti"))

    // 5. deterministic stratified sample per language
    val sampled = tap(4)(Sampling.stratifiedSample(deduped, "lang", "doc_id",
        cfg.perLangSample)
      .select(col("doc_id"), col("lang")))
    Stages(base, afterExact, gated, deduped, sampled)
  }

  /** Curated (doc_id, lang) relation after all five stages. */
  def curate(docs: DataFrame, idCol: String, textCol: String,
             langCol: String, cfg: Config = Config()): DataFrame =
    stages(docs, idCol, textCol, langCol, cfg).sampled

  /** Per-stage survivor counts — the pipeline's replication-stats shape
    * (what the reference's Stats objects record per tile, keyspaces:
    * 759-785). One relation, ordered by stage.
    *
    * All five counts come from a SINGLE execution of the final plan via
    * the [[observedStages]] metrics (a five-branch union would re-derive
    * the pipeline ~2-3x), so this report costs one pipeline run plus
    * five driver-side scalars. Eager: the pipeline executes here and the
    * returned relation is the five literal rows.
    */
  def stageCounts(docs: DataFrame, idCol: String, textCol: String,
                  langCol: String, cfg: Config = Config()): DataFrame = {
    val spark = docs.sparkSession
    import spark.implicits._
    val (st, obs) = observedStages(docs, idCol, textCol, langCol, cfg)
    st.sampled.count() // the one full pipeline execution
    obs.zipWithIndex.map { case (o, i) =>
      (i.toLong, stageNames(i), o.get("n_docs").asInstanceOf[Long])
    }.toDF("stage", "name", "n_docs")
  }
}
