package graft

import java.nio.file.{Files, Paths}

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions.expr

/** Deterministic hash-slice oracle gate for the heavy tail — the entries
  * whose FULL-corpus DuckDB oracle is cost-bounded at sf10 (quadratic
  * pair CTEs, list-lambda cosines, 15-min/oracle cap), exactly where a
  * scale-dependent bug would hide (the −0.0 sign bug was sf10-only).
  *
  * Both engines are restricted to the SAME ~5% corpus slice: documents /
  * embeddings rows whose md5(id) starts `00`..`0c` (13/256 ≈ 5.1%,
  * id-hash-uniform so it cannot correlate with the `% k` diff predicates
  * entries use), PLUS ids < 100 so the entries' fixed probe/query sets
  * (`vec_id < 5` ADC queries) stay non-empty — the check would otherwise
  * be a vacuous empty-vs-empty compare. The slice is materialized ONCE
  * into `<outDir>/slicedata` (both engines read the same parquet, so any
  * deterministic predicate is engine-consistent by construction), the
  * other tables symlink through, and the UNCHANGED entry code + oracle
  * SQL run against that directory — so the compare is exact on sf10's
  * actual data properties (perturbation sign-flips, suffixed tokens) at
  * ~half-sf1 oracle cost. `tools/check.py <outDir> <outDir>/slicedata`
  * scores it.
  */
object VerifySlice {

  /** The sf10 tail (CORRECTNESS_sf10.json: oracle_timeout + oracle_oom +
    * unchecked_duckdb_cost + spark_skipped_quadratic).
    */
  val tailEntries: Seq[String] = Seq(
    "dedup_embedding_srp_wide", "embedding_clusters",
    "ann_ivfadc_topk", "ann_recall_report", "dedup_embedding_cosine",
    "fuzzy_blocked_pairs", "knn_components", "knn_confusion", "knn_graph",
    "knn_hubness_report", "knn_label_spread", "pq_encode", "pq_topk",
    "repeated_span_removal", "repeated_span_stats", "repeated_spans",
    "retrieval_maxsim", "semdedup_apply", "semdedup_savings",
    "shingle_containment", "shingle_containment_capped", "split_leakage_report",
    "survivor_selection_report",
    // round-8 additions sharing the capped-containment oracle family
    "shingle_index_roundtrip", "shingle_containment_indexed",
    // round-11 additions sharing the knn-edge CTE oracle family
    "knn_graph_index_roundtrip", "knn_graph_index_upsert",
    // round-14 chained entries: same oracle cost families as their
    // single-hop parents (knn-edge CTE / quadratic closure / IVF assign)
    "ann_ivf_index_upsert_chain", "knn_graph_index_upsert_chain",
    "dedup_cluster_index_upsert_chain", "ann_ivf_index_compact")

  private val sliced = Seq("documents" -> "doc_id", "embeddings" -> "vec_id")
  private val passthrough = Seq("region", "nation", "customer", "supplier",
    "part", "orders", "lineitem", "events")

  def main(args: Array[String]): Unit = {
    val Array(sfDir, outDir) = args
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "8")
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    val sliceDir = s"$outDir/slicedata"
    new java.io.File(sliceDir).mkdirs()
    for ((t, idCol) <- sliced)
      spark.read.parquet(s"$sfDir/$t.parquet")
        .where(expr(
          s"substring(md5(cast($idCol as string)), 1, 2) <= '0c' OR $idCol < 100"))
        .coalesce(4)
        .write.mode("overwrite").parquet(s"$sliceDir/$t.parquet")
    for (t <- passthrough) {
      val link = Paths.get(s"$sliceDir/$t.parquet")
      // Absolute target: a relative one would resolve against the
      // slicedata dir itself and dangle when sfDir is given relative.
      val target = Paths.get(s"$sfDir/$t.parquet").toAbsolutePath.normalize()
      // A prior run (or layout change) may have left a real directory
      // here; deleteIfExists would throw DirectoryNotEmptyException.
      if (Files.isSymbolicLink(link)) {
        if (Files.readSymbolicLink(link) != target) Files.delete(link)
      } else if (Files.exists(link)) {
        Files.walk(link).sorted(java.util.Comparator.reverseOrder())
          .forEach(p => Files.delete(p))
      }
      if (!Files.isSymbolicLink(link)) Files.createSymbolicLink(link, target)
    }
    val only: Set[String] =
      sys.env.get("SPARK_GRAFT_ONLY").map(_.split(",").map(_.trim).toSet)
        .getOrElse(Set.empty)
    def keep(name: String): Boolean = only.isEmpty || only(name)
    def q0(s: String): String = "\"" + s + "\"" // names are identifier-safe
    // Attempted manifest BEFORE the loop (the Verify convention): a
    // crashed entry scores FAIL, a not-in-subset entry scores skip —
    // without this, a subset smoke run mis-flags every other tail entry.
    Files.writeString(Paths.get(s"$outDir/attempted.json"),
      tailEntries.filter(keep).sorted.map(q0).mkString("[", ",", "]"))
    for (name <- tailEntries if keep(name)) {
      val t0 = System.nanoTime()
      try {
        SparkEntry.queries(name)(spark, sliceDir).coalesce(1)
          .write.mode("overwrite").parquet(s"$outDir/$name")
        println(f"[slice] $name ok in ${(System.nanoTime() - t0) / 1e9}%.1f s")
      } catch { case e: Throwable =>
        System.err.println(s"[slice] $name failed: ${e.getMessage}")
      }
    }
    def q(s: String): String = "\"" + s.flatMap {
      case '"'  => "\\\""
      case '\\' => "\\\\"
      case '\n' => "\\n"
      case '\r' => "\\r"
      case '\t' => "\\t"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    } + "\""
    // All tail oracles, not just the SPARK_GRAFT_ONLY subset: a resumed
    // run that recomputes the missing outputs still scores the full set.
    val json = SparkEntry.oracleSql
      .filter(kv => tailEntries.contains(kv._1))
      .map { case (k, v) => s"${q(k)}: ${q(v)}" }.mkString("{", ",", "}")
    Files.writeString(Paths.get(s"$outDir/oracle_sql.json"), json)
    spark.stop()
  }
}
