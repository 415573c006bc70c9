package graft.perfbench

/** The pinned entry lists of the entry workloads. Pinned by name, so an
  * entry deleted from the library fails the workload (a workload change)
  * instead of silently making it faster.
  */
object Entries {

  /** `graft.Bench`'s eight exclusions, with its reasons. */
  val excluded: Map[String, String] = Map(
    "dedup_ngram_jaccard" -> "exhaustive O(n^2) oracle baseline for the LSH scale path",
    "dedup_embedding_cosine" -> "exhaustive O(n^2) oracle baseline for the IVF scale path",
    "shingle_containment" -> "exhaustive shared-shingle baseline; the capped/indexed entries are the scale paths",
    "embedding_clusters_sampled" -> "demoted grows-with-n config; the sqrt-n stride entry is the benched path",
    "semdedup_apply_sampled" -> "demoted grows-with-n config; the capped entry is the benched path",
    "pq_topk_sampled" -> "demoted grows-with-n config; the capped-ksub entry is the benched path",
    "dedup_embedding_srp" -> "small-n recall tool with near-linear candidate growth; dedup_embedding_srp_wide is the scale path",
    "shingle_containment_capped" -> "re-pays the shingle explode per reference (failed at sf100); shingle_containment_indexed is the scale path")

  /** Every entry `graft.Bench` times (the library's inventory minus the
    * exclusions above); the `survey` workload runs all of them once.
    */
  def benched: Seq[String] = graft.Queries.all.map(_.name).filterNot(excluded.contains)

  /** Entries whose body builds or adopts standing state (ensure* indexes,
    * published versions, the snapshot stores of `Queries.snapStoreRoots`).
    * The setup call builds it; every timed call then takes the read or
    * adopt path.
    */
  val stateful: Set[String] = Set("snapshot_store_changes", "snapshot_dsv2_timetravel",
    "cross_source_overlap", "knn_label_spread", "knn_confusion",
    "cluster_size_histogram", "split_leakage_report", "survivor_selection_report",
    "knn_hubness_report", "knn_components", "ann_ivf_index_upsert",
    "dedup_cluster_index_upsert", "shingle_index_roundtrip",
    "shingle_containment_indexed", "knn_graph_index_roundtrip",
    "knn_graph_index_upsert", "ann_ivf_index_upsert_chain",
    "knn_graph_index_upsert_chain", "dedup_cluster_index_upsert_chain",
    "ann_ivf_index_compact")

  /** The entries the library's open performance claims name: shared
    * tokenization in retrieval_rrf_fusion, the job census of
    * pk_reconcile_report, the repeated percentile pass of mad_outliers,
    * and the two connected-components algorithms.
    */
  val claims: Seq[String] = Seq("retrieval_rrf_fusion", "pk_reconcile_report",
    "mad_outliers", "dedup_clusters", "dedup_clusters_largestar")

  /** A cost-stratified sample of the rest of the benched inventory. The
    * `survey` workload (seed 3, 4 cores) timed every benched entry once
    * over the inventory inputs; these are the entries at ranks
    * (i + 0.5) n / 6 of that list (without `claims`) sorted by latency, so
    * the sample spans the inventory's cost range.
    */
  val sample: Seq[String] = Seq("token_count", "corpus_mix_rollup", "mixture_epochs",
    "agg_view_maintain", "kl_divergence_sources", "funnel_conversion_time")

  /** The `inventory` workload: the sample, the claim entries, and
    * snapshot_store_changes, a stateful entry (its snapshot store is built
    * by the setup call, and each timed call diffs the stored snapshots).
    */
  val inventory: Seq[String] = sample ++ claims :+ "snapshot_store_changes"
}
