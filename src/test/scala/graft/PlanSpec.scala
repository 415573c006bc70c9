package graft

/** Physical-plan regression checks: the properties that make these plans
  * scale (pushdown, pruning, broadcast dims) must survive refactors. The
  * plans are inspected AFTER an action so AQE has finalized them.
  */
class PlanSpec extends SparkSpec {

  private def finalPlan(name: String): String = {
    val df = SparkEntry.queries(name)(spark, sfDir)
    df.write.format("noop").mode("overwrite").save()
    df.queryExecution.executedPlan.toString
  }

  test("q1 scan prunes columns and pushes the date filter") {
    val plan = finalPlan("q1_pricing_agg")
    val scanLine = plan.linesIterator.find(_.contains("FileScan parquet")).get
    assert(scanLine.contains("l_shipdate"), "pushed filter on shipdate expected")
    assert(!scanLine.contains("l_comment") && !scanLine.contains("l_partkey"),
      "unused columns must not reach the scan")
    assert(plan.contains("PushedFilters: [IsNotNull(l_shipdate)"))
  }

  test("join_revenue_nation broadcasts the dimension tables") {
    val plan = finalPlan("join_revenue_nation")
    val broadcasts = "BroadcastExchange".r.findAllIn(plan).length
    assert(broadcasts >= 2, s"nation+region must broadcast, got $broadcasts:\n$plan")
  }

  test("source_scan_project is a pure scan: no exchange at all") {
    val plan = finalPlan("source_scan_project")
    assert(!plan.contains("Exchange hashpartitioning"), plan)
    assert(plan.contains("PushedFilters: [IsNotNull(o_orderstatus), EqualTo(o_orderstatus,O)]"))
  }

  test("snapshot diff pushes both snapshot predicates into the scans") {
    val plan = finalPlan("snapshot_diff_updates")
    val scans = plan.linesIterator.filter(_.contains("FileScan parquet")).toSeq
    assert(scans.size == 2)
    assert(scans.forall(_.contains("o_orderkey")), "PK filters should reach scans")
  }

  test("sample_hash is a pure pushed-down filter: no exchange") {
    val plan = finalPlan("sample_hash")
    assert(!plan.contains("Exchange hashpartitioning"), plan)
    val scanLine = plan.linesIterator.find(_.contains("FileScan parquet")).get
    assert(scanLine.contains("md5"), "hash-bucket filter should reach the scan")
  }

  test("value renderings are single projections: no exchange, no join") {
    for (name <- Seq("ddb_typed_attributes", "cql_insert_render",
                     "row_to_json", "blob_to_hex")) {
      val plan = finalPlan(name)
      assert(!plan.contains("Exchange hashpartitioning"), s"$name:\n$plan")
      assert(!plan.contains("Join"), s"$name:\n$plan")
    }
  }

  test("repetition profile shuffles once (pre-explode, on doc_id)") {
    val plan = finalPlan("doc_repetition")
    // r15: the size-capped spread renders as `Exchange SinglePartition`
    // when the test corpus caps the width at 1 — still exactly one
    // shuffle (SinglePartition satisfies the aggregate's distribution
    // requirement), just a different rendering than hashpartitioning.
    val exchanges =
      "Exchange (hashpartitioning|SinglePartition)".r.findAllIn(plan).length
    assert(exchanges == 1, s"expected 1 exchange, got $exchanges:\n$plan")
  }

  test("paragraph dedup and packing shuffle exactly once") {
    // dedup_paragraphs: explode is pipeline-local; the only exchange is
    // the window on the segment hash. pack_sequences: the only exchange
    // is the per-bucket cumsum window (the cross-bucket prefix is
    // metadata, not a shuffle).
    for (name <- Seq("dedup_paragraphs", "pack_sequences")) {
      val plan = finalPlan(name)
      val exchanges = "Exchange hashpartitioning".r.findAllIn(plan).length
      assert(exchanges == 1, s"$name: expected 1 exchange, got $exchanges:\n$plan")
    }
  }

  test("vocab rankings never run an unpartitioned window") {
    // An unpartitioned row_number window pulls the whole vocabulary-sized
    // relation through ONE task; these four must rank with TopKPerGroup
    // (topKRanked is its global form) instead. A WindowExec
    // line prints "[exprs], [part], [order]" when partitioned but only
    // "[exprs], [order]" when not.
    for (name <- Seq("vocab_build", "bpe_pair_counts", "oov_rate",
                     "token_lift_by_source")) {
      val plan = finalPlan(name)
      val bad = plan.linesIterator.filter { l =>
        l.contains("Window [") && "\\], \\[".r.findAllIn(l).length < 2
      }.toSeq
      assert(bad.isEmpty, s"$name has unpartitioned WindowExec:\n${bad.mkString("\n")}")
    }
  }

  test("retrieval_rrf_fusion ranks with no window and no nested-loop join") {
    // The ranks come from TopKPerGroup's global form, not a window over
    // bucket offsets joined by a non-equi self-join. The one nested loop
    // left is bm25TopK's cross join with its one-row corpus totals.
    val plan = finalPlan("retrieval_rrf_fusion")
    assert(!plan.contains("Window"), plan)
    val loops = plan.linesIterator.filter(_.contains("NestedLoopJoin")).toSeq
    assert(loops.forall(_.trim.endsWith("BuildRight, Cross")), plan)
  }

  test("no profiling entry runs a value-buffering Percentile aggregate") {
    // Spark's `percentile` buffers every group's values in one
    // aggregation buffer — corpus-sized groups OOM a task at 100 TB.
    // These five entries must plan through Percentiles.exactPercentiles
    // (histograms, then a driver-budget collect of the ranked slices);
    // funnel/key-skew finalize eagerly, so their returned plan is a
    // LocalTableScan, which trivially satisfies the gate.
    for (name <- Seq("mad_outliers", "winsorize_events",
                     "percentile_profile", "funnel_conversion_time",
                     "key_skew_report")) {
      val plan = finalPlan(name)
      assert(!plan.contains("percentile("),
        s"$name still aggregates with percentile():\n${plan.take(2000)}")
    }
  }

  test("dedup reports read the materialized index, never the LSH pipeline") {
    // The roundtrip entry owns the build; run it first so the index
    // exists, then every report must plan as a scan of the bucketed
    // index tables — no minhash banding (and, since cluster membership
    // is read back, no connected-components recompute at construction).
    finalPlan("dedup_cluster_index_roundtrip")
    for (name <- Seq("cluster_size_histogram", "survivor_selection_report",
                     "cross_source_overlap", "split_leakage_report")) {
      val plan = finalPlan(name)
      assert(!plan.contains("minhash_band_keys"),
        s"$name recomputes LSH bands:\n${plan.take(2000)}")
      assert(plan.contains("dedup_pairs_") || plan.contains("dedup_clusters_"),
        s"$name does not scan the materialized index:\n${plan.take(2000)}")
    }
  }

  test("kNN reports read the materialized edge index, never re-derive the graph") {
    // The roundtrip entry owns the build (IVF assign + bucket self-join +
    // bounded-heap top-k); run it first so the index exists, then every
    // reader must plan as a scan of the standing query_id-bucketed table —
    // no TopKPerGroupExec (the top-k heap only the derivation uses) and no
    // within-bucket self-join of the embedding corpus.
    // (knn_components is excluded: Clustering's eager localCheckpoints
    // truncate its lineage, so the final plan is a Scan ExistingRDD and
    // shows neither the index scan nor a hypothetical re-derivation —
    // its index pricing is evidenced by the sf100 probe row instead.)
    finalPlan("knn_graph_index_roundtrip")
    for (name <- Seq("knn_hubness_report", "knn_label_spread",
                     "knn_confusion")) {
      val plan = finalPlan(name)
      assert(!plan.contains("TopKPerGroup"),
        s"$name re-derives the kNN graph:\n${plan.take(2000)}")
      assert(plan.contains("knn_edge_index_"),
        s"$name does not scan the materialized edge index:\n${plan.take(2000)}")
    }
  }

  test("no plan in the inventory contains a cartesian product") {
    // Exhaustive-baseline pair generators legitimately cross-join small
    // inputs (their scale paths are banded/bucketed); everything else must
    // never fall back to CartesianProduct / BroadcastNestedLoopJoin on
    // equi-joinable keys.
    val allowed = Set("dedup_ngram_jaccard", "dedup_embedding_cosine",
      "ann_cosine_topk", "ann_ivf_assign", "ann_ivf_topk",
      "ann_ivf_refined_assign", "dedup_embedding_bucketed",
      "embedding_clusters", "lang_id", "tfidf_top_terms",
      "column_stats", "column_stats_totals")
    for (q <- Queries.all.map(_.name).filterNot(allowed)) {
      val plan = finalPlan(q)
      assert(!plan.contains("CartesianProduct"), s"$q:\n${plan.take(2000)}")
    }
  }
}
