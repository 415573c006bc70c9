package graft.tools

import org.apache.spark.sql.functions._

import graft.{PhaseTimer, Queries, SparkEntry, Tables}

/** Dev probe: the maintained-index upsert trio at scale with the publish
  * cost DECOMPOSED — standing-base ensure (cold once per corpus, then
  * adopted from disk in ~1 s), delta compute (the parts forms, with
  * per-stage attribution via the shared PhaseTimer), swap publish per
  * table (delta write / DDL / commit / GC), version read-back, and the
  * full warm entry (which, with a fresh stamp, prices the ADOPT path —
  * the production steady state). Run against target/sf100 to price the
  * delta-cost publish.
  *
  * Round-14 chain sections: three consecutive IVF deltas through the
  * chained path (v2→v3→v4) with a version-dir flatness check across
  * dropIndexVersion'd reruns and a 3-hop ≡ 1-hop exceptAll crosscheck;
  * then the kNN-edge and dedup CHAIN ENTRIES timed apply-vs-adopt, each
  * crosschecked against an operator-level one-hop application of the
  * combined diff.
  *
  * The phase bodies are the ENTRIES' OWN apply functions
  * (Queries.ivfUpsertApply / knnUpsertApply / dedupUpsertApply) driven
  * with a wall-clock PhaseTimer — one code path, so the probe can never
  * drift from what the entries ship.
  */
object SwapProbe {
  def main(args: Array[String]): Unit = {
    val d = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "target/sf100")
    val out = sys.env.getOrElse("SWAP_PROBE_OUT", "/tmp/swap_probe.json")
    val s = graft.Mains.session(
      "spark.io.compression.codec" -> sys.env.getOrElse("SPARK_GRAFT_CODEC", "zstd"),
      // own warehouse NEXT TO the replica: the probe's corpus-sized
      // standing tables must not pollute the repo warehouse the bench
      // and verify mains run against (adoption makes them durable here)
      "spark.sql.warehouse.dir" ->
        sys.env.getOrElse("SWAP_PROBE_WAREHOUSE", "target/sf100_wh"))

    val results = scala.collection.mutable.LinkedHashMap.empty[String, Double]
    def timed[A](label: String)(f: => A): A = {
      val t0 = System.nanoTime()
      val r = f
      val sec = (System.nanoTime() - t0) / 1e9
      results += label -> math.rint(sec * 100) / 100
      println(f"[swap-probe] $label: $sec%.2f s")
      r
    }
    def phases(prefix: String): PhaseTimer = new PhaseTimer {
      def apply[A](label: String)(f: => A): A = timed(s"${prefix}_$label")(f)
    }
    def read(label: String)(df: org.apache.spark.sql.DataFrame): Unit = {
      timed(label)(df.count()); ()
    }

    // ---------- IVF + kNN edges (shared diff corpora) ----------
    val (prev, curr, cents) = Queries.upsertEmbCorpora(s, d)
    val ivfBase = timed("ivf_ensure_base") {
      Queries.ensureIvfUpsertBase(s, d, prev, cents)
    }
    val edgeBase = timed("knn_ensure_base") {
      Queries.ensureKnnUpsertBase(s, d, prev, cents)
    }

    timed("ivf_warm_entry_total") {
      SparkEntry.queries("ann_ivf_index_upsert")(s, d).count()
    }
    read("ivf_v2_read")(
      Queries.ivfUpsertApply(s, ivfBase, prev, curr, cents, phases("ivf")))

    timed("knn_warm_entry_total") {
      SparkEntry.queries("knn_graph_index_upsert")(s, d).count()
    }
    read("knn_v2_read")(
      Queries.knnUpsertApply(s, ivfBase, edgeBase, prev, curr, cents,
        phases("knn")))

    // ---------- dedup pairs/bands/membership ----------
    val docs = Tables.documents(s, d)
    val sMod = Queries.upsertDiffModulus(docs.count())
    val dPrev = docs.filter(col("doc_id") % sMod =!= 3)
      .withColumn("text", when(col("doc_id") % sMod === 2,
        concat_ws(" ", reverse(split(col("text"), " "))))
        .otherwise(col("text")))
    val dCurr = docs.filter(col("doc_id") % sMod =!= 7)
    val sfx = d.replaceAll("[^A-Za-z0-9]", "_")
    val pairsTbl = s"dedup_upsert_pairs_$sfx"
    val lshTbl = s"dedup_upsert_lsh_$sfx"
    val clusTbl = s"dedup_upsert_clusters_$sfx"
    val nParts = Queries.dedupUpsertParts(docs.count())
    println(s"[swap-probe] dedup partition count: $nParts")
    timed("dedup_ensure_base") {
      Queries.ensureUpsertBaseIndex(s, d, dPrev, pairsTbl, lshTbl, clusTbl,
        nParts)
    }
    timed("dedup_warm_entry_total") {
      SparkEntry.queries("dedup_cluster_index_upsert")(s, d).count()
    }
    read("dedup_v2_read")(
      Queries.dedupUpsertApply(s, pairsTbl, lshTbl, clusTbl, dPrev, dCurr,
        nParts, phases("dedup")))

    // ---------- chained maintenance steady state (round 14) ----------
    // Three consecutive deltas through the chained path: base → v2
    // (published above) → v3 → v4, each hop publishing FROM the prior
    // swap-published version. Then dropIndexVersion between chains and
    // a rerun, asserting warm cost AND the warehouse's version-dir
    // population stay flat (no leak of superseded delta dirs).
    val emb = Tables.embeddings(s, d)
    val eMod = Queries.upsertDiffModulus(emb.count())
    def snap(del: Int, rev: Int) = emb.filter(col("vec_id") % eMod =!= del)
      .withColumn("embedding",
        when(col("vec_id") % eMod === rev, reverse(col("embedding")))
          .otherwise(col("embedding")))
    val t2 = snap(5, 11)
    val t3 = snap(13, 17)
    val wh = new org.apache.hadoop.fs.Path(
      s.conf.get("spark.sql.warehouse.dir"))
    val whFs = wh.getFileSystem(s.sparkContext.hadoopConfiguration)
    def versionDirs(): Set[String] = whFs.listStatus(wh).iterator
      .map(_.getPath.getName)
      .filter(n => n.startsWith(ivfBase + "_v3") || n.startsWith(ivfBase + "_v4"))
      .toSet
    def runChain(tag: String): Unit = {
      timed(s"chain_hop2_$tag") {
        Queries.ivfUpsertApply(s, ivfBase + "_v2", curr, t2, cents,
          outTbl = Some(ivfBase + "_v3")).count()
      }
      timed(s"chain_hop3_$tag") {
        Queries.ivfUpsertApply(s, ivfBase + "_v3", t2, t3, cents,
          outTbl = Some(ivfBase + "_v4")).count()
      }
    }
    // start from a clean slate: REPUBLISHING a version name that has a
    // live dependent legitimately retains one superseded delta dir for
    // an extra cycle (v3's GC runs while the OLD v4 ledger still
    // references v3_delta_g1; dropIndexVersion reclaims it) — a probe
    // inheriting a prior run's v3/v4 would count that retention as a
    // leak. Dropping first makes run1/run2 like-for-like.
    graft.sources.ParquetSink.dropIndexVersion(s, ivfBase + "_v4")
    graft.sources.ParquetSink.dropIndexVersion(s, ivfBase + "_v3")
    runChain("run1")
    val dirs1 = versionDirs()
    timed("chain_drop_versions") {
      graft.sources.ParquetSink.dropIndexVersion(s, ivfBase + "_v4")
      graft.sources.ParquetSink.dropIndexVersion(s, ivfBase + "_v3")
    }
    runChain("run2")
    val dirs2 = versionDirs()
    println(s"[swap-probe] chain version dirs run1=${dirs1.size} run2=${dirs2.size}")
    require(dirs1 == dirs2,
      s"generation GC leaked dirs across chains: ${dirs1.diff(dirs2)} vs ${dirs2.diff(dirs1)}")
    // scale correctness cross-check: the 3-hop chained v4 must equal a
    // SINGLE delta application base→t3 (the 2-hop ≡ rebuild equality is
    // oracle-gated at small sf; this proves hop composition at sf100
    // without paying a full n^1.5 rebuild)
    timed("chain_v4_crosscheck") {
      val oneHop = graft.operators.Ann.ivfIndexUpsert(s.table(ivfBase),
        prev, t3, cents, "vec_id", "embedding", "vec_id", "embedding")
        .select("vec_id", "centroid_id")
      val v4 = s.table(ivfBase + "_v4").select("vec_id", "centroid_id")
      val mismatch = v4.exceptAll(oneHop).count() + oneHop.exceptAll(v4).count()
      require(mismatch == 0, s"chained v4 != one-hop apply: $mismatch rows differ")
    }

    // ---------- family chains through the REAL entries ----------
    // Price the kNN-edge and dedup chained entries' hop-2 apply at
    // scale: drop the v3 versions first so the timed run APPLIES
    // (publishes) rather than adopting, then time the adopt rerun too.
    graft.sources.ParquetSink.dropIndexVersion(s, edgeBase + "_v3")
    timed("knn_chain_entry_apply") {
      SparkEntry.queries("knn_graph_index_upsert_chain")(s, d).count()
    }
    timed("knn_chain_entry_adopt") {
      SparkEntry.queries("knn_graph_index_upsert_chain")(s, d).count()
    }
    // value crosscheck at scale: chained edge v3 ≡ one-hop edge apply
    // over the base with the combined diff (t0 → t2e), where t2e is the
    // entries' final corpus (snap(5, 11))
    timed("knn_chain_crosscheck") {
      val t2e = snap(5, 11)
      val oneHopIdx = graft.operators.Ann.ivfIndexUpsert(s.table(ivfBase),
        prev, t2e, cents, "vec_id", "embedding", "vec_id", "embedding")
      val oneHop = graft.operators.Ann.knnEdgeIndexUpsert(
        s.table(edgeBase), oneHopIdx, prev, t2e, cents,
        "vec_id", "embedding", "vec_id", "embedding", k = 3)
        .select("query_id", "neighbor_id", "rank", "cosine")
      val v3 = s.table(edgeBase + "_v3")
        .select("query_id", "neighbor_id", "rank", "cosine")
      val mismatch = v3.exceptAll(oneHop).count() + oneHop.exceptAll(v3).count()
      require(mismatch == 0, s"knn chained v3 != one-hop apply: $mismatch rows differ")
    }
    Seq(pairsTbl, lshTbl, clusTbl).foreach(tn =>
      graft.sources.ParquetSink.dropIndexVersion(s, tn + "_v3"))
    timed("dedup_chain_entry_apply") {
      SparkEntry.queries("dedup_cluster_index_upsert_chain")(s, d).count()
    }
    timed("dedup_chain_entry_adopt") {
      SparkEntry.queries("dedup_cluster_index_upsert_chain")(s, d).count()
    }
    // value crosscheck: chained membership v3 ≡ the operator-level
    // one-hop upsert over the bases with the combined doc diff t0 → t2d
    timed("dedup_chain_crosscheck") {
      val t2d = docs.filter(col("doc_id") % sMod =!= 5)
        .withColumn("text", when(col("doc_id") % sMod === 11,
          concat_ws(" ", reverse(split(col("text"), " "))))
          .otherwise(col("text")))
      val diff = dPrev.select(col("doc_id"), xxhash64(col("text")).as("ph"))
        .join(t2d.select(col("doc_id"), xxhash64(col("text")).as("ch")),
          Seq("doc_id"), "full_outer")
      val touched = diff.filter(!(col("ph") <=> col("ch")))
        .select("doc_id", "ph", "ch").localCheckpoint(true)
      val changed = touched.filter(col("ch").isNotNull).select("doc_id")
      val removed = touched.filter(col("ph").isNotNull && col("ch").isNull)
        .select("doc_id")
      val (oneHopPairs, _, added) = graft.operators.TextDedup.upsertLshPairs(
        s.table(pairsTbl).drop("pa_part"), s.table(lshTbl).drop("dk_part"),
        t2d, changed, removed, "doc_id", "text",
        n = 3, numPerm = 128, bands = 32, threshold = 0.8)
      val seeds = changed.unionByName(removed)
        .unionByName(added.select(col("doc_a").as("doc_id")))
        .unionByName(added.select(col("doc_b").as("doc_id")))
      val oneHop = graft.operators.Clustering.upsertClusters(
        s.table(clusTbl).drop("dc_part"), oneHopPairs, seeds)
        .select("doc_id", "cluster_id")
      val v3 = s.table(clusTbl + "_v3").select("doc_id", "cluster_id")
      val mismatch = v3.exceptAll(oneHop).count() + oneHop.exceptAll(v3).count()
      require(mismatch == 0, s"dedup chained v3 != one-hop apply: $mismatch rows differ")
    }

    // ---------- compaction at scale (round 14) ----------
    // Fold the 3-hop chained IVF v4 (the widest provenance mix above:
    // original base + v2/v3/v4 delta generations) into a SELF-OWNED
    // root and price the phases — the O(index) rewrite dominates by
    // design; everything else is metadata. Then prove the pin release
    // does its job at scale: the intermediate v3 drops cleanly UNDER
    // the live compacted v4, and v4 still reads the same rows.
    val preCompact = timed("ivf_compact_precount") {
      s.table(ivfBase + "_v4").count()
    }
    graft.sources.ParquetSink.compactPublishedVersion(s, ivfBase + "_v4",
      "centroid_id", Seq("vec_id"), timer = phases("ivf_compact"))
    read("ivf_compact_read")(s.table(ivfBase + "_v4"))
    timed("ivf_compact_drop_intermediate") {
      graft.sources.ParquetSink.dropIndexVersion(s, ivfBase + "_v3")
    }
    require(s.table(ivfBase + "_v4").count() == preCompact,
      "compacted v4 row count drifted")

    // ---------- fsck at scale (round 14) ----------
    // Price the read-only integrity probe at real partition counts: the
    // kNN edge v2 (the widest layout, ~700 partitions → ~700 exists
    // probes + ledger/catalog reconciliation) and the compacted IVF v4
    // (ledger-free self-owned form), both required CLEAN; then the
    // warehouse-wide sweep an unattended janitor would schedule,
    // reported but not required (a prior run's debris is a finding for
    // the operator, not a probe failure).
    def fsckClean(label: String, tbl: String): Unit = timed(label) {
      val bad = graft.sources.ParquetSink.fsckPublishedVersion(s, tbl)
        .filter(col("severity") === "error").collect()
      require(bad.isEmpty,
        s"fsck errors on $tbl: ${bad.toSeq.take(5).mkString("; ")}")
    }
    fsckClean("fsck_knn_v2", edgeBase + "_v2")
    fsckClean("fsck_ivf_v4_compacted", ivfBase + "_v4")
    timed("fsck_all_sweep") {
      val all = graft.sources.ParquetSink.fsckAllPublishedVersions(s)
        .collect()
      println(s"[swap-probe] fsck sweep: ${all.length} findings" +
        (if (all.isEmpty) "" else all.take(10).map(r =>
          s"\n[swap-probe]   ${r.mkString(" | ")}").mkString))
    }

    val json = results.map { case (k, v) => s""""$k": $v""" }
      .mkString("{\"sf_dir\": \"" + d + "\", ", ", ", "}")
    java.nio.file.Files.writeString(java.nio.file.Paths.get(out), json)
    println(s"[swap-probe] wrote $out")
    println(json)
  }
}
