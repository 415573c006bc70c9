package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Connected components over a pair relation — the step that turns
  * near-duplicate PAIRS (from LSH / embedding bucketing) into duplicate
  * CLUSTERS with one canonical survivor per cluster, which is what a
  * dedup pipeline actually acts on at 100 TB.
  *
  * Algorithm: alternating LARGE-STAR / SMALL-STAR rounds (Kiveris et
  * al., "Connected Components in MapReduce and Beyond", SoCC'14). Its
  * convergence guarantee is structural, not diameter-bound: each round
  * strictly shrinks a potential function and the pair terminates in
  * O(log² n) rounds on ANY graph, including long chains whose node ids
  * arrive in random order and kNN graphs whose components are not
  * cliques. Every round is declarative (groupBy + min + join) with an
  * eager localCheckpoint truncating lineage; the driver only decides
  * WHEN to stop (a row count per round), it never touches row data.
  * `maxIter` bounds the loop, and a loop that reaches it unconverged
  * throws rather than return partial labels.
  */
object Clustering {

  /** (doc_id, cluster_id = min node id reachable) for every node that
    * appears in `pairs`, including a node whose only pair is a
    * self-loop. `pairs` columns: (aCol, bCol), one row per undirected
    * edge in either orientation; duplicates are harmless.
    *
    * Both stars are one groupBy over the edge relation:
    *  - large-star: for every node u, connect every STRICTLY GREATER
    *    neighbour v > u to m = min(N(u) ∪ u) — high-degree nodes shed
    *    their big neighbourhoods onto the minimum in a single round,
    *    which is exactly the skew case (a mega-cluster's hub).
    *  - small-star: for every node u, connect all neighbours ≤ u
    *    (and u itself) to the minimum — flattens the partial trees.
    *
    * The edge relation only ever SHRINKS to the forest edges
    * (node → component min), so per-round cost is bounded by the initial
    * near-dup edge list. Fixpoint = a round produces the same edge set.
    *
    * @param dedupPairs pass false when `pairs` is PROVABLY one row per
    *   undirected edge in canonical (aCol < bCol) orientation — e.g.
    *   minhashLshPairs output, unique by its verification groupBy with
    *   doc_a < doc_b from candidate generation — to skip the initial
    *   distinct()'s exchange; the canonicalized projection of such input
    *   is already distinct, so the relation entering the loop is
    *   row-identical either way.
    */
  def connectedComponents(pairs: DataFrame, aCol: String, bCol: String,
                          maxIter: Int = 32,
                          dedupPairs: Boolean = true): DataFrame = {
    val spark = pairs.sparkSession
    val sc = spark.sparkContext
    // Eager localCheckpoint TRUNCATES LINEAGE: the edge relation is tiny
    // relative to the corpus (only near-dup docs appear) while its
    // upstream plan (e.g. the whole LSH pipeline) is huge — without the
    // cut, every round's logical plan embeds the full upstream tree and
    // re-pays optimizer + codegen over it.
    // The checkpoint is then rebased on a FRESH logical relation: a bare
    // localCheckpoint keeps the original plan's inferred constraints,
    // which reference attributes the checkpoint no longer outputs —
    // re-wrapping the next round's union/join over that relation trips
    // Catalyst's constraint rewrite ("key not found: src#N").
    // DataFrameUtils.rebase hands the checkpoint's InternalRow RDD
    // straight to the fresh relation, with no per-row conversion.
    // Block tracking frees superseded rounds' cached RDDs
    // DETERMINISTICALLY (the ContextCleaner would eventually GC them, but
    // a long-lived driver clustering repeatedly shouldn't accumulate
    // block-manager entries until then).
    def checkpointTracked(df: DataFrame): (DataFrame, Set[Int]) = {
      val before = sc.getPersistentRDDs.keySet.toSet
      val ck = df.localCheckpoint(true)
      (org.apache.spark.sql.graft.DataFrameUtils.rebase(ck),
        sc.getPersistentRDDs.keySet.toSet -- before)
    }
    def unpersistIds(ids: Set[Int]): Unit =
      ids.foreach(id => sc.getPersistentRDDs.get(id).foreach(_.unpersist(false)))
    // Size-gated broadcast of each star's per-node-min side (broadcast
    // the side you KNOW is small): `mins` is one (node, min) row per
    // node, never more than twice the canonical edge relation whose
    // exact materialized size the block manager reports after the
    // initial checkpoint. The static planner sees the checkpoint-rebased
    // relations as unknown-size and plans sort-merge, paying an O(E)
    // exchange + sort per star that AQE only converts AFTER
    // materializing; the hint removes those stages up front. Gate = the
    // session's own autoBroadcastJoinThreshold against 2× the measured
    // edge bytes (the |V| ≤ 2|E| bound), so at scale the shuffle plan is
    // kept untuned.
    var minsFit = false
    def maybeBcast(df: DataFrame): DataFrame =
      if (minsFit) broadcast(df) else df
    // Large-star: group the SYMMETRIC neighbourhood by u, emit
    // (v, min(N(u) ∪ u)) for v > u. Small-star: orient edges high→low
    // (u ≥ v), group by the high end, emit (v, m) for every low
    // neighbour plus (u, m). Both emit distinct undirected (lo, hi)
    // canonical edges; self-loops drop.
    // Neither star materializes a neighbourhood array (collect_set would
    // hand a mega-hub's whole neighbourhood to one row): the per-node min
    // is a map-side-combined aggregate and the emit is a join back onto
    // the edge relation — everything stays edge-shaped, so a 10⁷-degree
    // hub costs 10⁷ ROWS spread across partitions, never one giant cell.
    def largeStar(e: DataFrame): DataFrame = {
      val nbr = e.unionByName(e.select(col("dst").as("src"), col("src").as("dst")))
      val mins = nbr.groupBy("src")
        .agg(least(min(col("dst")), col("src")).as("m"))
      nbr.join(maybeBcast(mins), "src")
        .filter(col("dst") > col("src"))
        .select(least(col("dst"), col("m")).as("src"),
          greatest(col("dst"), col("m")).as("dst"))
        .filter(col("src") =!= col("dst"))
      // No dedup here: the only consumer is smallStar, whose min
      // aggregate is duplicate-insensitive and whose output carries the
      // round's distinct() — and largeStar emits at most one row per
      // directed (u, v>u) input pair, so skipping the dedup cannot blow
      // the relation up. The fixpoint probe still compares DISTINCT edge
      // sets (smallStar's output).
    }
    def smallStar(e: DataFrame): DataFrame = {
      val hiLo = e.select(greatest(col("src"), col("dst")).as("u"),
        least(col("src"), col("dst")).as("v"))
      val mins = hiLo.groupBy("u").agg(min(col("v")).as("m"))
      val viaNbr = hiLo.join(maybeBcast(mins), "u")
        .select(least(col("v"), col("m")).as("src"),
          greatest(col("v"), col("m")).as("dst"))
        .filter(col("src") =!= col("dst"))
      val viaSelf = mins
        .select(col("m").as("src"), col("u").as("dst"))
        .filter(col("src") =!= col("dst"))
      viaNbr.unionByName(viaSelf).distinct()
    }
    // The initial edges KEEP self-loops, so a node whose only pair is a
    // self-loop is in the node set the final labelling reads; largeStar
    // drops them (v > u), so the loop's relations never carry one. The
    // first round then differs from the initial edges whenever a
    // self-loop was present, which costs at most one extra round.
    // Initial emptiness rides an Observation on the same checkpoint job.
    val initObs = org.apache.spark.sql.Observation()
    val canonical = pairs
      .select(least(col(aCol), col(bCol)).as("src"),
        greatest(col(aCol), col(bCol)).as("dst"))
    var (edges, edgeIds) = checkpointTracked(
      (if (dedupPairs) canonical.distinct() else canonical)
        .observe(initObs, count(lit(1)).as("n")))
    minsFit = Scans.fitsBroadcast(spark,
      2L * Scans.materializedBytes(sc, edgeIds))
    // Nodes with no surviving edge after a star round are their own
    // component OR have already been attached to their min; the final
    // labelling needs the INITIAL node set so every node in `pairs`
    // stays covered. It is derived lazily from the initial checkpointed
    // edges inside the final labelling job instead of materializing a
    // second checkpoint at loop entry — same union+distinct work, one
    // blocking driver job fewer per call. The initial edge blocks are
    // protected from the loop's unpersist and released after the labels
    // checkpoint.
    val edges0 = edges
    val edges0Ids = edgeIds
    var iter = 0
    var prevCount = Scans.observed(initObs, "cc initial edge count")("n")
      .asInstanceOf[Long]
    var changed = 0L
    var converged = prevCount == 0
    while (iter < maxIter && !converged) {
      // Each round's checkpoint job also observes its output row count:
      // both sides of the fixpoint comparison are DISTINCT edge sets, so
      // differing counts prove the sets differ and the round is not
      // converged — the symmetric-difference probe job only runs when the
      // counts match (typically the final round).
      val roundObs = org.apache.spark.sql.Observation()
      val (next, nextIds) = checkpointTracked(smallStar(largeStar(edges))
        .observe(roundObs, count(lit(1)).as("n")))
      val nextCount = Scans.observed(roundObs, s"cc round $iter edge count")("n")
        .asInstanceOf[Long]
      // Fixpoint = identical edge SETS: ONE symmetric-difference probe —
      // union with ±1 weights, grouped sum ≠ 0 ⟺ an edge on exactly one
      // side — a plain partial-aggregated count shuffle where joins would
      // sort or broadcast. Safe against the exceptAll
      // constraint-propagation trap because both sides are rebased
      // checkpoints with fresh lineage (see checkpointTracked above).
      // `changed` is a lower bound on the edges that differ: the count
      // delta, or the probe's one witness.
      changed =
        if (nextCount != prevCount) math.abs(nextCount - prevCount)
        else next.select(col("src"), col("dst"), lit(1).as("w"))
          .unionByName(edges.select(col("src"), col("dst"), lit(-1).as("w")))
          .groupBy("src", "dst").agg(sum(col("w")).as("d"))
          .filter(col("d") =!= 0)
          .limit(1).count()
      unpersistIds(edgeIds -- edges0Ids)
      edges = next
      edgeIds = nextIds
      prevCount = nextCount
      converged = changed == 0
      iter += 1
    }
    if (!converged) {
      unpersistIds(edgeIds ++ edges0Ids)
      throw notConverged(maxIter, changed)
    }
    // At fixpoint the edge relation IS the star forest: every non-root
    // appears exactly once as (component min, node). Nodes absent from
    // the dst side are component roots labelling themselves. Checkpoint
    // the labels BEFORE releasing the edge/node blocks they derive from
    // (the caller consumes labels after this frame returns).
    val nodes = edges0.select(col("src").as("node"))
      .unionByName(edges0.select(col("dst").as("node"))).distinct()
    // the fixpoint forest never exceeds the initial edge relation, so the
    // same size gate covers broadcasting it under the left join
    val (labels, _) = checkpointTracked(nodes
      .join(maybeBcast(
          edges.select(col("dst").as("node"), col("src").as("comp"))),
        Seq("node"), "left")
      .select(col("node").as("doc_id"),
        coalesce(col("comp"), col("node")).as("cluster_id")))
    unpersistIds(edgeIds ++ edges0Ids)
    labels
  }

  private def notConverged(maxIter: Int, changed: Long): IllegalStateException =
    new IllegalStateException("connectedComponents did not converge within " +
      s"maxIter = $maxIter rounds (last round's changed count: $changed)")

  /** Duplicate clusters from near-dup pairs: every clustered doc with its
    * cluster id (= min doc id in the cluster) and a keep flag on the
    * canonical survivor.
    */
  def dedupClusters(pairs: DataFrame, aCol: String, bCol: String): DataFrame =
    connectedComponents(pairs, aCol, bCol)
      .withColumn("keep", (col("doc_id") === col("cluster_id")).cast("boolean"))

  /** Incremental re-close of a materialized cluster membership after a
    * pair-relation upsert: only TOUCHED components recompute, the rest
    * of the membership is carried over unchanged.
    *
    * `seedIds` are the docs whose incident pairs changed (stale ids plus
    * added-pair endpoints). Every prev cluster containing a seed is
    * affected; its full member set plus the seeds forms the affected doc
    * set, connected components re-run ONLY over maintained pairs inside
    * that set, and unaffected membership rows union back untouched.
    *
    * Why one hop of cluster expansion suffices: any doc whose component
    * (hence membership row) changes lies in a component containing an
    * added or dropped edge; each prev cluster merged into or split from
    * such a component contains one of that edge's endpoints — a seed.
    * Consequently every maintained pair touching an affected doc has
    * BOTH endpoints affected (a kept pair's endpoints shared a prev
    * cluster; an added pair's endpoints are both seeds), so the re-close
    * edge set is closed under the doc_a-side semi-join alone and the
    * kept/re-closed split can never emit a doc twice.
    *
    * Scale shape: seeds and affected clusters are delta-sized broadcast
    * semi/anti-joins; the connected-components loop runs only on the
    * affected slice; the corpus-sized membership streams through one
    * anti-join.
    */
  def upsertClusters(prevClusters: DataFrame, pairs: DataFrame,
                     seedIds: DataFrame,
                     eagerCheckpoint: Boolean = true): DataFrame = {
    // Composed from the parts split, so the rebuild-equality oracle and
    // the poisoned-bucket carry-over spec gate the split form the
    // delta-cost publish consumes. EXECUTION SEMANTICS: with the
    // default eagerCheckpoint the affected-doc set runs Spark jobs AT
    // CALL TIME (the upsertLshPairs convention — see its scaladoc for
    // the lineage/fault-tolerance tradeoff); pass false for lazy
    // composition.
    val (affDocs, reclosed) =
      upsertClustersParts(prevClusters, pairs, seedIds, eagerCheckpoint)
    prevClusters.join(affDocs, Seq("doc_id"), "left_anti")
      .select("doc_id", "cluster_id")
      .unionByName(reclosed)
  }

  /** [[upsertClusters]] split at its carry-over boundary: `(affected doc
    * ids, their re-closed membership rows)`. Membership rows change ONLY
    * for docs in the affected set (the one-hop-expansion argument above),
    * so a publish that rewrites only the partitions holding affected
    * docs and references the rest in place is row-identical to the
    * union form. `affDocs` is delta-sized and eagerly checkpointed — it
    * feeds the affected-partition list, the carry-over anti-join, and
    * the re-close, and its upstream is a corpus-sized semi-join
    * (eagerCheckpoint = false composes lazily, re-executing that
    * upstream per consumer).
    */
  def upsertClustersParts(prevClusters: DataFrame, pairs: DataFrame,
                          seedIds: DataFrame,
                          eagerCheckpoint: Boolean = true)
      : (DataFrame, DataFrame) = {
    val seeds = seedIds.select(col("doc_id")).distinct()
    val affClusters = prevClusters.join(seeds, Seq("doc_id"), "left_semi")
      .select("cluster_id").distinct()
    val affDocs0 = prevClusters.join(affClusters, Seq("cluster_id"), "left_semi")
      .select("doc_id").unionByName(seeds).distinct()
    val affDocs = if (eagerCheckpoint) affDocs0.localCheckpoint(true) else affDocs0
    val affPairs = pairs.join(affDocs.select(col("doc_id").as("doc_a")),
      Seq("doc_a"), "left_semi")
    val reclosed = dedupClusters(affPairs, "doc_a", "doc_b")
      .select("doc_id", "cluster_id")
    (affDocs, reclosed)
  }

  /** The corpus AFTER dedup: every document that is either outside any
    * near-dup cluster or its cluster's canonical (min-id) survivor. The
    * step that turns pair/cluster REPORTS into the training corpus itself.
    * The drop set holds only non-canonical cluster members — tiny relative
    * to the corpus — so the anti join broadcasts under AQE and the big
    * side streams through unshuffled.
    */
  def applyDedup(docs: DataFrame, pairs: DataFrame, idCol: String,
                 aCol: String, bCol: String): DataFrame = {
    val drop = dedupClusters(pairs, aCol, bCol)
      .filter(!col("keep")).select(col("doc_id").as("__drop_id"))
    docs.join(drop, col(idCol) === col("__drop_id"), "left_anti")
  }

  /** Cluster-size distribution of the duplicate graph: for each cluster
    * size, how many clusters and how many documents sit in them — the
    * first chart a corpus owner reads after a dedup run (a fat tail of
    * giant clusters means boilerplate or a crawler loop, not organic
    * duplication; pairs-only views hide this). Two grouped counts over
    * the (tiny) cluster-membership relation.
    */
  def clusterSizeHistogram(pairs: DataFrame, aCol: String,
                           bCol: String): DataFrame =
    dedupClusters(pairs, aCol, bCol)
      .groupBy("cluster_id").agg(count(lit(1)).as("size"))
      .groupBy("size")
      .agg(count(lit(1)).as("n_clusters"))
      .withColumn("n_docs", col("size") * col("n_clusters"))

  /** What dedup bought, per group: document and weight (e.g. char/token)
    * totals before and after dropping non-canonical cluster members — the
    * report a corpus owner reads after every dedup run. One broadcast
    * left join of the tiny drop set + one grouped aggregate; weights sum
    * as longs (exact).
    */
  def dedupSavings(docs: DataFrame, pairs: DataFrame, idCol: String,
                   aCol: String, bCol: String, groupCol: String,
                   weightCol: String): DataFrame = {
    val drop = dedupClusters(pairs, aCol, bCol)
      .filter(!col("keep")).select(col("doc_id").as("__drop_id"))
    docs.join(drop, col(idCol) === col("__drop_id"), "left")
      .groupBy(col(groupCol))
      .agg(
        count(lit(1)).as("docs_before"),
        count(when(col("__drop_id").isNull, 1)).as("docs_after"),
        sum(col(weightCol)).as("weight_before"),
        coalesce(sum(when(col("__drop_id").isNull, col(weightCol))), lit(0L))
          .as("weight_after"))
  }
}
