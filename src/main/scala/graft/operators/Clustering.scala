package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graft.DataFrameUtils.rebase

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
  * eager [[Scans.cut]] truncating lineage; the driver only decides
  * WHEN to stop (one existence check for star-forest violators per
  * round), it never touches row data. `maxIter` bounds the loop, and a
  * loop that reaches it unconverged throws rather than return partial
  * labels.
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
    * near-dup edge list. The loop stops after the first round whose
    * edges form a star forest: every `dst` appears once and no `src`
    * appears as a `dst`. Each star is then a whole component rooted at
    * its minimum — both stars preserve connectivity — and one more round
    * would map the forest onto itself, so the test is exact.
    */
  def connectedComponents(pairs: DataFrame, aCol: String, bCol: String,
                          maxIter: Int = 32): DataFrame = {
    require(maxIter > 0, "maxIter must be positive")
    val spark = pairs.sparkSession
    // Every round is an eager cut, TRUNCATING LINEAGE: the edge relation
    // is tiny relative to the corpus (only near-dup docs appear) while
    // its upstream plan (e.g. the whole LSH pipeline) is huge, and
    // without the cut every round's plan embeds that tree and re-pays
    // optimizer + codegen over it. Each cut is rebased on a FRESH logical
    // relation: a bare checkpoint keeps the original plan's inferred
    // constraints, which reference attributes it no longer outputs, and
    // the next round's union/join over it trips Catalyst's constraint
    // rewrite ("key not found: src#N"); `rebase` hands the InternalRow
    // RDD over with no per-row conversion. Superseded rounds are released
    // at once: a long-lived driver clustering repeatedly shouldn't
    // accumulate block-manager entries until the ContextCleaner runs.
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
      // the relation up.
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
    // Nodes that break the star-forest shape of a round's (distinct,
    // canonical src < dst) edges: a `dst` with two parents, or a `dst`
    // that is also a `src`. None ⟺ star forest; the loop asks only
    // whether one exists, and the count is read for the error message.
    def starViolators(e: DataFrame): DataFrame =
      e.select(col("dst").as("node"), lit(1).as("in"), lit(0).as("out"))
        .unionByName(e.select(col("src").as("node"), lit(0).as("in"),
          lit(1).as("out")))
        .groupBy("node").agg(sum(col("in")).as("in"), max(col("out")).as("out"))
        .filter(col("in") > 1 || (col("in") === 1 && col("out") === 1))
    // The initial edges keep self-loops and duplicate pairs: the final
    // labelling reads the self-loop nodes from them, so a node whose
    // only pair is a self-loop stays covered. largeStar drops self-loops
    // (v > u) and round 1's small-star distinct() drops duplicates, so
    // no round's edges carry either. They are protected from the loop's
    // release and freed after the labels checkpoint.
    val initial = Scans.cut(pairs
      .select(least(col(aCol), col(bCol)).as("src"),
        greatest(col(aCol), col(bCol)).as("dst")), "cc_edges")
    val edges0 = rebase(initial.df)
    minsFit = Scans.fitsBroadcast(spark,
      2L * Scans.materializedBytes(spark.sparkContext, initial.rdds))
    var edges = edges0
    var round = Option.empty[Scans.Cut]
    var converged = false
    var iter = 0
    while (iter < maxIter && !converged) {
      val next = Scans.cut(smallStar(largeStar(edges)), "cc_round")
      round.foreach(_.release())
      round = Some(next)
      edges = rebase(next.df)
      converged = starViolators(edges).isEmpty
      iter += 1
    }
    def releaseEdges(): Unit = (round.toSeq :+ initial).foreach(_.release())
    if (!converged) {
      val violators = starViolators(edges).count()
      releaseEdges()
      throw notConverged(maxIter, violators)
    }
    // Every forest edge is (component min, node) and labels both its
    // ends with its `src`: a non-root appears once, as a `dst`, and a
    // root only ever as a `src`. A node whose only pair is a self-loop
    // is in no forest edge, so it labels itself from the initial edges;
    // a self-loop on a forest node loses the min to its root. One
    // grouped min, no node set and no join. Checkpoint the labels
    // BEFORE releasing the edge blocks they derive from (the caller
    // consumes labels after this frame returns).
    val labels = Scans.cut(
      edges.select(explode(array(col("dst"), col("src"))).as("doc_id"),
          col("src").as("cluster_id"))
        .unionByName(edges0.filter(col("src") === col("dst"))
          .select(col("src").as("doc_id"), col("src").as("cluster_id")))
        .groupBy("doc_id").agg(min(col("cluster_id")).as("cluster_id")),
      "cc_labels")
    releaseEdges()
    rebase(labels.df)
  }

  private def notConverged(maxIter: Int, violators: Long): IllegalStateException =
    new IllegalStateException("connectedComponents did not converge within " +
      s"maxIter = $maxIter rounds (last round's star-forest violators: " +
      s"$violators nodes)")

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
                     seedIds: DataFrame): DataFrame = {
    // Composed from the parts split, so the rebuild-equality oracle and
    // the poisoned-bucket carry-over spec gate the split form the
    // delta-cost publish consumes. EXECUTION SEMANTICS: the affected-doc
    // set is cut eagerly, so the call runs Spark jobs AT CALL TIME (the
    // upsertLshPairs convention; see Scans.cut for the fault tradeoff).
    val (affDocs, reclosed) =
      upsertClustersParts(prevClusters, pairs, seedIds)
    prevClusters.join(affDocs, Seq("doc_id"), "left_anti")
      .select("doc_id", "cluster_id")
      .unionByName(reclosed)
  }

  /** [[upsertClusters]] split at its carry-over boundary: `(affected doc
    * ids, their re-closed membership rows)`. Membership rows change ONLY
    * for docs in the affected set (the one-hop-expansion argument above),
    * so a publish that rewrites only the partitions holding affected
    * docs and references the rest in place is row-identical to the
    * union form. `affDocs` is delta-sized and cut eagerly — it feeds
    * the affected-partition list, the carry-over anti-join, and the
    * re-close, and its upstream is a corpus-sized semi-join that would
    * otherwise re-execute per consumer.
    */
  def upsertClustersParts(prevClusters: DataFrame, pairs: DataFrame,
                          seedIds: DataFrame): (DataFrame, DataFrame) = {
    val seeds = seedIds.select(col("doc_id")).distinct()
    val affClusters = prevClusters.join(seeds, Seq("doc_id"), "left_semi")
      .select("cluster_id").distinct()
    val affDocs = Scans.cut(
      prevClusters.join(affClusters, Seq("cluster_id"), "left_semi")
        .select("doc_id").unionByName(seeds).distinct(),
      "affected_docs").df
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
