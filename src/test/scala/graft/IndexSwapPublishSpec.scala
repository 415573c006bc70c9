package graft

import java.net.URI

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.operators.Ann
import graft.sources.ParquetSink

/** The PartitionSwapSpec byte-stability proof, extended to the REAL
  * maintained-index entries: running `ann_ivf_index_upsert` and
  * `knn_graph_index_upsert` end-to-end must leave every base-table file
  * untouched (same path, length, mtime), publish only the affected
  * partitions into the version's delta directory, and resolve the
  * unaffected partitions of the published table INTO the base's
  * directories — i.e. the entries really publish at delta cost, not by
  * rewriting the corpus-sized standing table.
  */
class IndexSwapPublishSpec extends SparkSpec {

  private def sfx = sfDir.replaceAll("[^A-Za-z0-9]", "_")

  private def fileStamps(tbl: String): Map[String, (Long, Long)] = {
    val root = ParquetSink.tableLocation(spark, tbl)
    val fs = root.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val out = scala.collection.mutable.Map.empty[String, (Long, Long)]
    def walk(p: org.apache.hadoop.fs.Path): Unit =
      fs.listStatus(p).foreach { st =>
        if (st.isDirectory) walk(st.getPath)
        else if (!st.getPath.getName.startsWith("_"))
          out += st.getPath.toString -> (st.getLen, st.getModificationTime)
      }
    walk(root)
    out.toMap
  }

  private def checkEntry(entry: String, baseTbl: String): Unit = {
    val v2Tbl = baseTbl + "_v2"
    // cold run: ensure-builds the standing base, publishes the version
    val rows = SparkEntry.queries(entry)(spark, sfDir).count()
    assert(rows > 0)
    val baseStamps = fileStamps(baseTbl)
    assert(baseStamps.nonEmpty)

    // warm rerun: republish over the existing version
    val rows2 = SparkEntry.queries(entry)(spark, sfDir).count()
    assert(rows2 === rows)

    // the corpus-sized base was never read-modified or rewritten —
    // every file byte-stable across BOTH publishes
    assert(fileStamps(baseTbl) === baseStamps,
      s"$entry rewrote base files of $baseTbl")

    // the published table reads unaffected partitions IN PLACE from the
    // base's directories and affected partitions from its delta dir
    val baseLoc = ParquetSink.tableLocation(spark, baseTbl).toUri.getPath
    val v2Files = spark.table(v2Tbl).inputFiles.toSeq
    assert(v2Files.exists(f => new URI(f).getPath.startsWith(baseLoc)),
      s"$entry: no in-place base references in $v2Files")
    assert(v2Files.exists(_.contains(v2Tbl + "_delta")),
      s"$entry: no delta-partition files in $v2Files")

    // delta write volume is partial: some partition VALUES are served
    // from the delta (affected), the rest from the base in place (kept)
    val byPart = v2Files.groupBy(f =>
      new URI(f).getPath.split("/").takeRight(2).head)
    val deltaVals = byPart.collect {
      case (p, fs) if fs.exists(_.contains(v2Tbl + "_delta")) => p
    }.toSet
    val keptVals = byPart.keySet -- deltaVals
    assert(deltaVals.nonEmpty && keptVals.nonEmpty,
      s"$entry: affected=${deltaVals.size} kept=${keptVals.size} — " +
      "expected a PARTIAL delta publish")
  }

  test("ann_ivf_index_upsert publishes at delta cost with a byte-stable base") {
    checkEntry("ann_ivf_index_upsert", s"ivf_upsert_base_$sfx")
  }

  test("knn_graph_index_upsert publishes at delta cost with a byte-stable base") {
    checkEntry("knn_graph_index_upsert", s"knn_edge_upsert_base_$sfx")
  }

  test("ann_ivf_index_upsert_chain: v3 publishes FROM v2 with mixed-provenance partitions") {
    val base = s"ivf_upsert_base_$sfx"
    // this test pins the CHAIN-PUBLISHED state of v3; if another spec
    // already ran ann_ivf_index_compact in this warehouse, v3 is
    // legitimately self-owned — drop it so the entry republishes the
    // chain (the manifest goes with it, so adopt can't short-circuit)
    ParquetSink.dropIndexVersion(spark, base + "_v3")
    val rows = SparkEntry.queries("ann_ivf_index_upsert_chain")(spark, sfDir)
      .count()
    assert(rows > 0)
    // the chained version's partitions resolve into the ORIGINAL base's
    // directories (untouched by both hops), v2's delta directories
    // (touched by hop 1 only), and v3's own delta (touched by hop 2) —
    // the catalog resolution a filesystem listing cannot give
    val v3Files = spark.table(base + "_v3").inputFiles.toSeq
    val baseLoc = ParquetSink.tableLocation(spark, base).toUri.getPath + "/"
    assert(v3Files.exists(f => new URI(f).getPath.startsWith(baseLoc)),
      s"v3 should carry original-base partitions in place: $v3Files")
    assert(v3Files.exists(_.contains(base + "_v2_delta")),
      s"v3 should carry v2's delta partitions in place: $v3Files")
    assert(v3Files.exists(_.contains(base + "_v3_delta")),
      s"v3 should serve hop-2's affected partitions from its delta: $v3Files")
  }

  test("knn and dedup chains publish v3 FROM the v2 versions (mixed provenance)") {
    val edgeBase = s"knn_edge_upsert_base_$sfx"
    assert(SparkEntry.queries("knn_graph_index_upsert_chain")(spark, sfDir)
      .count() > 0)
    val e3 = spark.table(edgeBase + "_v3").inputFiles.toSeq
    assert(e3.exists(_.contains(edgeBase + "_v3_delta")),
      s"edge v3 should serve hop-2 partitions from its delta: $e3")
    assert(e3.exists(_.contains(edgeBase + "_v2_delta")),
      s"edge v3 should carry v2's delta partitions in place: $e3")
    val clusBase = s"dedup_upsert_clusters_$sfx"
    assert(SparkEntry.queries("dedup_cluster_index_upsert_chain")(spark, sfDir)
      .count() > 0)
    val c3 = spark.table(clusBase + "_v3").inputFiles.toSeq
    assert(c3.exists(_.contains(clusBase + "_v3_delta")),
      s"membership v3 should serve hop-2 partitions from its delta: $c3")
    // carried partitions resolve OUTSIDE v3's own directories (into the
    // base or v2's delta — which one depends on the tiny corpus's
    // overlap pattern, so only the carry-over itself is asserted)
    assert(c3.exists(f => !f.contains(clusBase + "_v3")),
      s"membership v3 should carry unaffected partitions in place: $c3")
  }

  test("entries ADOPT a fresh published version instead of republishing") {
    val base = s"ivf_upsert_base_$sfx"
    val v2 = base + "_v2"
    val wh = new org.apache.hadoop.fs.Path(
      spark.conf.get("spark.sql.warehouse.dir"))
    val fs = wh.getFileSystem(spark.sparkContext.hadoopConfiguration)
    def deltaGens: Set[String] = fs.listStatus(wh).iterator
      .map(_.getPath.getName).filter(_.startsWith(v2 + "_delta_g")).toSet

    SparkEntry.queries("ann_ivf_index_upsert")(spark, sfDir).count()
    val gens = deltaGens
    assert(gens.nonEmpty)
    val deltaStamps = gens.map(g => g -> fileStamps(g)).toMap

    // same-JVM rerun: fresh stamp + live catalog entry ⇒ pure read —
    // no new generation, delta files byte-stable
    SparkEntry.queries("ann_ivf_index_upsert")(spark, sfDir).count()
    assert(deltaGens === gens, "a warm rerun must not republish")
    assert(gens.map(g => g -> fileStamps(g)).toMap === deltaStamps)

    // catalog restart: the manifest re-registers the version — still no
    // republish (v2 is EXTERNAL, so the drop keeps its files)
    spark.sql(s"DROP TABLE IF EXISTS `$v2`")
    SparkEntry.queries("ann_ivf_index_upsert")(spark, sfDir).count()
    assert(deltaGens === gens, "an adopted rerun must not republish")
    assert(gens.map(g => g -> fileStamps(g)).toMap === deltaStamps)
    assert(spark.catalog.tableExists(v2), "the version should be re-registered")
  }

  test("dedup_cluster_index_upsert swap-publishes all three standing tables") {
    val tbls = Seq(s"dedup_upsert_pairs_$sfx", s"dedup_upsert_lsh_$sfx",
      s"dedup_upsert_clusters_$sfx")
    val rows = SparkEntry.queries("dedup_cluster_index_upsert")(spark, sfDir)
      .count()
    assert(rows > 0)
    val stamps = tbls.map(fileStamps)
    val rows2 = SparkEntry.queries("dedup_cluster_index_upsert")(spark, sfDir)
      .count()
    assert(rows2 === rows)
    // every base file of all three corpus-sized tables byte-stable
    // across both publishes
    tbls.zip(stamps).foreach { case (t, st) =>
      assert(fileStamps(t) === st, s"base files of $t were rewritten")
    }
    // the banded and membership versions are PARTIAL delta publishes:
    // kept partitions resolve into the base in place, affected ones into
    // the delta dir (pairs are sparse at this sf, so only byte-stability
    // and the delta's existence are asserted there)
    for (t <- Seq(s"dedup_upsert_lsh_$sfx", s"dedup_upsert_clusters_$sfx")) {
      val v2 = t + "_v2"
      val files = spark.table(v2).inputFiles.toSeq
      val baseLoc = ParquetSink.tableLocation(spark, t).toUri.getPath + "/"
      assert(files.exists(f => new URI(f).getPath.startsWith(baseLoc)),
        s"$v2: no in-place base references in $files")
      assert(files.exists(_.contains(v2 + "_delta")),
        s"$v2: no delta-partition files in $files")
    }
    // the pairs delta can be legitimately EMPTY at this sf (the sparse
    // stale set may touch no pair and add none — a pure carry-over
    // publish); assert the version still serves the base in place
    val pairsV2Files = spark.table(s"dedup_upsert_pairs_${sfx}_v2")
      .inputFiles.toSeq
    val pairsBaseLoc = ParquetSink
      .tableLocation(spark, s"dedup_upsert_pairs_$sfx").toUri.getPath + "/"
    assert(pairsV2Files.nonEmpty &&
      pairsV2Files.forall(f => new URI(f).getPath.startsWith(pairsBaseLoc) ||
        f.contains("_delta")))
  }

  /** An embedding snapshot of the sf corpus: ids ≡ `del` mod 97 absent,
    * ids ≡ `rev` mod 97 with their vector reversed.
    */
  private def snap(del: Int, rev: Int): DataFrame =
    Tables.embeddings(spark, sfDir).filter(col("vec_id") % 97 =!= del)
      .withColumn("embedding", when(col("vec_id") % 97 === rev,
        reverse(col("embedding"))).otherwise(col("embedding")))

  private val snaps = Seq((3, 2), (7, 19), (5, 11), (13, 17))

  /** Builds `base`, the centroid-partitioned IVF index of the first
    * snapshot at frozen centroids, and publishes v2, v3 and v4 from it,
    * each hop from the prior version through `ivfUpsertApply`. Returns
    * the centroids.
    */
  private def ivfChain(base: String): DataFrame = {
    Seq("_v4", "_v3", "_v2").foreach(v =>
      ParquetSink.dropIndexVersion(spark, base + v))
    val t0 = snap(3, 2)
    val cents = t0.filter(col("vec_id") % 25 === 0)
    ParquetSink.writePartitionedSnapshot(
      t0.select(col("vec_id"), col("embedding").as("v"))
        .join(Ann.ivfAssign(t0, cents, "vec_id", "embedding", "vec_id",
          "embedding").select("vec_id", "centroid_id"), "vec_id"),
      base, "centroid_id", Seq("vec_id"))
    ivfHops(base, cents, from = 1)
    cents
  }

  /** Hops `from`…3 of [[ivfChain]]: hop i publishes v(i+1) from v(i). */
  private def ivfHops(base: String, cents: DataFrame, from: Int): Unit =
    for (i <- from to 3) {
      val (pd, pr) = snaps(i - 1)
      val (cd, cr) = snaps(i)
      Queries.ivfUpsertApply(spark, if (i == 1) base else s"${base}_v$i",
        snap(pd, pr), snap(cd, cr), cents, outTbl = Some(s"${base}_v${i + 1}"))
    }

  private def asSet(df: DataFrame): Set[(Long, Long)] =
    df.select(col("vec_id").cast("long"), col("centroid_id").cast("long"))
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet

  test("a 3-hop chained IVF v4 equals one hop of the combined diff, and " +
       "re-publishing v3 and v4 leaves the same version directories") {
    val base = "ivf_chain4_base"
    val cents = ivfChain(base)
    val oneHop = Ann.ivfIndexUpsert(spark.table(base), snap(3, 2),
      snap(13, 17), cents, "vec_id", "embedding", "vec_id", "embedding")
    assert(asSet(spark.table(base + "_v4")) === asSet(oneHop))

    val wh = new org.apache.hadoop.fs.Path(
      spark.conf.get("spark.sql.warehouse.dir"))
    val fs = wh.getFileSystem(spark.sparkContext.hadoopConfiguration)
    def versionDirs: Set[String] = fs.listStatus(wh).iterator
      .map(_.getPath.getName)
      .filter(n => n.startsWith(base + "_v3") || n.startsWith(base + "_v4"))
      .toSet
    val dirs = versionDirs
    assert(dirs.nonEmpty)
    ParquetSink.dropIndexVersion(spark, base + "_v4")
    ParquetSink.dropIndexVersion(spark, base + "_v3")
    ivfHops(base, cents, from = 2)
    assert(versionDirs === dirs, "generation GC leaked version directories")
    assert(asSet(spark.table(base + "_v4")) === asSet(oneHop))
    Seq("_v4", "_v3", "_v2").foreach(v =>
      ParquetSink.dropIndexVersion(spark, base + v))
  }

  test("a compacted IVF v4 keeps its rows when v3 drops; it and the " +
       "kNN-edge v2 fsck without errors") {
    val base = "ivf_chain4c_base"
    ivfChain(base)
    val v4 = base + "_v4"
    val want = asSet(spark.table(v4))
    ParquetSink.compactPublishedVersion(spark, v4, "centroid_id", Seq("vec_id"))
    ParquetSink.dropIndexVersion(spark, base + "_v3")
    assert(asSet(spark.table(v4)) === want)
    def errors(tbl: String) = ParquetSink.fsckPublishedVersion(spark, tbl)
      .filter(col("severity") === "error").collect().toSeq
    assert(errors(v4).isEmpty, errors(v4).toString)
    SparkEntry.queries("knn_graph_index_upsert")(spark, sfDir).count()
    val edgeV2 = s"knn_edge_upsert_base_${sfx}_v2"
    assert(errors(edgeV2).isEmpty, errors(edgeV2).toString)
    Seq("_v4", "_v2").foreach(v => ParquetSink.dropIndexVersion(spark, base + v))
  }
}
