package graft.sources

import org.apache.spark.sql.{DataFrame, SaveMode}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graft.CatalogUtils

/** Parquet target support, re-expressing the reference's size-controlled
  * file output (glue/sbin/parquet/CQLReplicator.scala:698-740
  * estimateAndCoalesce) and giving CDC snapshots a bucketed layout so the
  * per-PK diff joins need no shuffle.
  */
object ParquetSink {

  /** Estimated on-disk size of `df`'s output, for the file counts of
    * [[writeSorted]] and [[writeZOrdered]]. Prefers Catalyst's logical
    * statistics (free — propagated from file sizes through operators);
    * falls back to row-count x sampled average row width when the plan has
    * no usable estimate. The reference samples one row and multiplies
    * (parquet/CQLReplicator.scala:712-718). Plan stats are only as good as
    * the plan: without CBO a join estimates as the PRODUCT of its
    * children, so a small diff over joined snapshots can estimate as
    * gigabytes. Callers of those two writers with joined inputs should
    * pass `numFiles`.
    */
  def estimateBytes(df: DataFrame): Long = {
    val fromStats = df.queryExecution.optimizedPlan.stats.sizeInBytes
    if (fromStats > 0 && fromStats < BigInt(Long.MaxValue)) fromStats.toLong
    else {
      // fallback: sampled average row width (one bounded action) x row
      // count (one column-pruned action). Callers on expensive plans
      // should pass an explicit numFiles/persist upstream instead.
      val sample = df.limit(1000)
        .select(length(to_json(struct(df.columns.map(col): _*))).as("w"))
        .agg(count(lit(1)), coalesce(sum(col("w").cast("long")), lit(0L)))
        .head()
      val rows = sample.getLong(0)
      if (rows == 0) 0L else (sample.getLong(1) / rows) * df.count()
    }
  }

  /** Number of output files that keeps each parquet file near
    * `targetFileBytes` (the reference's targetFileSizeMB contract). At
    * least 1; parquet compression typically shrinks the estimate, so this
    * errs toward slightly smaller files rather than gigantic ones.
    */
  def targetPartitions(df: DataFrame, targetFileBytes: Long): Int =
    math.max(1, math.ceil(estimateBytes(df).toDouble / targetFileBytes).toInt)

  /** Writes `df` as parquet with size-controlled files: one rebalance
    * exchange whose advisory partition size is `targetFileBytes`, so AQE
    * coalesces small output into few files and splits large output toward
    * the target from the shuffle's runtime bytes (shuffle bytes, not
    * parquet bytes: files land near, not at, the target). The input runs
    * once, inside the write; there is no driver-side size estimate. With
    * `spark.sql.adaptive.enabled=false` nothing sizes the exchange and the
    * write lands up to `spark.sql.shuffle.partitions` files.
    */
  def writeSizeControlled(df: DataFrame, path: String,
                          targetFileBytes: Long = 128L << 20,
                          mode: SaveMode = SaveMode.Overwrite): Unit =
    org.apache.spark.sql.graft.DataFrameUtils.rebalance(df, targetFileBytes)
      .write.mode(mode).parquet(path)

  /** Size-controlled write with rows globally ordered by `sortCols`:
    * range-partitioned across files, sorted within them. Parquet keeps
    * min/max statistics per row group, so a selective filter on the sort
    * column skips most groups at read time — the data-layout half of scan
    * performance at 100 TB (the spec observes the scan-row metric drop
    * vs an unsorted layout of the same data).
    */
  def writeSorted(df: DataFrame, path: String, sortCols: Seq[String],
                  targetFileBytes: Long = 128L << 20,
                  mode: SaveMode = SaveMode.Overwrite,
                  numFiles: Option[Int] = None): Unit = {
    require(sortCols.nonEmpty, "writeSorted needs at least one sort column")
    // The input evaluates up to three times (size estimate when plan stats
    // are unusable, repartitionByRange's range sampling, the write): pass
    // numFiles to skip the estimate, and persist expensive upstreams.
    val n = numFiles.getOrElse(targetPartitions(df, targetFileBytes))
    df.repartitionByRange(n, sortCols.map(col): _*)
      .sortWithinPartitions(sortCols.map(col): _*)
      .write.mode(mode).parquet(path)
  }

  /** Z-value of two columns: min-max normalize each to 21-bit rank space
    * (bounds from one broadcast one-row aggregate — lazy, no driver
    * action) and interleave the bits. Normalization uses doubles — fine
    * for LAYOUT (the z-value never leaves the writer).
    */
  private def zValue(a: org.apache.spark.sql.Column, amin: org.apache.spark.sql.Column,
                     amax: org.apache.spark.sql.Column,
                     b: org.apache.spark.sql.Column, bmin: org.apache.spark.sql.Column,
                     bmax: org.apache.spark.sql.Column): org.apache.spark.sql.Column = {
    def norm(c: org.apache.spark.sql.Column, lo: org.apache.spark.sql.Column,
             hi: org.apache.spark.sql.Column) =
      when(hi === lo, lit(0L)).otherwise(
        ((c.cast("double") - lo.cast("double")) /
          (hi.cast("double") - lo.cast("double")) * ((1L << 21) - 1)).cast("long"))
    org.apache.spark.sql.graft.GraftExpressions.zInterleave(
      norm(a, amin, amax), norm(b, bmin, bmax))
  }

  /** Size-controlled write laid out on the Z-ORDER curve of two columns:
    * files partition the z-range, so parquet row-group min/max stats
    * prune selective filters on EITHER column — the multi-dimensional
    * sibling of [[writeSorted]] (one sort column serves one predicate
    * column; z-order trades a little per-column pruning for coverage of
    * both). The spec measures scan-row drops for both dimensions against
    * single-sorted and unsorted layouts of the same data.
    */
  def writeZOrdered(df: DataFrame, path: String, colA: String, colB: String,
                    targetFileBytes: Long = 128L << 20,
                    mode: SaveMode = SaveMode.Overwrite,
                    numFiles: Option[Int] = None): Unit = {
    val n = numFiles.getOrElse(targetPartitions(df, targetFileBytes))
    val bounds = df.agg(min(col(colA)).as("__amin"), max(col(colA)).as("__amax"),
      min(col(colB)).as("__bmin"), max(col(colB)).as("__bmax"))
    df.join(broadcast(bounds))
      .withColumn("__zv", zValue(col(colA), col("__amin"), col("__amax"),
        col(colB), col("__bmin"), col("__bmax")))
      .drop("__amin", "__amax", "__bmin", "__bmax")
      .repartitionByRange(n, col("__zv"))
      .sortWithinPartitions(col("__zv"))
      .drop("__zv")
      .write.mode(mode).parquet(path)
  }

  /** Persists a banded LSH key relation (TextDedup.bandedKeys) bucketed
    * and sorted on (band, bh) — the PRECOMPUTED LSH INDEX the incremental
    * dedup path reads. A daily ingest batch's candidate equi-join on
    * (band, bh) then shuffles only the batch side into the bucket
    * partitioning; the corpus-sized index scans in place, bucket-local
    * (spec-proven). Write once per corpus version, not per batch.
    */
  def writeLshIndex(banded: DataFrame, tableName: String, buckets: Int,
                    mode: SaveMode = SaveMode.Overwrite): Unit = {
    if (mode == SaveMode.Overwrite) dropWithLocation(banded, tableName)
    banded.write.mode(mode)
      .bucketBy(buckets, "band", "bh")
      .sortBy("band", "bh")
      .format("parquet")
      .saveAsTable(tableName)
  }

  /** Persists a CDC snapshot bucketed (and sorted) by its primary key.
    * Both snapshots of a diff written this way co-locate equal PKs in
    * equal bucket ids, so Cdc.inserts/deletes/updates plan as bucket-local
    * sort-merge joins — no shuffle of the 100 TB sides (SURVEY §3).
    * Bucketed tables require the table catalog, hence saveAsTable.
    */
  def writeBucketedSnapshot(df: DataFrame, tableName: String,
                            pkCols: Seq[String], buckets: Int,
                            mode: SaveMode = SaveMode.Overwrite): Unit = {
    if (mode == SaveMode.Overwrite) dropWithLocation(df, tableName)
    df.write.mode(mode)
      .bucketBy(buckets, pkCols.head, pkCols.tail: _*)
      .sortBy(pkCols.head, pkCols.tail: _*)
      .format("parquet")
      .saveAsTable(tableName)
  }

  /** Persists a standing index table HIVE-PARTITIONED on its carry-over
    * key (`tbl/partCol=v/…`) — the layout that makes incremental
    * maintenance publish at DELTA cost: an upsert rewrites only the
    * affected partitions' directories and the new version references
    * every other partition's files IN PLACE ([[publishPartitionSwap]]),
    * where a bucketed `saveAsTable` could only republish by rewriting
    * the whole corpus-sized relation.
    */
  def writePartitionedSnapshot(df: DataFrame, tableName: String,
                               partCol: String,
                               sortCols: Seq[String] = Nil): Unit = {
    dropWithLocation(df, tableName)
    partitionedWriter(df, partCol, sortCols).format("parquet").saveAsTable(tableName)
  }

  /** The partitioned, sorted write of this sink's partitioned layouts
    * (standing snapshots, publish deltas, compactions): the pre-shuffle
    * on the partition key gives each partition one output file instead
    * of one per task that touches it, sorted by `partCol` then `sortCols`.
    */
  private def partitionedWriter(df: DataFrame, partCol: String,
                                sortCols: Seq[String]) =
    df.repartition(col(partCol))
      .sortWithinPartitions((partCol +: sortCols).map(col): _*)
      .write.mode(SaveMode.Overwrite).partitionBy(partCol)

  /** The `partCol=value → directory` map of one partitioned PATH root
    * (hive-style dir names, %XX-unescaped) — the resolution for the
    * generation directories a commit writes, which live outside any
    * catalog.
    */
  private def partitionDirs(spark: org.apache.spark.sql.SparkSession,
                            root: org.apache.hadoop.fs.Path,
                            partCol: String): Map[String, org.apache.hadoop.fs.Path] = {
    val fs = root.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (!fs.exists(root)) Map.empty
    else fs.listStatus(root).iterator
      .filter(st => st.isDirectory && st.getPath.getName.startsWith(partCol + "="))
      .map { st =>
        CatalogUtils.unescapePathName(st.getPath.getName.stripPrefix(partCol + "=")) ->
          st.getPath
      }
      .toMap
  }

  /** The `partCol=value → location` map of a TABLE's partitions, resolved
    * from the CATALOG — the only resolution that survives a chained
    * publish, where a swap-published version's partitions live under a
    * PRIOR base's root (a filesystem listing of its own root would see
    * nothing and silently drop every carried-over partition). Falls back
    * to the filesystem scan only when the catalog holds no partition
    * metadata for the table.
    */
  def partitionLocations(spark: org.apache.spark.sql.SparkSession,
                         tableName: String,
                         partCol: String): Map[String, org.apache.hadoop.fs.Path] = {
    val fromCatalog = scala.util.Try {
      CatalogUtils.partitions(spark, tableName).flatMap { case (spec, loc) =>
        spec.collectFirst {
          case (k, v) if k.equalsIgnoreCase(partCol) =>
            v -> new org.apache.hadoop.fs.Path(loc)
        }
      }.toMap
    }.getOrElse(Map.empty[String, org.apache.hadoop.fs.Path])
    if (fromCatalog.nonEmpty) fromCatalog
    else {
      val loc = scala.util.Try(new org.apache.hadoop.fs.Path(
        CatalogUtils.location(spark, tableName))).getOrElse(tableLocation(spark, tableName))
      partitionDirs(spark, loc, partCol)
    }
  }

  /** Warehouse directory of a managed table written by this sink (the
    * `dropWithLocation` convention: `warehouse/<lowercased name>`).
    */
  def tableLocation(spark: org.apache.spark.sql.SparkSession,
                    tableName: String): org.apache.hadoop.fs.Path =
    new org.apache.hadoop.fs.Path(
      spark.conf.get("spark.sql.warehouse.dir"), tableName.toLowerCase)

  /** SQL string literal with quote/backslash escaping — partition values
    * and locations are interpolated into DDL, so a value containing a
    * quote must not break (or worse, redirect) the statement.
    */
  private def sqlLit(s: String): String =
    "'" + s.replace("\\", "\\\\").replace("'", "\\'") + "'"

  /** Sidecar ledger of the FOREIGN directories a swap-published version
    * references (partitions living under some prior base's root rather
    * than its own): `warehouse/<table>__refs.txt`, one qualified URI per
    * line. Every destructive path in this sink consults the ledgers
    * ([[guardReferenced]]) before deleting, so rebuilding or dropping a
    * base whose files a live version still reads is REFUSED instead of
    * silently dangling that version — the ownership rule snapshot table
    * formats get from manifest refcounts. The ledger is a FILE (not
    * catalog state) so the guard survives the in-memory catalog's
    * per-JVM lifetime; it is replaced whole by [[MetaFiles.replace]], so
    * a crash never leaves a torn ledger that fails to pin a live
    * directory.
    */
  private def refsPath(spark: org.apache.spark.sql.SparkSession,
                       tableName: String): org.apache.hadoop.fs.Path =
    new org.apache.hadoop.fs.Path(
      spark.conf.get("spark.sql.warehouse.dir"),
      tableName.toLowerCase + "__refs.txt")

  /** Writes `tableName`'s ledger pinning `dirs`; an empty set DELETES
    * the ledger (a version that references nothing foreign, such as a
    * compacted one, has no ledger rather than an empty one).
    */
  private def writeRefs(spark: org.apache.spark.sql.SparkSession,
                        tableName: String,
                        dirs: Iterable[org.apache.hadoop.fs.Path]): Unit = {
    val p = refsPath(spark, tableName)
    if (dirs.isEmpty) p.getFileSystem(spark.sparkContext.hadoopConfiguration).delete(p, false)
    else MetaFiles.replace(spark, p,
      dirs.map(d => qualified(spark, d).toString).toSeq.sorted.mkString("\n"))
  }

  /** Lines of one refs ledger, or None when it does not exist (a
    * compacted version owns every partition and legitimately has none).
    */
  private def readLedger(spark: org.apache.spark.sql.SparkSession,
                         p: org.apache.hadoop.fs.Path): Option[Seq[String]] =
    MetaFiles.read(spark, p).map(_.split("\n").toSeq.filter(_.nonEmpty))

  private def qualified(spark: org.apache.spark.sql.SparkSession,
                        p: org.apache.hadoop.fs.Path): org.apache.hadoop.fs.Path =
    p.getFileSystem(spark.sparkContext.hadoopConfiguration)
      .makeQualified(p)

  /** Throws when `dir` (or anything under it) is referenced by a LIVE
    * published version's ledger — the caller must [[dropIndexVersion]]
    * the referencing version first. `owner` exempts that version's own
    * ledger (republish supersedes itself).
    */
  private def guardReferenced(spark: org.apache.spark.sql.SparkSession,
                              dir: org.apache.hadoop.fs.Path,
                              owner: Option[String] = None): Unit = {
    val wh = new org.apache.hadoop.fs.Path(spark.conf.get("spark.sql.warehouse.dir"))
    val fs = wh.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (!fs.exists(wh)) return
    val target = qualified(spark, dir).toString
    val ownRefs = owner.map(o => refsPath(spark, o).getName)
    fs.listStatus(wh).iterator
      .filter(st => !st.isDirectory && st.getPath.getName.endsWith("__refs.txt"))
      .filterNot(st => ownRefs.contains(st.getPath.getName))
      .foreach { st =>
        val hit = readLedger(spark, st.getPath).getOrElse(Nil).exists(l =>
          l == target || l.startsWith(target + "/") || target.startsWith(l + "/"))
        if (hit) {
          val version = st.getPath.getName.stripSuffix("__refs.txt")
          throw new IllegalStateException(
            s"refusing to delete $dir: published version '$version' still " +
            s"references files under it (ledger ${st.getPath}); drop that " +
            "version first (ParquetSink.dropIndexVersion)")
        }
      }
  }

  /** True when any live ledger (any version's, including `owner`'s own if
    * `owner` is None) pins `dir` — the boolean face of [[guardReferenced]]
    * for GC and reporting rather than refusing.
    */
  private def isReferenced(spark: org.apache.spark.sql.SparkSession,
                           dir: org.apache.hadoop.fs.Path,
                           owner: Option[String]): Boolean =
    try { guardReferenced(spark, dir, owner); false }
    catch { case _: IllegalStateException => true }

  /** Single-writer publish lock: `warehouse/<v2 table>__publish.lock`,
    * a [[MetaFiles.withLock]] that refuses at once, taken before any
    * publish state is read. Two concurrent publishers of one version
    * name would race the generation scan and the `__stage` table/ledger
    * names — the second acquirer is REFUSED instead (the
    * single-writer-per-index contract of any snapshot-format commit, now
    * detected rather than assumed), whether it runs in another thread of
    * this JVM or in another process. A publisher that dies mid-run
    * leaves its lock behind: recovery is explicit — delete the lock file,
    * [[breakStalePublishLock]], or [[dropIndexVersion]], which clears it
    * along with the version.
    */
  private def publishLockPath(spark: org.apache.spark.sql.SparkSession,
                              v2Table: String): org.apache.hadoop.fs.Path =
    new org.apache.hadoop.fs.Path(
      spark.conf.get("spark.sql.warehouse.dir"),
      v2Table.toLowerCase + "__publish.lock")

  private def withPublishLock[T](spark: org.apache.spark.sql.SparkSession,
                                 v2Table: String)(body: => T): T = {
    val p = publishLockPath(spark, v2Table)
    MetaFiles.withLock(spark, p, 0, e =>
      s"cannot acquire the publish lock for '$v2Table' ($p): a " +
      "concurrent publish appears to be in progress (publishes are " +
      "single-writer per index). If the prior publisher crashed, " +
      "delete the lock file (or dropIndexVersion the version) and " +
      s"rerun. Underlying: ${e.getMessage}")(body)
  }

  /** Existing generation numbers of `v2Table`'s delta/root directories
    * (`<v2>_delta_g<N>` / `<v2>_g<N>` under the warehouse). BOTH dir
    * forms count: a publish generation always has a delta dir, but a
    * COMPACTION generation has only its self-owned root — scanning
    * deltas alone would reuse a live compacted generation's number and
    * let [[dropIndexVersion]] leak its root.
    */
  private def generations(spark: org.apache.spark.sql.SparkSession,
                          v2Table: String): Seq[Int] = {
    val wh = new org.apache.hadoop.fs.Path(spark.conf.get("spark.sql.warehouse.dir"))
    val fs = wh.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (!fs.exists(wh)) Nil
    else {
      val deltaPrefix = v2Table.toLowerCase + "_delta_g"
      val rootPrefix = v2Table.toLowerCase + "_g"
      fs.listStatus(wh).iterator.map(_.getPath.getName)
        .flatMap { n =>
          val suffix =
            if (n.startsWith(deltaPrefix)) Some(n.stripPrefix(deltaPrefix))
            else if (n.startsWith(rootPrefix)) Some(n.stripPrefix(rootPrefix))
            else None
          suffix.flatMap(sfx => scala.util.Try(sfx.toInt).toOption)
        }
        .toSeq.distinct.sorted
    }
  }

  /** The two directories generation `g` of `v2Table` may own: its delta
    * directory and its root.
    */
  private def generationDirs(spark: org.apache.spark.sql.SparkSession,
                             v2Table: String, g: Int): Seq[org.apache.hadoop.fs.Path] =
    Seq(tableLocation(spark, s"${v2Table}_delta_g$g"), tableLocation(spark, s"${v2Table}_g$g"))

  /** The ownership rule: a qualified location is `v2Table`'s OWN when it
    * lies under any of its generation directories (any generation: a
    * republish can still reference an older own delta); every other
    * location is FOREIGN and must be pinned by its ledger. The commit,
    * [[fsckPublishedVersion]] and [[repairVersionLedger]] all decide
    * with this one rule, so a committed ledger is exactly what a repair
    * rebuilds from the manifest.
    */
  private def ownedBy(spark: org.apache.spark.sql.SparkSession,
                      v2Table: String): String => Boolean = {
    val roots = generations(spark, v2Table)
      .flatMap(generationDirs(spark, v2Table, _)).map(qualified(spark, _).toString)
    q => roots.exists(r => q == r || q.startsWith(r + "/"))
  }

  /** Publishes the NEW VERSION of a maintained, partitioned standing
    * index at DELTA cost — the partition-location swap: only the
    * affected partitions' rows are written (to a fresh delta directory);
    * `v2Table` is then created as an external partitioned table whose
    * unaffected partitions POINT AT the base table's directories and
    * whose affected partitions point at the delta directory. Unaffected
    * partition files are never read, rewritten, or copied — byte-
    * identical by construction (spec-proven) — so publish cost is
    * O(affected partitions), not O(corpus). Affected partitions whose
    * new content is EMPTY simply get no partition entry (the
    * all-members-deleted bucket). This is the parquet-native form of
    * what snapshot table formats do with manifest swaps: a new table
    * version referencing unchanged data files in place.
    *
    * Crash/republish discipline: every version commit — this publish
    * and [[compactPublishedVersion]] — runs one step order
    * ([[commitVersion]]): (1) partitioned sorted write into a fresh
    * GENERATION-numbered directory, (2) resolve the partition map, (3)
    * register it on a STAGING table, (4) write the staging ledger, (5)
    * re-point the name (drop the old `v2Table`, rename the staging
    * table), (6) write the version MANIFEST, (7) write the version
    * ledger, or delete it when nothing foreign is referenced, (8) drop
    * the staging ledger, (9) GC the superseded generations. A failure
    * before (5) leaves the previous version intact; from (4) to (8) the
    * staging ledger pins the new map's foreign directories while the
    * version ledger still pins the last manifest's, so a death at any
    * step leaves the durable version fully pinned (rerun to recover —
    * the staging name is reclaimed). Single-writer per index is
    * ENFORCED, not assumed: the publish lock refuses a second
    * concurrent publisher (see [[withPublishLock]]); a crashed
    * publisher's lock is cleared by deleting the file or
    * [[dropIndexVersion]]. The manifest lets the published version
    * survive JVM restarts via [[adoptPublishedVersion]] instead of
    * needing a republish. Every metadata write of the commit (ledgers,
    * manifest) and the lock go through [[MetaFiles]].
    *
    * @param baseTable the standing index ([[writePartitionedSnapshot]]
    *                  layout, or a previously published version —
    *                  partitions resolve from the catalog)
    * @param affected  partition values (UNESCAPED strings) whose content
    *                  changed; delta-bounded by the maintenance
    *                  operator's contract, and deltaRows must stay
    *                  within them (asserted)
    * @param deltaRows the new content of ALL affected partitions (must
    *                  carry `partCol`)
    * @param sortCols  within-partition sort of the delta rows, matching
    *                  [[writePartitionedSnapshot]]'s layout
    */
  def publishPartitionSwap(spark: org.apache.spark.sql.SparkSession,
                           baseTable: String, v2Table: String,
                           partCol: String, affected: Set[String],
                           deltaRows: DataFrame,
                           sortCols: Seq[String] = Nil,
                           timer: graft.PhaseTimer = graft.NoTimer): Unit = {
    require(baseTable.toLowerCase != v2Table.toLowerCase,
      "publish target must differ from the base table")
    withPublishLock(spark, v2Table)(commitVersion(spark, v2Table, deltaRows,
      partCol, sortCols, Some(Carry(baseTable, affected)), timer))
  }

  /** What a publish carries over from its base: every partition outside
    * `affected`, referenced in place.
    */
  private final case class Carry(baseTable: String, affected: Set[String])

  /** The one version commit, in the step order
    * [[publishPartitionSwap]]'s scaladoc names. `rows` is the new
    * content of every partition the commit writes. A publish carries
    * its base's unaffected partitions and writes its delta into
    * `_delta_g<gen>`; a compaction (`carry = None`) keeps nothing and
    * writes every live row into its own root `_g<gen>`. The phase labels
    * are the publish's (perfbench reads them as `publish_swap_*`).
    */
  private def commitVersion(spark: org.apache.spark.sql.SparkSession,
                            v2Table: String, rows: DataFrame, partCol: String,
                            sortCols: Seq[String], carry: Option[Carry],
                            t: graft.PhaseTimer): Unit = {
    val gen = generations(spark, v2Table).lastOption.getOrElse(0) + 1
    val v2Root = tableLocation(spark, s"${v2Table}_g$gen")
    val fs = v2Root.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val dataRoot =
      if (carry.isEmpty) v2Root else tableLocation(spark, s"${v2Table}_delta_g$gen")
    t("delta_write")(partitionedWriter(rows, partCol, sortCols).parquet(dataRoot.toString))
    // v2 = (base partitions − affected) in place ∪ written partitions
    val (kept, written) = t("resolve_parts") {
      (carry.fold(Map.empty[String, org.apache.hadoop.fs.Path])(c =>
        partitionLocations(spark, c.baseTable, partCol) -- c.affected),
        partitionDirs(spark, dataRoot, partCol))
    }
    carry.foreach { c =>
      val strayParts = written.keySet -- c.affected
      require(strayParts.isEmpty,
        s"deltaRows contain partition values outside `affected` — they would " +
        s"shadow kept partitions: ${strayParts.toSeq.sorted.take(5).mkString(", ")}")
    }
    val parts = kept ++ written
    val partType = rows.schema(partCol).dataType.sql
    val cols = rows.schema.fields.filterNot(_.name == partCol)
      .map(f => s"`${f.name}` ${f.dataType.sql}").mkString(", ")
    val stage = v2Table + "__stage"
    t("stage_ddl")(register(spark, stage, v2Root, partCol, partType, cols, parts))
    t("commit") {
      val own = ownedBy(spark, v2Table)
      val foreign = parts.values.filterNot(p => own(qualified(spark, p).toString))
      // the staging ledger pins the new map's foreign directories BEFORE
      // the re-point; the guard honors ANY ledger file, live table or not
      writeRefs(spark, stage, foreign)
      spark.sql(s"DROP TABLE IF EXISTS `$v2Table`")
      spark.sql(s"ALTER TABLE `$stage` RENAME TO `$v2Table`")
      // manifest BEFORE the version ledger: until the manifest advances,
      // the version ledger keeps pinning what the durable manifest reads
      writeVersionManifest(spark, v2Table, gen, partCol, partType, cols, parts)
      writeRefs(spark, v2Table, foreign)
      writeRefs(spark, stage, Nil) // drops the staging ledger
    }
    t("gc_superseded") {
      generations(spark, v2Table).filter(_ < gen)
        .flatMap(generationDirs(spark, v2Table, _))
        .filterNot(isReferenced(spark, _, Some(v2Table)))
        .foreach(fs.delete(_, true))
    }
  }

  /** Registers `table` as an external partitioned parquet table rooted at
    * `root` whose partitions point at `parts`' locations: `CREATE …
    * LOCATION`, then `ADD PARTITION … LOCATION` in chunks of 500. The
    * commit's staging table and [[adoptPublishedVersion]] register this
    * way. The root may hold nothing (a publish's partitions all live
    * elsewhere) but must physically exist: Spark's FileStreamSink
    * metadata probe resolves it on every read of the table and logs a
    * full FileNotFoundException stack per resolution when it is missing.
    */
  private def register(spark: org.apache.spark.sql.SparkSession,
                       table: String, root: org.apache.hadoop.fs.Path,
                       partCol: String, partColTypeSql: String, cols: String,
                       parts: Iterable[(String, org.apache.hadoop.fs.Path)]): Unit = {
    root.getFileSystem(spark.sparkContext.hadoopConfiguration).mkdirs(root)
    spark.sql(s"DROP TABLE IF EXISTS `$table`")
    spark.sql(s"""CREATE TABLE `$table` ($cols, `$partCol` $partColTypeSql)
      USING PARQUET PARTITIONED BY (`$partCol`) LOCATION ${sqlLit(root.toString)}""")
    parts.toSeq.grouped(500).foreach { chunk =>
      val specs = chunk.map { case (v, p) =>
        s"PARTITION (`$partCol`=${sqlLit(v)}) LOCATION ${sqlLit(p.toString)}"
      }.mkString(" ")
      spark.sql(s"ALTER TABLE `$table` ADD $specs")
    }
  }

  /** Per-version partition manifest:
    * `warehouse/<v2 table>__manifest.txt`. The catalog entry a
    * [[publishPartitionSwap]] creates is in-memory state — it dies with
    * the JVM — while the version's FILES (delta generations plus the
    * base partitions it references in place) persist, protected by the
    * refs ledger. The manifest persists the missing piece: the
    * `partition value → location` map plus schema and generation, so
    * [[adoptPublishedVersion]] can re-register the version in a fresh
    * session WITHOUT re-running maintenance — the parquet-native
    * equivalent of reopening a snapshot format's table metadata file
    * (the reference gets this durability from Iceberg's persisted
    * manifests: /root/reference/glue/sbin/keyspaces/
    * CQLReplicator.scala:1249-1462). Committed by [[MetaFiles.replace]]
    * (the SnapshotStore `_MANIFEST` path) so readers never see a torn
    * or missing map: a crash mid-commit leaves the previous manifest in
    * place, plus a `.__tmp` file fsck reports.
    */
  private def manifestPath(spark: org.apache.spark.sql.SparkSession,
                           tableName: String): org.apache.hadoop.fs.Path =
    new org.apache.hadoop.fs.Path(
      spark.conf.get("spark.sql.warehouse.dir"),
      tableName.toLowerCase + "__manifest.txt")

  private def writeVersionManifest(spark: org.apache.spark.sql.SparkSession,
                                   v2Table: String, gen: Int,
                                   partCol: String, partColTypeSql: String, cols: String,
                                   parts: Map[String, org.apache.hadoop.fs.Path]): Unit = {
    // partition values hide behind the same %XX escaping the hive dir
    // names use (covers tab/newline/quote), locations are qualified URIs
    val lines = Seq(
      "graft-swap-manifest v1",
      s"generation=$gen",
      s"partCol=$partCol",
      s"partColType=$partColTypeSql",
      s"cols=$cols"
    ) ++ parts.toSeq.sortBy(_._1).map { case (v, loc) =>
      CatalogUtils.escapePathName(v) + "\t" + qualified(spark, loc).toString
    }
    MetaFiles.replace(spark, manifestPath(spark, v2Table), lines.mkString("\n"))
  }

  /** Parsed form of a version manifest: (generation, partCol,
    * partCol SQL type, data-columns SQL, partition value → location).
    */
  private type ParsedManifest =
    (Int, String, String, String, Seq[(String, org.apache.hadoop.fs.Path)])

  /** Reads and parses a version's manifest. `None` = no manifest file;
    * `Some(Failure)` = present but torn/alien (the caller decides whether
    * that is "republish" — adopt — or a finding — fsck).
    */
  private def readVersionManifest(spark: org.apache.spark.sql.SparkSession,
      v2Table: String): Option[scala.util.Try[ParsedManifest]] =
    MetaFiles.read(spark, manifestPath(spark, v2Table)).map(text => scala.util.Try {
      val lines = text.split("\n", -1)
      require(lines.head == "graft-swap-manifest v1",
        s"unknown manifest header: ${lines.head}")
      def field(i: Int, key: String): String = {
        require(lines(i).startsWith(key + "="), s"expected $key= at line ${i + 1}")
        lines(i).stripPrefix(key + "=")
      }
      val gen = field(1, "generation").toInt
      val partCol = field(2, "partCol")
      val partColType = field(3, "partColType")
      val cols = field(4, "cols")
      val parts = lines.drop(5).filter(_.nonEmpty).map { l =>
        val cut = l.indexOf('\t')
        require(cut > 0, s"malformed partition line: $l")
        CatalogUtils.unescapePathName(l.substring(0, cut)) ->
          new org.apache.hadoop.fs.Path(l.substring(cut + 1))
      }.toSeq
      (gen, partCol, partColType, cols, parts)
    })

  /** Re-registers a swap-published version from its persisted MANIFEST
    * alone — the fresh-JVM recovery [[adoptPartitionedTable]] cannot
    * provide (a swap-published table's own root is empty by
    * construction; its partitions live under prior bases' roots, which
    * only the manifest records). Returns false — caller republishes —
    * when no manifest exists, it fails to parse, or any referenced
    * partition directory has vanished (one `exists` probe per
    * partition: O(partitions) metadata calls, the floor for validating
    * any manifest). On success the catalog entry is bit-equivalent to
    * the one the original publish registered: same root, same
    * partition→location map, so reads, partition pruning, and chained
    * publishes behave identically (spec-proven).
    *
    * Concurrency: adoption takes NO lock. The manifest is replaced
    * atomically ([[MetaFiles.replace]]), so an adopt racing a publish sees
    * either the previous version's complete map or the new one; a
    * reader adopting while the publish's GC deletes a superseded
    * generation can transiently get `false` (vanished-dir refusal) —
    * callers treat that as "republish or retry", never as corruption.
    */
  def adoptPublishedVersion(spark: org.apache.spark.sql.SparkSession,
                            v2Table: String): Boolean = {
    val p = manifestPath(spark, v2Table)
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    readVersionManifest(spark, v2Table) match {
      case None => false
      case Some(scala.util.Failure(e)) =>
        // torn/alien manifests read as "not adoptable" (caller
        // republishes), but say why — silence here cost a debug session
        System.err.println(
          s"[parquet-sink] manifest $p unreadable, not adopting: ${e.getMessage}")
        false
      case Some(scala.util.Success((gen, partCol, partColType, cols, parts))) =>
        parts.find(pt => !fs.exists(pt._2)) match {
          case Some((v, loc)) =>
            System.err.println(s"[parquet-sink] manifest $p references a " +
              s"vanished partition directory ($v -> $loc); not adopting")
            false
          case None =>
            register(spark, v2Table, tableLocation(spark, s"${v2Table}_g$gen"),
              partCol, partColType, cols, parts)
            true
        }
    }
  }

  /** Re-registers a standing partitioned table over its EXISTING
    * warehouse directory: the in-memory catalog forgets tables at JVM
    * exit while their data files and fingerprint stamps persist, and
    * without adoption every fresh JVM pays a full corpus-sized rebuild
    * of an index that is sitting on disk, fresh (a real metastore keeps
    * the registration; this recovers the equivalent). Data schema comes
    * from one leaf file's footer; the partition column's TYPE must be
    * supplied (directory-name inference would narrow `104` to INT).
    * Returns false (caller rebuilds) when the directory holds no data.
    */
  def adoptPartitionedTable(spark: org.apache.spark.sql.SparkSession,
                            tableName: String, partCol: String,
                            partColTypeSql: String): Boolean = {
    val loc = tableLocation(spark, tableName)
    val fs = loc.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (!fs.exists(loc)) return false
    val leaf = fs.listStatus(loc).iterator
      .filter(st => st.isDirectory && st.getPath.getName.contains("="))
      .flatMap(st => fs.listStatus(st.getPath).iterator)
      .find(f => !f.isDirectory && f.getPath.getName.endsWith(".parquet"))
    leaf match {
      case None => false
      case Some(f) =>
        val dataCols = spark.read.parquet(f.getPath.toString).schema.fields
          .map(fld => s"`${fld.name}` ${fld.dataType.sql}").mkString(", ")
        spark.sql(s"DROP TABLE IF EXISTS `$tableName`")
        spark.sql(s"""CREATE TABLE `$tableName` ($dataCols,
          `$partCol` $partColTypeSql) USING PARQUET
          PARTITIONED BY (`$partCol`) LOCATION ${sqlLit(loc.toString)}""")
        spark.sql(s"ALTER TABLE `$tableName` RECOVER PARTITIONS")
        true
    }
  }

  /** [[adoptPartitionedTable]]'s twin for BUCKETED standing tables
    * (writeBucketedSnapshot/writeLshIndex layouts): re-registers the
    * existing directory as an external table with the same CLUSTERED BY
    * spec. Sound because Spark assigns bucket ids from the writer's
    * file-name convention (`part-…_00003…`), which the files on disk
    * already carry — the re-registered table serves bucket-local joins
    * exactly like the original (spec-checked: no exchange on the
    * adopted side). Returns false when no data exists (caller rebuilds).
    */
  def adoptBucketedTable(spark: org.apache.spark.sql.SparkSession,
                         tableName: String, bucketCols: Seq[String],
                         sortCols: Seq[String], buckets: Int): Boolean = {
    val loc = tableLocation(spark, tableName)
    val fs = loc.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (!fs.exists(loc)) return false
    val leaves = fs.listStatus(loc)
      .filter(f => !f.isDirectory && f.getPath.getName.endsWith(".parquet"))
    // Bucket-count sanity: Spark's bucketed writers stamp the bucket id
    // into each file name (`part-…_00003.c000…`); an id >= `buckets`
    // PROVES the directory was written under a different CLUSTERED BY
    // count, and adopting it would serve silently wrong shuffle-free
    // joins. Necessary-not-sufficient (a 4-bucket dir passes a 16-bucket
    // check), so callers' fingerprint stamps remain the freshness
    // authority — this catches the mis-wired-caller class cheaply from
    // listing already in hand.
    val bucketIdRe = "_(\\d{5})\\.".r
    val badId = leaves.iterator
      .flatMap(f => bucketIdRe.findFirstMatchIn(f.getPath.getName)
        .map(m => f.getPath.getName -> m.group(1).toInt))
      .find(_._2 >= buckets)
    require(badId.isEmpty,
      s"adoptBucketedTable('$tableName', buckets=$buckets): on-disk file " +
      s"${badId.map(_._1).getOrElse("")} carries bucket id " +
      s"${badId.map(_._2).getOrElse(-1)} — the directory was written " +
      "under a different bucket count; rebuild instead of adopting")
    leaves.headOption match {
      case None => false
      case Some(f) =>
        val dataCols = spark.read.parquet(f.getPath.toString).schema.fields
          .map(fld => s"`${fld.name}` ${fld.dataType.sql}").mkString(", ")
        val bcols = bucketCols.map(c => s"`$c`").mkString(", ")
        val scols = sortCols.map(c => s"`$c`").mkString(", ")
        spark.sql(s"DROP TABLE IF EXISTS `$tableName`")
        spark.sql(s"""CREATE TABLE `$tableName` ($dataCols) USING PARQUET
          CLUSTERED BY ($bcols) SORTED BY ($scols) INTO $buckets BUCKETS
          LOCATION ${sqlLit(loc.toString)}""")
        true
    }
  }

  /** Folds a swap-published version back into a SELF-OWNED clean base —
    * the missing third verb of the version lifecycle (publish / adopt /
    * COMPACT), and the parquet-native form of a snapshot format's
    * data-file rewrite plus snapshot expiry in one commit (Iceberg's
    * `rewrite_data_files` + `expire_snapshots`; the reference leans on
    * exactly those for its Iceberg targets,
    * /root/reference/glue/sbin/keyspaces/CQLReplicator.scala:1249-1462).
    *
    * Why it must exist for an index maintained FOREVER: every chained
    * [[publishPartitionSwap]] leaves the new version referencing a
    * deeper mix of directories (the original base's partitions plus one
    * delta generation per hop), and the refs ledger then PINS all of
    * them — the original base can never be rebuilt or dropped while any
    * descendant version lives, reads fan out over ever more roots, and
    * delta generations accumulate without bound. Compaction is a
    * version commit whose delta is every LIVE row of the version,
    * written once into a fresh generation root it owns outright (real
    * hive layout, one sorted file per partition — the
    * [[writePartitionedSnapshot]] discipline) with nothing carried
    * over: the commit re-points the catalog entry, rewrites the durable
    * manifest, DELETES the refs ledger (nothing foreign is referenced
    * any more, so every pin on prior bases' and generations'
    * directories is released), and GCs its superseded generations.
    * Cost is O(live index) read+write — no maintenance recompute,
    * embarrassingly parallel, one shuffle on the partition key — against
    * the unbounded alternative. Run it on the chain-depth/dead-fraction
    * cadence any LSM-ish structure uses.
    *
    * Crash discipline is the publish's: the same commit body runs the
    * same nine steps ([[publishPartitionSwap]] names them) — write into
    * the fresh root, resolve, register the staging table, staging
    * ledger (none: nothing foreign), re-point, manifest, version ledger
    * (deleted), drop the staging ledger, GC. A death before the re-point
    * leaves the previous version (files, ledger, manifest) fully intact,
    * and the manifest advances before the ledger is deleted, so the old
    * generation's pins hold while its manifest is the durable one —
    * rerun to recover. Takes the same single-writer publish lock, so a
    * compaction and a publish of one version cannot interleave.
    *
    * @param v2Table  a live swap-published (or previously compacted)
    *                 version, registered this JVM or adoptable
    * @param sortCols within-partition sort, matching the family's
    *                 [[writePartitionedSnapshot]] layout
    */
  def compactPublishedVersion(spark: org.apache.spark.sql.SparkSession,
                              v2Table: String, partCol: String,
                              sortCols: Seq[String] = Nil,
                              timer: graft.PhaseTimer = graft.NoTimer): Unit = {
    require(spark.catalog.tableExists(v2Table) ||
        adoptPublishedVersion(spark, v2Table),
      s"compactPublishedVersion('$v2Table'): no such live version (not " +
      "registered this JVM and no adoptable manifest)")
    withPublishLock(spark, v2Table) {
      val rows = spark.table(v2Table)
      require(rows.columns.contains(partCol),
        s"compactPublishedVersion('$v2Table'): no partition column $partCol " +
        s"in ${rows.columns.mkString(", ")}")
      commitVersion(spark, v2Table, rows, partCol, sortCols, None, timer)
    }
  }

  /** Janitor for a crashed publisher's lock — the documented "delete the
    * lock file" recovery made safe-by-default: deletes the lock and
    * returns true only when its last filesystem modification is at
    * least `maxAgeMs` old; a younger lock (a publish presumed live) is
    * left in place (false), as is an absent one. Modification time is
    * the authority — the pid/ts payload [[MetaFiles.withLock]] writes
    * is informational only (a pid means nothing across hosts). Pick a
    * threshold comfortably above the family's longest observed publish;
    * a publisher alive-but-stalled past it loses its lock, the same
    * operator judgment every lease-style lock delegates. This does NOT
    * roll back a half-staged generation — the next successful publish
    * reclaims the stage name and GCs orphaned generation directories.
    */
  def breakStalePublishLock(spark: org.apache.spark.sql.SparkSession,
                            v2Table: String, maxAgeMs: Long): Boolean = {
    val p = publishLockPath(spark, v2Table)
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    scala.util.Try {
      val age = System.currentTimeMillis() -
        fs.getFileStatus(p).getModificationTime
      age >= maxAgeMs && fs.delete(p, false)
    }.getOrElse(false) // vanished between probe and stat = already freed
  }

  /** Integrity check (`fsck`) of one swap-published version — the
    * health probe an operator runs before trusting an adopt, on the
    * janitor cadence, or after any crash: every agreement the publish
    * commit discipline is supposed to maintain between the CATALOG
    * entry, the durable MANIFEST, the refs LEDGER and the FILESYSTEM is
    * verified and each violation reported as a row
    * `(severity, check, detail)` — an empty result is a clean bill.
    * Read-only: nothing is repaired, deleted, or re-registered
    * (recovery stays with the explicit verbs — republish,
    * [[adoptPublishedVersion]], [[compactPublishedVersion]],
    * [[dropIndexVersion]], [[breakStalePublishLock]]). The snapshot
    * formats ship the same verb as a metadata validation over manifests
    * vs data files; the reference delegates it to Iceberg.
    *
    * Checks and the real failure each one catches:
    *  - `manifest-missing` / `version-unknown` / `manifest-unreadable`
    *    (error): the version is not durable — a deleted or torn
    *    manifest, or a name that never published.
    *  - `partition-missing` (error): a manifest partition directory
    *    vanished — a base rebuilt out from under the version despite the
    *    ledger, or manual deletion.
    *  - `unpinned-reference` (error): a foreign directory the manifest
    *    references has NO covering ledger line — the crash window
    *    between catalog re-point and final ledger write, or a hand-edited
    *    ledger; a base rebuild would silently delete live data.
    *  - `catalog-drift` (error): the registered table's partition map
    *    disagrees with the manifest — a death between the commit's
    *    RENAME and its manifest write leaves exactly this.
    *  - `dangling-pin` / `over-pin` (warn): ledger lines whose directory
    *    is gone / which no manifest partition needs — they block base
    *    rebuilds for nothing.
    *  - `stage-leftover` / `manifest-tmp-leftover` (warn): debris of a
    *    crashed publish (reclaimed by the next successful one).
    *  - `publish-lock` (warn when older than `lockMaxAgeMs`, info when
    *    younger): a publish in flight, or a crashed publisher's lock for
    *    [[breakStalePublishLock]].
    *  - `orphan-generation` (warn): a generation directory neither
    *    current nor pinned by any ledger — GC debt from a crashed or
    *    refused cleanup.
    *  - `root-missing` (warn): the version's (empty-by-construction)
    *    root directory is gone — harmless to data but every read logs
    *    the FileStreamSink probe stack until an adopt recreates it.
    *
    * Cost is O(partitions) driver-side metadata probes — the same bound
    * [[adoptPublishedVersion]] pays, and the result (a findings list) is
    * inherently driver-sized. Takes no lock: racing a live publish can
    * transiently report stage debris or a young `publish-lock`, which is
    * exactly what an operator wants to see during a publish.
    */
  def fsckPublishedVersion(spark: org.apache.spark.sql.SparkSession,
                           v2Table: String,
                           lockMaxAgeMs: Long = 30L * 60 * 1000): DataFrame = {
    val s = spark
    import s.implicits._
    val hconf = spark.sparkContext.hadoopConfiguration
    val wh = new org.apache.hadoop.fs.Path(spark.conf.get("spark.sql.warehouse.dir"))
    val fs = wh.getFileSystem(hconf)
    val findings = scala.collection.mutable.ArrayBuffer.empty[(String, String, String)]
    def report(sev: String, check: String, detail: String): Unit =
      findings += ((sev, check, detail))

    val registered = spark.catalog.tableExists(v2Table)
    val manifest = readVersionManifest(spark, v2Table)
    manifest match {
      case None if registered =>
        report("error", "manifest-missing",
          s"'$v2Table' is registered this JVM but has no durable manifest; " +
          "a restart loses the version (republish to restore durability)")
      case None =>
        report("error", "version-unknown",
          s"'$v2Table' has no manifest and is not registered — nothing to adopt")
      case Some(scala.util.Failure(e)) =>
        report("error", "manifest-unreadable",
          s"${manifestPath(spark, v2Table)}: ${e.getMessage}")
      case Some(scala.util.Success((gen, partCol, _, _, parts))) =>
        // Filesystem side: every referenced partition directory exists
        parts.foreach { case (v, loc) =>
          if (!fs.exists(loc))
            report("error", "partition-missing", s"$partCol=$v -> $loc")
        }
        // Ledger side: foreign dirs pinned, pins all needed and alive
        val own = ownedBy(spark, v2Table)
        val partQ = parts.map { case (v, loc) =>
          v -> qualified(spark, loc).toString }
        val foreign = partQ.filterNot { case (_, q) => own(q) }
        val refs = readLedger(spark, refsPath(spark, v2Table)).getOrElse(Nil)
        def pinned(q: String) =
          refs.exists(r => q == r || q.startsWith(r + "/"))
        foreign.foreach { case (v, q) =>
          if (!pinned(q))
            report("error", "unpinned-reference",
              s"$partCol=$v -> $q has no covering ledger line — a base " +
              "rebuild would delete live data of this version")
        }
        refs.foreach { r =>
          val rp = new org.apache.hadoop.fs.Path(r)
          if (!fs.exists(rp)) report("warn", "dangling-pin", r)
          else if (!partQ.exists { case (_, q) => q == r || q.startsWith(r + "/") })
            report("warn", "over-pin",
              s"$r pinned but referenced by no manifest partition")
        }
        // Catalog side: a registered entry must agree with the manifest
        if (registered) {
          val cat = partitionLocations(spark, v2Table, partCol)
            .map { case (v, loc) => v -> qualified(spark, loc).toString }
          val man = partQ.toMap
          val drift = (cat.keySet ++ man.keySet).iterator.filter(v =>
            cat.get(v) != man.get(v)).toSeq.sorted
          if (drift.nonEmpty)
            report("error", "catalog-drift",
              s"${drift.size} partition(s) disagree between catalog and " +
              s"manifest (e.g. $partCol=${drift.head}: catalog=" +
              s"${cat.get(drift.head).getOrElse("absent")}, manifest=" +
              s"${man.get(drift.head).getOrElse("absent")})")
        }
        // Generation hygiene: current root exists; others pinned or debt
        val curRoot = tableLocation(spark, s"${v2Table}_g$gen")
        if (!fs.exists(curRoot))
          report("warn", "root-missing",
            s"$curRoot (reads log FileStreamSink probe stacks; adopt recreates it)")
        generations(spark, v2Table).filterNot(_ == gen).foreach { g =>
          generationDirs(spark, v2Table, g)
            .filter(d => fs.exists(d))
            .filterNot(d => partQ.exists { case (_, q) =>
              val dq = qualified(spark, d).toString
              q == dq || q.startsWith(dq + "/") })
            .filterNot(d => isReferenced(spark, d, None))
            .foreach(d => report("warn", "orphan-generation",
              s"$d is neither the current generation nor pinned by any ledger"))
        }
    }
    // Debris of a crashed publish (version-state independent)
    if (spark.catalog.tableExists(v2Table + "__stage"))
      report("warn", "stage-leftover", s"staging table '${v2Table}__stage'")
    if (fs.exists(refsPath(spark, v2Table + "__stage")))
      report("warn", "stage-leftover",
        s"staging ledger ${refsPath(spark, v2Table + "__stage")}")
    val mfTmp = MetaFiles.tmpPath(manifestPath(spark, v2Table))
    if (fs.exists(mfTmp))
      report("warn", "manifest-tmp-leftover", mfTmp.toString)
    val lock = publishLockPath(spark, v2Table)
    if (fs.exists(lock)) {
      val age = System.currentTimeMillis() - fs.getFileStatus(lock).getModificationTime
      if (age >= lockMaxAgeMs)
        report("warn", "publish-lock",
          s"$lock is ${age} ms old (stale past $lockMaxAgeMs ms — " +
          "breakStalePublishLock if the publisher is dead)")
      else
        report("info", "publish-lock", s"$lock is ${age} ms old (publish in flight)")
    }
    findings.toSeq.toDF("severity", "check", "detail")
  }

  /** Rebuilds a version's refs ledger from its durable MANIFEST — the
    * recovery for fsck's `unpinned-reference` / `over-pin` /
    * `dangling-pin` findings (a hand-damaged or lost ledger; the commit
    * discipline itself never leaves this state, because a staged ledger
    * guards the commit window). The manifest is the authority: the
    * correct pin set is exactly its foreign partition directories —
    * locations outside the version's own generation roots. Returns false
    * without touching anything when no readable manifest exists (there
    * is then no authority to rebuild from — republish instead). Takes
    * the publish lock so a repair cannot interleave with a live publish
    * rewriting the same ledger.
    */
  def repairVersionLedger(spark: org.apache.spark.sql.SparkSession,
                          v2Table: String): Boolean = {
    val parsed = readVersionManifest(spark, v2Table) match {
      case Some(scala.util.Success(m)) => m
      case _ => return false
    }
    withPublishLock(spark, v2Table) {
      val (_, _, _, _, parts) = parsed
      val own = ownedBy(spark, v2Table)
      // an empty foreign set (the compacted form) deletes the ledger
      writeRefs(spark, v2Table,
        parts.map(_._2).filterNot(p => own(qualified(spark, p).toString)))
      true
    }
  }

  /** Warehouse-wide [[fsckPublishedVersion]]: every version with a
    * durable manifest, one findings row per violation with the version
    * name prepended — the single call an unattended janitor schedules.
    * Versions are discovered by their manifest files, so a version whose
    * manifest was deleted is invisible here (it shows up as
    * `manifest-missing` only when probed by name); the per-version form
    * remains the targeted diagnostic.
    */
  def fsckAllPublishedVersions(spark: org.apache.spark.sql.SparkSession,
                               lockMaxAgeMs: Long = 30L * 60 * 1000): DataFrame = {
    val s = spark
    import s.implicits._
    val wh = new org.apache.hadoop.fs.Path(spark.conf.get("spark.sql.warehouse.dir"))
    val fs = wh.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val versions =
      if (!fs.exists(wh)) Seq.empty[String]
      else fs.listStatus(wh).iterator.map(_.getPath.getName)
        .filter(n => n.endsWith("__manifest.txt"))
        .map(_.stripSuffix("__manifest.txt")).toSeq.sorted
    versions.map { v =>
      fsckPublishedVersion(spark, v, lockMaxAgeMs)
        .select(lit(v).as("version"), col("severity"), col("check"), col("detail"))
    }.reduceOption(_ unionByName _)
      .getOrElse(Seq.empty[(String, String, String, String)]
        .toDF("version", "severity", "check", "detail"))
  }

  /** Drops a swap-published version COMPLETELY: catalog entry, ledger,
    * and every generation directory it owns. Refused (throws) when a
    * chained version still references one of its delta directories.
    */
  def dropIndexVersion(spark: org.apache.spark.sql.SparkSession,
                       v2Table: String): Unit = {
    val dirs = generations(spark, v2Table).flatMap(generationDirs(spark, v2Table, _)) :+
      tableLocation(spark, v2Table)
    dirs.foreach(guardReferenced(spark, _, Some(v2Table)))
    spark.sql(s"DROP TABLE IF EXISTS `$v2Table`")
    spark.sql(s"DROP TABLE IF EXISTS `${v2Table}__stage`")
    val fs = dirs.head.getFileSystem(spark.sparkContext.hadoopConfiguration)
    fs.delete(refsPath(spark, v2Table), false)
    fs.delete(refsPath(spark, v2Table + "__stage"), false)
    val mf = manifestPath(spark, v2Table)
    fs.delete(mf, false)
    fs.delete(MetaFiles.tmpPath(mf), false)
    // a lock left by a crashed publisher: dropping the version IS the
    // documented recovery, so clear it here
    fs.delete(publishLockPath(spark, v2Table), false)
    dirs.foreach(d => if (fs.exists(d)) fs.delete(d, true))
  }

  /** Overwrite across JVMs: the in-memory catalog forgets managed tables
    * at shutdown but their warehouse directories persist, and a fresh
    * session's CTAS then refuses the orphaned location
    * (LOCATION_ALREADY_EXISTS). Drop the catalog entry AND clear the
    * leftover directory before rewriting — REFUSING the delete when a
    * live swap-published version still references files under it
    * ([[guardReferenced]]): rebuilding a base out from under its
    * versions would silently dangle their carried-over partitions.
    */
  private def dropWithLocation(df: DataFrame, tableName: String): Unit = {
    val spark = df.sparkSession
    val wh = spark.conf.get("spark.sql.warehouse.dir")
    val p = new org.apache.hadoop.fs.Path(wh, tableName.toLowerCase)
    guardReferenced(spark, p)
    spark.sql(s"DROP TABLE IF EXISTS `$tableName`")
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (fs.exists(p)) fs.delete(p, true)
  }
}
