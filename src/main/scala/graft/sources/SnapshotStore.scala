package graft.sources

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._

import graft.operators.Cdc

/** Versioned snapshot store over plain parquet — the Spark-first
  * re-expression of the reference's Iceberg tile-snapshot lifecycle
  * (glue/sbin/keyspaces/CQLReplicator.scala:1249-1462:
  * ensureIcebergTableExists / writeIcebergTileSnapshot /
  * readIcebergAtSnapshot / computeIcebergChanges / getSnapshotIds /
  * expireIcebergSnapshots / migrateParquetToIceberg).
  *
  * Layout: `root/table/snap=<id>/…parquet`, one directory per immutable
  * snapshot id. No table format dependency: snapshot listing is a single
  * filesystem LIST (any HDFS-compatible store), reads are ordinary
  * pruned parquet scans, and CDC between two ids is the declarative
  * [[Cdc]] diff — so every operation scales exactly like its underlying
  * Spark primitive. Writers can pass `buckets > 0` to lay each snapshot
  * out bucketed by PK ([[ParquetSink.writeBucketedSnapshot]] semantics),
  * making the diff between equally-bucketed snapshots shuffle-free at
  * 100 TB.
  */
object SnapshotStore {

  private def tableDir(root: String, table: String) = s"$root/$table"
  private def snapDir(root: String, table: String, id: Long) =
    s"${tableDir(root, table)}/snap=$id"

  private def fsOf(spark: SparkSession, root: String, table: String) =
    new Path(tableDir(root, table))
      .getFileSystem(spark.sparkContext.hadoopConfiguration)

  // ------------------------------------------------------------- manifest

  /** The per-table commit manifest: one `<id>\t<dirName>` line per live
    * snapshot, re-written whole and swapped in atomically by
    * [[MetaFiles.replace]] on every commit. Readers resolve ids and data
    * directories from ONE manifest read, a maintenance rewrite is
    * invisible until its commit, and every directory a committed
    * manifest references stays on disk until [[vacuum]] — so a reader
    * holding the previous manifest keeps reading a complete snapshot
    * (publication and compaction are atomic for readers). Tables
    * without a manifest (legacy layouts) fall back to directory
    * listing; their first write adopts the listed snapshots.
    */
  private def manifestPath(root: String, table: String) =
    new Path(s"${tableDir(root, table)}/_MANIFEST")

  private def readManifest(spark: SparkSession, root: String,
                           table: String): Option[Map[Long, String]] =
    MetaFiles.read(spark, manifestPath(root, table)).map(
      _.linesIterator.filter(_.nonEmpty).map { line =>
        val Array(id, dir) = line.split('\t')
        id.toLong -> dir
      }.toMap)

  /** Serializes manifest read-modify-commit sections across committers
    * ([[MetaFiles.withLock]], waiting up to 60 s). Without it, compact
    * republishing id 5 while the replication loop lands id 6 would each
    * rewrite the whole manifest from their own stale read and the last
    * writer would silently drop the other's snapshot.
    */
  private def withManifestLock[T](spark: SparkSession, root: String,
                                  table: String)(body: => T): T = {
    val lock = new Path(s"${tableDir(root, table)}/._MANIFEST.lock")
    val waitMs = 60000L
    MetaFiles.withLock(spark, lock, waitMs, _ =>
      s"could not acquire $lock within ${waitMs}ms — another " +
        "committer is running, or a crashed one left the lock behind")(body)
  }

  private def commitManifest(spark: SparkSession, root: String, table: String,
                             entries: Map[Long, String]): Unit =
    MetaFiles.replace(spark, manifestPath(root, table), entries.toSeq.sortBy(_._1)
      .map { case (id, dir) => s"$id\t$dir" }.mkString("", "\n", "\n"))

  /** Live (id → data dir name) entries: the manifest when present, else
    * the legacy directory listing (only parseable `snap=<long>` names;
    * foreign/maintenance dirs are never snapshots).
    */
  private def liveEntries(spark: SparkSession, root: String,
                          table: String): Map[Long, String] =
    readManifest(spark, root, table).getOrElse(
      listingEntries(spark, root, table))

  private def listingEntries(spark: SparkSession, root: String,
                             table: String): Map[Long, String] = {
    val dir = new Path(tableDir(root, table))
    val fs = fsOf(spark, root, table)
    if (!fs.exists(dir)) Map.empty
    else fs.listStatus(dir).toSeq
      .filter(_.isDirectory)
      .map(_.getPath.getName)
      .collect { case s if s.startsWith("snap=") => s }
      .flatMap(s => s.stripPrefix("snap=").toLongOption.map(_ -> s))
      .toMap
  }

  /** Makes the manifest exist (adopting a legacy table's directory
    * listing) BEFORE any data lands, so every later read-modify-commit
    * can treat the manifest as the single source of truth — a
    * directory-listing fallback taken after data writes begin would
    * count in-flight (uncommitted) landing dirs as live.
    */
  private def ensureManifest(spark: SparkSession, root: String,
                             table: String): Unit =
    if (readManifest(spark, root, table).isEmpty)
      withManifestLock(spark, root, table) {
        if (readManifest(spark, root, table).isEmpty)
          commitManifest(spark, root, table,
            listingEntries(spark, root, table))
      }

  /** Writes an immutable snapshot `id` of `df` and commits it to the
    * manifest (data first, pointer second — a crash in between leaves an
    * uncommitted orphan dir that [[vacuum]] collects and a re-run
    * overwrites). Fails if the id is live (snapshots are append-only;
    * use [[expire]] for retention). `sortCols` lays the snapshot out
    * range-partitioned + sorted ([[ParquetSink.writeSorted]]) so
    * selective reads — point-in-time filters, PK probes — prune row
    * groups via parquet min/max stats.
    */
  def write(df: DataFrame, root: String, table: String, id: Long,
            sortCols: Seq[String] = Nil): Unit = {
    val spark = df.sparkSession
    ensureManifest(spark, root, table) // adopt-before-write: see scaladoc
    require(!liveEntries(spark, root, table).contains(id),
      s"snapshot $id of $table already exists (snapshots are immutable)")
    val dir = snapDir(root, table, id)
    // an existing dir for a non-live id is an uncommitted crash orphan
    fsOf(spark, root, table).delete(new Path(dir), true)
    if (sortCols.isEmpty)
      df.write.mode("errorifexists").parquet(dir)
    else
      ParquetSink.writeSorted(df, dir, sortCols,
        mode = org.apache.spark.sql.SaveMode.ErrorIfExists)
    // the data write ran on a pre-flight entries read (unlocked — two
    // writers to DIFFERENT ids must not serialize their parquet jobs);
    // the commit re-reads the manifest under the lock so a snapshot
    // landed meanwhile survives, and a same-id race loses here instead
    // of clobbering
    withManifestLock(spark, root, table) {
      val entries = liveEntries(spark, root, table)
      require(!entries.contains(id),
        s"snapshot $id of $table already exists (snapshots are immutable)")
      commitManifest(spark, root, table, entries + (id -> s"snap=$id"))
    }
  }

  /** All snapshot ids of `table`, ascending — one manifest read. */
  def snapshotIds(spark: SparkSession, root: String, table: String): Seq[Long] =
    liveEntries(spark, root, table).keys.toSeq.sorted

  def exists(spark: SparkSession, root: String, table: String, id: Long): Boolean =
    liveEntries(spark, root, table).contains(id)

  def latestId(spark: SparkSession, root: String, table: String): Option[Long] =
    snapshotIds(spark, root, table).lastOption

  /** Reads snapshot `id` — an ordinary parquet scan (column pruning +
    * predicate pushdown apply as usual) of the manifest-resolved data
    * directory (the landing dir, or the newest compacted generation).
    */
  def read(spark: SparkSession, root: String, table: String, id: Long): DataFrame = {
    val dir = liveEntries(spark, root, table).getOrElse(id,
      throw new IllegalArgumentException(s"snapshot $id of $table not found"))
    spark.read.parquet(s"${tableDir(root, table)}/$dir")
  }

  /** Manifest-resolved absolute data directory of snapshot `id` (latest
    * when None) — the one hook the `graft-snapshot` DataSource V2 needs:
    * it resolves here, then hands the path to the built-in parquet scan,
    * so pruning/pushdown are the stock file-source code paths.
    */
  def dataDir(spark: SparkSession, root: String, table: String,
              id: Option[Long]): String = {
    val entries = liveEntries(spark, root, table)
    val snapId = id.getOrElse(entries.keys.maxOption.getOrElse(
      throw new IllegalArgumentException(s"no snapshots of $table under $root")))
    val dir = entries.getOrElse(snapId,
      throw new IllegalArgumentException(s"snapshot $snapId of $table not found"))
    s"${tableDir(root, table)}/$dir"
  }

  def readLatest(spark: SparkSession, root: String, table: String): DataFrame = {
    val id = latestId(spark, root, table).getOrElse(
      throw new IllegalArgumentException(s"no snapshots of $table under $root"))
    read(spark, root, table, id)
  }

  /** CDC between two snapshot ids as one change relation with an `op`
    * column: I = inserted key (row from `to`), D = deleted key (row from
    * `from`), U = updated key (row from `to`, null-safe ts inequality) —
    * the reference's computeIcebergChanges triple as a single declarative
    * union of three PK joins.
    */
  def changes(spark: SparkSession, root: String, table: String,
              fromId: Long, toId: Long,
              pkCols: Seq[String], tsCol: String = "ts"): DataFrame = {
    val prev = read(spark, root, table, fromId)
    val curr = read(spark, root, table, toId)
    changesBetween(curr, prev, pkCols, tsCol)
  }

  /** The change relation for two already-loaded snapshots (exposed so
    * callers with bucketed/cached snapshots skip the re-read).
    */
  def changesBetween(curr: DataFrame, prev: DataFrame,
                     pkCols: Seq[String], tsCol: String = "ts"): DataFrame =
    Cdc.inserts(curr, prev, pkCols).withColumn("op", lit("I"))
      .unionByName(Cdc.deletes(curr, prev, pkCols).withColumn("op", lit("D")))
      .unionByName(Cdc.updates(curr, prev, pkCols, tsCol).withColumn("op", lit("U")))

  /** Expires every snapshot except the newest `keepLast` (the reference's
    * expireIcebergSnapshots retention contract): one manifest commit and
    * readers stop seeing the ids atomically. The expired data dirs STAY
    * on disk until [[vacuum]] — same deferred-GC contract as compaction,
    * so an in-flight reader that resolved an id through the previous
    * manifest finishes its scan instead of hitting FileNotFound mid-read.
    * Returns expired ids. Retention must lag the streaming feed's
    * checkpoint, as before.
    */
  def expire(spark: SparkSession, root: String, table: String,
             keepLast: Int): Seq[Long] = {
    require(keepLast >= 1, "keepLast must be >= 1")
    withManifestLock(spark, root, table) {
      val entries = liveEntries(spark, root, table)
      val drop = entries.keys.toSeq.sorted.dropRight(keepLast)
      commitManifest(spark, root, table, entries -- drop)
      drop
    }
  }

  /** Garbage-collects directories no committed manifest references:
    * uncommitted/superseded compaction generations (`.data-*`) always,
    * and — only with `includeLandings=true`, once in-flight readers have
    * drained and the streaming feed has checkpointed past them —
    * `snap=` landing dirs that are not the committed data of a live
    * snapshot: superseded by a compacted generation, expired by
    * [[expire]], or left by a write that crashed before its manifest
    * commit. Deferred GC is what makes [[compact]]/[[expire]] atomic
    * for readers: a reader holding the previous manifest keeps its
    * complete snapshot until vacuum. The manifest lock is held while
    * listing+deleting, so vacuum never collects a generation a
    * concurrent [[compact]] commits — but a compact's in-progress data
    * rewrite (pre-commit) is not protected: serialize vacuum with
    * maintenance jobs operationally. Returns deleted dir names.
    */
  def vacuum(spark: SparkSession, root: String, table: String,
             includeLandings: Boolean = false): Seq[String] = {
    val dir = new Path(tableDir(root, table))
    val fs = fsOf(spark, root, table)
    if (!fs.exists(dir)) Seq.empty
    else withManifestLock(spark, root, table) {
      val referenced = liveEntries(spark, root, table).values.toSet
      val doomed = fs.listStatus(dir).toSeq.filter(_.isDirectory)
        .map(_.getPath.getName)
        .filter { n =>
          val orphanGen = n.startsWith(".data-") && !referenced(n)
          val staleLanding =
            includeLandings && n.startsWith("snap=") && !referenced(n)
          orphanGen || staleLanding
        }
      doomed.foreach(n => fs.delete(new Path(s"${tableDir(root, table)}/$n"), true))
      doomed
    }
  }

  /** Adopts a legacy un-versioned parquet dataset as snapshot `id`
    * (default 0) — the migrateParquetToIceberg shape: one read, one
    * snapshot write, the legacy data is left untouched.
    */
  def migrateLegacy(spark: SparkSession, legacyPath: String,
                    root: String, table: String, id: Long = 0L): Unit =
    write(spark.read.parquet(legacyPath), root, table, id)

  /** Compacts snapshot `id` to ~`targetFileBytes` files (the small-file
    * problem of frequent snapshots; the reference's writeWithSizeControl
    * applied as maintenance). The sized copy lands in a NEW immutable
    * generation dir (`.data-<id>-g<n>`, outside the `snap=` namespace so
    * the streaming feed's glob never sees it), then one manifest commit
    * republishes the id — readers see the old generation or the new one,
    * never a missing or partial snapshot. The previous generation stays
    * on disk for in-flight readers until [[vacuum]]; a crash before the
    * commit leaves only an unreferenced gen dir vacuum collects.
    * Returns the file count after compaction.
    */
  def compact(spark: SparkSession, root: String, table: String, id: Long,
              targetFileBytes: Long = 128L << 20): Int = {
    val entries = liveEntries(spark, root, table)
    val current = entries.getOrElse(id,
      throw new IllegalArgumentException(s"snapshot $id of $table not found"))
    val gen = current match {
      case g if g.startsWith(".data-") =>
        g.substring(g.lastIndexOf("-g") + 2).toInt + 1
      case _ => 1
    }
    val target = new Path(s"${tableDir(root, table)}/.data-$id-g$gen")
    val fs = fsOf(spark, root, table)
    fs.delete(target, true) // uncommitted debris from a crashed attempt
    ParquetSink.writeSizeControlled(
      spark.read.parquet(s"${tableDir(root, table)}/$current"),
      target.toString, targetFileBytes)
    // commit against a FRESH manifest read under the lock: snapshots
    // landed during the rewrite survive, and an id expired meanwhile
    // aborts (the orphan generation is left for vacuum)
    withManifestLock(spark, root, table) {
      val latest = liveEntries(spark, root, table)
      require(latest.contains(id),
        s"snapshot $id of $table expired during compaction")
      commitManifest(spark, root, table, latest.updated(id, target.getName))
    }
    fs.listStatus(target).count(_.getPath.getName.endsWith(".parquet"))
  }

  // ------------------------------------------------------ streaming feed

  /** One landed snapshot row in the streaming feed: `snap` is the
    * partition-directory id the row arrived under. Public: the state
    * serializer codegen requires a public class.
    */
  final case class SnapRow(pk: Long, ts: java.lang.Long, snap: Long)

  /** One change emitted by the feed: op = I (first sighting of the key)
    * or U (null-safe ts change). `snap` is the snapshot that introduced
    * the change.
    */
  final case class ChangeOut(pk: Long, op: String, ts: java.lang.Long,
                             snap: Long)

  /** Keyed state of the feed: the last seen ts, with null (column never
    * written) carried as an explicit flag — a sentinel value would
    * conflate a legal ts with null and suppress a null-safe U. Public:
    * the state serializer codegen requires a public class.
    */
  final case class TsState(ts: Long, isNull: Boolean)

  /** Streaming upsert feed over the store: snapshots landing under
    * `root/table/snap=<id>/` become a file stream, and per-PK keyed state
    * (flatMapGroupsWithState) turns row arrivals into I/U changes — the
    * continuous form of [[changes]], with the ledger's "what did I last
    * replicate for this key" as checkpointed state instead of a control
    * table (the reference's discovery loop, keyspaces:1161-1215).
    *
    * Deletes are intentionally absent: detecting absence requires a
    * snapshot-boundary barrier, which is the batch [[changes]] contract
    * (same split as the reference: delete propagation is its own pass).
    * Rows inside one micro-batch are folded in snapshot order, so a
    * trigger that catches up over several snapshots emits the same net
    * I/U set the pairwise batch diffs would.
    */
  def upsertFeed(spark: SparkSession, root: String, table: String,
                 pkCol: String, tsCol: String = "ts"): Dataset[ChangeOut] = {
    import spark.implicits._
    val rows = snapRowStream(spark, root, table, pkCol, tsCol)
    rows.groupByKey(_.pk)
      .flatMapGroupsWithState[TsState, ChangeOut](
        org.apache.spark.sql.streaming.OutputMode.Append(),
        org.apache.spark.sql.streaming.GroupStateTimeout.NoTimeout()) {
        (pk, it, state: org.apache.spark.sql.streaming.GroupState[TsState]) =>
          val arrivals = it.toSeq.sortBy(_.snap)
          val out = scala.collection.mutable.ArrayBuffer.empty[ChangeOut]
          var seen = state.exists
          var last: TsState = state.getOption.getOrElse(TsState(0L, isNull = true))
          arrivals.foreach { r =>
            val cur = TsState(if (r.ts == null) 0L else r.ts, r.ts == null)
            if (!seen) { out += ChangeOut(pk, "I", r.ts, r.snap); seen = true }
            else if (last != cur)
              out += ChangeOut(pk, "U", r.ts, r.snap)
            last = cur
          }
          state.update(last)
          out.iterator
      }
  }

  /** File stream over the landing dirs. Discovery is the `snap=*` glob,
    * not the manifest: the feed sees a snapshot as its files land (data
    * is written before the manifest commit), so a write that crashes
    * between data and commit can feed rows for a snapshot the batch API
    * never exposes — re-running that write deletes and rewrites the dir,
    * and the stream (which tracks files by name) may double-see it.
    * Operationally: clean crash orphans (vacuum(includeLandings = true))
    * BEFORE restarting the writer, or land under fresh ids.
    */
  private def snapRowStream(spark: SparkSession, root: String, table: String,
                            pkCol: String, tsCol: String): Dataset[SnapRow] = {
    import spark.implicits._
    val schema = readLatest(spark, root, table).schema
      .add("snap", org.apache.spark.sql.types.LongType)
    spark.readStream
      .schema(schema)
      .option("basePath", tableDir(root, table))
      .parquet(s"${tableDir(root, table)}/snap=*")
      .select(col(pkCol).cast("long").as("pk"),
        col(tsCol).cast("long").as("ts"), col("snap"))
      .as[SnapRow]
  }

  /** Keyed state of [[changeFeed]]: the last seen ts (null carried as an
    * explicit flag) plus the last snapshot the key appeared in. Public:
    * the state serializer codegen requires a public class.
    */
  final case class FeedState(ts: Long, isNull: Boolean, lastSnap: Long)

  /** [[SnapRow]] plus the event-time column ([[changeFeed]]'s watermark
    * must survive up to the stateful operator, so it rides in the row).
    */
  final case class TimedSnapRow(pk: Long, ts: java.lang.Long, snap: Long,
                                snap_time: java.sql.Timestamp)

  /** The full I/U/D form of [[upsertFeed]]: snapshot boundaries act as
    * the delete barrier, with the snapshot id itself as event time.
    * Requires DENSE SEQUENTIAL snapshot ids (…N, N+1…), which is what
    * pins absence to a snapshot: a key that arrives at snap N with state
    * lastSnap < N-1 was absent from every snapshot in between — emit
    * `D` at lastSnap+1 and a fresh `I` at N (exact, no watermark
    * involved). A key that never returns falls to the event-time
    * timeout: its timeout timestamp is lastSnap+1, so once the
    * watermark (= max landed snapshot id) passes that barrier the state
    * times out and emits `D` at lastSnap+1 — one snapshot of lag, the
    * price of proving absence without a full-table barrier. Matches the
    * batch [[changes]] chain exactly (spec), including across restarts
    * (state + watermark recover from the checkpoint).
    */
  def changeFeed(spark: SparkSession, root: String, table: String,
                 pkCol: String, tsCol: String = "ts"): Dataset[ChangeOut] = {
    import spark.implicits._
    val rows = snapRowStream(spark, root, table, pkCol, tsCol)
      .withColumn("snap_time", timestamp_seconds(col("snap")))
      .withWatermark("snap_time", "0 seconds")
      .as[TimedSnapRow]
    rows.groupByKey(_.pk)
      .flatMapGroupsWithState[FeedState, ChangeOut](
        org.apache.spark.sql.streaming.OutputMode.Append(),
        org.apache.spark.sql.streaming.GroupStateTimeout.EventTimeTimeout()) {
        (pk, it, state: org.apache.spark.sql.streaming.GroupState[FeedState]) =>
          val out = scala.collection.mutable.ArrayBuffer.empty[ChangeOut]
          if (state.hasTimedOut) {
            val s = state.get
            out += ChangeOut(pk, "D", if (s.isNull) null else s.ts, s.lastSnap + 1)
            state.remove()
          } else {
            val arrivals = it.toSeq.sortBy(_.snap)
            var cur: Option[FeedState] = state.getOption
            arrivals.foreach { r =>
              val ts = TsState(if (r.ts == null) 0L else r.ts, r.ts == null)
              cur match {
                case None =>
                  out += ChangeOut(pk, "I", r.ts, r.snap)
                case Some(prev) if r.snap > prev.lastSnap + 1 =>
                  // absent from (lastSnap, r.snap): a delete, then a rebirth
                  out += ChangeOut(pk, "D",
                    if (prev.isNull) null else prev.ts, prev.lastSnap + 1)
                  out += ChangeOut(pk, "I", r.ts, r.snap)
                case Some(prev) if TsState(prev.ts, prev.isNull) != ts =>
                  out += ChangeOut(pk, "U", r.ts, r.snap)
                case _ =>
              }
              cur = Some(FeedState(ts.ts, ts.isNull, r.snap))
            }
            cur.foreach { s =>
              // the delete barrier: the first snapshot the key could be
              // absent from
              val barrier = (s.lastSnap + 1) * 1000L
              if (state.getCurrentWatermarkMs() >= barrier) {
                // later snapshots already landed without this key (late
                // file replay): absence is proven now, and a timeout set
                // at/below the watermark would be rejected anyway
                out += ChangeOut(pk, "D",
                  if (s.isNull) null else s.ts, s.lastSnap + 1)
                if (state.exists) state.remove()
              } else {
                state.update(s)
                state.setTimeoutTimestamp(barrier)
              }
            }
          }
          out.iterator
      }
  }
}
