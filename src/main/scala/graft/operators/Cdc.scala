package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graft.TopKPerGroup

/** Change-data-capture core: snapshot diffing, tiling, key reconciliation.
  *
  * Re-expresses the reference's CDC semantics
  * (glue/sbin/keyspaces/CQLReplicator.scala:1355-1384 — computeIcebergChanges;
  * :1832-1843 — tile grouping;
  * glue/sbin/keyspaces/PrimaryKeyReconciliation.scala:645-670 — DiffEngine)
  * as declarative Spark plans. The reference drives per-tile loops over
  * Iceberg snapshots; here a snapshot is any DataFrame of
  * `pk columns + ts` and the diff is a pair of shuffle joins that Catalyst
  * plans (sort-merge on the PK hash, AQE-skew-aware, broadcast if one side
  * is small). At 100 TB, persist snapshots bucketed by PK to make these
  * diffs shuffle-free.
  */
object Cdc {

  /** Row writetime from an arbitrary user-configured column list, the
    * buildWritetimeExpression contract (keyspaces/CQLReplicator.scala:
    * 381-384): one column stands alone, several fold into `greatest`,
    * either way aliased `ts`. Callers pass whatever per-column writetime
    * expressions their source exposes.
    */
  def writetimeExpression(columns: Seq[Column]): Column = {
    require(columns.nonEmpty, "at least one writetime column required")
    (columns match {
      case Seq(single) => single
      case multiple    => greatest(multiple: _*)
    }).as("ts")
  }

  /** New keys: in `curr` but not in `prev` (reference :1366). */
  def inserts(curr: DataFrame, prev: DataFrame, pkCols: Seq[String]): DataFrame =
    curr.join(prev, pkCols, "left_anti")

  /** Dropped keys: in `prev` but not in `curr` (reference :1367). */
  def deletes(curr: DataFrame, prev: DataFrame, pkCols: Seq[String]): DataFrame =
    prev.join(curr, pkCols, "left_anti")

  /** Keys present in both whose `ts` changed. Null-safe comparison: a
    * writetime that transitions null -> value (or back) is an update
    * (reference :1369-1381 uses NOT (curr.ts <=> prev.ts) for the same
    * reason).
    */
  def updates(curr: DataFrame, prev: DataFrame, pkCols: Seq[String],
              tsCol: String = "ts"): DataFrame = {
    val c = curr.alias("curr")
    val p = prev.alias("prev")
    val joinCond = pkCols.map(k => col(s"curr.$k") === col(s"prev.$k")).reduce(_ && _)
    // Full curr row out (not just pk+ts): inserts/deletes carry full rows,
    // so a diff union — SnapshotStore.changesBetween — stays well-typed
    // for tables with payload columns beyond the key and timestamp.
    c.join(p, joinCond, "inner")
      .filter(!(col(s"curr.$tsCol") <=> col(s"prev.$tsCol")))
      .select(curr.columns.map(k => col(s"curr.$k")).toSeq: _*)
  }

  /** Applies a change set to a snapshot: next = prev - deletes - (keys of
    * updates) + inserts + updates. With a correct diff this reconstructs
    * `curr` exactly — the property the spec and oracle verify.
    */
  def applyDelta(prev: DataFrame, ins: DataFrame, upd: DataFrame,
                 del: DataFrame, pkCols: Seq[String]): DataFrame = {
    val touched = upd.select(pkCols.map(col): _*)
      .union(del.select(pkCols.map(col): _*))
    prev.join(touched, pkCols, "left_anti")
      .unionByName(ins)
      .unionByName(upd)
  }

  /** Deterministic tile id from the primary key, the reference's work-unit
    * assignment (:1832-1843 — abs(xxhash64(concat(pk))) % totalTiles).
    * In Spark the tile is just a column; `repartition(n, tile)` reproduces
    * the reference's physical grouping when needed, but most consumers
    * should rely on the natural shuffle partitioning instead.
    */
  def tileXxhash64(pkCols: Seq[Column], totalTiles: Int): Column =
    pmod(abs(xxhash64(pkCols.map(_.cast("string")): _*)), lit(totalTiles))

  /** Portable variant of [[tileXxhash64]] built on md5, reproducible in any
    * engine (used by the cross-engine correctness oracle; same contract,
    * different mixer). Two hex chars -> 16 bits of hash -> modulo.
    */
  def tileMd5(pk: Column, totalTiles: Int): Column = {
    val h = md5(pk.cast("string"))
    pmod(ascii(substring(h, 1, 1)) * 256 + ascii(substring(h, 2, 1)), lit(totalTiles))
  }

  /** Distinct keys in `source` missing from `target`
    * (PrimaryKeyReconciliation.scala:651 antiJoinDistinct).
    */
  def reconcileMissing(source: DataFrame, target: DataFrame, pkCols: Seq[String]): DataFrame =
    source.select(pkCols.map(col): _*).distinct()
      .join(target.select(pkCols.map(col): _*).distinct(), pkCols, "left_anti")

  /** Distinct keys in `target` that the `source` never had. */
  def reconcileExtra(source: DataFrame, target: DataFrame, pkCols: Seq[String]): DataFrame =
    reconcileMissing(target, source, pkCols)

  /** Distinct keys present on both sides
    * (PrimaryKeyReconciliation.scala:660 intersectionDistinct).
    */
  def reconcileCommon(source: DataFrame, target: DataFrame, pkCols: Seq[String]): DataFrame =
    source.select(pkCols.map(col): _*).distinct()
      .join(target.select(pkCols.map(col): _*).distinct(), pkCols, "left_semi")

  /** The reconciliation REPORT surface: one row per direction
    * (`missing_in_target` / `extra_in_target` / `common`) with the
    * distinct-key count and a bounded, deterministic sample of the
    * lowest keys (comma-joined over the '|'-rendered pk tuple) — what an
    * operator reads after every reconcile run (reference
    * PrimaryKeyReconciliation.scala:680 collectSample, :793 compute,
    * :896 buildJson, :975 buildLogSummary).
    *
    * Scale shape: directions come from ONE full-outer join of the
    * distinct key sets (counts map-side combined over 3 groups); the
    * samples are one [[org.apache.spark.sql.graft.TopKPerGroup]] keyed
    * on the direction — a bounded heap of `sampleSize` keys per
    * direction and partition, never a full sort — and one grouped
    * sorted `concat_ws` over its at most 3 × `sampleSize` rows.
    * `sampleSize = 0` builds no heap. Every direction always appears,
    * zero-count included (callers iterate "one row per direction").
    */
  def reconcileReport(source: DataFrame, target: DataFrame,
                      pkCols: Seq[String], sampleSize: Int): DataFrame = {
    require(sampleSize >= 0, "sampleSize must be >= 0")
    val spark = source.sparkSession
    import spark.implicits._
    def keyed(df: DataFrame, flag: String): DataFrame =
      df.select(concat_ws("|", pkCols.map(c => col(c).cast("string")): _*).as("k"))
        .distinct().withColumn(flag, lit(true))
    val flagged = keyed(source, "in_s").join(keyed(target, "in_t"), Seq("k"), "full_outer")
      .select(col("k"),
        when(col("in_s").isNotNull && col("in_t").isNotNull, "common")
          .when(col("in_s").isNotNull, "missing_in_target")
          .otherwise("extra_in_target").as("direction"))
    val counts = flagged.groupBy("direction").agg(count(lit(1)).as("n_keys"))
    val report = Seq("missing_in_target", "extra_in_target", "common").toDF("direction")
      .join(counts, Seq("direction"), "left")
    val withSamples =
      if (sampleSize == 0) report.withColumn("sample_keys", lit(""))
      else report.join(
        TopKPerGroup(flagged, Seq(col("direction")), Seq(col("k")), sampleSize)
          .groupBy("direction")
          .agg(concat_ws(",", sort_array(collect_list(col("k")))).as("sample_keys")),
        Seq("direction"), "left")
    withSamples.select(col("direction"),
      coalesce(col("n_keys"), lit(0L)).as("n_keys"),
      coalesce(col("sample_keys"), lit("")).as("sample_keys"))
  }

  /** Per-CELL last-writer-wins merge of two replicas of the same table —
    * the Cassandra read-repair / replica-reconciliation semantic the
    * reference's replication target ultimately enforces (each column
    * carries its own writetime; the cell with the GREATER writetime wins
    * independently per column, ties break toward the greater value,
    * a never-written cell — null writetime — loses to any written one).
    *
    * `cells` maps each value column to its writetime column; both sides
    * must carry pk + every value/writetime column. Rows present on one
    * side only pass through whole. One full-outer shuffle join on the pk
    * and a projection — no window, no explode; with both replicas
    * bucket-partitioned by pk the join is shuffle-free at 100 TB.
    */
  def cellLwwMerge(a: DataFrame, b: DataFrame, pkCols: Seq[String],
                   cells: Seq[(String, String)]): DataFrame = {
    val negInf = Long.MinValue
    val aa = a.as("a")
    val bb = b.as("b")
    val joined = aa.join(bb, pkCols, "full_outer")
    val merged = cells.flatMap { case (v, w) =>
      val wa = coalesce(col(s"a.$w"), lit(negInf))
      val wb = coalesce(col(s"b.$w"), lit(negInf))
      val va = col(s"a.$v")
      val vb = col(s"b.$v")
      // Tie on writetime → greater value wins (null value loses); the
      // whole-row-absent case degenerates correctly because every cell
      // of the absent side reads null writetime = -inf.
      val pickA = wa > wb ||
        (wa === wb && (vb.isNull || (va.isNotNull && va >= vb)))
      Seq(
        when(pickA, va).otherwise(vb).as(v),
        when(pickA, col(s"a.$w")).otherwise(col(s"b.$w")).as(w))
    }
    joined.select(pkCols.map(col) ++ merged: _*)
  }

  /** Per-column update profile: among pk-matched rows of two snapshots,
    * how many rows changed EACH column (null-safe compare) — the report
    * that sizes a cell-level replication payload (a table where only a
    * counter column churns replicates cells, not rows; the reference's
    * per-column writetimes exist for exactly this reason) and localizes
    * schema hot spots. One pk join; the per-column compares are one
    * projection; output is |columns| rows via a bounded stack.
    */
  def updateColumnProfile(curr: DataFrame, prev: DataFrame,
                          pkCols: Seq[String]): DataFrame = {
    val dataCols = curr.columns.filterNot(pkCols.contains).toSeq
    require(dataCols.nonEmpty, "no non-pk columns to profile")
    val c = curr.alias("curr")
    val p = prev.alias("prev")
    val joinCond = pkCols.map(k => col(s"curr.$k") === col(s"prev.$k")).reduce(_ && _)
    val flags = c.join(p, joinCond, "inner")
      .select(dataCols.map(k =>
        (!(col(s"curr.$k") <=> col(s"prev.$k"))).cast("long").as(k)): _*)
    val counted = flags.agg(count(lit(1)).as("n_common"),
      dataCols.map(k => sum(col(k)).as(k)): _*)
    counted.select(expr(s"stack(${dataCols.size}, " +
        dataCols.map(k => s"'$k', `$k`").mkString(", ") + ") as (col, n_changed)"),
        col("n_common"))
      .select(col("col"), col("n_changed").cast("long").as("n_changed"),
        col("n_common").cast("long").as("n_common"))
  }

  /** Tombstone GC accounting: which delete tombstones have aged past
    * `gcGraceSeconds` relative to a fixed `nowEpoch` and can purge, per
    * day bucket — the gc_grace_seconds bookkeeping a Cassandra-compatible
    * target needs before compaction may drop a tombstone (dropping early
    * resurrects deleted rows on a lagging replica). One grouped aggregate
    * over the tombstone feed; the feed is delete-only, tiny next to the
    * table itself.
    */
  def tombstoneGcReport(tombstones: DataFrame, tsCol: String,
                        nowEpoch: Long, gcGraceSeconds: Long): DataFrame =
    tombstones
      .withColumn("purgeable", col(tsCol) <= lit(nowEpoch - gcGraceSeconds))
      .withColumn("day", (col(tsCol) - (col(tsCol) % 86400L)).cast("long"))
      .groupBy("day")
      .agg(
        count(lit(1)).as("n_tombstones"),
        count(when(col("purgeable"), 1)).as("n_purgeable"),
        min(col(tsCol)).cast("long").as("oldest_ts"),
        max(col(tsCol)).cast("long").as("newest_ts"))

  /** Materialized-view mutation derivation — the Cassandra MV maintenance
    * semantic (a view re-keys base rows by a non-pk column; every base
    * write must translate into view mutations, and a write that CHANGES
    * the view key must delete the old view row before inserting the new
    * one, or the view leaks ghosts). Given two base snapshots
    * (`pk + viewKeyCol + ts`), emits the view mutation stream:
    *
    *  - base insert            → one view `insert` (curr key/ts)
    *  - base delete            → one view `delete` (prev key/ts)
    *  - base update, key same  → one view `update` (curr ts), iff ts moved
    *  - base update, key moved → `delete`(prev key) + `insert`(curr key),
    *    regardless of whether ts moved — a key change with an unchanged
    *    writetime would otherwise leave a ghost row under the old key
    *
    * One full-outer pk join; the ≤2-mutation fan-out is an explode over a
    * filtered 2-element array built in the same projection — a single
    * pass, no plan branch re-reads the join. With snapshots bucketed by
    * pk the join is shuffle-free; the output is naturally partitionable
    * by `view_key` for the view-side writer.
    */
  def mvMaintain(prev: DataFrame, curr: DataFrame, pkCols: Seq[String],
                 viewKeyCol: String, tsCol: String = "ts"): DataFrame = {
    val p = prev.alias("p")
    val c = curr.alias("c")
    val joinCond = pkCols.map(k => col(s"p.$k") === col(s"c.$k")).reduce(_ && _)
    val pPk = col(s"p.${pkCols.head}")
    val cPk = col(s"c.${pkCols.head}")
    val pVk = col(s"p.$viewKeyCol")
    val cVk = col(s"c.$viewKeyCol")
    val pTs = col(s"p.$tsCol")
    val cTs = col(s"c.$tsCol")
    val tsChanged = !(pTs <=> cTs)
    val vkChanged = !(pVk <=> cVk)
    val both = pPk.isNotNull && cPk.isNotNull
    // Candidate mutations carry an `emit` flag and are filtered in place,
    // so the element type derives from the actual vk/ts columns — no
    // hardcoded struct cast, any orderable view-key type analyzes.
    val mut = (op: String, vk: Column, ts: Column, emit: Column) =>
      struct(lit(op).as("view_op"), vk.as("vk"), ts.as("mts"),
        emit.as("emit"))
    val muts = filter(
      array(
        mut("delete", pVk, pTs, cPk.isNull || (both && vkChanged)),
        mut("insert", cVk, cTs, pPk.isNull || (both && vkChanged)),
        mut("update", cVk, cTs, both && !vkChanged && tsChanged)),
      m => m.getField("emit"))
    val pkOut = pkCols.map(k => coalesce(col(s"c.$k"), col(s"p.$k")).as(k))
    p.join(c, joinCond, "full_outer")
      .select(pkOut :+ explode(muts).as("m"): _*)
      .select(
        Seq(col("m.view_op").as("view_op"), col("m.vk").as(viewKeyCol)) ++
          pkCols.map(col) :+ col("m.mts").cast("long").as("ts"): _*)
  }

  /** Three-replica read-repair: resolves every cell via last-writer-wins
    * across N replicas (pairwise [[cellLwwMerge]] folds — LWW is
    * associative, so the fold order cannot change the winner) and counts,
    * per row, how many (replica, cell) pairs disagree with the resolved
    * value — the repair write-back volume a coordinator would issue after
    * a digest mismatch. A replica missing the row entirely counts every
    * cell stale (the repair must write the whole row there).
    *
    * N+… pk-equi-joins (N−1 merge folds + N stale-compare joins), all
    * shuffle-free when replicas are bucket-partitioned by pk; no window,
    * no explode.
    */
  def readRepairReport(replicas: Seq[DataFrame], pkCols: Seq[String],
                       cells: Seq[(String, String)]): DataFrame = {
    require(replicas.size >= 2, "need at least two replicas")
    val resolved = replicas.reduce(cellLwwMerge(_, _, pkCols, cells))
    replicas.zipWithIndex.foldLeft(resolved.withColumn("n_stale", lit(0L))) {
      case (acc, (r, i)) =>
        val marked = r.select(
          pkCols.map(col) ++
            cells.flatMap { case (v, w) =>
              Seq(col(v).as(s"__r${i}_$v"), col(w).as(s"__r${i}_$w"))
            } :+ lit(true).as(s"__r${i}_present"): _*)
        val stale = cells.map { case (v, w) =>
          when(col(s"__r${i}_present").isNull, lit(1L))
            .otherwise(((!(col(v) <=> col(s"__r${i}_$v"))) ||
              (!(col(w) <=> col(s"__r${i}_$w")))).cast("long"))
        }.reduce(_ + _)
        acc.join(marked, pkCols, "left")
          .withColumn("n_stale", col("n_stale") + stale)
          .drop(cells.flatMap { case (v, w) =>
            Seq(s"__r${i}_$v", s"__r${i}_$w")
          } :+ s"__r${i}_present": _*)
    }
  }

  /** Wide-partition report — the Cassandra operational check for
    * partitions that outgrow a node's comfort (compaction stalls, read
    * amplification). Rows group by their partition key with an
    * estimated-bytes column; partitions then histogram by power-of-two
    * size bucket. Both aggregations are plain map-side-combined
    * group-bys; the per-partition relation never sorts globally. The
    * bucket is `length(bin(bytes))` = floor(log2)+1 computed on INTEGERS
    * (no floating log at bucket boundaries — engine-portable).
    */
  def partitionSizeReport(rows: DataFrame, pkCol: String,
                          estBytes: Column): DataFrame =
    rows
      .groupBy(col(pkCol))
      .agg(count(lit(1)).as("n_rows"),
        sum(estBytes.cast("long")).as("part_bytes"))
      .withColumn("bucket", length(bin(col("part_bytes"))).cast("int"))
      .groupBy("bucket")
      .agg(
        count(lit(1)).as("n_partitions"),
        sum(col("n_rows")).cast("long").as("total_rows"),
        sum(col("part_bytes")).cast("long").as("total_bytes"),
        max(col("part_bytes")).cast("long").as("max_part_bytes"))

  /** Unlogged-batch planning: groups a mutation feed (`pk + op`) into
    * per-tile batches of at most `maxBatch` mutations — the
    * "batch by partition, cap the size" discipline a Cassandra writer
    * follows (oversized batches trip the coordinator's warn/fail
    * thresholds; cross-partition batches lose atomicity anyway). The
    * tile is the portable md5 work-unit hash ([[tileMd5]], the
    * reference's tiling with an engine-portable mixer); the batch
    * sequence is a row_number PARTITIONED BY TILE — bounded per-tile
    * state, never a global sort. Output: one row per batch with its
    * mutation mix and key span.
    */
  def batchMutationPlan(mutations: DataFrame, pkCol: String, opCol: String,
                        totalTiles: Int, maxBatch: Int): DataFrame = {
    require(maxBatch >= 1, "maxBatch must be >= 1")
    import org.apache.spark.sql.expressions.Window
    val tiled = mutations.withColumn("tile", tileMd5(col(pkCol), totalTiles))
    val w = Window.partitionBy(col("tile")).orderBy(col(pkCol), col(opCol))
    tiled
      .withColumn("batch_seq",
        ((row_number().over(w) - 1) / maxBatch).cast("int"))
      .groupBy("tile", "batch_seq")
      .agg(
        count(lit(1)).as("n_mutations"),
        count(when(col(opCol) === "I", 1)).as("n_inserts"),
        count(when(col(opCol) === "U", 1)).as("n_updates"),
        count(when(col(opCol) === "D", 1)).as("n_deletes"),
        min(col(pkCol)).as("min_key"),
        max(col(pkCol)).as("max_key"))
  }

  /** Incremental AGGREGATE-view maintenance: counts and sums are
    * self-maintainable, so the grouped view of a table updates from the
    * change feed alone — prevView + per-group deltas — never rescanning
    * the base table (the aggregate cousin of [[mvMaintain]]; at 100 TB
    * the delta is millions of rows where the base is billions). A row
    * whose GROUP moves contributes remove(old group) + add(new group),
    * the same ≤2-element explode discipline as the MV path. All sums run
    * in DECIMAL, so maintained state equals a direct recompute EXACTLY —
    * the property the oracle checks (it aggregates `curr` from scratch).
    */
  def aggViewMaintain(prev: DataFrame, curr: DataFrame, pkCols: Seq[String],
                      groupCol: String, valCol: String): DataFrame = {
    def dec(c: Column): Column = c.cast("decimal(38,6)")
    val prevView = prev.groupBy(col(groupCol).as("g"))
      .agg(count(lit(1)).as("n"), sum(dec(col(valCol))).as("s"))
    val p = prev.alias("p")
    val c = curr.alias("c")
    val joinCond = pkCols.map(k => col(s"p.$k") === col(s"c.$k")).reduce(_ && _)
    val pg = col(s"p.$groupCol")
    val cg = col(s"c.$groupCol")
    val pv = col(s"p.$valCol")
    val cv = col(s"c.$valCol")
    val pPk = col(s"p.${pkCols.head}")
    val cPk = col(s"c.${pkCols.head}")
    val add = struct(cg.as("g"), dec(cv).as("dv"), lit(1L).as("dn"))
    val remove = struct(pg.as("g"), (-dec(pv)).as("dv"), lit(-1L).as("dn"))
    val contribs =
      when(pPk.isNull, array(add))
        .when(cPk.isNull, array(remove))
        .when(!(pg <=> cg) || !(pv <=> cv), array(remove, add))
        .otherwise(
          array().cast("array<struct<g:bigint,dv:decimal(38,6),dn:bigint>>"))
    val delta = p.join(c, joinCond, "full_outer")
      .select(explode(contribs).as("m"))
      .groupBy(col("m.g").as("g"))
      .agg(sum(col("m.dv")).as("ds"), sum(col("m.dn")).as("dn"))
    prevView.join(delta, Seq("g"), "full_outer")
      .select(col("g"),
        (coalesce(col("n"), lit(0L)) + coalesce(col("dn"), lit(0L))).as("n"),
        (coalesce(col("s"), dec(lit(0))) + coalesce(col("ds"), dec(lit(0))))
          .as("s"))
      .filter(col("n") > 0)
      .select(col("g"), col("n").cast("long").as("n"),
        round(col("s").cast("double"), 6).as("sum_v"))
  }

  /** Merkle-style repair planning: hashes each side's rows into
    * token-range buckets, sums a portable per-row digest per bucket, and
    * compares bucket digests — the anti-entropy primitive (nodetool
    * repair) that finds WHICH ranges need streaming without shipping a
    * single row. Two group-bys + one tiny full-outer join on the
    * bucket id (`totalBuckets` rows); per-row digests stay < 2³⁰ so a
    * bucket sum never overflows a long below ~2⁶³⁻³⁰ rows per bucket.
    * The row digest mixes pk and ts with fixed odd multipliers mod a
    * prime — deterministic and reproducible in any engine (no xxhash
    * dependency), null ts folded to −1 so never-written cells still
    * digest.
    */
  def repairRangeDigests(source: DataFrame, target: DataFrame,
                         pkCol: String, tsCol: String,
                         totalBuckets: Int): DataFrame = {
    // pk and ts reduce mod p BEFORE the multiplies: (pk mod p) < 1e9 times
    // 2654435761 stays < 2^62, so the intermediate never overflows a long
    // for ANY pk — safe under spark.sql.ansi.enabled and identical to the
    // unreduced formula in exact arithmetic (mod distributes over ·/+).
    def digest(df: DataFrame, n: String, d: String): DataFrame =
      df.withColumn("bucket", tileMd5(col(pkCol), totalBuckets))
        .withColumn("__h",
          pmod(pmod(col(pkCol), lit(1000000007L)) * lit(2654435761L) +
            pmod(coalesce(col(tsCol), lit(-1L)), lit(1000000007L)) *
              lit(40503L), lit(1000000007L)))
        .groupBy("bucket")
        .agg(count(lit(1)).as(n), sum(col("__h")).cast("long").as(d))
    digest(source, "n_src", "digest_src")
      .join(digest(target, "n_tgt", "digest_tgt"), Seq("bucket"), "full_outer")
      .select(
        col("bucket"),
        coalesce(col("n_src"), lit(0L)).as("n_src"),
        coalesce(col("n_tgt"), lit(0L)).as("n_tgt"),
        coalesce(col("digest_src"), lit(0L)).as("digest_src"),
        coalesce(col("digest_tgt"), lit(0L)).as("digest_tgt"),
        when(col("digest_src") <=> col("digest_tgt"), lit("match"))
          .otherwise(lit("mismatch")).as("status"))
  }
}
