package graft.operators

import org.apache.spark.sql.functions._
import graft.SparkSpec

class CdcSpec extends SparkSpec {
  import spark.implicits._

  private def snap(rows: (Long, java.lang.Long)*) =
    rows.toDF("id", "ts")

  test("writetimeExpression: single column stands alone, several fold into greatest") {
    val df = Seq((5L, 9L, 2L)).toDF("a", "b", "c")
    val single = df.select(Cdc.writetimeExpression(Seq(col("a"))))
    assert(single.columns.toSeq === Seq("ts"))
    assert(single.as[Long].head() === 5L)
    val multi = df.select(Cdc.writetimeExpression(Seq(col("a"), col("b"), col("c"))))
    assert(multi.columns.toSeq === Seq("ts"))
    assert(multi.as[Long].head() === 9L)
    intercept[IllegalArgumentException](Cdc.writetimeExpression(Seq.empty))
  }

  test("inserts/deletes/updates partition the change space") {
    val prev = snap(1L -> 10L, 2L -> 20L, 3L -> null, 4L -> 40L)
    val curr = snap(1L -> 10L, 2L -> 21L, 3L -> 30L, 5L -> 50L)
    assert(Cdc.inserts(curr, prev, Seq("id")).select("id").as[Long].collect().sorted
      === Array(5L))
    assert(Cdc.deletes(curr, prev, Seq("id")).select("id").as[Long].collect().sorted
      === Array(4L))
    // null -> 30 is an update (null-safe compare); 1 is unchanged
    assert(Cdc.updates(curr, prev, Seq("id")).select("id").as[Long].collect().sorted
      === Array(2L, 3L))
  }

  test("applyDelta reconstructs curr exactly") {
    val prev = snap(1L -> 10L, 2L -> 20L, 3L -> null, 4L -> 40L)
    val curr = snap(1L -> 10L, 2L -> 21L, 3L -> 30L, 5L -> 50L)
    val merged = Cdc.applyDelta(
      prev,
      Cdc.inserts(curr, prev, Seq("id")),
      Cdc.updates(curr, prev, Seq("id")),
      Cdc.deletes(curr, prev, Seq("id")),
      Seq("id"))
    assert(merged.orderBy("id").as[(Long, Option[Long])].collect()
      === curr.orderBy("id").as[(Long, Option[Long])].collect())
  }

  test("tile assignment is total, deterministic, and in range") {
    val df = spark.range(1000).select(col("id"))
    val t1 = df.select(Cdc.tileXxhash64(Seq(col("id")), 8).as("t"))
    val t2 = df.select(Cdc.tileXxhash64(Seq(col("id")), 8).as("t"))
    assert(t1.as[Long].collect() === t2.as[Long].collect())
    assert(t1.agg(min("t"), max("t")).as[(Long, Long)].head() === ((0L, 7L)))
    // all 8 tiles populated on 1000 keys
    assert(t1.distinct().count() === 8)
  }

  test("reconcile missing/extra/common are disjoint and complete") {
    val src = Seq(1L, 2L, 3L, 4L).toDF("id")
    val tgt = Seq(2L, 3L, 9L).toDF("id")
    assert(Cdc.reconcileMissing(src, tgt, Seq("id")).as[Long].collect().sorted === Array(1L, 4L))
    assert(Cdc.reconcileExtra(src, tgt, Seq("id")).as[Long].collect().sorted === Array(9L))
    assert(Cdc.reconcileCommon(src, tgt, Seq("id")).as[Long].collect().sorted === Array(2L, 3L))
  }

  test("reconcileReport: every direction present, sample bounded and ordered") {
    val src = Seq(1L, 2L, 3L, 4L, 10L, 11L).toDF("id")
    val tgt = Seq(2L, 3L, 4L, 10L, 11L).toDF("id")  // nothing extra
    val rep = Cdc.reconcileReport(src, tgt, Seq("id"), sampleSize = 3)
      .collect().map(r => r.getString(0) -> ((r.getLong(1), r.getString(2)))).toMap
    assert(rep.keySet == Set("missing_in_target", "extra_in_target", "common"))
    assert(rep("missing_in_target") == ((1L, "1")))
    // zero-count direction still reports, with an empty sample
    assert(rep("extra_in_target") == ((0L, "")))
    // count is the FULL count; sample is the 3 lexicographically lowest
    // keys ("10" < "2" in the string key space — deterministic, both
    // engines sort bytes)
    assert(rep("common") == ((5L, "10,11,2")))
    // composite pk renders as a '|'-joined tuple
    val srcC = Seq((1L, "a"), (1L, "b")).toDF("id", "sub")
    val tgtC = Seq((1L, "a")).toDF("id", "sub")
    val repC = Cdc.reconcileReport(srcC, tgtC, Seq("id", "sub"), sampleSize = 5)
      .collect().map(r => r.getString(0) -> r.getString(2)).toMap
    assert(repC("missing_in_target") == "1|b")
    assert(repC("common") == "1|a")
  }

  test("reconcileReport: sampleSize 0 keeps the counts and samples nothing") {
    val src = Seq(1L, 2L, 3L, 4L, 10L, 11L).toDF("id")
    val tgt = Seq(2L, 3L, 4L, 10L, 11L, 12L).toDF("id")
    val rep = Cdc.reconcileReport(src, tgt, Seq("id"), sampleSize = 0)
      .collect().map(r => r.getString(0) -> ((r.getLong(1), r.getString(2)))).toMap
    assert(rep == Map("missing_in_target" -> ((1L, "")),
      "extra_in_target" -> ((1L, "")), "common" -> ((5L, ""))))
  }

  test("reconcileReport: a sample larger than a direction holds all its keys") {
    // 7 partitions so the per-partition heaps merge; "common" holds 5
    // keys against a sample of 4, the other directions fewer than 4
    val src = Seq(1L, 2L, 3L, 4L, 10L, 11L, 20L, 21L).toDF("id").repartition(7)
    val tgt = Seq(2L, 3L, 4L, 10L, 11L, 30L).toDF("id").repartition(7)
    val rep = Cdc.reconcileReport(src, tgt, Seq("id"), sampleSize = 4)
      .collect().map(r => r.getString(0) -> ((r.getLong(1), r.getString(2)))).toMap
    assert(rep("missing_in_target") == ((3L, "1,20,21")))
    assert(rep("extra_in_target") == ((1L, "30")))
    assert(rep("common") == ((5L, "10,11,2,3")))
  }

  test("cellLwwMerge: per-cell independence, ties, null writetimes, one-side rows") {
    val a = Seq(
      // key, v1, w1, v2, w2
      (1L, Some(10.0), Some(5L), Some("a"), Some(9L)),   // v1 loses, v2 wins
      (2L, Some(20.0), None, Some("b"), Some(1L)),       // null wt loses
      (3L, Some(30.0), Some(7L), Some("c"), Some(7L)),   // tie wt → greater value
      (4L, Some(40.0), Some(2L), Some("d"), Some(2L))    // only in a
    ).toDF("k", "v1", "w1", "v2", "w2")
    val b = Seq(
      (1L, Some(11.0), Some(6L), Some("z"), Some(3L)),
      (2L, Some(21.0), Some(1L), Some("y"), Some(8L)),
      (3L, Some(31.0), Some(7L), Some("a"), Some(7L)),
      (5L, Some(50.0), Some(4L), Some("x"), Some(4L))    // only in b
    ).toDF("k", "v1", "w1", "v2", "w2")
    val got = Cdc.cellLwwMerge(a, b, Seq("k"), Seq("v1" -> "w1", "v2" -> "w2"))
      .collect().map(r => r.getLong(0) ->
        ((r.getDouble(1), r.getLong(2), r.getString(3), r.getLong(4)))).toMap
    // key 1: v1 from b (6>5), v2 from a (9>3) — cells split across sides
    assert(got(1L) == ((11.0, 6L, "a", 9L)))
    // key 2: null writetime loses to 1 (v1); v2 takes b's newer cell
    assert(got(2L) == ((21.0, 1L, "y", 8L)))
    // key 3: wt tie → greater value wins per cell (31.0 > 30.0; "c" > "a")
    assert(got(3L) == ((31.0, 7L, "c", 7L)))
    // one-side rows pass through whole
    assert(got(4L) == ((40.0, 2L, "d", 2L)))
    assert(got(5L) == ((50.0, 4L, "x", 4L)))
    assert(got.size == 5)
  }

  test("updateColumnProfile: null-safe per-column change counts") {
    val curr = Seq(
      (1L, Some(10.0), Some("a")),
      (2L, None: Option[Double], Some("b")),
      (3L, Some(30.0), Some("c")),
      (9L, Some(90.0), Some("z"))   // no pk match → excluded
    ).toDF("pk", "v", "s")
    val prev = Seq(
      (1L, Some(10.0), Some("A")),  // s changed only
      (2L, None: Option[Double], Some("b")),  // nothing changed (null <=> null)
      (3L, Some(31.0), None: Option[String])  // both changed (null vs value)
    ).toDF("pk", "v", "s")
    val got = Cdc.updateColumnProfile(curr, prev, Seq("pk"))
      .collect().map(r => r.getString(0) -> ((r.getLong(1), r.getLong(2)))).toMap
    assert(got == Map("v" -> ((1L, 3L)), "s" -> ((2L, 3L))))
  }

  test("tombstoneGcReport: purge boundary is inclusive at now - grace") {
    val ts = Seq(
      (1L, 1000L),   // day 0, exactly at boundary → purgeable
      (2L, 1001L),   // day 0, one past → retained
      (3L, 999L),    // day 0, older → purgeable
      (4L, 87000L)   // day 1, young → retained
    ).toDF("k", "dts")
    val got = Cdc.tombstoneGcReport(ts, "dts", nowEpoch = 2000L,
        gcGraceSeconds = 1000L)
      .collect().map(r => r.getLong(0) ->
        ((r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4)))).toMap
    assert(got(0L) == ((3L, 2L, 999L, 1001L)))
    assert(got(86400L) == ((1L, 0L, 87000L, 87000L)))
  }

  test("mvMaintain: inserts, deletes, updates, and view-key moves") {
    val prev = Seq((1L, 10L, 100L), (2L, 20L, 200L), (3L, 30L, 300L),
      (4L, 40L, 400L)).toDF("id", "vk", "ts")
    val curr = Seq((1L, 10L, 100L),   // unchanged → no mutation
      (2L, 20L, 201L),                // ts bump, key same → update
      (3L, 31L, 301L),                // key moved → delete + insert
      (5L, 50L, 500L)                 // new → insert
    ).toDF("id", "vk", "ts")          // id 4 gone → delete
    val got = Cdc.mvMaintain(prev, curr, Seq("id"), "vk")
      .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2),
        r.getLong(3))).toSet
    assert(got === Set(
      ("update", 20L, 2L, 201L),
      ("delete", 30L, 3L, 300L), ("insert", 31L, 3L, 301L),
      ("insert", 50L, 5L, 500L),
      ("delete", 40L, 4L, 400L)))
  }

  test("readRepairReport: LWW resolve + stale count, missing row all-stale") {
    def rep(rows: (Long, java.lang.Long, java.lang.Long)*) =
      rows.toDF("id", "v", "w")
    // id 1: c has the newest write; a and b stale (1 cell each) → 2
    // id 2: all three agree → 0 stale
    // id 3: absent from c (1 cell stale), b older (1) → 2
    // null writetime loses: id 4 — a has null w, b written → a stale
    val a = rep((1L, 10L, 1L), (2L, 7L, 5L), (3L, 30L, 9L), (4L, null, null))
    val b = rep((1L, 11L, 2L), (2L, 7L, 5L), (3L, 29L, 8L), (4L, 44L, 4L))
    val c = rep((1L, 12L, 3L), (2L, 7L, 5L))
    val got = Cdc.readRepairReport(Seq(a, b, c), Seq("id"), Seq("v" -> "w"))
      .collect().map(r => r.getLong(0) ->
        ((Option(r.get(1)).map(_.asInstanceOf[Long]), r.getLong(3)))).toMap
    assert(got(1L) === ((Some(12L), 2L)))
    assert(got(2L) === ((Some(7L), 0L)))
    assert(got(3L) === ((Some(30L), 2L)))   // c absent → 1 stale + b stale
    assert(got(4L) === ((Some(44L), 2L)))   // a's null-w cell + c absent
  }

  test("partitionSizeReport: integer log2 bucket = bin-string length") {
    val rows = Seq(
      (1L, 3L), (1L, 4L),     // partition 1: 7 bytes → bin '111' → bucket 3
      (2L, 1024L),            // partition 2: bin length 11
      (3L, 1023L)             // partition 3: bin length 10
    ).toDF("pk", "bytes")
    val got = Cdc.partitionSizeReport(rows, "pk", col("bytes"))
      .collect().map(r => r.getInt(0) ->
        ((r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4)))).toMap
    assert(got === Map(
      3 -> ((1L, 2L, 7L, 7L)),
      11 -> ((1L, 1L, 1024L, 1024L)),
      10 -> ((1L, 1L, 1023L, 1023L))))
  }

  test("batchMutationPlan: per-tile batches capped at maxBatch") {
    val muts = (1L to 100L).map(k => (k, if (k % 3 == 0) "U" else "I"))
      .toDF("pk", "op")
    val plan = Cdc.batchMutationPlan(muts, "pk", "op",
      totalTiles = 4, maxBatch = 10).collect()
    assert(plan.forall(_.getLong(2) <= 10L))
    // every mutation lands in exactly one batch
    assert(plan.map(_.getLong(2)).sum === 100L)
    // batch_seq is dense per tile from 0
    plan.groupBy(_.getInt(0)).foreach { case (_, rows) =>
      val seqs = rows.map(_.getInt(1)).sorted
      assert(seqs === (0 until seqs.length).toArray)
      // only the LAST batch of a tile may be partial
      val partial = rows.filter(_.getLong(2) < 10L)
      assert(partial.length <= 1)
      if (partial.nonEmpty) assert(partial.head.getInt(1) === seqs.max)
    }
  }

  test("repairRangeDigests: equal snapshots match; a changed row flips only its bucket") {
    val src = (1L to 500L).map(k => (k, k * 7L)).toDF("id", "ts")
    val same = Cdc.repairRangeDigests(src, src, "id", "ts", 16).collect()
    assert(same.nonEmpty && same.forall(_.getString(5) == "match"))
    val tgt = (1L to 500L).map(k => (k, if (k == 250L) 0L else k * 7L))
      .toDF("id", "ts")
    val diff = Cdc.repairRangeDigests(src, tgt, "id", "ts", 16).collect()
    assert(diff.count(_.getString(5) == "mismatch") === 1)
    // counts still agree — only the digest flags the drift
    assert(diff.forall(r => r.getLong(1) === r.getLong(2)))
  }
}
