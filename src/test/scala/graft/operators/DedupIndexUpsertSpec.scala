package graft.operators

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.functions._
import org.apache.spark.sql.util.QueryExecutionListener

import graft.SparkSpec

/** upsertLshPairs + upsertClusters must be row-identical to a full
  * rebuild across every diff shape — shrink, merge-via-update,
  * pair-between-inserts — while provably NOT recomputing untouched
  * components.
  */
class DedupIndexUpsertSpec extends SparkSpec {

  private val A = "alpha beta gamma delta epsilon zeta eta theta iota kappa"
  private val B = "one two three four five six seven eight nine ten eleven"
  private val C = "red orange yellow green blue indigo violet amber teal pink"
  private val D = "lorem ipsum dolor sit amet consectetur adipiscing elit sed do"
  private val E = "north south east west up down left right forward backward"

  // prev: {1,2,3}=A, {10,11}=B, {20,21}=C, 30 unique, 40=D, 41=E
  private val prevDocs = Seq(
    1L -> A, 2L -> A, 3L -> A, 10L -> B, 11L -> B, 20L -> C, 21L -> C,
    30L -> "solo unique words that pair with absolutely nothing else here",
    40L -> D, 41L -> E)
  // diff: remove 3; update 40 D->B (merges into {10,11}); insert 50=E
  // (pairs with the previously-singleton 41); {20,21} untouched
  private val currDocs = Seq(
    1L -> A, 2L -> A, 10L -> B, 11L -> B, 20L -> C, 21L -> C,
    30L -> "solo unique words that pair with absolutely nothing else here",
    40L -> B, 41L -> E, 50L -> E)

  private def df(rows: Seq[(Long, String)]) = {
    val spark0 = spark
    import spark0.implicits._
    rows.toDF("doc_id", "text")
  }

  private def run() = {
    val prev = df(prevDocs)
    val curr = df(currDocs)
    val prevPairs = TextDedup.minhashLshPairs(prev, "doc_id", "text",
      n = 3, numPerm = 128, bands = 32, threshold = 0.8)
    val prevBanded = TextDedup.bandedKeys(
      TextDedup.shingleHashTable(prev, "doc_id", "text", 3), 128, 32)
    val changed = df(Seq(40L -> "", 50L -> "")).select("doc_id")
    val removed = df(Seq(3L -> "")).select("doc_id")
    val (pairsUp, bandedUp, added) = TextDedup.upsertLshPairs(
      prevPairs, prevBanded, curr, changed, removed,
      "doc_id", "text", n = 3, numPerm = 128, bands = 32, threshold = 0.8)
    (prevPairs, pairsUp, bandedUp, added, curr, changed, removed)
  }

  test("candidate join broadcasts the delta side even with auto-broadcast off") {
    // The 100 TB contract of the upsert path: the standing banded
    // relation is only ever SCANNED, never shuffled — the delta side is
    // broadcast by an explicit hint, not by stats AQE may lack at plan
    // time. Teeth: with auto-broadcast disabled, only hinted joins can
    // broadcast, so this fails if the hint is dropped.
    val threshold = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try {
      val prev = df(prevDocs)
      val curr = df(currDocs)
      val prevPairs = TextDedup.minhashLshPairs(prev, "doc_id", "text",
        n = 3, numPerm = 128, bands = 32, threshold = 0.8)
      val prevBanded = TextDedup.bandedKeys(
        TextDedup.shingleHashTable(prev, "doc_id", "text", 3), 128, 32)
      // The operator cuts the candidate join eagerly, so the join runs at
      // call time: read the plans its checkpoint jobs executed (the
      // returned relations only scan the cut blocks). jobsLaunchedBy
      // drains the listener queue the plans arrive on.
      val plans = new java.util.concurrent.ConcurrentLinkedQueue[String]()
      val qel = new QueryExecutionListener {
        override def onSuccess(f: String, qe: QueryExecution, ns: Long): Unit =
          if (f == "localCheckpoint") plans.add(qe.executedPlan.toString)
        override def onFailure(f: String, qe: QueryExecution, e: Exception): Unit = ()
      }
      spark.listenerManager.register(qel)
      try jobsLaunchedBy(TextDedup.upsertLshPairsParts(
        prevPairs, prevBanded, curr,
        df(Seq(40L -> "", 50L -> "")).select("doc_id"),
        df(Seq(3L -> "")).select("doc_id"),
        "doc_id", "text", n = 3, numPerm = 128, bands = 32, threshold = 0.8))
      finally spark.listenerManager.unregister(qel)
      val plan = plans.asScala.mkString("\n")
      assert("BroadcastHashJoin \\[band#\\d+".r.findFirstIn(plan).nonEmpty,
        s"the (band, bh) candidate join should be a hinted broadcast:\n${plan.take(2500)}")
    } finally
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", threshold)
  }

  test("upserted pairs and banded keys equal a full rebuild of the new corpus") {
    val (_, pairsUp, bandedUp, _, curr, _, _) = run()
    val rebuilt = TextDedup.minhashLshPairs(curr, "doc_id", "text",
      n = 3, numPerm = 128, bands = 32, threshold = 0.8)
    val gotPairs = pairsUp.collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    val wantPairs = rebuilt.collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    assert(gotPairs === wantPairs)
    // the expected topology is really exercised: shrink, merge, new pair
    val keys = gotPairs.map(p => (p._1, p._2))
    assert(keys.contains((1L, 2L)) && !keys.exists(p => p._1 == 3L || p._2 == 3L))
    assert(keys.contains((10L, 40L)) && keys.contains((11L, 40L)))
    assert(keys.contains((41L, 50L)))
    val gotBanded = bandedUp.collect()
      .map(r => (r.getLong(0), r.getInt(1), r.getLong(2))).toSet
    val wantBanded = TextDedup.bandedKeys(
        TextDedup.shingleHashTable(curr, "doc_id", "text", 3), 128, 32)
      .collect().map(r => (r.getLong(0), r.getInt(1), r.getLong(2))).toSet
    assert(gotBanded === wantBanded)
  }

  test("upserted membership equals rebuild; untouched components are NOT recomputed") {
    val (prevPairs, pairsUp, _, added, curr, changed, removed) = run()
    val prevClusters = Clustering.dedupClusters(prevPairs, "doc_a", "doc_b")
      .select("doc_id", "cluster_id")
    val seeds = changed.unionByName(removed)
      .unionByName(added.select(col("doc_a").as("doc_id")))
      .unionByName(added.select(col("doc_b").as("doc_id")))
    val got = Clustering.upsertClusters(prevClusters, pairsUp, seeds)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val want = Clustering.dedupClusters(
        TextDedup.minhashLshPairs(curr, "doc_id", "text",
          n = 3, numPerm = 128, bands = 32, threshold = 0.8),
        "doc_a", "doc_b")
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(got === want)
    assert(got(40L) === 10L && got(50L) === 41L && !got.contains(3L))

    // incrementality proof: poison the UNTOUCHED {20,21} component's
    // prev label — a recompute would heal it to 20, carry-over keeps it
    val poisoned = prevClusters
      .withColumn("cluster_id",
        when(col("cluster_id") === 20L, lit(999L)).otherwise(col("cluster_id")))
    val gotPoisoned = Clustering.upsertClusters(poisoned, pairsUp, seeds)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(gotPoisoned(20L) === 999L && gotPoisoned(21L) === 999L,
      "untouched component was recomputed")
    assert(gotPoisoned - 20L - 21L === got - 20L - 21L)
  }
}
