package graft.operators

import org.apache.spark.sql.functions._

import graft.SparkSpec

class ScansSpec extends SparkSpec {

  /** Spread width read from the initial physical plan's shuffle exchange
    * (string form — the AQE wrapper hides the subtree from collect).
    */
  private def shuffleWidth(df: org.apache.spark.sql.DataFrame): Int = {
    val plan = df.queryExecution.executedPlan.toString
    if (plan.contains("Exchange SinglePartition")) 1
    else {
      val m = "Exchange hashpartitioning\\([^)]*?(\\d+)\\)".r
        .findFirstMatchIn(plan)
      assert(m.isDefined, s"no shuffle exchange in:\n$plan")
      m.get.group(1).toInt
    }
  }

  test("spreadByKey caps the width by the input's size estimate") {
    val spark0 = spark
    import spark0.implicits._
    // documents at sf0.001 is a few KB on disk — far under one 64 KB cap
    // unit — so the spread must collapse to one partition instead of the
    // configured shuffle parallelism (4 in this suite).
    val docs = spark.read.parquet(s"$sfDir/documents.parquet")
    assert(shuffleWidth(Scans.spreadByKey(docs, col("doc_id"))) === 1)
    // a relation estimated well beyond width*64 KB saturates the session
    // parallelism: the cap is invisible at scale
    val wide = spark.range(100000).select(col("id"),
      lit("x" * 64).as("pad"))
    assert(shuffleWidth(Scans.spreadByKey(wide, col("id"))) ===
      spark.conf.get("spark.sql.shuffle.partitions").toInt)
    // row identity: the spread only moves rows
    val got = Scans.spreadByKey(docs, col("doc_id")).collect()
    assert(got.length === docs.count())
  }

  test("spreadByKeyWide pins the session parallelism regardless of size") {
    val ids = spark.range(10).toDF()
    assert(shuffleWidth(Scans.spreadByKeyWide(ids, col("id"))) ===
      spark.conf.get("spark.sql.shuffle.partitions").toInt)
  }

  test("an Observation on an eager localCheckpoint completes without another action") {
    // Clustering.connectedComponents reads every round's edge count this
    // way: the checkpoint job publishes the metrics, no probe job runs.
    // Spark completes the future from its listener bus after the job, so
    // it may still be pending the instant localCheckpoint returns; it
    // must arrive within a short deadline with no further action.
    val obs = org.apache.spark.sql.Observation()
    val ck = spark.range(1000).filter(col("id") % 3 === 0)
      .observe(obs, count(lit(1)).as("n"))
      .localCheckpoint(true)
    assert(Scans.observed(obs, "spec checkpoint", deadlineSec = 5)("n") == 334L)
    assert(ck.count() == 334L)
    // metrics that never arrive fail with a message naming the revert
    val e = intercept[IllegalStateException](Scans.observed(
      org.apache.spark.sql.Observation(), "an unrun query", deadlineSec = 1))
    assert(e.getMessage.contains("driver-side count() probes"), e.getMessage)
  }
}
