package graft.operators

import java.nio.file.{Files, Paths}

import scala.jdk.CollectionConverters._

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
    // Ann.initCentroids reads its candidate counts and round costs this
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

  test("persistedRdds takes an eager checkpoint's RDD from its own lineage") {
    val sc = spark.sparkContext
    val other = sc.parallelize(1 to 10).cache()
    other.count()
    val ck = spark.range(1000).filter(col("id") % 3 === 0).localCheckpoint(true)
    val rdds = Scans.persistedRdds(ck)
    assert(rdds.size == 1, rdds)
    assert(rdds.head.id != other.id && sc.getPersistentRDDs.contains(rdds.head.id))
    assert(Scans.materializedBytes(sc, rdds) > 0)
    rdds.foreach(_.unpersist(true))
    other.unpersist(true)
  }

  test("cut names its RDDs, times its span, and release frees only its own blocks") {
    val sc = spark.sparkContext
    // a recording timer: each span's label with the jobs run inside it
    val spans = scala.collection.mutable.ArrayBuffer.empty[(String, Int)]
    val rec = new graft.PhaseTimer {
      def apply[A](label: String)(f: => A): A = {
        var out: Option[A] = None
        val jobs = jobsLaunchedBy { out = Some(f) }
        spans += label -> jobs
        out.get
      }
    }
    val c = Scans.cut(spark.range(1000).filter(col("id") % 3 === 0).toDF(),
      "spec_cut", rec)
    assert(spans.toSeq == Seq("spec_cut" -> 1), spans)
    assert(c.rdds.size == 1 && c.rdds.map(_.name) == Seq("spec_cut"))
    assert(sc.getRDDStorageInfo.exists(i =>
      i.id == c.rdds.head.id && i.name == "spec_cut"))
    assert(Scans.materializedBytes(sc, c.rdds) > 0)
    assert(c.df.count() == 334L)
    // an RDD persisted by another caller while the cut is live stays
    val other = sc.parallelize(1 to 10).cache()
    other.count()
    c.release()
    assert(!sc.getPersistentRDDs.contains(c.rdds.head.id))
    assert(sc.getPersistentRDDs.contains(other.id))
    other.unpersist(true)
  }

  test("a lazy cut runs no job until its first action") {
    val sc = spark.sparkContext
    var c: Scans.Cut = null
    assert(jobsLaunchedBy {
      c = Scans.cut(spark.range(1000).filter(col("id") % 3 === 0).toDF(),
        "spec_lazy_cut", eager = false)
    } == 0)
    assert(c.rdds.size == 1 && sc.getPersistentRDDs.contains(c.rdds.head.id))
    assert(Scans.materializedBytes(sc, c.rdds) == 0)
    var rows = 0
    assert(jobsLaunchedBy { rows = c.df.collect().length } == 1)
    assert(rows == 334)
    assert(Scans.materializedBytes(sc, c.rdds) > 0)
    c.release()
    assert(!sc.getPersistentRDDs.contains(c.rdds.head.id))
  }

  test("Scans.cut is the only local checkpoint in src/main") {
    // one lineage cut for every operator: a new `.localCheckpoint(` call
    // elsewhere would bypass its naming, timing and release, and the one
    // place a checkpoint-kind decision can land
    def codeLines(p: java.nio.file.Path): Seq[(String, Int)] =
      Files.readAllLines(p).asScala.toSeq.zipWithIndex.flatMap {
        case (line, i) =>
          val code = line.split("//", 2)(0).trim
          if (code.startsWith("*") || code.startsWith("/*")) None
          else Some(code -> (i + 1))
      }
    val sources = Files.walk(Paths.get("src/main")).iterator.asScala
      .filter(_.toString.endsWith(".scala")).toSeq
    val hits = sources.flatMap(p => codeLines(p)
      .collect { case (code, n) if code.contains(".localCheckpoint(") =>
        s"${p.getFileName}:$n" })
    assert(hits.size == 1 && hits.head.startsWith("Scans.scala:"),
      s"local checkpoints outside Scans.cut: ${hits.mkString(", ")}")
  }
}
