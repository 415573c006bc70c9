package graft.sources

import java.nio.file.Files
import java.util.concurrent.{ConcurrentHashMap, ConcurrentLinkedQueue, CountDownLatch, TimeUnit}
import java.util.concurrent.atomic.AtomicLong

import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobEnd, SparkListenerJobStart, SparkListenerTaskEnd}
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.execution.exchange.{REBALANCE_PARTITIONS_BY_NONE, ShuffleExchangeLike}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.util.QueryExecutionListener

import graft.{SparkSpec, Tables}
import graft.operators.{Cdc, Skew, TextDedup}

class ParquetSinkSpec extends SparkSpec with AdaptiveSparkPlanHelper {

  private def parquetFiles(dir: String): Seq[java.io.File] =
    new java.io.File(dir).listFiles().filter(_.getName.endsWith(".parquet")).toSeq

  /** Runs `body` and returns the file-scan records read by the jobs it
    * starts on this thread (matched by a local property, since other
    * suites share the session) and the executed plans of the queries
    * whose logical plan mentions `marker`. The listener bus is async: a
    * tagged sentinel job drains it, its end event arriving after every
    * event `body` caused.
    */
  private def observe(marker: String)(body: => Unit): (Long, Seq[QueryExecution]) = {
    val sc = spark.sparkContext
    val key = "graft.spec.observe"
    val tag = java.util.UUID.randomUUID().toString
    val stages = ConcurrentHashMap.newKeySet[Int]()
    val records = new AtomicLong
    val sentinelJob = new AtomicLong(-1)
    val drained = new CountDownLatch(1)
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        Option(e.properties).map(_.getProperty(key)) match {
          case Some(`tag`) => e.stageIds.foreach(stages.add)
          case Some(t) if t == tag + "-sentinel" => sentinelJob.set(e.jobId)
          case _ =>
        }
      override def onTaskEnd(e: SparkListenerTaskEnd): Unit =
        if (stages.contains(e.stageId) && e.taskMetrics != null)
          records.addAndGet(e.taskMetrics.inputMetrics.recordsRead)
      override def onJobEnd(e: SparkListenerJobEnd): Unit =
        if (e.jobId == sentinelJob.get) drained.countDown()
    }
    val queries = new ConcurrentLinkedQueue[QueryExecution]()
    val qel = new QueryExecutionListener {
      override def onSuccess(f: String, qe: QueryExecution, ns: Long): Unit =
        if (qe.logical.toString.contains(marker)) queries.add(qe)
      override def onFailure(f: String, qe: QueryExecution, e: Exception): Unit = ()
    }
    sc.addSparkListener(listener)
    spark.listenerManager.register(qel)
    try {
      sc.setLocalProperty(key, tag)
      try body finally sc.setLocalProperty(key, tag + "-sentinel")
      sc.parallelize(1 to 1, 1).count()
      assert(drained.await(30, TimeUnit.SECONDS), "listener bus drain timed out")
    } finally {
      sc.setLocalProperty(key, null)
      spark.listenerManager.unregister(qel)
      sc.removeSparkListener(listener)
    }
    (records.get, queries.asScala.toSeq)
  }

  test("writeSizeControlled sizes a joined diff from runtime bytes and runs it once") {
    val spark0 = spark
    import spark0.implicits._
    val root = Files.createTempDirectory("graft-sink-cdc").toString
    val prev = (0L until 3000L).map(k => (k, k % 97, s"row-$k")).toDF("pk", "ts", "v")
    val curr = (100L until 3100L).map(k => (k, k % 89, s"row-$k")).toDF("pk", "ts", "v")
    SnapshotStore.write(prev, root, "t", 1L)
    SnapshotStore.write(curr, root, "t", 2L)
    val changes = SnapshotStore.changes(spark, root, "t", 1L, 2L, Seq("pk"))
    val target = 4L << 20
    // the premise: without CBO the three-join union estimates as the
    // product of its snapshots, far above the target
    val estimate = changes.queryExecution.optimizedPlan.stats.sizeInBytes
    assert(estimate >= BigInt(target) * 100, s"estimate $estimate")
    val (once, _) = observe(root) {
      changes.write.format("noop").mode("overwrite").save()
    }
    val dir = s"$root/delta"
    val (read, queries) = observe(dir) {
      ParquetSink.writeSizeControlled(changes, dir, target)
    }
    val files = parquetFiles(dir).map(_.length)
    assert(files.size == 1, s"a delta far below the target lands as one file: $files")
    assert(once > 0 && read == once,
      s"the write read $read input records, one evaluation reads $once")
    assert(queries.size == 1, s"queries over the input: ${queries.size}")
    val rebalances = collect(queries.head.executedPlan) {
      case e: ShuffleExchangeLike if e.shuffleOrigin == REBALANCE_PARTITIONS_BY_NONE => e
    }
    assert(rebalances.size == 1, queries.head.executedPlan.toString)
    assert(spark.read.parquet(dir).count() == changes.count())
  }

  test("writeSizeControlled splits an input several times the target into near-target files") {
    val base = Files.createTempDirectory("graft-sink-split").toString
    val target = 1L << 20
    spark.range(0, 60000, 1, 16)
      .select(col("id"), sha2(col("id").cast("string"), 256).as("h"))
      .write.parquet(s"$base/in")
    val in = spark.read.parquet(s"$base/in")
    ParquetSink.writeSizeControlled(in, s"$base/out", target)
    val sizes = parquetFiles(s"$base/out").map(_.length)
    assert(sizes.size > 1 && sizes.forall(_ < 2 * target),
      s"file sizes $sizes: AQE no longer honours the rebalance's advisory " +
        "partition size (optAdvisoryPartitionSize); on such a Spark restore " +
        "writeSizeControlled's estimate-plus-coalesce body " +
        "(targetPartitions, then coalesce or repartition)")
    assert(spark.read.parquet(s"$base/out").count() == 60000L)
  }

  test("writeSizeControlled produces roughly target-sized files") {
    val orders = Tables.orders(spark, sfDir)
    val dir = Files.createTempDirectory("graft-sink").toString + "/orders"
    ParquetSink.writeSizeControlled(orders, dir, targetFileBytes = 64 << 10)
    val files = new java.io.File(dir).listFiles()
      .filter(f => f.getName.endsWith(".parquet"))
    assert(files.nonEmpty)
    val total = files.map(_.length()).sum
    val reread = spark.read.parquet(dir)
    assert(reread.count() == orders.count())
    // each file within a loose factor of the 64 KiB target
    assert(files.forall(_.length() < 8 * (64 << 10)), s"files: ${files.map(_.length()).toSeq}")
    assert(total > 0)
  }

  test("bucketed snapshots diff without an exchange on the big sides") {
    val spark0 = spark
    import spark0.implicits._
    // drop both catalog entries AND any orphaned location left by a
    // killed prior run (saveAsTable refuses to reuse the directory)
    for (t <- Seq("snap_prev", "snap_curr")) {
      spark.sql(s"DROP TABLE IF EXISTS $t")
      val loc = new java.io.File(s"spark-warehouse/$t")
      if (loc.exists()) {
        def rm(f: java.io.File): Unit = {
          Option(f.listFiles()).foreach(_.foreach(rm)); f.delete(); ()
        }
        rm(loc)
      }
    }
    val prev = (1L to 1000L).map(k => (k, k % 97)).toDF("pk", "ts")
    val curr = (5L to 1004L).map(k => (k, k % 89)).toDF("pk", "ts")
    ParquetSink.writeBucketedSnapshot(prev, "snap_prev", Seq("pk"), 4)
    ParquetSink.writeBucketedSnapshot(curr, "snap_curr", Seq("pk"), 4)
    val p = spark.table("snap_prev")
    val c = spark.table("snap_curr")
    val diff = Cdc.updates(c, p, Seq("pk"))
    diff.count() // materialize so AQE finalizes
    val plan = diff.queryExecution.executedPlan.toString
    assert(!plan.contains("Exchange hashpartitioning"),
      s"bucketed diff should not shuffle:\n$plan")
    // and it is still correct
    val expected = curr.as("c").join(p.as("p"), Seq("pk"))
      .filter(!(col("c.ts") <=> col("p.ts"))).count()
    assert(diff.count() == expected)
  }

  test("stored LSH index joins an ingest batch without shuffling the index side") {
    val spark0 = spark
    import spark0.implicits._
    spark.sql("DROP TABLE IF EXISTS lsh_idx")
    val loc = new java.io.File("spark-warehouse/lsh_idx")
    if (loc.exists()) {
      def rm(f: java.io.File): Unit = {
        Option(f.listFiles()).foreach(_.foreach(rm)); f.delete(); ()
      }
      rm(loc)
    }
    val corpus = graft.Tables.documents(spark, sfDir)
    val sh = TextDedup.shingleHashTable(corpus, "doc_id", "text", 3)
    ParquetSink.writeLshIndex(TextDedup.bandedKeys(sh, 128, 32), "lsh_idx", 4)
    val idx = spark.table("lsh_idx")
    // ingest batch: a handful of (partly duplicated) docs with fresh ids
    val batchDocs = corpus.filter(col("doc_id") % 11 === 0)
      .select((col("doc_id") + 1000000L).as("doc_id"), col("text"))
    val batchBanded = TextDedup.bandedKeys(
        TextDedup.shingleHashTable(batchDocs, "doc_id", "text", 3), 128, 32)
      .localCheckpoint(true) // isolate the join's own exchanges
    val cand = batchBanded.as("a")
      .join(idx.as("b"),
        col("a.band") === col("b.band") && col("a.bh") === col("b.bh"))
      .select(col("a.doc_id").as("doc_a"), col("b.doc_id").as("doc_b"))
      .distinct()
    val n = cand.count() // finalize AQE
    assert(n > 0, "duplicated batch docs must hit the index")
    val plan = cand.queryExecution.executedPlan.toString
    // the index side scans bucket-local: exchanges exist only for the
    // batch side + the distinct, never between the index scan and the join
    assert(plan.contains("Bucketed: true"), s"index scan must be bucketed:\n$plan")
    val joinIdx = plan.indexOf("SortMergeJoin")
    if (joinIdx >= 0) {
      val idxScan = plan.indexOf("lsh_idx")
      assert(idxScan > joinIdx, "bucketed scan feeds the join")
      val between = plan.substring(joinIdx, idxScan)
      // the subtree between the join and the index scan holds no exchange
      // on the index branch: the scan's bucket partitioning is used as-is
      assert(!between.split("\n").exists(l =>
          l.contains("Exchange hashpartitioning") && l.contains("lsh_idx")),
        s"index side must not re-shuffle:\n$plan")
    }
    // and the index answers are the same as recomputing the corpus bands
    val recomputed = TextDedup.bandedKeys(sh, 128, 32).as("b")
      .join(batchBanded.as("a"),
        col("a.band") === col("b.band") && col("a.bh") === col("b.bh"))
      .select(col("a.doc_id").as("doc_a"), col("b.doc_id").as("doc_b"))
      .distinct()
    assert(n == recomputed.count())
  }

  test("standing shingle index feeds containment bucket-local: no exchange on h, no re-shingling") {
    // Gates the SURVEY §2 claim behind shingle_containment_indexed: fed
    // from the h-bucketed standing table, the document-frequency grouping
    // and the rare-shingle self-join consume the bucket partitioning
    // AS-IS (zero single-key exchanges on h — the exchanges that remain
    // are on doc_a/doc_b, candidate-bounded by construction), and nothing
    // in the plan re-shingles raw text. A bucketing or Catalyst
    // regression here silently reintroduces the ~105 GB shuffle the
    // sf100 probe measured on the raw-text path.
    spark.sql("DROP TABLE IF EXISTS shingle_idx_gate")
    val loc = new java.io.File("spark-warehouse/shingle_idx_gate")
    if (loc.exists()) {
      def rm(f: java.io.File): Unit = {
        Option(f.listFiles()).foreach(_.foreach(rm)); f.delete(); ()
      }
      rm(loc)
    }
    val corpus = graft.Tables.documents(spark, sfDir)
    ParquetSink.writeBucketedSnapshot(
      TextDedup.shingleHashTable(corpus, "doc_id", "text", 3),
      "shingle_idx_gate", Seq("h"), 4)
    val pairs = TextDedup.containmentPairsCappedFrom(
      spark.table("shingle_idx_gate"), thresholdPpm = 500000L, maxDf = 20L)
    assert(pairs.count() > 0, "corpus duplicates must surface containment pairs")
    val plan = pairs.queryExecution.executedPlan.toString
    assert(plan.contains("Bucketed: true"), s"index scan must be bucketed:\n$plan")
    // every shingle-relation reference reads the standing table, never
    // the raw corpus: the plan holds no shingling Generate
    assert(!plan.contains("posexplode"), s"plan re-shingles raw text:\n$plan")
    // no exchange partitioned on the bare shingle hash: df grouping and
    // the rare self-join must ride the bucket partitioning
    val hExchanges = plan.split("\n").filter(l =>
      l.contains("Exchange hashpartitioning(h#"))
    assert(hExchanges.isEmpty,
      s"bucket partitioning not used, exchanges on h:\n${hExchanges.mkString("\n")}\n$plan")
  }

  test("writeSorted layout lets a selective scan skip most row groups") {
    val spark0 = spark
    import spark0.implicits._
    import java.nio.file.Files
    val df = spark.range(0, 300000).select(
      (col("id") * 2654435761L % 1000003L).as("k"), col("id").as("v"))
    val sortedDir = Files.createTempDirectory("graft-sorted").toString
    val unsortedDir = Files.createTempDirectory("graft-unsorted").toString
    ParquetSink.writeSorted(df, sortedDir, Seq("k"), targetFileBytes = 1 << 20)
    df.repartition(4).write.mode("overwrite").parquet(unsortedDir)
    def scanRows(dir: String): Long = {
      // drive THIS plan instance so its metrics populate (a write/count
      // action executes a fresh QueryExecution)
      val qe = spark.read.parquet(dir).filter(col("k") < 1000).queryExecution
      qe.executedPlan.execute().count()
      qe.executedPlan.collectLeaves()
        .map(_.metrics("numOutputRows").value).sum
    }
    val sortedRead = scanRows(sortedDir)
    val unsortedRead = scanRows(unsortedDir)
    // both answers agree; the sorted layout reads far fewer rows. Factor 3
    // holds even with page-level (column-index) filtering disabled, where
    // pruning falls back to whole row groups (~75k rows of the 300k).
    assert(spark.read.parquet(sortedDir).filter(col("k") < 1000).count() ==
      spark.read.parquet(unsortedDir).filter(col("k") < 1000).count())
    assert(sortedRead < unsortedRead / 3,
      s"sorted layout read $sortedRead rows vs $unsortedRead unsorted")
  }

  test("writeZOrdered prunes selective scans on BOTH curve dimensions") {
    val spark0 = spark
    import spark0.implicits._
    import java.nio.file.Files
    // two independent pseudo-random dimensions
    val df = spark.range(0, 300000).select(
      (col("id") * 2654435761L % 1000003L).as("k1"),
      (col("id") * 40503L % 99991L).as("k2"),
      col("id").as("v"))
    val zDir = Files.createTempDirectory("graft-zorder").toString
    val sortDir = Files.createTempDirectory("graft-sort1").toString
    val flatDir = Files.createTempDirectory("graft-flat").toString
    ParquetSink.writeZOrdered(df, zDir, "k1", "k2", numFiles = Some(64))
    ParquetSink.writeSorted(df, sortDir, Seq("k1"), numFiles = Some(64))
    df.repartition(4).write.mode("overwrite").parquet(flatDir)
    def scanRows(dir: String, filter: org.apache.spark.sql.Column): Long = {
      val qe = spark.read.parquet(dir).filter(filter).queryExecution
      qe.executedPlan.execute().count()
      qe.executedPlan.collectLeaves()
        .map(_.metrics("numOutputRows").value).sum
    }
    // answers identical across layouts
    for (f <- Seq(col("k1") < 1000, col("k2") < 100)) {
      assert(spark.read.parquet(zDir).filter(f).count() ==
        spark.read.parquet(flatDir).filter(f).count())
    }
    val zK1 = scanRows(zDir, col("k1") < 1000)
    val zK2 = scanRows(zDir, col("k2") < 100)
    val sortK2 = scanRows(sortDir, col("k2") < 100)
    val flatK1 = scanRows(flatDir, col("k1") < 1000)
    // z-order prunes both dimensions; the single-sort layout cannot help
    // the other column
    assert(zK1 < flatK1 / 2, s"z k1 scan $zK1 vs flat $flatK1")
    assert(zK2 < sortK2 / 2, s"z k2 scan $zK2 vs k1-sorted $sortK2")
  }

  test("saltedJoin equals the plain join") {
    val spark0 = spark
    import spark0.implicits._
    val left = Seq((1, "a"), (1, "b"), (2, "c"), (3, "d")).toDF("k", "v")
    val right = Seq((1, 10.0), (2, 20.0), (4, 40.0)).toDF("k", "w")
    val salted = Skew.saltedJoin(left, right, Seq("k"), saltFactor = 4)
      .collect().map(_.toSeq).toSet
    val plain = left.join(right, Seq("k")).collect().map(_.toSeq).toSet
    assert(salted == plain && plain.nonEmpty)
  }
}
