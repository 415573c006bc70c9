package graft.operators

import graft.{SparkSpec, UnionFind}
import org.apache.spark.sql.functions._

/** Connected components (large-star/small-star, the one algorithm) on
  * the graph shapes that stress CC loops: long chains, chains whose ids
  * arrive in random order, hubs, self-loops and empty input. Expected
  * labels come from the sequential [[UnionFind]] reference. Case names
  * that say "propagation", "stars" or "both variants" predate the single
  * algorithm; every case runs `connectedComponents`.
  */
class ClusteringSpec extends SparkSpec {
  import spark.implicits._

  private def labels(df: org.apache.spark.sql.DataFrame): Map[Long, Long] =
    df.select(col("doc_id").cast("long"), col("cluster_id").cast("long"))
      .as[(Long, Long)].collect().toMap

  test("stars matches propagation on clique + chain + singleton-pair mix") {
    // clique {1,2,3}, chain 10-11-12-13-14, pair {20,21}, self-contained
    val edges = Seq(
      (1L, 2L), (2L, 3L), (1L, 3L),
      (10L, 11L), (11L, 12L), (12L, 13L), (13L, 14L),
      (20L, 21L))
    val got = labels(Clustering.connectedComponents(edges.toDF("a", "b"), "a", "b"))
    assert(got == UnionFind.components(edges))
    assert(got(14L) == 10L && got(3L) == 1L && got(21L) == 20L)
  }

  test("stars handles a hub star graph and reversed/duplicate edges") {
    // hub 100 with 50 spokes, edges in mixed orientation with dups
    val spokes = (101L to 150L)
    val pairs = (spokes.map(s => (s, 100L)) ++ spokes.take(10).map(s => (100L, s)))
      .toDF("a", "b")
    val got = labels(Clustering.connectedComponents(pairs, "a", "b"))
    assert(got.size == 51 && got.values.toSet == Set(100L))
  }

  test("stars converges on a long chain (diameter >> large-star rounds)") {
    val chain = (0L until 63L).map(i => (i, i + 1)).toDF("a", "b")
    val got = labels(Clustering.connectedComponents(chain, "a", "b"))
    assert(got.size == 64 && got.values.toSet == Set(0L))
  }

  test("clusterSizeHistogram counts clusters and docs per size") {
    // one 3-clique, two pairs → sizes: 3→1 cluster, 2→2 clusters
    val pairs = Seq((1L, 2L), (2L, 3L), (1L, 3L), (10L, 11L), (20L, 21L))
      .toDF("a", "b")
    val got = Clustering.clusterSizeHistogram(pairs, "a", "b")
      .collect().map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2)))).toMap
    assert(got == Map(3L -> ((1L, 3L)), 2L -> ((2L, 4L))))
  }

  test("propagation converges on a long chain with the fused changed-count") {
    // Each round ends with the star-forest violator count; a count that
    // under- or over-reports would terminate early (wrong labels) or run
    // to maxIter. A 40-edge chain needs several rounds, so exact labels
    // prove the test gates the loop.
    val chain = (0L until 40L).map(i => (i, i + 1)).toDF("a", "b")
    val got = labels(Clustering.connectedComponents(chain, "a", "b"))
    assert(got.size == 41 && got.values.toSet == Set(0L))
  }

  test("propagation throws when a chain outruns maxIter") {
    // the 40-edge ordered chain needs 6 rounds
    val chain = (0L until 40L).map(i => (i, i + 1)).toDF("a", "b")
    val e = intercept[IllegalStateException](
      Clustering.connectedComponents(chain, "a", "b", maxIter = 2))
    assert(e.getMessage.contains("connectedComponents") &&
      e.getMessage.contains("maxIter = 2"), e.getMessage)
  }

  test("stars throws when a chain outruns maxIter") {
    // the 63-edge ordered chain needs 6 rounds
    val chain = (0L until 63L).map(i => (i, i + 1)).toDF("a", "b")
    val e = intercept[IllegalStateException](
      Clustering.connectedComponents(chain, "a", "b", maxIter = 1))
    assert(e.getMessage.contains("connectedComponents") &&
      e.getMessage.contains("maxIter = 1"), e.getMessage)
  }

  test("both variants handle an empty pair relation") {
    // one round over the empty relation: no edges, no violators
    val empty = Seq.empty[(Long, Long)].toDF("a", "b")
    assert(labels(Clustering.connectedComponents(empty, "a", "b")).isEmpty)
  }

  test("stars output is identical across partitionings") {
    val pairs = Seq((1L, 2L), (2L, 3L), (5L, 6L), (8L, 9L), (9L, 3L))
      .toDF("a", "b")
    val one = labels(Clustering.connectedComponents(
      pairs.repartition(1), "a", "b"))
    val many = labels(Clustering.connectedComponents(
      pairs.repartition(7), "a", "b"))
    assert(one == many)
  }

  // Paths whose ids arrive in random order: min-label propagation with
  // pointer jumping needed more than 16 rounds on each of these and
  // threw; large-star/small-star converges in O(log² n) rounds.
  for ((len, seed) <- Seq((40, 2), (60, 3), (200, 5)))
    test(s"dedupClusters labels a $len-document path with shuffled ids " +
        s"(seed $seed) as one cluster") {
      val ids = new scala.util.Random(seed)
        .shuffle((0L until 1000000L by 7919L).take(len).toVector)
      val edges = ids.sliding(2).map(p => (p(0), p(1))).toSeq
      val got = Clustering.dedupClusters(edges.toDF("doc_a", "doc_b"),
          "doc_a", "doc_b")
        .select(col("doc_id"), col("cluster_id"), col("keep"))
        .as[(Long, Long, Boolean)].collect()
      assert(got.map(r => r._1 -> r._2).toMap == UnionFind.components(edges))
      assert(got.filter(_._3).map(_._1).toSeq == Seq(ids.min))
    }

  test("the loop stops at the first round whose edges form a star forest") {
    // Two cliques: round 1 maps each onto the star rooted at its min, so
    // one round suffices; confirming a fixpoint would need a second.
    def clique(ids: Seq[Long]) =
      for (a <- ids; b <- ids if a < b) yield (a, b)
    val edges = new scala.util.Random(11)
      .shuffle(clique(1L to 5L) ++ clique(10L to 13L))
    assert(labels(Clustering.connectedComponents(
      edges.toDF("a", "b"), "a", "b", maxIter = 1)) ==
      UnionFind.components(edges))
  }

  test("concurrent calls in one session keep their own checkpoint blocks") {
    // Each call releases the checkpoints it made; one taken from another
    // thread's call would fail that call's next read. A different
    // shuffle per thread keeps the threads' rounds out of step.
    val paths = (1 to 3).map { t =>
      val ids = new scala.util.Random(t)
        .shuffle((0L until 1000000L by 7919L).take(200).toVector)
      ids.sliding(2).map(p => (p(0), p(1))).toSeq
    }
    val pool = java.util.concurrent.Executors.newFixedThreadPool(3)
    try {
      val runs = paths.map(edges => pool.submit(
        new java.util.concurrent.Callable[Seq[Boolean]] {
          def call(): Seq[Boolean] = (1 to 3).map(_ =>
            labels(Clustering.connectedComponents(edges.toDF("a", "b"),
              "a", "b")) == UnionFind.components(edges))
        }))
      assert(runs.flatMap(_.get()).forall(identity))
    } finally pool.shutdown()
  }

  test("a node whose only pair is a self-loop is labelled with itself") {
    val edges = Seq((5L, 5L), (1L, 2L), (9L, 9L), (9L, 9L))
    val want = Map(1L -> 1L, 2L -> 1L, 5L -> 5L, 9L -> 9L)
    assert(UnionFind.components(edges) == want)
    assert(labels(Clustering.connectedComponents(
      edges.toDF("a", "b"), "a", "b")) == want)
    // self-loops only: no edge survives the stars, every node remains
    assert(labels(Clustering.connectedComponents(
      Seq((7L, 7L)).toDF("a", "b"), "a", "b")) == Map(7L -> 7L))
  }

  test("released checkpoints leave the context without Spark's unpersist WARN") {
    import org.apache.logging.log4j.LogManager
    import org.apache.logging.log4j.core.{LogEvent, Logger => CoreLogger}
    import org.apache.logging.log4j.core.appender.AbstractAppender
    import org.apache.logging.log4j.core.config.Property
    val warned = new java.util.concurrent.ConcurrentLinkedQueue[String]()
    val capture = new AbstractAppender("checkpoint-release-capture", null,
        null, true, Property.EMPTY_ARRAY) {
      override def append(e: LogEvent): Unit = {
        val msg = e.getMessage.getFormattedMessage
        if (msg.contains("was locally checkpointed")) warned.add(msg)
      }
    }
    capture.start()
    val root = LogManager.getRootLogger.asInstanceOf[CoreLogger]
    root.addAppender(capture)
    val sc = spark.sparkContext
    try {
      // a shuffled path takes several rounds, each releasing the last
      val ids = new scala.util.Random(4)
        .shuffle((0L until 1000000L by 7919L).take(40).toVector)
      val edges = ids.sliding(2).map(p => (p(0), p(1))).toSeq
      val before = sc.getPersistentRDDs.keySet
      val out = Clustering.connectedComponents(edges.toDF("a", "b"), "a", "b")
      val kept = sc.getPersistentRDDs.keySet -- before
      assert(labels(out) == UnionFind.components(edges))
      assert(warned.isEmpty, s"released checkpoints logged: $warned")
      // every checkpoint the call made is gone except the labels it returns
      assert(kept == Scans.persistedRdds(out).map(_.id).toSet)
      // the capture does see the WARN that RDD.unpersist logs
      Scans.persistedRdds(spark.range(3).toDF().localCheckpoint(true))
        .foreach(_.unpersist(false))
      assert(!warned.isEmpty)
    } finally {
      root.removeAppender(capture)
      capture.stop()
    }
  }
}
