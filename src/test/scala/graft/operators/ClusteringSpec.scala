package graft.operators

import graft.SparkSpec
import org.apache.spark.sql.functions._

/** Connected components: the large-star/small-star variant must agree
  * with min-label propagation on every graph shape, including the ones
  * that stress each algorithm (long chains for propagation, hubs for
  * anything neighbourhood-materializing).
  */
class ClusteringSpec extends SparkSpec {
  import spark.implicits._

  private def labels(df: org.apache.spark.sql.DataFrame): Map[Long, Long] =
    df.select(col("doc_id").cast("long"), col("cluster_id").cast("long"))
      .as[(Long, Long)].collect().toMap

  test("stars matches propagation on clique + chain + singleton-pair mix") {
    // clique {1,2,3}, chain 10-11-12-13-14, pair {20,21}, self-contained
    val pairs = Seq(
      (1L, 2L), (2L, 3L), (1L, 3L),
      (10L, 11L), (11L, 12L), (12L, 13L), (13L, 14L),
      (20L, 21L)).toDF("a", "b")
    val viaProp = labels(Clustering.connectedComponents(pairs, "a", "b"))
    val viaStars = labels(Clustering.connectedComponentsStars(pairs, "a", "b"))
    assert(viaStars == viaProp)
    assert(viaStars(14L) == 10L && viaStars(3L) == 1L && viaStars(21L) == 20L)
  }

  test("stars handles a hub star graph and reversed/duplicate edges") {
    // hub 100 with 50 spokes, edges in mixed orientation with dups
    val spokes = (101L to 150L)
    val pairs = (spokes.map(s => (s, 100L)) ++ spokes.take(10).map(s => (100L, s)))
      .toDF("a", "b")
    val got = labels(Clustering.connectedComponentsStars(pairs, "a", "b"))
    assert(got.size == 51 && got.values.toSet == Set(100L))
  }

  test("stars converges on a long chain (diameter >> large-star rounds)") {
    val chain = (0L until 63L).map(i => (i, i + 1)).toDF("a", "b")
    val got = labels(Clustering.connectedComponentsStars(chain, "a", "b"))
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
    // r14: the convergence probe moved into an Observation collected
    // during each round's checkpoint job — a chain of diameter 40 needs
    // several pointer-jumping rounds, so a changed-count that under- or
    // over-reports would terminate early (wrong labels) or run to
    // maxIter; exact labels prove the fused count gates identically.
    val chain = (0L until 40L).map(i => (i, i + 1)).toDF("a", "b")
    val got = labels(Clustering.connectedComponents(chain, "a", "b"))
    assert(got.size == 41 && got.values.toSet == Set(0L))
  }

  test("propagation throws when a chain outruns maxIter") {
    val chain = (0L until 40L).map(i => (i, i + 1)).toDF("a", "b")
    val e = intercept[IllegalStateException](
      Clustering.connectedComponents(chain, "a", "b", maxIter = 2))
    assert(e.getMessage.contains("connectedComponents") &&
      e.getMessage.contains("maxIter = 2"), e.getMessage)
  }

  test("stars throws when a chain outruns maxIter") {
    val chain = (0L until 63L).map(i => (i, i + 1)).toDF("a", "b")
    val e = intercept[IllegalStateException](
      Clustering.connectedComponentsStars(chain, "a", "b", maxIter = 1))
    assert(e.getMessage.contains("connectedComponentsStars") &&
      e.getMessage.contains("maxIter = 1"), e.getMessage)
  }

  test("both variants handle an empty pair relation") {
    // r14: stars' initial-emptiness probe rides an Observation on the
    // edge checkpoint; propagation's first round must see changed = 0.
    val empty = Seq.empty[(Long, Long)].toDF("a", "b")
    assert(labels(Clustering.connectedComponents(empty, "a", "b")).isEmpty)
    assert(labels(Clustering.connectedComponentsStars(empty, "a", "b")).isEmpty)
  }

  test("stars output is identical across partitionings") {
    val pairs = Seq((1L, 2L), (2L, 3L), (5L, 6L), (8L, 9L), (9L, 3L))
      .toDF("a", "b")
    val one = labels(Clustering.connectedComponentsStars(
      pairs.repartition(1), "a", "b"))
    val many = labels(Clustering.connectedComponentsStars(
      pairs.repartition(7), "a", "b"))
    assert(one == many)
  }
}
