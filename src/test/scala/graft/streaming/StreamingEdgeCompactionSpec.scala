package graft.streaming

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions.col

import graft.SparkSpec
import graft.operators.Ann
import graft.streaming.StreamingIvfUpsert.{IndexRow, VecChange}

/** The kNN-edge maintenance architecture documented in SURVEY §2: edge
  * maintenance is NOT a per-key fold (one changed vector invalidates
  * other vectors' top-k lists), so the streaming face maintains the
  * ASSIGNMENT index continuously ([[StreamingIvfUpsert.indexStream]])
  * and edges compact in batch micro-compactions over the maintained
  * assignments — [[Ann.knnEdgeIndexUpsert]] recomputing exactly
  * the affected buckets. This spec proves the COMPOSITION end to end:
  * a shuffled micro-batched change stream, folded by the streaming
  * operator, feeds the batch edge compactor, and the compacted edge
  * relation is row-identical to a full edge rebuild of the folded
  * corpus at the same frozen centroids.
  */
class StreamingEdgeCompactionSpec extends SparkSpec {

  private def f(id: Long): Array[Float] =
    Array((id % 5 + 1).toFloat, (id % 3).toFloat, (id % 7).toFloat, 1f)

  private def g(id: Long, i: Int): Array[Float] =
    Array((id % 7 + 1).toFloat, (i + 1).toFloat, ((id * i) % 5).toFloat, 1f)

  private val centroids: Seq[(Long, Array[Float])] = Seq(
    0L -> Array(1f, 0f, 0f, 0f), 1L -> Array(0f, 1f, 0f, 0f),
    2L -> Array(0f, 0f, 1f, 0f), 3L -> Array(0f, 0f, 0f, 1f))

  private val prevMap: Map[Long, Array[Float]] =
    (0L until 20L).map(id => id -> f(id)).toMap

  /** Change feed over ids 10..24: competing writetimes, some deletes. */
  private def changes: Seq[VecChange] = {
    val base = for {
      id <- 10L until 25L
      i <- 0 until 3
    } yield VecChange(id, g(id, i), (id + i * 3) % 7)
    val tombs = for (id <- (10L until 25L).filter(_ % 6 == 0))
      yield VecChange(id, null, 50L)
    new scala.util.Random(11).shuffle(base ++ tombs)
  }

  private def beats(ch: VecChange, cur: VecChange): Boolean =
    ch.writetime > cur.writetime || (ch.writetime == cur.writetime && {
      if (ch.vec == null) cur.vec != null
      else cur.vec != null && StreamingIvfUpsert.vecGt(ch.vec, cur.vec)
    })

  private def foldChanges(cs: Seq[VecChange]): Map[Long, Option[Array[Float]]] =
    cs.groupBy(_.vec_id).map { case (id, grp) =>
      id -> Option(grp.reduceLeft((a, b) => if (beats(b, a)) b else a).vec)
    }

  private def toDf(m: Map[Long, Array[Float]]): DataFrame = {
    val spark0 = spark
    import spark0.implicits._
    m.toSeq.sortBy(_._1).toDF("vec_id", "embedding")
  }

  private def edgeSet(df: DataFrame): Set[(Long, Long, Long, Double)] =
    df.select("query_id", "neighbor_id", "rank", "cosine").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getDouble(3)))
      .toSet

  test("edge micro-compaction over the STREAMED assignment index ≡ full rebuild") {
    val spark0 = spark
    import spark0.implicits._
    val prevDf = toDf(prevMap)
    val centsDf = toDf(centroids.toMap)

    // 1. stream the change feed through the assignment maintainer in
    //    shuffled micro-batches
    val cs = changes
    val in = MemoryStream[VecChange](spark)
    val q = StreamingIvfUpsert.indexStream(in.toDS(), centroids)
      .writeStream.format("memory").queryName("edge_compact_assign")
      .outputMode("update").start()
    try {
      val (a, b) = cs.splitAt(cs.length / 2)
      in.addData(a); q.processAllAvailable()
      in.addData(b); q.processAllAvailable()
    } finally q.stop()

    // 2. the maintained assignment index a compacting sink would hold:
    //    base assignments overlaid with the stream's final emissions
    val baseAssign = Ann.ivfAssign(prevDf, centsDf, "vec_id", "embedding",
        "vec_id", "embedding").select("vec_id", "centroid_id").collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    val finalRows = spark.table("edge_compact_assign").as[IndexRow]
      .collect().zipWithIndex.groupBy(_._1.vec_id)
      .map { case (id, grp) => id -> grp.maxBy(_._2)._1 }
    val streamedAssign = finalRows.values.foldLeft(baseAssign) { (m, r) =>
      if (r.deleted) m - r.vec_id else m.updated(r.vec_id, r.centroid_id)
    }

    // 3. the folded corpus (what the winners imply) + the maintained
    //    index WITH vectors — (vec_id, v, centroid_id), the currIdx
    //    shape Ann.knnEdgeIndexUpsert consumes
    val currMap = foldChanges(cs).foldLeft(prevMap) {
      case (m, (id, Some(v))) => m.updated(id, v)
      case (m, (id, None))    => m - id
    }
    val currDf = toDf(currMap)
    val currIdx = currDf.select(col("vec_id"), col("embedding").as("v"))
      .join(streamedAssign.toSeq.toDF("vec_id", "centroid_id"), "vec_id")
      .select("vec_id", "v", "centroid_id")

    // 4. batch micro-compaction over the streamed assignments: only
    //    affected buckets recompute, the rest carry over from the base
    val baseEdges = Ann.knnGraphWithCentroid(prevDf,
      Ann.ivfAssign(prevDf, centsDf, "vec_id", "embedding",
        "vec_id", "embedding"),
      "vec_id", "embedding", k = 2)
    val compacted = Ann.knnEdgeIndexUpsert(baseEdges, currIdx,
      prevDf, currDf, centsDf, "vec_id", "embedding", "vec_id", "embedding",
      k = 2)

    // 5. truth: full edge rebuild of the folded corpus at the same
    //    frozen centroids
    val rebuilt = Ann.knnGraphWithCentroid(currDf,
      Ann.ivfAssign(currDf, centsDf, "vec_id", "embedding",
        "vec_id", "embedding"),
      "vec_id", "embedding", k = 2)

    val got = edgeSet(compacted)
    assert(got === edgeSet(rebuilt))
    assert(got.nonEmpty)
    // the streamed assignments really drove the compaction: every
    // compacted edge's bucket agrees with the streamed index
    val bucketOf = streamedAssign
    assert(compacted.select("query_id", "centroid_id").collect()
      .forall(r => bucketOf(r.getLong(0)) == r.getLong(1)))
  }
}
