package graft

/** Connected-components reference for the CC specs: sequential
  * union-find whose roots are the min node id, so every node that
  * appears in `edges` (self-loops included) maps to the min id reachable
  * from it — the `Clustering.connectedComponents` contract.
  */
object UnionFind {
  def components(edges: Seq[(Long, Long)]): Map[Long, Long] = {
    val parent = scala.collection.mutable.Map.empty[Long, Long]
    def find(x: Long): Long = {
      val p = parent.getOrElse(x, x)
      if (p == x) x else { val r = find(p); parent(x) = r; r }
    }
    edges.foreach { case (a, b) =>
      val (ra, rb) = (find(a), find(b))
      if (ra != rb) parent(math.max(ra, rb)) = math.min(ra, rb)
    }
    edges.flatMap(e => Seq(e._1, e._2)).distinct.map(n => n -> find(n)).toMap
  }
}
