package graft

import scala.collection.mutable

/** Independent driver-side connected components by union-find — the test
  * reference for [[graft.pipeline.Curation.connectedComponentsStar]].
  * Same node set as the engine: every node with at least one non-self
  * edge, labelled with the minimum node id reachable. */
object RefComponents {

  def apply(edges: Seq[(Long, Long)]): Map[Long, Long] = {
    val parent = mutable.Map.empty[Long, Long]
    def find(x: Long): Long = {
      val p = parent.getOrElseUpdate(x, x)
      if (p == x) x else { val r = find(p); parent(x) = r; r }
    }
    // linking the larger root under the smaller keeps every root its
    // set's minimum
    for ((a, b) <- edges if a != b) {
      val (ra, rb) = (find(a), find(b))
      if (ra != rb) parent(math.max(ra, rb)) = math.min(ra, rb)
    }
    parent.keys.toList.map(x => x -> find(x)).toMap
  }
}
