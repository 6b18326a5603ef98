package graft

import graft.model.OnionGraph
import org.apache.spark.sql.functions.{col, concat_ws}

/** Driver-side union-find: the independent reference the engine's
  * weak-components kernel is checked against. */
object UnionFind {

  /** Every element mapped to its component's minimum element, after
    * uniting each pair. */
  def minLabels[A](elems: Iterable[A], pairs: Iterable[(A, A)])
                  (implicit ord: Ordering[A]): Map[A, A] = {
    val parent = scala.collection.mutable.Map[A, A]()
    def find(x: A): A = {
      val p = parent.getOrElseUpdate(x, x)
      if (p == x) x else { val r = find(p); parent(x) = r; r }
    }
    elems.foreach(find)
    // the smaller root always wins, so a root is its component's min
    pairs.foreach { case (a, b) =>
      val (ra, rb) = (find(a), find(b))
      if (ra != rb) parent(ord.max(ra, rb)) = ord.min(ra, rb)
    }
    parent.keys.toSeq.map(x => x -> find(x)).toMap
  }

  /** Weak components of `g` in the engine's output contract: vid →
    * the component's lexicographic-min "layer:nodeId". */
  def weakComponents(g: OnionGraph): Map[Long, String] = {
    val names = g.vertices
      .select(col("vid"), concat_ws(":", col("layer"), col("nodeId")))
      .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    val edges = g.edges.select("src", "dst").collect()
      .map(r => names(r.getLong(0)) -> names(r.getLong(1)))
    val lbl = minLabels(names.values, edges)
    names.map { case (vid, n) => vid -> lbl(n) }
  }
}
