package graft.queries

import scala.collection.mutable

/** Union-find over ordered keys, shared by the in-memory component
  * closures (q57/q110/VectorOps and the ER block closure). Smaller root
  * wins, so each root is its component's minimum. `find` walks and
  * compresses with loops, never recursion: an edge chain of any length
  * (the collected path takes up to `DriverEdgeCutoff` edges) fits the
  * default JVM stack. */
private[graft] object UnionFind {

  /** Every node named by `edges` → the minimum node of its component. */
  def representatives[A](edges: Iterable[(A, A)])(implicit ord: Ordering[A])
      : collection.Map[A, A] = {
    val parent = mutable.HashMap.empty[A, A]
    def find(x: A): A = {
      var r = x
      while (parent(r) != r) r = parent(r)
      var c = x
      while (c != r) { val nx = parent(c); parent(c) = r; c = nx }
      r
    }
    edges.foreach { case (a, b) =>
      parent.getOrElseUpdate(a, a); parent.getOrElseUpdate(b, b)
      val ra = find(a); val rb = find(b)
      if (ra != rb) { if (ord.lt(ra, rb)) parent(rb) = ra else parent(ra) = rb }
    }
    parent.keys.toSeq.foreach(find) // full compression: parent(k) is k's root
    parent
  }
}
