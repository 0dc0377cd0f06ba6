package graft.queries

import org.scalatest.funsuite.AnyFunSuite

/** The shared in-memory union-find: every node maps to its
  * component's minimum, and a long chain fed worst-first does not
  * recurse its way off the stack. */
class UnionFindSpec extends AnyFunSuite {

  test("descending 100k-edge chain: every node's representative is 0") {
    val n = 100000L
    val edges = (n - 1 to 0L by -1L).map(i => (i, i + 1))
    val rep = UnionFind.representatives(edges)
    assert(rep.size == n + 1)
    assert((0L to n).forall(i => rep(i) == 0L))
  }

  test("mixed small graph: each representative is its component minimum") {
    val edges = Seq("m" -> "c", "c" -> "x", "q" -> "b", "b" -> "q",
      "z" -> "y", "y" -> "z", "k" -> "k", "x" -> "a", "p" -> "q")
    val rep = UnionFind.representatives(edges)
    assert(rep == Map("a" -> "a", "c" -> "a", "m" -> "a", "x" -> "a",
      "b" -> "b", "p" -> "b", "q" -> "b",
      "y" -> "y", "z" -> "y",
      "k" -> "k"))
  }
}
