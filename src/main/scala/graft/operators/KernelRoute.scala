package graft.operators

import org.apache.spark.sql.{DataFrame, Row}

/** A driver-side edge list in dense-id space: `nodes` holds the
  * distinct endpoint ids in ascending order, and edge `i` runs from
  * `nodes(src(i))` to `nodes(dst(i))`. Dense order is id order, so a
  * kernel's smaller-index tie-break is the declarative plan's
  * smaller-id tie-break. Built by [[KernelRoute.edges]], one entry per
  * input row: multi-edges and self-loops are kept for the operators
  * that count them per row. */
private[operators] final class DenseEdges(val nodes: Array[Long],
                                          val src: Array[Int], val dst: Array[Int]) {
  def n: Int = nodes.length
  def m: Int = src.length

  /** The distinct edges, sorted by `(src, dst)`: each pair packs into
    * one long `(src << 32) | dst` (dense ids are non-negative ints),
    * and one primitive sort plus a unique scan removes duplicates — no
    * boxing, no per-pair allocation. The node universe is unchanged.
    * The sort order is what lets a canonical `(u < v)` edge list build
    * its symmetric CSR without per-list sorts. */
  def distinct: DenseEdges = {
    val enc = new Array[Long](m)
    var i = 0
    while (i < m) { enc(i) = (src(i).toLong << 32) | dst(i).toLong; i += 1 }
    java.util.Arrays.sort(enc)
    var k = 0
    i = 0
    while (i < m) {
      if (i == 0 || enc(i) != enc(i - 1)) { enc(k) = enc(i); k += 1 }
      i += 1
    }
    val u = new Array[Int](k); val v = new Array[Int](k)
    i = 0
    while (i < k) { u(i) = (enc(i) >>> 32).toInt; v(i) = enc(i).toInt; i += 1 }
    new DenseEdges(nodes, u, v)
  }
}

/** The entry every size-routed graph operator takes to its driver
  * kernel ([[Graph]]'s routers and [[Dedup.connectedComponents]]). Up
  * to `bound` input rows an operator runs as one driver-fold or
  * broadcast-CSR kernel — at sub-second scale the declarative plan's
  * per-round join/aggregate/checkpoint jobs ARE the cost. Above the
  * bound the declarative plan (the 100 TB shape) runs unchanged, and
  * it stays the reference the differential specs compare each kernel
  * against: a bound ≤ 0 forces it.
  *
  * Probe and collect are ONE bounded execution ([[Bounded.collect]]),
  * so the guard holds even for a non-deterministic source whose
  * separate count would disagree with a second collect, and the
  * over-bound route pays no extra pass. The probe counts RAW rows,
  * with no distinct exchange before the guard; raw ≥ distinct, so the
  * bound still caps what reaches the driver, and a duplicate-heavy
  * graph routes conservatively to the declarative plan, whose own
  * distinct handles it at any scale. The canonical kernels dedup
  * exactly on the driver ([[DenseEdges.distinct]]).
  *
  * The rows are Row-typed, ~80–100 B each on the driver; this is the
  * one place a typed, smaller collect would go. */
private[operators] object KernelRoute {

  /** The rows of a two-long-column edge frame when there are at most
    * `bound` of them, mapped to dense ids with duplicates kept. Declines
    * (None) above the bound, at a bound ≤ 0, and when any endpoint is
    * null: no projection filtered those, and the declarative plan's
    * join semantics define what a null node means. */
  def edges(df: DataFrame, bound: Int): Option[DenseEdges] =
    Bounded.collect(df, bound)
      .filter(_.forall(r => !r.isNullAt(0) && !r.isNullAt(1)))
      .map(dense)

  private def dense(rows: Array[Row]): DenseEdges = {
    val m = rows.length
    val a = new Array[Long](m); val b = new Array[Long](m)
    var i = 0
    while (i < m) { a(i) = rows(i).getLong(0); b(i) = rows(i).getLong(1); i += 1 }
    val ids = new Array[Long](2 * m)
    System.arraycopy(a, 0, ids, 0, m)
    System.arraycopy(b, 0, ids, m, m)
    java.util.Arrays.sort(ids)
    var n = 0
    i = 0
    while (i < ids.length) {
      if (i == 0 || ids(i) != ids(n - 1)) { ids(n) = ids(i); n += 1 }
      i += 1
    }
    val nodes = java.util.Arrays.copyOf(ids, n)
    val src = new Array[Int](m); val dst = new Array[Int](m)
    i = 0
    while (i < m) {
      src(i) = java.util.Arrays.binarySearch(nodes, a(i))
      dst(i) = java.util.Arrays.binarySearch(nodes, b(i))
      i += 1
    }
    new DenseEdges(nodes, src, dst)
  }
}
