package graft.ops

import scala.collection.mutable

/** Path-compressing union-find over Long ids whose root is always the
  * SMALLEST member of its component — so `find(x)` is exactly the label
  * min-label propagation ([[LlmPipeline.minLabelCc]]) converges to.
  * Driver-side state for dimension-sized graphs: the part-catalog
  * contraction of [[Analytics.graphMstBoruvka]] and the memo-served
  * sim-pair components of [[LlmPipeline.dedupClusterCc]]. Unboxed keys
  * (`LongMap`); an id joins the domain on its first `find`/`union`. */
private[graft] final class UnionFind {
  private val parent = mutable.LongMap.empty[Long]

  def find(x: Long): Long = {
    var r = parent.getOrElseUpdate(x, x)
    while (parent(r) != r) r = parent(r)
    var c = x
    while (c != r) { val n = parent(c); parent(c) = r; c = n }
    r
  }

  /** Merges the components of `a` and `b` under the smaller root; false
    * when they already were one component. */
  def union(a: Long, b: Long): Boolean = {
    val ra = find(a); val rb = find(b)
    if (ra == rb) false
    else { parent(math.max(ra, rb)) = math.min(ra, rb); true }
  }

  /** Every id seen so far mapped to its root (component min member). */
  def rootMap: mutable.LongMap[Long] = {
    val ids = parent.keysIterator.toArray
    mutable.LongMap.from(ids.iterator.map(i => i -> find(i)))
  }
}
