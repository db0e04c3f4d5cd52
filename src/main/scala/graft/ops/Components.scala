package graft.ops

import scala.collection.mutable

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Connected components of an undirected graph, each labelled by its
  * SMALLEST node id — the transitive-closure step of the near-duplicate
  * clusterers (dedup_cluster_cc, dedup_minhash_cc, cluster_dbscan,
  * cluster_hierarchical_cut). Two tiers, one answer:
  *
  *  - DRIVER (the pairs fit [[graft.Gated.Rows]], or are already on the
  *    driver — [[ofPairs]]): a min-root [[UnionFind]] labels the
  *    components in O(pairs) with O(nodes) driver memory, and one map
  *    over the distinct node ids applies the broadcast root map (an id
  *    in no pair is its own component). No job runs once the pairs are
  *    on the driver.
  *  - LOOP (past the gate — the scale path, [[loop]]): Pregel-style
  *    min-label propagation over the symmetrized pair list; rounds =
  *    graph diameter (near-dup graphs are dense clumps, 2-4 rounds in
  *    practice), one job per round, all per-round work joins/groupBys.
  *    The loop checkpoints the edges itself and frees every checkpoint
  *    but the returned labels, so no caller hands it blocks to own. At
  *    100 TB the same loop runs with the alternating large-star/
  *    small-star rounds (O(log n) rounds, Kiveris et al.'s CC-MR shape).
  *
  * [[of]] builds the pairs once: it checkpoints them lazily, the gated
  * collect's job fills the checkpoint, and past the gate the loop reads
  * those blocks. A caller that calls [[loop]] itself after a gated
  * collect of its own came back `None` (dedup_cluster_cc) builds its
  * pairs twice.
  *
  * Precondition (not checked): every pair id is a node id. The loop
  * tier would otherwise add rows for ids outside `nodes`.
  *
  * Every entry point returns (id, cluster_id), unordered, one row per
  * distinct node id; `id` keeps the name of `nodes`' one column. */
object Components {

  /** Components of `nodes` (one Long id column) under the edges in the
    * first two Long columns of `pairs`: the driver tier when the pairs
    * pass [[graft.Gated.Rows]], else the loop over `pairs`. */
  def of(nodes: DataFrame, pairs: DataFrame): DataFrame =
    of(nodes, pairs, graft.Gated.Rows)

  /** [[of]] with an explicit gate — the test seam. */
  private[graft] def of(nodes: DataFrame, pairs: DataFrame, gate: Int): DataFrame = {
    val s = nodes.sparkSession
    import s.implicits._
    // lazy: the gated collect's one job materializes the checkpoint
    val ids = pairs.select(col(pairs.columns(0)), col(pairs.columns(1)))
      .localCheckpoint(eager = false)
    try graft.Gated.collect(ids.as[(Long, Long)], gate) match {
      case Some(arr) => ofPairs(nodes, arr)
      case None => loop(nodes, ids)
    } finally graft.LoopConf.release(ids)
  }

  /** The driver tier over pairs already on the driver. */
  def ofPairs(nodes: DataFrame, pairs: Array[(Long, Long)]): DataFrame = {
    val s = nodes.sparkSession
    import s.implicits._
    val id = nodes.columns.head
    val uf = new UnionFind
    pairs.foreach(p => uf.union(p._1, p._2))
    val bc = graft.Broadcasts.track(s.sparkContext.broadcast(uf.rootMap))
    nodes.select(col(id)).distinct().as[Long]
      .map(v => (v, bc.value.getOrElse(v, v)))
      .toDF(id, "cluster_id")
  }

  /** The loop tier. Labels only ever DECREASE (min-propagation), so the
    * global label sum is a fixpoint detector: unchanged sum ⇔ no node
    * changed — one cheap aggregate per round instead of an old-vs-new
    * join, and that aggregate's job is also what materializes the
    * round's LAZY checkpoint (1 job/round). */
  private[graft] def loop(nodes: DataFrame, pairs: DataFrame): DataFrame = {
    val s = nodes.sparkSession
    val id = nodes.columns.head
    val (a, b) = (col(pairs.columns(0)), col(pairs.columns(1)))
    val edges = pairs.select(a, b).union(pairs.select(b, a))
      .toDF("src", "dst")
      .localCheckpoint()
    var labels = nodes.select(col(id).as("v"), col(id).as("lbl"))
      .localCheckpoint()
    // static narrow loop compile (r16, graft.LoopConf): width from the
    // materialized label/edge counts; min-propagation is order-free, so
    // the narrow compile cannot change any label
    val w = graft.LoopConf.width(math.max(labels.count(), edges.count()))
    val maxRounds = 50
    val converged = graft.LoopConf.static(s, w) {
      // coalesce: the sum over no nodes is null
      def lblSum(df: DataFrame): Long =
        df.agg(coalesce(sum(col("lbl")), lit(0L))).head().getLong(0)
      var prevSum = lblSum(labels)
      var done = false
      var rounds = 0
      while (!done && rounds < maxRounds) {
        val prop = edges.join(labels, edges("src") === labels("v"))
          .select(edges("dst").as("v"), labels("lbl"))
        // lazy: the fixpoint-sum aggregate materializes the round's
        // checkpoint in its own job (1 job/round, not 2)
        val next = labels.unionByName(prop)
          .groupBy(col("v")).agg(min(col("lbl")).as("lbl"))
          .localCheckpoint(eager = false)
        val nextSum = lblSum(next)
        done = nextSum == prevSum
        prevSum = nextSum
        // the new checkpoint has materialized, so the previous round's
        // blocks are no longer read (ADVICE round-3)
        graft.LoopConf.release(labels)
        labels = next
        rounds += 1
      }
      done
    }
    graft.LoopConf.release(edges)
    if (!converged)
      // silent non-convergence would return WRONG cluster labels; the cap
      // is a diameter bound (≫ any near-dup clump), so hitting it means a
      // bug or pathological input — fail loudly (ADVICE round-3)
      throw new IllegalStateException(
        s"Components.loop: min-label propagation did not converge in " +
          s"$maxRounds rounds — non-converged labels would be wrong")
    labels.select(col("v").as(id), col("lbl").as("cluster_id"))
  }
}

/** Path-compressing union-find over Long ids whose root is always the
  * SMALLEST member of its component — so `find(x)` is exactly the label
  * the min-label loop ([[Components.loop]]) converges to. Driver-side
  * state for dimension-sized graphs: [[Components]]' driver tier and the
  * part-catalog contraction of [[Analytics.graphMstBoruvka]]. Unboxed
  * keys (`LongMap`); an id joins the domain on its first `find`/`union`. */
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
