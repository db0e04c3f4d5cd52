package graft

import org.apache.spark.rdd.RDD
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution.LogicalRDD

/** STATIC NARROW LOOP COMPILE — the r16 recipe for the iterative
  * fixpoint operators (ALS proved it on the #1 key; this generalizes
  * it to the graph family):
  *
  * The r15/r16 frontier finding recorded in SURVEY.md said "frontier
  * loops keep AQE" because compiling them statically at the SESSION
  * width (32) made their tiny per-round exchanges pay 32 near-empty
  * tasks each — AQE's post-shuffle coalescing was worth more than its
  * per-stage materialization barriers cost. But the barrier jobs are
  * the loops' real tax at bench scale (measured with graft.Explain:
  * graph_louvain ran 99 driver jobs, graph_hits 59, graph_pagerank 60,
  * betweenness 65 — one job per AQE query stage per round, each over
  * frames of a few thousand rows). Both costs disappear together when
  * the loop compiles with AQE OFF at a width DERIVED FROM THE DATA:
  * coalescing is then done once by construction (the narrow width is
  * what AQE would have picked), and no stage barriers remain.
  *
  * The width is a pure function of input rows (~[[Stride]] rows per
  * partition, a few MB of keyed long rows), NOT of the local core
  * count: the fixture loops compile 1–5 wide, a 100 TB input compiles
  * thousands wide, and the driver's lower-core bench runs see the
  * same plan. Every operator that rides this helper is pinned
  * partitioning-independent (integer-grid sums / min-label /
  * exact-count semantics), so the narrow compile cannot change any
  * result — the pins run unchanged.
  *
  * Loop-INVARIANT join sides should be pre-partitioned AND pre-sorted
  * on their join key before their localCheckpoint (LogicalRDD
  * preserves outputPartitioning and outputOrdering), so each round's
  * sort-merge join streams them with no exchange and no sort — with
  * AQE off there is no runtime broadcast conversion to hide a
  * repeated big-side exchange (the ALS byItem/byUser shape).
  */
object LoopConf {
  /** Rows per loop partition. */
  val Stride = 262144L

  /** Scale-adaptive loop width for `rows` input rows. */
  def width(rows: Long): Int =
    math.max(1L, math.min(1L << 20, (rows + Stride - 1) / Stride)).toInt

  /** Run `body` (the loop's plan-construction AND in-loop actions)
    * with AQE off and the shuffle width pinned to `w`; always restores
    * both. The frame a caller RETURNS compiles after restore, so the
    * downstream readout keeps AQE.
    *
    * THREAD-CONFINEMENT INVARIANT (ADVICE r16): this mutates SESSION
    * conf, so while a static block is open, no OTHER thread may compile
    * a plan against the same session — it would silently plan AQE-off
    * at the narrow width. The engine's execution surfaces run queries
    * sequentially, and the one overlapped background job that coexists
    * with a static region (recommendAls' candidate input) forces its
    * plan on the calling thread BEFORE spawning; any new Pools.spawn
    * site must do the same (pre-force queryExecution.executedPlan, or
    * spawn only plans already compiled). */
  def static[T](s: SparkSession, w: Int)(body: => T): T = {
    val aqeKey = "spark.sql.adaptive.enabled"
    val partKey = "spark.sql.shuffle.partitions"
    val aqePrev = s.conf.get(aqeKey, "true")
    val partPrev = s.conf.get(partKey)
    try {
      s.conf.set(aqeKey, "false")
      s.conf.set(partKey, w)
      body
    } finally {
      s.conf.set(aqeKey, aqePrev)
      s.conf.set(partKey, partPrev)
    }
  }

  /** Frees the blocks a `localCheckpoint` pinned under each frame, without
    * waiting: a loop calls it on a superseded round's checkpoint once the
    * next one has materialized, and on its loop-invariant inputs when
    * nothing lazy reads them any more. A checkpointed frame's plan is its
    * own LogicalRDD, so the first one found is that frame's blocks. */
  def release(dfs: DataFrame*): Unit =
    dfs.foreach(df => pinnedRdd(df).foreach(_.unpersist(blocking = false)))

  private def pinnedRdd(df: DataFrame): Option[RDD[_]] =
    df.queryExecution.logical.collectFirst { case r: LogicalRDD => r.rdd }
}
