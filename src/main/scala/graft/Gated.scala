package graft

import org.apache.spark.sql.Dataset

/** The broadcast-tier driver collect: the one place a data-sized result
  * is brought to the driver behind a row-count gate (the memoized edge
  * and pair sets, `coPairArr`, `bfsFlatArr`, `sccEdgeArr`, `simPairArr`).
  *
  * - ONE job: every partition ships at most `Rows + 1` rows
  *   (`mapPartitions(_.take(Rows + 1))`), so the gate check needs no
  *   separate count.
  * - Exact at or under the gate: if the total is ≤ `Rows`, no partition
  *   reached its cap, so the array is the whole dataset.
  * - `None` past the gate: callers then take their distributed build.
  * - Known risk: with P partitions the driver can receive up to
  *   P × (Rows + 1) rows before it decides, which a few dozen full
  *   partitions push past the default 1g `spark.driver.maxResultSize`;
  *   there the job aborts instead of returning `None`.
  *
  * The IVF tier check (`LlmPipeline.ivfDriverVecs`, 4096 vectors) does
  * not come here: it reads a parquet table, where `limit(gate + 1)`
  * stops after about gate + 1 rows in one job, while this collect would
  * ship gate + 1 rows from every partition. */
object Gated {

  /** The broadcast-tier row gate (1M rows). */
  val Rows = 1000000

  /** The dataset's rows when there are at most [[Rows]] of them, else
    * `None`; unsorted, in collect order. */
  def collect[T](ds: Dataset[T]): Option[Array[T]] = collect(ds, Rows)

  /** [[collect]] with an explicit gate — the test seam. */
  private[graft] def collect[T](ds: Dataset[T], gate: Int): Option[Array[T]] = {
    val arr = ds.mapPartitions(_.take(gate + 1))(ds.encoder).collect()
    if (arr.length > gate) None else Some(arr)
  }
}
