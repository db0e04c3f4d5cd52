package graft

import scala.reflect.ClassTag

import org.apache.spark.HashPartitioner
import org.apache.spark.rdd.ShuffledRDD
import org.apache.spark.sql.Dataset
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.encoders.encoderFor
import org.apache.spark.sql.execution.UnsafeRowSerializer

/** The broadcast-tier driver collect: the one place a data-sized result
  * is brought to the driver behind a row-count gate (the memoized edge
  * and pair sets, `coPairArr`, `bfsFlatArr`, `sccEdgeArr`, `simPairArr`,
  * and the pair sets of [[graft.ops.Components.of]]).
  *
  * - ONE job: every partition caps itself at `Rows + 1` rows, the capped
  *   rows meet in one task behind a shuffle (executor to executor, not
  *   through the driver), and that task keeps the first `Rows + 1`. It is
  *   the only task that sends rows to the driver, so the driver receives
  *   at most `Rows + 1` rows whatever the partition count, and the gate
  *   check needs no separate count.
  * - Exact at or under the gate: if the total is ≤ `Rows`, no partition
  *   reached its cap, so the array is the whole dataset.
  * - `None` past the gate: callers then take their distributed build.
  *
  * The shuffle is one more stage in the job. The rows cross it in Spark
  * SQL's binary row format (`UnsafeRowSerializer`, as an SQL exchange
  * ships them) and become `T` on the driver, as `Dataset.collect` does.
  *
  * The IVF tier check (`LlmPipeline.ivfDriverVecs`, 4096 vectors) does
  * not come here: it reads a parquet table, where `limit(gate + 1)`
  * stops scanning after about gate + 1 rows, while this collect reads
  * every partition. */
object Gated {

  /** The broadcast-tier row gate (1M rows). */
  val Rows = 1000000

  /** The dataset's rows when there are at most [[Rows]] of them, else
    * `None`; unsorted, in no fixed order. */
  def collect[T](ds: Dataset[T]): Option[Array[T]] = collect(ds, Rows)

  /** [[collect]] with an explicit gate — the test seam. */
  private[graft] def collect[T](ds: Dataset[T], gate: Int): Option[Array[T]] = {
    implicit val ct: ClassTag[T] = ds.encoder.clsTag
    val capped = ds.mapPartitions(_.take(gate + 1))(ds.encoder)
    // copies: the plan and the serializer's reader each reuse one row
    val rows = new ShuffledRDD[Int, InternalRow, InternalRow](
        capped.queryExecution.toRdd.map(r => (0, r.copy())),
        new HashPartitioner(1))
      .setSerializer(new UnsafeRowSerializer(capped.schema.length))
      .mapPartitions(_.take(gate + 1).map(_._2.copy()))
      .collect()
    if (rows.length > gate) None
    else Some(rows.map(encoderFor(ds.encoder).resolveAndBind().createDeserializer()))
  }
}
