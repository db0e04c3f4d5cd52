package graft

import org.apache.spark.sql.DataFrame
import graft.ops.LlmPipeline

/** Times both tiers of `knn_index_restart` and `knn_ivf` on each table
  * directory given — the measurement behind `LlmPipeline.IvfDriverRows`:
  * per (directory, key, tier), one warm-up and the median of 5 runs
  * written to the noop sink.
  *
  * {{{
  *   sbt "Test/runMain graft.IvfTierMeasure <sfDir> <replicaDir>..."
  * }}}
  * A replica directory needs only `embeddings.parquet` (e.g. N copies of
  * a fixture's table with `vec_id` offset per copy). */
object IvfTierMeasure {
  def main(args: Array[String]): Unit = {
    val spark = Session.local(4).appName("ivf-tier-measure").getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    val tiers = Seq("driver" -> (Int.MaxValue - 1), "distributed" -> -1)
    for (d <- args.toSeq; (tier, gate) <- tiers) {
      val keys = Seq[(String, () => DataFrame)](
        "knn_index_restart" -> (() => LlmPipeline.knnIndexRestartAt(spark, d, gate)),
        "knn_ivf" -> (() => LlmPipeline.knnIvfAt(spark, d, gate)))
      for ((key, build) <- keys) {
        def run(): Double = {
          val t0 = System.nanoTime()
          build().write.format("noop").mode("overwrite").save()
          (System.nanoTime() - t0) / 1e6
        }
        run()
        val ms = Seq.fill(5)(run()).sorted
        println(f"$d%-40s $key%-18s $tier%-12s median ${ms(2)}%6.0f ms " +
          s"(${ms.map(t => f"$t%.0f").mkString(", ")})")
      }
    }
    spark.stop()
  }
}
