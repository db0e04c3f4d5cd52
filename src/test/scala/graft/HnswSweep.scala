package graft

import org.apache.spark.sql.functions._

/** Scratch harness: sweeps the knn_hnsw_sharded knob frontier
  * (probe × repl × cellsMult) at a given sf and prints measured recall@3
  * vs candidate fraction per point (r15 verdict task 4: is there a point
  * with recall >= 0.90 at cand_frac <= 0.40?). Run:
  * sbt "Test/runMain graft.HnswSweep /root/testdata/sf0.1". */
object HnswSweep {
  def main(args: Array[String]): Unit = {
    val d = args.headOption.getOrElse("/root/testdata/sf0.1")
    val spark = Session.local(32).getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    import spark.implicits._
    // exact top-3 truth from the brute rung
    val brute = ops.LlmPipeline.knnCosine(spark, d)
      .select(col("vec_id"), col("b_id")).localCheckpoint()
    val nq = brute.select(col("vec_id")).distinct().count()
    val nVec = graft.io.Tables.embeddings(spark, d).count()
    val grid: Seq[(Int, Int, Int)] =
      if (args.length > 1 && args(1) == "wide")
        for (r <- Seq(2, 3, 4); p <- Seq(64, 48, 40, 32)) yield (16, r, p)
      else
        for (c <- Seq(8, 4); r <- Seq(2, 3); p <- Seq(32, 24, 16, 8))
          yield (c, r, p)
    for ((cellsMult, repl, probe) <- grid) {
      val t0 = System.nanoTime()
      val all = ops.LlmPipeline
        .hnswShardedSearchAll(spark, d, cellsMult, repl, probe)
        .localCheckpoint()
      val sec = (System.nanoTime() - t0) / 1e9
      val hits = all.where(col("b_id") >= 0)
        .select(col("vec_id"), col("b_id"))
        .join(brute, Seq("vec_id", "b_id"), "left_semi").count()
      val recall = hits.toDouble / (nq * 3)
      val r = all.select(col("vec_id"), col("n_scored"))
        .groupBy(col("vec_id")).agg(max(col("n_scored")).as("m"))
        .agg(sum(col("m")).as("s"), count(lit(1)).as("c")).first()
      val frac = r.getLong(0).toDouble / (r.getLong(1).toDouble * (nVec - 1))
      println(f"SWEEP cellsMult=$cellsMult repl=$repl probe=$probe%2d " +
        f"recall=$recall%.4f cand_frac=$frac%.4f sec=$sec%.2f")
      Broadcasts.destroyAll()
      spark.catalog.clearCache()
    }
    spark.stop()
  }
}
