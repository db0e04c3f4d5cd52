package graft

/** Scratch harness: measures 16×-replication ratios for candidate keys so
  * ScaleStressSpec bounds are MEASURED, not guessed (r9 verdict rule).
  * Run: sbt "Test/runMain graft.StressMeasure key1,key2" — prints
  * t1 (sf0.01, min-of-2), t16 (16× replicas, min-of-2), ratio. */
object StressMeasure {
  def main(args: Array[String]): Unit = {
    val keys = args.headOption.map(_.split(",").toSeq).getOrElse(Seq.empty)
    val spark = Session.local(32).getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    val sf01 = "/root/testdata/sf0.01"
    val out = TempDirs.create("graft-stress")
    ScaleStress.replicate(spark, sf01, out, 16)
    def timeOnce(name: String, dir: String): Double = {
      val t0 = System.nanoTime()
      SparkEntry.queries(name)(spark, dir).count()
      Broadcasts.destroyAll()
      spark.catalog.clearCache()
      (System.nanoTime() - t0) / 1e9
    }
    def minOf2(name: String, dir: String): Double =
      math.min(timeOnce(name, dir), timeOnce(name, dir))
    keys.foreach { k =>
      val t1 = math.max(minOf2(k, sf01), 0.05)
      val tn = minOf2(k, out)
      println(f"MEASURE $k%-36s t1=$t1%.2fs t16=$tn%.2fs ratio=${tn / t1}%.1fx")
    }
    spark.stop()
  }
}
