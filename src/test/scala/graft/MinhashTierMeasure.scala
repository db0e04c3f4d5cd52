package graft

import org.apache.spark.sql.functions.{col, lit}
import graft.io.Tables
import graft.ops.LlmPipeline

/** Times both tiers of `dedup_near_minhash` on replicas of one fixture's
  * documents — the measurement behind `LlmPipeline.MinhashDriverDocs`:
  * per replica count, one warm-up per tier, then the median of 5 runs
  * per tier written to the noop sink, the tiers alternating.
  *
  * {{{
  *   sbt "Test/runMain graft.MinhashTierMeasure <sfDir> 1,2,4,8,16"
  * }}}
  * Replica N holds N copies of the documents table with `doc_id` offset
  * per copy, so every document has N - 1 exact duplicates; the replicas
  * are written under `java.io.tmpdir` and deleted at JVM exit. */
object MinhashTierMeasure {
  def main(args: Array[String]): Unit = {
    val src = args(0)
    val factors = args.lift(1).getOrElse("1,2,4,8,16").split(",").map(_.toInt)
    val spark = Session.local(4).appName("minhash-tier-measure").getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    val docs = Tables.documents(spark, src)
    val tiers = Seq("driver" -> (Int.MaxValue - 1), "distributed" -> -1)
    for (n <- factors.toSeq) {
      val dir = TempDirs.create(s"graft-minhash-x$n")
      (0 until n).map(i => docs.withColumn("doc_id",
          col("doc_id") + lit(i.toLong * 100000000L)))
        .reduce(_ unionByName _)
        .write.mode("overwrite").parquet(s"$dir/documents.parquet")
      val rows = Tables.documents(spark, dir).count()
      def run(gate: Int): Double = {
        val t0 = System.nanoTime()
        LlmPipeline.dedupNearMinhashAt(spark, dir, gate)
          .write.format("noop").mode("overwrite").save()
        (System.nanoTime() - t0) / 1e6
      }
      // one warm-up per tier, then 5 rounds alternating the tiers, so JIT
      // and host drift fall on both alike
      tiers.foreach { case (_, gate) => run(gate) }
      val ms = Seq.fill(5)(tiers.map { case (tier, gate) => tier -> run(gate) })
        .flatten.groupMap(_._1)(_._2)
      for ((tier, _) <- tiers) {
        val t = ms(tier).sorted
        println(f"$n%3dx $rows%7d docs  $tier%-12s median ${t(2)}%7.0f ms " +
          s"(${t.map(x => f"$x%.0f").mkString(", ")})")
      }
    }
    spark.stop()
  }
}

/** Heap use of the `dedup_near_minhash` driver tier at its byte bound —
  * the measurement behind `LlmPipeline.MinhashDriverBytes`: 8192
  * documents of at most `bytesPerDoc` each (UTF-8; default 4096, the
  * bound's share per document at the gate), each a random concatenation
  * of one fixture's texts and stored `copies` times with its own doc_id, so
  * every document has a candidate pair and the verify step builds every
  * shingle set. After a warm-up run it prints the heap live after a full
  * GC, then, over one more run, the peak heap left after any GC (live
  * data) and the peak heap in use (garbage included).
  *
  * {{{
  *   SPARK_DRIVER_MEM=3g sbt "Test/runMain graft.MinhashHeapMeasure <sfDir> <copies> <bytesPerDoc>"
  * }}} */
object MinhashHeapMeasure {
  def main(args: Array[String]): Unit = {
    import java.lang.management.{ManagementFactory, MemoryType}
    import scala.jdk.CollectionConverters._
    val src = args(0)
    val copies = args.lift(1).fold(2)(_.toInt)
    val maxBytes = args.lift(2).fold(4096)(_.toInt)
    val nDocs = 8192
    val spark = Session.local(4).appName("minhash-heap-measure").getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    import spark.implicits._
    val pool = Tables.documents(spark, src).select(col("text")).as[String]
      .collect().filter(t => t != null && t.nonEmpty)
    val rnd = new scala.util.Random(7)
    val texts = Seq.fill(nDocs / copies) {
      val sb = new StringBuilder
      var bytes = 0
      var next = pool(rnd.nextInt(pool.length))
      while (bytes + next.getBytes("UTF-8").length + 1 <= maxBytes) {
        if (bytes > 0) sb.append(' ')
        sb.append(next)
        bytes = sb.result().getBytes("UTF-8").length
        next = pool(rnd.nextInt(pool.length))
      }
      sb.result()
    }
    val dir = TempDirs.create("graft-minhash-heap")
    texts.zipWithIndex
      .flatMap { case (t, i) => (0 until copies).map(c => (c.toLong * nDocs + i, t)) }
      .toDF("doc_id", "text").coalesce(1)
      .write.mode("overwrite").parquet(s"$dir/documents.parquet")
    val textMb = texts.map(_.getBytes("UTF-8").length.toLong).sum * copies / 1e6

    val heapPools = ManagementFactory.getMemoryPoolMXBeans.asScala
      .filter(_.getType == MemoryType.HEAP).toSeq
    val heapNames = heapPools.map(_.getName).toSet
    val liveAfterGc = new java.util.concurrent.atomic.AtomicLong
    ManagementFactory.getGarbageCollectorMXBeans.asScala.foreach { gc =>
      gc.asInstanceOf[javax.management.NotificationEmitter].addNotificationListener(
        (n: javax.management.Notification, _: AnyRef) => {
          val info = com.sun.management.GarbageCollectionNotificationInfo.from(
            n.getUserData.asInstanceOf[javax.management.openmbean.CompositeData])
          val after = info.getGcInfo.getMemoryUsageAfterGc.asScala
            .collect { case (name, u) if heapNames(name) => u.getUsed }.sum
          liveAfterGc.accumulateAndGet(after, math.max)
        }, null, null)
    }
    def run(): (Long, Double) = {
      val t0 = System.nanoTime()
      val df = LlmPipeline.dedupNearMinhash(spark, dir)
      assert(df.queryExecution.analyzed.collectLeaves().forall(_.isInstanceOf[
        org.apache.spark.sql.catalyst.plans.logical.LocalRelation]),
        "the input did not take the driver tier")
      (df.count(), (System.nanoTime() - t0) / 1e6)
    }
    run()
    System.gc()
    val base = ManagementFactory.getMemoryMXBean.getHeapMemoryUsage.getUsed
    liveAfterGc.set(0)
    heapPools.foreach(_.resetPeakUsage())
    val (pairs, ms) = run()
    val peakUsed = heapPools.map(_.getPeakUsage.getUsed).sum
    val max = Runtime.getRuntime.maxMemory
    println(f"$nDocs docs, $textMb%.1f MB text, $copies copies: $pairs pairs " +
      f"in $ms%.0f ms; heap max ${max / 1e6}%.0f MB, live before " +
      f"${base / 1e6}%.0f MB, peak live after GC ${liveAfterGc.get / 1e6}%.0f MB, " +
      f"peak in use ${peakUsed / 1e6}%.0f MB")
    spark.stop()
  }
}
