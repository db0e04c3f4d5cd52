package graft

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.io.Tables
import graft.ops.LlmPipeline

/** dedup_cluster_cc's two tiers and the `sim_pairs` memo it reads: the
  * driver union-find tier must give exactly the min-label loop's rows
  * (no fixture reaches the 1M-pair gate, so the loop is called
  * directly), and the memo's producer/consumer contract holds. */
class DedupClusterCcSpec extends SparkSpec {

  /** Both tiers over the same nodes and pairs; asserts equal rows and
    * returns the driver tier's (vec_id, cluster_id). */
  private def bothTiers(
      ids: Seq[Long], pairs: Seq[(Long, Long)]): Seq[(Long, Long)] = {
    import spark.implicits._
    val nodes = ids.toDF("vec_id")
    val arr = pairs.map { case (a, b) => (a, b, 1.0) }.toArray
    val drv = LlmPipeline.ccDriver(nodes, arr)
    val loop = LlmPipeline.ccLoop(nodes, arr.toSeq.toDF("a_id", "b_id", "score"))
    assertSameRows(drv, loop, "driver vs loop:")
    drv.as[(Long, Long)].collect().toSeq
  }

  /** Spark jobs started from this thread while `body` runs. */
  private def jobsDuring(body: => Unit): Int = {
    val group = "dedup-cluster-cc-spec"
    val n = new java.util.concurrent.atomic.AtomicInteger(0)
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        if (Option(e.properties)
            .exists(_.getProperty("spark.jobGroup.id") == group))
          n.incrementAndGet()
    }
    val sc = spark.sparkContext
    sc.addSparkListener(listener)
    sc.setJobGroup(group, "jobsDuring")
    try {
      body
      // the listener bus is async; private[spark] is public in bytecode
      val bus = sc.getClass.getMethod("listenerBus").invoke(sc)
      bus.getClass.getMethods
        .find(m => m.getName == "waitUntilEmpty" && m.getParameterCount == 0)
        .get.invoke(bus)
      n.get
    } finally {
      sc.clearJobGroup()
      sc.removeSparkListener(listener)
    }
  }

  test("driver tier == min-label loop over the same sim pairs at sf0.01") {
    val nodes = Tables.embeddings(spark, sf01).select(col("vec_id"))
    val rows = LlmPipeline.simPairArr(spark, sf01)
      .getOrElse(fail("sf0.01 sim pairs exceed the 1M-pair gate"))
    assert(rows.nonEmpty, "fixture has no sim pairs — comparison is vacuous")
    val drv = LlmPipeline.ccDriver(nodes, rows)
    assertSameRows(drv,
      LlmPipeline.ccLoop(nodes, LlmPipeline.simPairs(spark, sf01)), "sf0.01:")
    assertSameRows(LlmPipeline.dedupClusterCc(spark, sf01), drv, "operator:")
    val got = drv.collect().map(r => r.getLong(0) -> r.getLong(1))
    assert(got.length == nodes.distinct().count())
    assert(got.exists { case (v, c) => v != c }, "no multi-member cluster")
  }

  test("hand-built graphs: empty, chain, disjoint clumps, duplicate ids") {
    assert(bothTiers(Seq(5L, 3L, 9L), Nil) == Seq(3L -> 3L, 5L -> 5L, 9L -> 9L))
    // a–b–c with a≉c, the b–c edge first so the union re-roots to a
    assert(bothTiers(Seq(30L, 10L, 20L), Seq(20L -> 30L, 10L -> 20L)) ==
      Seq(10L -> 10L, 20L -> 10L, 30L -> 10L))
    assert(bothTiers(Seq(8L, 1L, 2L, 3L, 5L, 7L, 8L),
      Seq(2L -> 3L, 7L -> 8L, 1L -> 3L, 1L -> 2L)) ==
      Seq(1L -> 1L, 2L -> 1L, 3L -> 1L, 5L -> 5L, 7L -> 7L, 8L -> 7L))
  }

  test("one-row embeddings table: one cluster, the vector itself") {
    val dir = java.nio.file.Files.createTempDirectory("graft-cc-one").toString
    Tables.embeddings(spark, sf001).orderBy(col("vec_id")).limit(1)
      .write.mode("overwrite").parquet(s"$dir/embeddings.parquet")
    val one = Tables.embeddings(spark, dir).select(col("vec_id"))
      .collect().map(_.getLong(0)).toSeq
    val got = LlmPipeline.dedupClusterCc(spark, dir)
    assertSameRows(got,
      LlmPipeline.ccLoop(Tables.embeddings(spark, dir).select(col("vec_id")),
        LlmPipeline.simPairs(spark, dir)), "one row:")
    assert(got.collect().map(r => (r.getLong(0), r.getLong(1))).toSeq ==
      one.map(v => v -> v))
  }

  test("sim_pairs memo: cold consumer builds, producer always rebuilds, warm consumer is served") {
    Memo.clear()
    Memo.drainServed()
    var cold: DataFrame = null
    assert(jobsDuring { cold = LlmPipeline.dedupClusterCc(spark, sf01) } > 0,
      "a cold dedup_cluster_cc must build the pair set")
    assert(!Memo.drainServed().contains("sim_pairs"))
    val stored = LlmPipeline.simPairArr(spark, sf01).get
    assert(Memo.drainServed().contains("sim_pairs"),
      "the cold consumer did not memoize the pair set")

    assert(jobsDuring(LlmPipeline.simThreshold(spark, sf01)) > 0,
      "sim_threshold must recompute with a warm memo")
    assert(!Memo.drainServed().contains("sim_pairs"))
    val refreshed = LlmPipeline.simPairArr(spark, sf01).get
    assert(refreshed ne stored, "sim_threshold did not refresh the memo")
    assert(refreshed.sameElements(stored))
    Memo.drainServed()

    var warm: DataFrame = null
    assert(jobsDuring { warm = LlmPipeline.dedupClusterCc(spark, sf01) } == 0,
      "a served dedup_cluster_cc must run no job while it builds")
    assert(Memo.drainServed().contains("sim_pairs"))
    assertSameRows(warm, cold, "served vs cold:")
  }
}
