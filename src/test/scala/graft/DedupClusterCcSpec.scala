package graft

import org.apache.spark.sql.functions._

import graft.io.Tables
import graft.ops.LlmPipeline

/** dedup_cluster_cc's two tiers over the `sim_pairs` memo it reads: the
  * driver union-find tier must give exactly the min-label loop's rows
  * (no fixture reaches the 1M-pair gate, so the loop is called
  * directly). The memo's producer/consumer contract is a row of
  * MemoContractSpec. */
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
}
