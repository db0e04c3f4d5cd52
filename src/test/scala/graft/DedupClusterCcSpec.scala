package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.LogicalRDD
import org.apache.spark.sql.functions._

import graft.io.Tables
import graft.ops.{Analytics, Components, LlmPipeline}

/** The connected-components module behind the four CC keys
  * (dedup_cluster_cc, dedup_minhash_cc, cluster_dbscan,
  * cluster_hierarchical_cut): the driver union-find tier must give
  * exactly the min-label loop's rows. No fixture reaches the 1M-pair
  * gate, so the loop runs through the gate -1 seam or directly. The
  * `sim_pairs` memo's producer/consumer contract is a row of
  * MemoContractSpec. */
class DedupClusterCcSpec extends SparkSpec {

  /** `Components.of` at the default gate (driver) and at gate -1 (loop),
    * and `ofPairs`, over the same nodes and pairs: asserts equal rows and
    * returns the driver tier's (id, cluster_id) sorted by id. */
  private def tiersAgree(nodes: DataFrame, pairs: DataFrame, hint: String)
      : Seq[(Long, Long)] = {
    import spark.implicits._
    val id = nodes.columns.head
    def sorted(df: DataFrame) = df.orderBy(col(id))
    val drv = sorted(Components.of(nodes, pairs))
    assertSameRows(drv, sorted(Components.of(nodes, pairs, -1)),
      s"$hint driver vs loop:")
    val arr = pairs.select(pairs.columns.take(2).map(col): _*)
      .as[(Long, Long)].collect()
    assertSameRows(drv, sorted(Components.ofPairs(nodes, arr)),
      s"$hint of vs ofPairs:")
    drv.as[(Long, Long)].collect().toSeq
  }

  private def bothTiers(
      ids: Seq[Long], pairs: Seq[(Long, Long)]): Seq[(Long, Long)] = {
    import spark.implicits._
    tiersAgree(ids.toDF("vec_id"), pairs.toDF("a_id", "b_id"), "")
  }

  test("driver tier == min-label loop over the same sim pairs at sf0.01") {
    val nodes = Tables.embeddings(spark, sf01).select(col("vec_id"))
    val rows = LlmPipeline.simPairArr(spark, sf01)
      .getOrElse(fail("sf0.01 sim pairs exceed the 1M-pair gate"))
    assert(rows.nonEmpty, "fixture has no sim pairs — comparison is vacuous")
    val drv = Components.ofPairs(nodes, rows.map(p => (p._1, p._2)))
      .orderBy(col("vec_id"))
    assertSameRows(drv,
      Components.loop(nodes, LlmPipeline.simPairs(spark, sf01))
        .orderBy(col("vec_id")), "sf0.01:")
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

  test("degenerate inputs on both tiers: no nodes, one node, self-loop, repeated pairs") {
    assert(bothTiers(Nil, Nil) == Nil)
    assert(bothTiers(Seq(4L), Nil) == Seq(4L -> 4L))
    assert(bothTiers(Seq(4L), Seq(4L -> 4L)) == Seq(4L -> 4L))
    assert(bothTiers(Seq(6L, 2L, 9L), Seq(6L -> 6L, 9L -> 6L)) ==
      Seq(2L -> 2L, 6L -> 6L, 9L -> 6L))
    assert(bothTiers(Seq(3L, 1L, 2L),
      Seq(3L -> 1L, 1L -> 3L, 3L -> 1L, 2L -> 2L, 3L -> 1L)) ==
      Seq(1L -> 1L, 2L -> 2L, 3L -> 1L))
  }

  test("loop == driver on the minhash, dbscan core-core and kept forest edges at sf0.01") {
    def nonTrivial(got: Seq[(Long, Long)], hint: String): Unit =
      assert(got.exists { case (v, c) => v != c },
        s"$hint no multi-member component — comparison is vacuous")
    nonTrivial(tiersAgree(
      Tables.documents(spark, sf01).select(col("doc_id")),
      LlmPipeline.dedupNearMinhash(spark, sf01).select(col("a_id"), col("b_id")),
      "minhash:"), "minhash:")
    // cluster_dbscan's core-core edges: both ends have >= 3 eps-neighbors
    val eps = LlmPipeline.simPairs(spark, sf01).where(col("score") >= 0.32)
      .select(col("a_id"), col("b_id"))
    val core = eps.select(col("a_id").as("v"))
      .unionAll(eps.select(col("b_id").as("v")))
      .groupBy(col("v")).agg(count(lit(1)).as("deg"))
      .where(col("deg") >= 3).select(col("v"))
    nonTrivial(tiersAgree(core,
      eps.join(core.toDF("a_id"), Seq("a_id"), "left_semi")
        .join(core.toDF("b_id"), Seq("b_id"), "left_semi"),
      "dbscan:"), "dbscan:")
    // cluster_hierarchical_cut's kept forest edges over the forest nodes
    val forest = Analytics.graphMstBoruvka(spark, sf01)
    nonTrivial(tiersAgree(
      forest.select(col("p1").as("part"))
        .unionAll(forest.select(col("p2").as("part"))),
      forest.where(col("cnt") >= 3).select(col("p1"), col("p2")),
      "forest:"), "forest:")
  }

  test("past the gate over 64 partitions: the loop tier, pairs built once, the gated collect sends one partition's pairs") {
    import spark.implicits._
    val gate = 100
    // 100 stars (node i joins hub i % 100): 64 partitions of 200 pairs
    val edges = (100L until 12900L).map(i => (i, i % 100))
    val nodes = (0L until 12900L).toDF("v")
    val built = spark.sparkContext.longAccumulator("cc-pairs-built")
    val pairs = spark.sparkContext.parallelize(edges, 64)
      .map { e => built.add(1); e }.toDF("a", "b")
    var got: DataFrame = null
    val bytes = resultBytesByJob { got = Components.of(nodes, pairs, gate) }
    assert(got.queryExecution.logical.collectFirst { case r: LogicalRDD => r }
      .isDefined, "64 × 200 pairs passed a 100-pair gate")
    assert(built.value == edges.length,
      s"${built.value} pairs built for ${edges.length}: the loop rebuilt them")
    assertSameRows(got.orderBy(col("v")),
      Components.ofPairs(nodes, edges.toArray).orderBy(col("v")), "stars:")
    // the first job is the gated collect; one partition caps at gate + 1
    // pairs too, so 64 partitions may send no more than it does
    val one = resultBytesByJob(Components.of(nodes, pairs.coalesce(1), gate))
    assert(bytes.head <= 2 * one.head,
      s"the gated collect of 64 partitions sent ${bytes.head} bytes, of one ${one.head}")
  }

  test("building the CC keys at sf0.01 starts a pinned number of jobs") {
    // warm the memos first (sim_pairs, mst_forest) so the count is the
    // consumer's own build, independent of which specs ran before
    val pins = Seq("dedup_minhash_cc" -> 7, "cluster_dbscan" -> 7,
      "cluster_hierarchical_cut" -> 0, "dedup_cluster_cc" -> 0)
    val got = pins.map { case (k, _) =>
      val fn = SparkEntry.queries(k)
      fn(spark, sf01)
      k -> jobsDuring(fn(spark, sf01))
    }
    assert(got == pins)
  }

  test("one-row embeddings table: one cluster, the vector itself") {
    val dir = java.nio.file.Files.createTempDirectory("graft-cc-one").toString
    Tables.embeddings(spark, sf001).orderBy(col("vec_id")).limit(1)
      .write.mode("overwrite").parquet(s"$dir/embeddings.parquet")
    val one = Tables.embeddings(spark, dir).select(col("vec_id"))
      .collect().map(_.getLong(0)).toSeq
    val got = LlmPipeline.dedupClusterCc(spark, dir)
    assertSameRows(got,
      Components.loop(Tables.embeddings(spark, dir).select(col("vec_id")),
        LlmPipeline.simPairs(spark, dir)).orderBy(col("vec_id")), "one row:")
    assert(got.collect().map(r => (r.getLong(0), r.getLong(1))).toSeq ==
      one.map(v => v -> v))
  }
}
