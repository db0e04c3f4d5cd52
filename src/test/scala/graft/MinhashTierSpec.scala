package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions.col
import graft.io.Tables
import graft.ops.LlmPipeline

/** The minhash driver tier (`LlmPipeline.MinhashDriverDocs`) against the
  * distributed tier: `dedup_near_minhash` gives the same rows either way,
  * on the fixtures and on degenerate tables, the tier check stays
  * bounded, and the build starts a pinned number of jobs. */
class MinhashTierSpec extends SparkSpec {

  /** A gate below every row count: even an empty table takes the
    * distributed tier. */
  private val distributed = -1

  /** A table directory holding `docs` as its documents table, deleted
    * when the test JVM exits. */
  private def documentsDir(docs: DataFrame): String = {
    val dir = tempDir("graft-minhash-tier")
    docs.write.mode("overwrite").parquet(s"$dir/documents.parquet")
    dir
  }

  /** A documents table of `texts`, each doc_id its position. */
  private def textsDir(texts: Seq[String]): String = {
    import spark.implicits._
    documentsDir(texts.zipWithIndex.map { case (t, i) => (i.toLong, t) }
      .toDF("doc_id", "text").coalesce(1))
  }

  /** The driver tier's result: a frame over local rows only. */
  private def onDriver(df: DataFrame): Boolean =
    df.queryExecution.analyzed.collectLeaves().forall(
      _.isInstanceOf[org.apache.spark.sql.catalyst.plans.logical.LocalRelation])

  private def assertTiersAgree(d: String, hint: String): Long = {
    val local = LlmPipeline.dedupNearMinhash(spark, d)
    assert(onDriver(local), s"$hint the default gate did not take the driver tier")
    assertSameRows(local, LlmPipeline.dedupNearMinhashAt(spark, d, distributed),
      s"$hint dedup_near_minhash")
    local.count()
  }

  test("driver tier == distributed tier row for row at sf0.001 and sf0.01") {
    Seq(sf001 -> "sf0.001:", sf01 -> "sf0.01:").foreach { case (d, hint) =>
      assert(assertTiersAgree(d, hint) > 0, s"$hint no near-duplicate pairs")
    }
    // dedup_minhash_cc reads the same pairs, so its components agree too
    val nodes = Tables.documents(spark, sf01).select(col("doc_id"))
    assertSameRows(LlmPipeline.dedupMinhashCc(spark, sf01).select(
        col("doc_id"), col("cluster_id")),
      graft.ops.Components.of(nodes,
          LlmPipeline.dedupNearMinhashAt(spark, sf01, distributed)
            .select(col("a_id"), col("b_id")))
        .select(col("doc_id"), col("cluster_id")).orderBy(col("doc_id")),
      "dedup_minhash_cc:")
  }

  test("degenerate inputs on both tiers: no docs, one doc, short docs, exact duplicates") {
    import spark.implicits._
    val empty = documentsDir(Seq.empty[(Long, String)].toDF("doc_id", "text"))
    assert(assertTiersAgree(empty, "no docs:") == 0)
    assert(assertTiersAgree(textsDir(Seq("a b c d e")), "one doc:") == 0)
    assert(assertTiersAgree(textsDir(Seq("", "a", "a b", "a b", "x y")),
      "short docs:") == 0)
    val dup = "the fast order key table scan sort merge row"
    val d = textsDir(Seq.fill(5)(dup) :+ "an unrelated document of its own")
    assert(assertTiersAgree(d, "exact duplicates:") == 10)
    assert(LlmPipeline.dedupNearMinhash(spark, d).as[(Long, Long, Double)]
      .collect().forall { case (a, b, j) => a < b && b < 5 && j == 1.0 })
  }

  test("past the gate the tier check reads gate + 1 rows and bounded text") {
    import spark.implicits._
    val gate = 10
    val pulled = spark.sparkContext.longAccumulator("minhash-tier-rows")
    val many = spark.range(0, 5000, 1, 50).map { i =>
      pulled.add(1)
      (i.longValue, "a b c d")
    }.toDF("doc_id", "text")
    assert(LlmPipeline.minhashDriverDocs(many, gate).isEmpty)
    assert(pulled.value <= gate + 1,
      s"the tier check read ${pulled.value} rows from 50 partitions")

    // the byte budget: past it only the lengths reach the driver
    val big = spark.range(0, 3, 1, 1).map { i =>
      (i.longValue, new scala.util.Random(i).alphanumeric.take(1000).mkString)
    }.toDF("doc_id", "text")
    var over: Option[Array[(Long, String)]] = None
    val overBytes = resultBytesByJob {
      over = LlmPipeline.minhashDriverDocs(big, gate, 2999)
    }
    assert(over.isEmpty && overBytes.size == 1,
      s"over the byte budget: ${over.map(_.length)} docs, jobs $overBytes")
    var within: Option[Array[(Long, String)]] = None
    val withinBytes = resultBytesByJob {
      within = LlmPipeline.minhashDriverDocs(big, gate, 3000)
    }
    assert(within.map(_.length).contains(3) && withinBytes.size == 2)
    // the texts alone are 3000 incompressible bytes; the length job
    // sends far less
    assert(overBytes.head < 3000 && withinBytes(1) > 3000,
      s"length job ${overBytes.head} bytes, text job ${withinBytes(1)}")

    // the keys themselves, on the sf0.01 documents as 20 files
    val d = documentsDir(Tables.documents(spark, sf01).repartition(20))
    val past = LlmPipeline.dedupNearMinhashAt(spark, d, gate)
    assert(!onDriver(past))
    assertSameRows(past, LlmPipeline.dedupNearMinhash(spark, d), "20 files:")
  }

  test("a duplicate clique past the pair budget takes the distributed tier") {
    // 100 copies share all 4 bands: 4 · C(100, 2) = 19,800 bucket pairs,
    // past the 128-per-document budget of gate 100 (12,800), inside
    // gate 200's (25,600)
    val d = textsDir(Seq.fill(100)("one two three four five six"))
    val past = LlmPipeline.dedupNearMinhashAt(spark, d, 100)
    val local = LlmPipeline.dedupNearMinhashAt(spark, d, 200)
    assert(!onDriver(past) && onDriver(local))
    assertSameRows(past, local, "clique:")
    assert(local.count() == 4950)
  }

  test("building dedup_near_minhash at sf0.01 starts a pinned number of jobs") {
    Tables.documents(spark, sf01).schema // the memoized reader, built once
    // driver tier: the byte lengths, then the texts; distributed: none
    assert(jobsDuring(LlmPipeline.dedupNearMinhash(spark, sf01)) == 2)
    assert(jobsDuring(LlmPipeline.dedupNearMinhashAt(spark, sf01, distributed)) == 0)
  }
}
