package graft

import org.apache.spark.sql.functions.col
import graft.io.Tables
import graft.ops.LlmPipeline

/** The IVF driver tier (`LlmPipeline.IvfDriverRows`) against the
  * distributed tier: `knn_ivf` and `knn_index_restart` give the same rows
  * either way, the restart key stays under its job budget, and it leaves
  * no index directory behind. */
class IvfTierSpec extends SparkSpec {

  /** The sf0.1 fixture, beside sf0.01. */
  private val sf1 = new java.io.File(sf01).getParent + "/sf0.1"

  /** A gate below every row count: even an empty table takes the
    * distributed tier. */
  private val distributed = -1

  /** A gate above every table here: the driver tier. */
  private val driver = Int.MaxValue - 1

  private def assertTiersAgree(d: String, hint: String): Unit = {
    assertSameRows(LlmPipeline.knnIvfAt(spark, d, driver),
      LlmPipeline.knnIvfAt(spark, d, distributed), s"$hint knn_ivf")
    assertSameRows(LlmPipeline.knnIndexRestartAt(spark, d, driver),
      LlmPipeline.knnIndexRestartAt(spark, d, distributed),
      s"$hint knn_index_restart")
  }

  /** A table directory holding `emb` as its embeddings table, deleted
    * when the test JVM exits. */
  private def embeddingsDir(emb: org.apache.spark.sql.DataFrame): String = {
    val dir = java.nio.file.Files.createTempDirectory("graft-ivf-tier")
    emb.write.mode("overwrite").parquet(s"$dir/embeddings.parquet")
    org.apache.commons.io.FileUtils.forceDeleteOnExit(dir.toFile)
    dir.toString
  }

  /** An embeddings table of the first `n` sf0.001 vectors. */
  private def embeddingsPrefix(n: Int): String =
    embeddingsDir(Tables.embeddings(spark, sf001).orderBy(col("vec_id"))
      .limit(n).coalesce(1))

  /** The driver tier's result: a frame over local rows only. */
  private def onDriver(df: org.apache.spark.sql.DataFrame): Boolean =
    df.queryExecution.analyzed.collectLeaves().forall(
      _.isInstanceOf[org.apache.spark.sql.catalyst.plans.logical.LocalRelation])

  test("driver tier == distributed tier row for row at sf0.01 and sf0.1") {
    Seq(sf01 -> "sf0.01:", sf1 -> "sf0.1:").foreach { case (d, hint) =>
      val rows = LlmPipeline.knnIvf(spark, d).count()
      assert(rows == 3 * Tables.embeddings(spark, d).count(),
        s"$hint expected 3 neighbors per vector, got $rows rows")
      assertTiersAgree(d, hint)
    }
  }

  test("one-row and empty embeddings tables: both tiers agree, no neighbors") {
    Seq(1 -> "one row:", 0 -> "empty:").foreach { case (n, hint) =>
      val d = embeddingsPrefix(n)
      assert(Tables.embeddings(spark, d).count() == n)
      assertTiersAgree(d, hint)
      assert(LlmPipeline.knnIndexRestart(spark, d).count() == 0, hint)
    }
  }

  test("past the gate the tier check reads gate + 1 rows, not gate + 1 per partition") {
    import spark.implicits._
    val gate = 10
    val pulled = spark.sparkContext.longAccumulator("ivf-tier-rows")
    val many = spark.range(0, 5000, 1, 50).map { i =>
      pulled.add(1)
      (i.longValue, Array.fill(64)(1f))
    }
    assert(LlmPipeline.ivfDriverVecs(many, gate).isEmpty)
    assert(pulled.value <= gate + 1,
      s"the tier check read ${pulled.value} rows from 50 partitions")

    // the keys themselves, on the sf0.01 vectors as 20 files
    val d = embeddingsDir(Tables.embeddings(spark, sf01).repartition(20))
    assert(!onDriver(LlmPipeline.knnIvfAt(spark, d, gate)))
    assert(!onDriver(LlmPipeline.knnIndexRestartAt(spark, d, gate)))
    assert(onDriver(LlmPipeline.knnIvfAt(spark, d, driver)))
    assert(onDriver(LlmPipeline.knnIndexRestartAt(spark, d, driver)))
  }

  test("knn_index_restart at sf0.1 starts at most 8 jobs") {
    Tables.embeddings(spark, sf1).schema // the memoized reader, built once
    val jobs = jobsDuring(LlmPipeline.knnIndexRestart(spark, sf1).collect())
    assert(jobs <= 8, s"knn_index_restart started $jobs jobs")
  }

  test("knn_index_restart leaves no index directory behind") {
    val tmp = new java.io.File(System.getProperty("java.io.tmpdir"))
    def dirs: Set[String] = Option(tmp.list()).toSeq.flatten
      .filter(_.startsWith("graft-ivf-idx")).toSet
    val before = dirs
    assert(LlmPipeline.knnIndexRestart(spark, sf01).collect().nonEmpty)
    val left = dirs -- before
    assert(left.isEmpty, s"index directories left behind: $left")
  }
}
