package graft

import org.apache.spark.sql.{ExtensionsProbe, SparkSessionExtensions}
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.unsafe.types.UTF8String
import graft.functions._

/** The native-function catalog's two promises: the session extension
  * carries every graft_* name, both planner strategies and the optimizer
  * rule, and running an operator adds nothing to the caller's session. */
class FunctionCatalogSpec extends SparkSpec {

  test("GraftExtensions resolves all 8 graft_* names in SQL and injects both strategies and the rule") {
    val ext = new SparkSessionExtensions
    new GraftExtensions()(ext)
    // a child session stands in for one built with spark.sql.extensions;
    // the suite's shared session is left as it is
    val child = spark.newSession()
    ExtensionsProbe.registerFunctions(ext, child)
    val missing = Seq("graft_dot", "graft_dhash", "graft_morton",
      "graft_hilbert", "graft_hll", "graft_hll_regs", "graft_bitmap",
      "graft_tdigest").filterNot(n =>
        child.sessionState.functionRegistry.functionExists(FunctionIdentifier(n)))
    assert(missing.isEmpty, s"GraftExtensions does not inject $missing")
    def one(sql: String): Any = child.sql(sql).collect().head.get(0)
    val text = "the quick brown fox jumps over the lazy dog"
    assert(one("SELECT graft_dot(array(1D, 2D), array(3D, 4D))") == 11.0)
    assert(one(s"SELECT graft_dhash('$text')") ==
      DHash.compute(UTF8String.fromString(text)))
    assert(one("SELECT graft_morton(5L, 9L)") == MortonCode.interleave(5L, 9L))
    assert(one("SELECT graft_hilbert(5L, 9L)") == HilbertCode.encode16(5L, 9L))
    val hll = one("SELECT graft_hll(id) FROM range(1000)").asInstanceOf[Long]
    assert(math.abs(hll - 1000) <= 50, s"graft_hll estimate $hll")
    val regs = one("SELECT graft_hll_regs(id) FROM range(1000)")
      .asInstanceOf[Array[Byte]]
    assert(HllSketch.estimate(regs) == hll)
    assert(one("SELECT graft_bitmap(id) FROM range(1000)") == 1000L)
    val p50 = one("SELECT graft_tdigest(CAST(id AS DOUBLE), 0.5) FROM range(1001)")
      .asInstanceOf[Double]
    assert(math.abs(p50 - 500) <= 10, s"graft_tdigest p50 $p50")
    val strategies = ExtensionsProbe.plannerStrategies(ext, child)
    assert(strategies.contains(graft.plans.AsOfJoinStrategy))
    assert(strategies.contains(graft.plans.TopKStrategy))
    assert(ExtensionsProbe.optimizerRules(ext, child).contains(DotReverseElimination))
  }

  test("operators that build native expressions leave a fresh session's registry alone") {
    // every key built on a graft_* expression that plans without the
    // as-of or top-k strategy (those two install the catalog on purpose)
    val keys = Seq(
      "fn_vector_native", "layout_zorder", "layout_hilbert",
      "layout_pruning_stats", "agg_hll_custom", "agg_hll_rollup",
      "audience_overlap_hll", "agg_bitmap_distinct", "agg_tdigest",
      "multimodal_phash_dedup", "dedup_phash_incremental",
      "dedup_embedding_incremental", "dedup_index_restart")
    val fresh = spark.newSession()
    keys.foreach { k =>
      val build = SparkEntry.queries(k)
      assertSameRows(build(fresh, sf001), build(spark, sf001), k)
    }
    val names = fresh.sessionState.functionRegistry.listFunction()
      .map(_.funcName).filter(_.startsWith("graft_"))
    assert(names.isEmpty, s"operators registered $names")
    assert(fresh.experimental.extraStrategies.isEmpty)
    assert(fresh.experimental.extraOptimizations.isEmpty)
  }
}
