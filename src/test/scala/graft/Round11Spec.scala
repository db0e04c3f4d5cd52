package graft

import org.apache.spark.sql.functions._
import graft.ops.LlmPipeline

/** Round-11 pins: persisted-index RESTART parity for the incremental
  * dedup family — the corpus band/cell/digest indexes written to parquet
  * by one session must answer arriving batches from a FRESH session
  * exactly like the builder session's in-memory probes (r9 verdict
  * task 5). A schema drift, a builder-session dependency (registered
  * function, memoized table, broadcast), or a nondeterministic index
  * column would all break the equality. */
class Round11Spec extends SparkSpec {

  test("dedup index restart: fresh-session parquet probes == in-session incremental") {
    val dir = tempDir("graft-idx")
    // session A: build + persist every corpus index
    LlmPipeline.writeDedupIndexes(spark, sf001, dir)

    // session B: fresh session state — no temp functions, no memoized
    // readers, no persisted frames from A (shared SparkContext only,
    // which is exactly what a new driver process shares via the store)
    val s2 = spark.newSession()

    val mhLive = LlmPipeline.dedupMinhashIncremental(spark, sf001)
    val mhRestart = LlmPipeline.probeMinhashIndex(s2, sf001, dir)
    assertSameRows(mhLive, mhRestart, "minhash restart")

    val phLive = LlmPipeline.dedupPhashIncremental(spark, sf001)
    val phRestart = LlmPipeline.probePhashIndex(s2, sf001, dir)
    assertSameRows(phLive, phRestart, "phash restart")

    val emLive = LlmPipeline.dedupEmbeddingIncremental(spark, sf001)
    val emRestart = LlmPipeline.probeEmbeddingIndex(s2, sf001, dir)
    assertSameRows(emLive, emRestart, "embedding restart")

    // and the exposed end-to-end key agrees with the per-modality unions
    val key = ops.LlmPipeline.dedupIndexRestart(spark, sf001).collect()
    val nMh = mhLive.count()
    val nPh = phLive.where(col("dup_of").isNotNull).count()
    val nEm = emLive.count()
    assert(key.length == nMh + nPh + nEm,
      s"dedup_index_restart rows ${key.length} != $nMh+$nPh+$nEm")
    assert(key.map(_.getString(0)).distinct.sorted.toSeq ==
      Seq("embedding", "minhash", "phash").filter(m => Map(
        "minhash" -> nMh, "phash" -> nPh, "embedding" -> nEm)(m) > 0),
      "modality tags missing or unexpected")
  }

  test("multimodal_phash_pixels: planted near-identical image recalled through the real decode path") {
    import spark.implicits._
    // Same planted-pair recipe as the codepoint-stub pin (Round9bSpec):
    // doc 9001 copies a donor's text with ONE mid-string character
    // changed — in the PIXEL pipeline that edit perturbs only the
    // handful of adjacent pixels sampling it, so the decoded dHash pair
    // sits within the banded join's Hamming ≤ 6 recall bound.
    val base = io.Tables.documents(spark, sf001)
      .select("doc_id", "text", "lang", "source", "n_chars")
      .as[(Long, String, String, String, Long)].collect().take(20)
    val donor = base.head
    val mutated = donor._2.updated(donor._2.length / 2, '~')
    val dir = tempDir("graft-phpx")
    (base.toSeq :+ ((9001L, mutated, donor._3, donor._4, donor._5)))
      .toDF("doc_id", "text", "lang", "source", "n_chars")
      .write.mode("overwrite").parquet(s"$dir/documents.parquet")
    val out = LlmPipeline.multimodalPhashPixels(spark, dir)
      .collect().map(r => r.getLong(0) -> r.getLong(2)).toMap
    assert(out.size == 21, s"expected 21 hashed payloads, got ${out.size}")
    assert(out(donor._1) >= 1 && out(9001L) >= 1,
      s"planted pixel near-dup pair not recalled: $out")
    // encode→stage→binaryFile→decode round-trip is deterministic
    val again = LlmPipeline.multimodalPhashPixels(spark, dir)
      .collect().map(r => r.getLong(0) -> r.getLong(2)).toMap
    assert(again == out, "pixel pipeline nondeterministic across runs")
    // and the signatures are non-degenerate (not all docs in one clique)
    val hashes = LlmPipeline.multimodalPhashPixels(spark, dir)
      .collect().map(_.getLong(1))
    assert(hashes.distinct.length > 10,
      s"pixel dHash degenerate: ${hashes.distinct.length} distinct values")
  }

  test("pack_bpe_budget: covers every doc, conserves BPE tokens, fill ratio in envelope") {
    val toks = LlmPipeline.corpusBpeTokenize(spark, sf01).collect()
    val nDocs = toks.length
    val totTokens = toks.map(_.getLong(2)).sum
    val maxTokens = toks.map(_.getLong(2)).max
    val out = LlmPipeline.packBpeBudget(spark, sf01).collect()
    assert(out.map(_.getLong(1)).sum == nDocs,
      s"bucket doc counts ${out.map(_.getLong(1)).toSeq} do not cover $nDocs docs")
    assert(out.map(_.getLong(3)).sum == totTokens,
      s"sum_tokens across buckets != tokenize total ($totTokens)")
    // a doc is assigned to the bin its START offset falls in, so a bin
    // can overflow by at most (max_doc_tokens − 1) straddle tokens:
    // fill ≤ (4096 + max − 1)/4096, never unbounded
    val hi = (4096.0 + maxTokens - 1) / 4096.0 + 1e-9
    out.foreach { r =>
      val fill = r.getDouble(4)
      assert(fill > 0.0 && fill <= hi,
        s"bucket ${r.getInt(0)} fill_ratio $fill outside (0, $hi]")
    }
    // token-aware budgeting must see the corpus's real expansion: BPE
    // tokens per whitespace word ≥ 1 in every bucket (a merge can only
    // contract WITHIN a word, never below one token per word)
    out.foreach { r =>
      assert(r.getDouble(5) >= 1.0,
        s"bucket ${r.getInt(0)} tokens_per_word ${r.getDouble(5)} < 1")
    }
    // deterministic
    val again = LlmPipeline.packBpeBudget(spark, sf01).collect()
    assert(again.map(_.toSeq).toSeq == out.map(_.toSeq).toSeq,
      "pack_bpe_budget nondeterministic")
  }

  test("knn index restart: fresh-session IVF probe == in-session knn_ivf") {
    val dir = tempDir("graft-ivf")
    LlmPipeline.writeKnnIvfIndex(spark, sf001, dir)
    val s2 = spark.newSession()
    val live = LlmPipeline.knnIvf(spark, sf001)
    val restart = LlmPipeline.probeKnnIvfIndex(s2, sf001, dir)
    assertSameRows(live, restart, "ivf restart")
    // the exposed end-to-end key (write + reload + probe) agrees too
    val key = LlmPipeline.knnIndexRestart(spark, sf001)
    assertSameRows(live, key, "knn_index_restart key")
  }

  test("curate pipeline restart: fresh-session cascade over reloaded assets == in-session") {
    val dir = tempDir("graft-cur")
    LlmPipeline.writeDedupIndexes(spark, sf001, dir)
    val s2 = spark.newSession()
    val live = LlmPipeline.pipelineIncrementalCurate(spark, sf001)
    val restart = LlmPipeline.probeCurateAssets(s2, sf001, dir)
    assertSameRows(live, restart, "curate restart")
    // every verdict class that the in-session run produced survives the
    // restart (the cascade's one-verdict-per-doc contract)
    val key = LlmPipeline.pipelineCurateRestart(spark, sf001)
    assertSameRows(live, key, "pipeline_curate_restart key")
  }

  test("graph family under hub skew: 2000-leaf star through lpa, louvain, pagerank") {
    import spark.implicits._
    import graft.ops.Analytics
    // A star is the worst-case hot key for the per-round links joins:
    // ONE node holds every edge. The per-round aggregates (neighbor
    // label counts, community totals, rank contributions) are all
    // partial-aggregable sums/counts keyed on node or community ids, so
    // map-side combine absorbs the skew — this pin PROVES the family
    // completes exactly and deterministically on that shape (r9 verdict
    // task 6). Each hub–leaf pair is placed in TWO orders to clear the
    // cnt >= 2 co-order edge threshold.
    val nLeaves = 2000
    val dir = tempDir("graft-star")
    (1 to nLeaves).flatMap { k =>
      Seq(0, 1).flatMap { dup =>
        val o = (k * 2 + dup).toLong
        Seq((o, 1L), (o, (1000 + k).toLong))
      }
    }.toDF("l_orderkey", "l_partkey")
      .write.parquet(s"$dir/lineitem.parquet")

    // LPA: every node labeled, exactly once, deterministically
    val lpa = Analytics.graphLabelPropagation(spark, dir).collect()
    assert(lpa.length == nLeaves + 1,
      s"lpa covered ${lpa.length} of ${nLeaves + 1} star nodes")
    assert(lpa.map(_.getLong(0)).distinct.length == nLeaves + 1,
      "duplicate node rows out of lpa")
    val lpa2 = Analytics.graphLabelPropagation(spark, dir).collect()
    assert(lpa.map(_.toSeq).toSeq == lpa2.map(_.toSeq).toSeq,
      "lpa nondeterministic under hub skew")

    // Louvain: partition covers every node; deterministic
    val lv = Analytics.graphLouvain(spark, dir).collect()
    assert(lv.map(_.getLong(1)).sum == nLeaves + 1,
      s"louvain communities cover ${lv.map(_.getLong(1)).sum} nodes")
    val lv2 = Analytics.graphLouvain(spark, dir).collect()
    assert(lv.map(_.toSeq).toSeq == lv2.map(_.toSeq).toSeq,
      "louvain nondeterministic under hub skew")

    // PageRank on the star edge set: mass conserved to 1, hub dominates
    // (closed form: hub ≈ 0.47 at d = 0.85, leaves ≈ 3e-4)
    val verts = (Seq(1L) ++ (1 to nLeaves).map(k => (1000 + k).toLong))
      .toDF("vec_id")
    val pairs = (1 to nLeaves).map(k => (1L, (1000 + k).toLong))
      .toDF("src", "dst")
    val pr = LlmPipeline.pagerank(verts,
        pairs.union(pairs.select(col("dst"), col("src"))), 10, 0.85)
      .collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
    val total = pr.values.sum
    assert(math.abs(total - 1.0) < 1e-6, s"pagerank mass $total != 1")
    val hub = pr(1L)
    val leafMax = (pr - 1L).values.max
    assert(hub > 0.2 && hub > leafMax * 100,
      s"hub rank $hub does not dominate leaves (max $leafMax)")
  }
}
