package graft

import org.apache.spark.sql.functions._
import graft.ops.{Analytics, Quant}

/** Round-9 pins: DOULION-sampled SCORED wedge tiers (the r8 weak class),
  * the de-degenerated edge-sample hash, and the k-core peel fallback. */
class Round9Spec extends SparkSpec {

  test("DOULION edge-sample hash is not parity-degenerate (the r8 k=2 bug)") {
    // r8's linear hash (odd·p1 + odd·p2 mod 2) kept exactly the
    // same-parity edge pairs, so triangle survival was fully correlated.
    // With a real mixer the kept set must contain BOTH endpoint parities.
    val edges = Analytics.coOrderPairs(spark, sf01)
      .groupBy(col("p1"), col("p2"))
      .agg(count(lit(1)).as("c")).where(col("c") >= 2)
      .select(col("p1"), col("p2"))
    val kept = edges
      .where(pmod(xxhash64(col("p1"), col("p2")), lit(2L)) === 0)
      .select(pmod(col("p1") + col("p2"), lit(2L)).as("parity"))
      .groupBy(col("parity")).agg(count(lit(1)).as("n"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(kept.keySet == Set(0L, 1L),
      s"kept edges are parity-monochromatic: $kept — sampler degenerate")
    // and neither parity class dominates beyond sampling noise: on a
    // parity-balanced fixture each class keeps ~half its edges
    val (a, b) = (kept(0L).toDouble, kept(1L).toDouble)
    assert(math.min(a, b) / math.max(a, b) > 0.5,
      s"kept-parity split $kept too lopsided for a uniform hash")
  }

  test("graph_adamic_adar_approx: k2-rescaled total mass tracks exact; deterministic") {
    // Per-pair estimates are noisy at k=2; TOTAL score mass over all
    // absent pairs is the unbiased-estimator pin (a wrong k² rescale is
    // off by 4x; correlated survival — the r8 hash bug — skews it too).
    val exact = Quant.adamicAdarScored(spark, sf01, sampled = false)
      .agg(sum(col("aa_score")).as("m"), count(lit(1)).as("n"))
      .collect()(0)
    val est = Quant.adamicAdarScored(spark, sf01, sampled = true)
      .agg(sum(col("aa_score")).as("m"), count(lit(1)).as("n"))
      .collect()(0)
    val (me, ma) = (exact.getDouble(0), est.getDouble(0))
    assert(me > 0, "vacuous: exact AA mass is zero at sf0.01")
    assert(ma > me / 3 && ma < me * 3,
      s"estimated AA mass $ma outside [1/3, 3] x exact $me")
    // the sampled wedge set is ~1/k² of the full one (both edges must
    // survive) — pair coverage shrinks accordingly but must be nonzero
    assert(est.getLong(1) > 0, "vacuous: sampled tier scored no pairs")
    // determinism: pure hash draw ⇒ bit-stable output
    val t1 = Quant.graphAdamicAdarApprox(spark, sf01).collect().toSeq
    val t2 = Quant.graphAdamicAdarApprox(spark, sf01).collect().toSeq
    assert(t1 == t2, "sampled top-50 not deterministic")
    assert(t1.nonEmpty, "vacuous: empty sampled top-50")
  }

  test("graph_clustering_coeff_approx: true-degree rows, k3-rescaled credit tracks exact; deterministic") {
    val exact = Analytics.graphClusteringCoeff(spark, sf01)
      .select(col("p"), col("deg"), col("tri_cnt")).collect()
    val est = Analytics.graphClusteringCoeffApprox(spark, sf01)
      .select(col("p"), col("deg"), col("tri_est")).collect()
    // row set and degrees are EXACT in the approx tier (full-graph
    // degrees, only the wedge join is thinned)
    val exDeg = exact.map(r => r.getLong(0) -> r.getLong(1)).toMap
    val esDeg = est.map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(esDeg == exDeg,
      "approx tier row set / degrees diverge from the full graph")
    val sumEx = exact.map(_.getLong(2)).sum.toDouble
    val sumEs = est.map(_.getLong(2)).sum.toDouble
    assert(sumEx > 0, "vacuous: no triangle credit at sf0.01")
    assert(sumEs > sumEx / 3 && sumEs < sumEx * 3,
      s"k3-rescaled corner credit $sumEs outside [1/3, 3] x exact $sumEx")
    val again = Analytics.graphClusteringCoeffApprox(spark, sf01)
      .select(col("p"), col("deg"), col("tri_est")).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSeq
    assert(again == est.map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSeq,
      "sampled coefficients not deterministic")
  }

  test("adaptive DOULION rate exceeds the floor on a dense graph and the estimate still tracks exact") {
    // The fixtures are wedge-sparse (sf0.01: 13.4k wedges / 3.4k edges),
    // so every fixture-driven test sees the k=2 floor — this synthetic
    // DENSE co-order set (orders share a small part pool, the
    // densification shape the stress harness builds at 10×) drives the
    // k>2 branch: wedges/edges must push √(Σdeg²/(8m)) past the floor,
    // the sampled edge share must track the chosen 1/k, and the k³
    // rescale must still land on the exact count.
    import spark.implicits._
    val dir = tempDir("graft-dense")
    val rnd = new scala.util.Random(42)
    val rows = for {
      o <- 1 to 1200
      p <- Seq.fill(12)(rnd.nextInt(120)).distinct
    } yield (o.toLong, p.toLong)
    rows.toDF("l_orderkey", "l_partkey")
      .write.parquet(s"$dir/lineitem.parquet")
    val exact = Analytics.graphTriangleCount(spark, dir).collect()(0)
    val (nEdges, nTri) = (exact.getLong(1), exact.getLong(2))
    assert(nTri > 1000, s"synthetic graph not dense enough: $nTri triangles")
    val est = Analytics.graphTriangleApprox(spark, dir).collect()(0)
    val kept = est.getLong(0)
    // the chosen k is observable through the kept-edge share
    val kChosen = math.round(nEdges.toDouble / math.max(1L, kept))
    assert(kChosen > 2,
      s"dense graph did not push k past the floor (kept $kept of $nEdges)")
    assert(math.abs(kept - nEdges.toDouble / kChosen) < nEdges * 0.1,
      s"kept share $kept does not track 1/$kChosen of $nEdges")
    val e = est.getLong(2).toDouble
    assert(e > nTri / 3.0 && e < nTri * 3.0,
      s"k>2 estimate $e outside [1/3, 3] x exact $nTri")
    // determinism on the adaptive path too
    val again = Analytics.graphTriangleApprox(spark, dir).collect()(0).getLong(2)
    assert(again == est.getLong(2), "adaptive-k estimate not deterministic")
  }

  test("dedup_minhash_incremental == index-free brute sweep (banding loses no >=0.8 pair)") {
    import graft.ops.LlmPipeline
    val docs = graft.io.Tables.documents(spark, sf01)
      .select(col("doc_id"), col("text"))
    val got = LlmPipeline.dedupMinhashIncremental(spark, sf01).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getDouble(3)))
      .toSeq.sortBy(_._1)
    assert(got.nonEmpty, "vacuous: no odd-vs-even near-dup at sf0.01")
    // brute twin: candidates = EVERY odd/even pair sharing >=1 shingle
    // (a pair sharing none has Jaccard 0 and cannot pass 0.8), same
    // verification, no banding — equality proves the band index lost
    // nothing at this fixture (the batch op's recall pin, arrival-shaped)
    val oddSh = LlmPipeline.docShingleHashesOf(
      docs.where(col("doc_id") % 2 === 1), 3)
    val evenSh = LlmPipeline.docShingleHashesOf(
      docs.where(col("doc_id") % 2 === 0), 3)
    val nA = oddSh.groupBy(col("doc_id")).agg(count(lit(1)).as("n_a"))
    val nB = evenSh.groupBy(col("doc_id")).agg(count(lit(1)).as("n_b"))
      .withColumnRenamed("doc_id", "corpus_id")
    val brute = oddSh
      .join(evenSh.toDF("corpus_id", "h"), Seq("h"))
      .groupBy(col("doc_id"), col("corpus_id"))
      .agg(count(lit(1)).as("n_shared"))
      .join(nA, Seq("doc_id")).join(nB, Seq("corpus_id"))
      .select(col("doc_id"), col("corpus_id"), col("n_shared"),
        round(col("n_shared").cast("double") /
          (col("n_a") + col("n_b") - col("n_shared")).cast("double"), 4)
          .as("jaccard"))
      .where(col("jaccard") >= 0.8)
      .groupBy(col("doc_id"))
      .agg(min(col("corpus_id")).as("dup_of"),
        min_by(col("n_shared"), col("corpus_id")).as("n_shared"),
        min_by(col("jaccard"), col("corpus_id")).as("jaccard"))
      .collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getDouble(3)))
      .toSeq.sortBy(_._1)
    assert(got == brute,
      s"incremental banded verdicts diverge from brute:\n$got\nvs\n$brute")
  }

  test("dedup_minhash_incremental: foreachBatch micro-batches over persisted indexes == batch twin") {
    import spark.implicits._
    import graft.ops.LlmPipeline
    implicit val sqlCtx = spark.sqlContext
    val docs = graft.io.Tables.documents(spark, sf01)
      .select(col("doc_id"), col("text"))
    val corpus = docs.where(col("doc_id") % 2 === 0)
    // the static assets: built ONCE, persisted, reused by every batch
    val bandIdx = LlmPipeline.minhashBandsOf(corpus).persist()
    val shIdx = LlmPipeline.docShingleHashesOf(corpus, 3).persist()
    val arriving = docs.where(col("doc_id") % 2 === 1)
      .as[(Long, String)].collect()
    val mem = org.apache.spark.sql.execution.streaming.runtime
      .MemoryStream[(Long, String)]
    val acc = new java.util.concurrent.ConcurrentLinkedQueue[
      (Long, Long, Long, Double)]()
    val q = mem.toDF().toDF("doc_id", "text").writeStream
      .foreachBatch { (batch: org.apache.spark.sql.DataFrame, _: Long) =>
        LlmPipeline.scoreAgainstMinhashIndex(batch, bandIdx, shIdx)
          .collect().foreach { r =>
            acc.add((r.getLong(0), r.getLong(1), r.getLong(2), r.getDouble(3)))
          }
      }
      .queryName("t_minc").start()
    arriving.grouped(math.max(1, arriving.length / 4 + 1)).foreach { chunk =>
      mem.addData(chunk.toIndexedSeq)
      q.processAllAvailable()
    }
    q.stop()
    bandIdx.unpersist(); shIdx.unpersist()
    val streamed = acc.toArray(Array.empty[(Long, Long, Long, Double)])
      .sortBy(_._1).toSeq
    val batchTwin = LlmPipeline.dedupMinhashIncremental(spark, sf01)
      .as[(Long, Long, Long, Double)].collect().toSeq
    assert(batchTwin.nonEmpty, "vacuous: batch twin found no near-dups")
    assert(streamed == batchTwin,
      s"foreachBatch union differs from batch twin:\n$streamed\nvs\n$batchTwin")
  }

  test("pipeline_incremental_curate: verdicts partition the batch and every stage matches independent recomputation") {
    import graft.ops.LlmPipeline
    val docs = graft.io.Tables.documents(spark, sf01)
      .select(col("doc_id"), col("text"))
    val arriving = docs.where(col("doc_id") % 2 === 1)
    val corpus = docs.where(col("doc_id") % 2 === 0)
    val out = LlmPipeline.pipelineIncrementalCurate(spark, sf01).collect()
      .map(r => (r.getLong(0), r.getString(1),
        if (r.isNullAt(2)) -1L else r.getLong(2)))
    // exactly one verdict per arriving doc
    assert(out.map(_._1).toSet == arriving.select(col("doc_id"))
      .collect().map(_.getLong(0)).toSet,
      "verdicts do not partition the arriving batch")
    val byVerdict = out.groupBy(_._2).view.mapValues(_.map(_._1).toSet).toMap
    assert(byVerdict.getOrElse("accepted", Set()).nonEmpty &&
      byVerdict.getOrElse("rejected_quality", Set()).nonEmpty,
      s"vacuous stage split: ${byVerdict.view.mapValues(_.size).toMap}")
    // stage 1: quality bar recomputed independently (corpus bounds,
    // Gopher ratios) — the rejected set must match exactly
    val w = split(col("text"), " ")
    val b = corpus.select(size(w).as("n"))
      .agg(percentile(col("n"), lit(0.05)).as("lo"),
        percentile(col("n"), lit(0.95)).as("hi")).collect()(0)
    val (lo, hi) = (b.getDouble(0), b.getDouble(1))
    val expectReject = arriving.select(col("doc_id"),
        size(w).as("n_words"),
        length(regexp_replace(col("text"), " ", "")).as("n_letters"),
        size(array_distinct(w)).as("n_distinct"),
        size(filter(w, x => x.rlike("^[a-z]+$"))).as("n_alpha"))
      .where(!(col("n_words") >= lo && col("n_words") <= hi &&
        col("n_letters").cast("double") / col("n_words") >= 3.0 &&
        col("n_letters").cast("double") / col("n_words") <= 10.0 &&
        col("n_distinct").cast("double") / col("n_words") >= 0.2 &&
        col("n_alpha").cast("double") / col("n_words") >= 0.8))
      .select(col("doc_id")).collect().map(_.getLong(0)).toSet
    assert(byVerdict.getOrElse("rejected_quality", Set()) == expectReject,
      "quality stage diverges from independent recomputation")
    // stage 2: exact dups = digest intersection of the quality survivors
    val expectExact = arriving.withColumn("digest", sha2(col("text"), 256))
      .join(corpus.select(sha2(col("text"), 256).as("digest")).distinct(),
        Seq("digest"), "left_semi")
      .select(col("doc_id")).collect().map(_.getLong(0)).toSet
      .diff(expectReject)
    assert(byVerdict.getOrElse("dup_exact", Set()) == expectExact,
      "exact stage diverges from the digest intersection")
    // stage 3: near dups = the standalone incremental minhash verdicts,
    // restricted to docs that survived stages 1–2; dup_of must agree
    // (the index-scored verdict of a doc is independent of its batch)
    val mingled = LlmPipeline.dedupMinhashIncremental(spark, sf01)
      .select(col("doc_id"), col("dup_of")).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    val expectNear = mingled.keySet.diff(expectReject).diff(expectExact)
    assert(byVerdict.getOrElse("dup_near", Set()) == expectNear,
      "near stage diverges from the standalone minhash verdicts")
    val gotNearDup = out.filter(_._2 == "dup_near")
      .map(t => t._1 -> t._3).toMap
    assert(expectNear.forall(id => gotNearDup(id) == mingled(id)),
      "dup_of diverges from the standalone minhash verdicts")
  }

  test("dedup_embedding_incremental: precision 1 vs brute arrival-vs-corpus; recall ~1 on near-identical vectors") {
    import spark.implicits._
    import graft.ops.LlmPipeline
    // precision on the fixture: every verdict's score must equal the
    // brute cosine for that exact pair, and the pair must clear 0.3
    val got = LlmPipeline.dedupEmbeddingIncremental(spark, sf001).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
    assert(got.nonEmpty, "vacuous: no arrival-vs-corpus pair >= 0.3 at sf0.001")
    val emb = graft.io.Tables.embeddings(spark, sf001)
      .select(col("vec_id"), col("embedding"))
      .as[(Long, Array[Float])].collect().toMap
    def cos(a: Array[Float], b: Array[Float]): Double = {
      var s0 = 0.0
      var i = 0
      val n = math.min(a.length, b.length)
      while (i < n) { s0 += a(i).toDouble * b(i); i += 1 }
      math.floor(s0 * 10000 + 0.5) / 10000.0
    }
    got.foreach { case (a, b, sc) =>
      assert(b % 2 == 0 && a % 2 == 1, s"verdict pair ($a, $b) crosses the split wrong way")
      assert(cos(emb(a), emb(b)) == sc && sc >= 0.3,
        s"reported score $sc for ($a, $b) diverges from brute ${cos(emb(a), emb(b))}")
    }
    // recall in the regime dedup targets: corpus = 40 deterministic unit
    // vectors (even ids), arriving = the same vectors barely perturbed
    // (odd ids) — near-identical pairs collide in EVERY LSH table, so
    // each arriving vector must report its source as dup_of
    val rnd = new scala.util.Random(7)
    def unit(): Array[Float] = {
      val v = Array.fill(64)(rnd.nextGaussian().toFloat)
      val n = math.sqrt(v.map(x => x.toDouble * x).sum).toFloat
      v.map(_ / n)
    }
    val base = (0 until 40).map(i => (i * 2L, unit()))
    val near = base.map { case (id, v) =>
      val w = v.map(x => x + (rnd.nextFloat() - 0.5f) * 1e-4f)
      val n = math.sqrt(w.map(x => x.toDouble * x).sum).toFloat
      (id + 1, w.map(_ / n))
    }
    val corpusDf = base.toDF("vec_id", "embedding")
    val arrivingDf = near.toDF("vec_id", "embedding")
    val syn = LlmPipeline
      .dedupEmbeddingIncrementalCore(spark, corpusDf, arrivingDf, 0.9)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(near.forall { case (id, _) => syn.get(id).contains(id - 1) },
      s"near-identical recall broke: ${near.map(_._1).filterNot(id => syn.get(id).contains(id - 1))}")
  }

  test("arrival-shaped scorers are total on empty batches and empty indexes") {
    // A quiet ingest tick (zero arriving docs) and a cold-start corpus
    // (empty indexes) are both normal production states — the scorers
    // must return empty frames, not throw on empty aggregates/joins.
    import spark.implicits._
    import graft.ops.LlmPipeline
    val empty = Seq.empty[(Long, String)].toDF("doc_id", "text")
    val corpus = graft.io.Tables.documents(spark, sf001)
      .select(col("doc_id"), col("text"))
    assert(LlmPipeline.scoreAgainstMinhashIndex(empty,
      LlmPipeline.minhashBandsOf(corpus),
      LlmPipeline.docShingleHashesOf(corpus, 3)).count() == 0,
      "minhash scorer emitted rows for an empty batch")
    assert(LlmPipeline.scoreAgainstIndex(empty,
      LlmPipeline.containmentIndexOf(corpus)).count() == 0,
      "containment scorer emitted rows for an empty batch")
    assert(LlmPipeline.scoreAgainstMinhashIndex(corpus.limit(5),
      LlmPipeline.minhashBandsOf(empty),
      LlmPipeline.docShingleHashesOf(empty, 3)).count() == 0,
      "cold-start (empty index) should score no partners")
    // the composed pipeline on a COLD START: null percentile bounds
    // must not poison the quality conjunction — every first-batch doc
    // still gets exactly one verdict (judged by the absolute rules)
    val firstBatch = corpus.limit(7)
    val cold = LlmPipeline
      .pipelineIncrementalCurateCore(spark, empty, firstBatch).collect()
    assert(cold.map(_.getLong(0)).toSet ==
      firstBatch.select(col("doc_id")).collect().map(_.getLong(0)).toSet,
      "cold-start curate lost documents (null-bounds conjunction)")
    assert(cold.forall(r =>
      r.getString(1) == "accepted" || r.getString(1) == "rejected_quality"),
      "cold-start verdicts can only be accepted/rejected_quality")
  }

  test("graph_kcore: broadcast peel path == shuffled fallback path (threshold 0)") {
    // threshold 0 forces EVERY round onto the shuffled anti-join form —
    // the path a low-degree flood takes at scale; cores must be identical
    def cores(threshold: Long): Seq[(Long, Long)] =
      Analytics.graphKcoreImpl(spark, sf01, threshold).collect()
        .map(r => (r.getLong(0), r.getLong(1))).toSeq
    val bcast = cores(5_000_000L)
    val shuffled = cores(0L)
    assert(bcast.nonEmpty, "vacuous: empty 3-core at sf0.01")
    assert(bcast == shuffled,
      "broadcast and shuffled peel paths disagree on the 3-core")
  }
}
