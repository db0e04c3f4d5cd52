package graft

import org.apache.spark.sql.functions._
import graft.ops.LlmPipeline

/** Round-9 continuation pins: the exposed spherical k-means surface
  * (cluster_kmeans) and the DSIR importance-weight direction property
  * (its values are oracle-gated; the SEMANTICS — target-language docs
  * score higher — are pinned here). */
class Round9bSpec extends SparkSpec {

  test("cluster_kmeans: deterministic, covers every vector, k non-empty clusters") {
    val a = LlmPipeline.clusterKmeans(spark, sf01).collect()
    val b = LlmPipeline.clusterKmeans(spark, sf01).collect()
    assert(a.toSeq == b.toSeq, "two runs differ — Lloyd loop nondeterministic")
    val n = io.Tables.embeddings(spark, sf01).count()
    assert(a.map(_.getLong(1)).sum == n,
      s"cluster sizes ${a.map(_.getLong(1)).toSeq} do not cover all $n vectors")
    // min-id seeding on a shuffled fixture should populate every cluster
    assert(a.length == 8, s"expected 8 clusters, got ${a.length}")
    assert(a.forall(_.getLong(1) > 0), "empty cluster in the summary")
    // unit-norm vectors: mean cosine to the assigned centroid ∈ (0, 1]
    assert(a.forall(r => r.getDouble(3) > 0.0 && r.getDouble(3) <= 1.0 + 1e-9),
      s"mean_cos out of range: ${a.map(_.getDouble(3)).toSeq}")
  }

  test("cluster_kmeans: Lloyd rounds do not decrease the spherical objective") {
    // Objective = mean over vectors of cos(v, centroid(v)). Evaluate the
    // SAME assignment+mean for the 1-round and 4-round centroid tables;
    // Lloyd guarantees monotone non-decrease (on the 1e-6 grid).
    def objective(iters: Int): Double = {
      val cents = LlmPipeline.kmeansCentroids(spark, sf01, iters)
      val vs = io.Tables.embeddings(spark, sf01)
        .select(col("embedding")).collect()
        .map(_.getSeq[Float](0).toArray)
      val tot = vs.map { e =>
        var best = Double.MinValue
        cents.foreach { c =>
          var s0 = 0.0
          var i = 0
          val m = math.min(c.length, e.length)
          while (i < m) { s0 += c(i) * e(i); i += 1 }
          if (s0 > best) best = s0
        }
        math.floor(best * 1e6 + 0.5) / 1e6
      }.sum
      tot / vs.length
    }
    val o1 = objective(1)
    val o4 = objective(4)
    assert(o4 >= o1 - 1e-6,
      s"objective fell across rounds: 1-round $o1 vs 4-round $o4")
  }

  test("multimodal_phash_dedup: a planted near-identical payload is found by the banded join") {
    // The fixture corpus has no perceptual near-dups (verified: every
    // n_near is 0 at sf0.01), so the RECALL claim — banded candidates ≡
    // brute force for Hamming ≤ 6 — needs a planted pair: doc 9001
    // copies doc 0's text with ONE character changed mid-string, which
    // flips at most a couple of sampled grid cells.
    import spark.implicits._
    val base = io.Tables.documents(spark, sf001)
      .select("doc_id", "text", "lang", "source", "n_chars")
      .as[(Long, String, String, String, Long)].collect().take(20)
    // donor must be an EVEN id: the arrival-shaped assertion below needs
    // the donor on the corpus side (even ids by the family convention) —
    // a head-of-table pick would silently skip that pin if the first
    // fixture id were ever odd (ADVICE round-9)
    val donor = base.find(_._1 % 2 == 0)
      .getOrElse(fail("no even-id donor in first 20 fixture rows"))
    val mutated = donor._2.updated(donor._2.length / 2, '~')
    val dir = java.nio.file.Files.createTempDirectory("graft-phash").toString
    (base.toSeq :+ ((9001L, mutated, donor._3, donor._4, donor._5)))
      .toDF("doc_id", "text", "lang", "source", "n_chars")
      .write.mode("overwrite").parquet(s"$dir/documents.parquet")
    val out = graft.ops.LlmPipeline.multimodalPhashDedup(spark, dir)
      .collect().map(r => r.getLong(0) -> r.getLong(2)).toMap
    assert(out(donor._1) >= 1 && out(9001L) >= 1,
      s"planted near-dup pair not recalled: $out")
    // arrival-shaped form: the mutant (9001, odd = arrival) must find
    // its even-id donor through the persisted corpus band index
    val inc = graft.ops.LlmPipeline.dedupPhashIncremental(spark, dir)
      .where(col("doc_id") === 9001L).collect()
    assert(inc.length == 1 && !inc(0).isNullAt(2) &&
      inc(0).getLong(2) == donor._1,
      s"incremental probe missed the planted corpus partner: ${inc.toSeq}")
    // and an unrelated doc stays clean (no false blanket matches)
    assert(out.count(_._2 == 0) >= base.length - 3,
      s"too many spurious near-dup hits: $out")
  }

  test("corpus_bpe_train: learns the classic merges on low/lower/lowest, deterministic on the fixture") {
    import spark.implicits._
    // Sennrich's canonical example: {"low"×5, "lower"×2, "lowest"×3}.
    // Pair counts round 1: (l,o)=10, (o,w)=10, (w,e)=5, ... — tie between
    // (l,o) and (o,w) breaks lexically to (l,o) → "lo"; round 2: (lo,w)=10
    // → "low"; round 3: (w,e) gone, (low,e)=5 beats (e,r)=2/(e,s)=3 → "lowe"
    val words = Seq.fill(5)("low") ++ Seq.fill(2)("lower") ++ Seq.fill(3)("lowest")
    val dir = java.nio.file.Files.createTempDirectory("graft-bpe").toString
    Seq((1L, words.mkString(" "), "en", "srcB", 0L))
      .toDF("doc_id", "text", "lang", "source", "n_chars")
      .write.mode("overwrite").parquet(s"$dir/documents.parquet")
    val got = graft.ops.LlmPipeline.corpusBpeTrain(spark, dir)
      .collect().map(r => (r.getInt(0), r.getString(1), r.getString(2),
        r.getString(3), r.getLong(4)))
    assert(got.take(3).toSeq == Seq(
      (1, "l", "o", "lo", 10L), (2, "lo", "w", "low", 10L),
      (3, "low", "e", "lowe", 5L)),
      s"merge sequence diverges from the hand computation: ${got.take(3).toSeq}")
    // fixture determinism: two runs, identical merge tables
    val a = graft.ops.LlmPipeline.corpusBpeTrain(spark, sf01).collect()
    val b = graft.ops.LlmPipeline.corpusBpeTrain(spark, sf01).collect()
    assert(a.toSeq == b.toSeq, "BPE training nondeterministic on the fixture")
    assert(a.length > 0 && a.forall(_.getLong(4) >= 2),
      "no merges learned / support below the floor")
    // apply half: the toy corpus fully merges — 10 words → 10 BPE tokens
    val tok = graft.ops.LlmPipeline.corpusBpeTokenize(spark, dir)
      .collect().head
    assert(tok.getLong(1) == 10L && tok.getLong(2) == 10L,
      s"low/lower/lowest should fully merge: $tok")
    // envelope on the fixture: words <= bpe tokens <= chars
    val env = graft.ops.LlmPipeline.corpusBpeTokenize(spark, sf01)
      .join(io.Tables.documents(spark, sf01).select(col("doc_id"), col("n_chars")),
        Seq("doc_id")).collect()
    env.foreach { r =>
      assert(r.getLong(1) <= r.getLong(2) && r.getLong(2) <= r.getLong(3) + 1,
        s"token envelope violated: $r")
    }
  }

  test("graph_louvain: deterministic, covers every node, and beats LPA's modularity") {
    import graft.ops.Analytics
    val a = Analytics.graphLouvain(spark, sf01).collect()
    val b = Analytics.graphLouvain(spark, sf01).collect()
    assert(a.toSeq == b.toSeq, "two Louvain runs differ — move loop nondeterministic")
    val (e, comm) = Analytics.louvainComm(spark, sf01)
    val nNodes = comm.count()
    assert(a.map(_.getLong(1)).sum == nNodes,
      s"community sizes ${a.map(_.getLong(1)).sum} do not cover all $nNodes nodes")
    val qLouvain = Analytics.modularityOf(e, comm)
    val qLpa = Analytics.graphModularity(spark, sf01).collect()(0).getDouble(2)
    info(f"Q_louvain=$qLouvain%.4f Q_lpa=$qLpa%.4f communities=${a.length}")
    // the gain-ascent must not be WORSE than the frequency heuristic —
    // that ordering is the reason the op exists
    assert(qLouvain >= qLpa - 1e-9,
      f"Louvain modularity $qLouvain%.4f below LPA's $qLpa%.4f")
    // measured 0.248 with the phase-2 coarsening (phase 1 alone: 0.193)
    // — a band pin so a regression to single-phase quality fails here
    assert(qLouvain > 0.2,
      f"two-phase quality regressed (Q=$qLouvain%.4f, expected > 0.2)")
  }

  test("graft_dhash native expression == the SQL HOF spelling, bit for bit") {
    // the codegen'd signature must match the interpreted form the oracle
    // twin mirrors — on the real fixture (incl. zh codepoints) at both
    // unit SFs
    graft.functions.Catalog.install(spark)
    for (d <- Seq(sf001, sf01)) {
      val both = io.Tables.documents(spark, d)
        .where(length(col("text")) >= 1)
        .select(col("doc_id"),
          expr("graft_dhash(text)").as("native"),
          expr("aggregate(sequence(0, 62), cast(0 as bigint), (acc, i) -> " +
            "acc + IF(ascii(substring(text, 1 + (i * length(text)) div 64, 1)) > " +
            "ascii(substring(text, 1 + ((i + 1) * length(text)) div 64, 1)), " +
            "shiftleft(cast(1 as bigint), i), cast(0 as bigint)))").as("hof"))
        .where(col("native") =!= col("hof"))
      assert(both.count() == 0,
        s"native dhash diverges from the HOF form at $d: ${both.take(3).toSeq}")
    }
  }

  test("corpus_dsir_weights: target-language documents score higher on average") {
    val w = LlmPipeline.corpusDsirWeights(spark, sf01)
    val byLang = w
      .join(io.Tables.documents(spark, sf01).select(col("doc_id"), col("lang")),
        Seq("doc_id"))
      .groupBy(col("lang") === "en")
      .agg(avg(col("dsir_logratio")).as("m"))
      .collect().map(r => r.getBoolean(0) -> r.getDouble(1)).toMap
    assert(byLang(true) > byLang(false),
      s"English (target) mean ${byLang(true)} not above source mean ${byLang(false)}")
    assert(byLang(true) > 0.0 && byLang(false) < 0.0,
      s"expected positive target / negative off-target log-ratios: $byLang")
  }
}
