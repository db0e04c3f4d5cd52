package graft

import org.apache.spark.sql.functions._
import graft.ops.LlmPipeline

/** Round-11b: product-quantization ANN + periodogram (SURVEY.md §2.21). */
class Round11bSpec extends SparkSpec {

  test("ts_periodogram: exact brute-force parity + harmonic-peak sanity") {
    val hourly = graft.io.Tables.events(spark, sf001)
      .select(expr("unix_timestamp(ts) div 3600 - 473352").as("t"))
      .collect().map(_.getLong(0))
      .groupBy(identity).map { case (t, g) => (t, g.length.toLong) }
    val expect = (1 to 8).map { k =>
      val w = 2 * math.Pi / 720
      var sc = 0L; var ss = 0L
      hourly.foreach { case (t, x) =>
        sc += math.floor(x * math.cos(w * k * t) * 1e4 + 0.5).toLong
        ss += math.floor(x * math.sin(w * k * t) * 1e4 + 0.5).toLong
      }
      val c = sc.toDouble / 1e4; val s2 = ss.toDouble / 1e4
      (k, math.floor((c * c + s2 * s2) / (720.0 * 720) * 1e6 + 0.5) / 1e6)
    }
    val got = graft.ops.Quant.tsPeriodogram(spark, sf001).collect()
      .map(r => (r.getInt(0), r.getDouble(1)))
    assert(got.toSeq == expect, s"periodogram mismatch: ${got.toSeq} vs $expect")
    // a planted pure cosine at harmonic 3 dominates the snapped DFT:
    // x_t = 100 + 50·cos(2π·3t/720) ⇒ power(3) ≈ (50·720/2 / 720)² = 625
    val w = 2 * math.Pi / 720
    val planted = (0 until 720).map(t =>
      (t.toLong, (100 + 50 * math.cos(w * 3 * t)).round))
    val powers = (1 to 8).map { k =>
      var sc = 0L; var ss = 0L
      planted.foreach { case (t, x) =>
        sc += math.floor(x * math.cos(w * k * t) * 1e4 + 0.5).toLong
        ss += math.floor(x * math.sin(w * k * t) * 1e4 + 0.5).toLong
      }
      val c = sc.toDouble / 1e4; val s = ss.toDouble / 1e4
      (k, (c * c + s * s) / (720.0 * 720))
    }.toMap
    assert(powers(3) > 600 && powers(3) < 650, s"peak ${powers(3)}")
    (1 to 8).filter(_ != 3).foreach(k =>
      assert(powers(k) < 1.0, s"leak at k=$k: ${powers(k)}"))
  }

  test("layout_hilbert: exhaustive order-4 bijection + unit-adjacency; zorder-locality win") {
    import graft.functions.{HilbertCode, MortonCode}
    // the DEFINING Hilbert property, checked exhaustively on the 16×16
    // grid: d is a bijection onto 0..255 and consecutive d's are grid-
    // ADJACENT (|Δx|+|Δy| = 1) — Z-order fails the adjacency half
    val cells = for (x <- 0 until 16; y <- 0 until 16)
      yield (HilbertCode.encode(4, x, y), (x, y))
    assert(cells.map(_._1).sorted == (0L until 256L),
      "order-4 curve is not a bijection onto 0..255")
    val byD = cells.sortBy(_._1).map(_._2)
    byD.zip(byD.drop(1)).foreach { case ((x1, y1), (x2, y2)) =>
      assert(math.abs(x1 - x2) + math.abs(y1 - y2) == 1,
        s"non-adjacent step ($x1,$y1)->($x2,$y2)")
    }
    // order-16 expression path: the low-16-bit fold of the same recipe
    assert(HilbertCode.encode16(0L, 0L) == 0L)
    assert(cells.map { case (_, (x, y)) =>
      HilbertCode.encode(4, x.toLong, y.toLong)
    }.distinct.length == 256)
    // locality: mean |Δmorton| across the 255 Hilbert-adjacent steps is
    // far larger than mean |Δhilbert| across Z-adjacent steps — the
    // tighter-bounding-box claim in one number (Hilbert steps are unit,
    // Z-order takes quadrant-boundary jumps)
    val zByD = cells.map { case (_, (x, y)) =>
      (MortonCode.interleave(x.toLong, y.toLong), (x, y))
    }.sortBy(_._1).map(_._2)
    val zJumps = zByD.zip(zByD.drop(1)).map { case ((x1, y1), (x2, y2)) =>
      math.abs(x1 - x2) + math.abs(y1 - y2)
    }
    assert(zJumps.max > 1, "zorder unexpectedly unit-adjacent")
    assert(zJumps.sum > 255, "hilbert should strictly beat zorder locality here")
  }

  test("text_lm_kneser_ney: exact brute-force parity + per-context normalization") {
    val words = graft.io.Tables.documents(spark, sf001)
      .select(col("doc_id"), col("text")).collect()
      .map(r => (r.getLong(0), r.getString(1).split(" ").toSeq))
      .filter(_._2.length >= 2)
    val pairs = words.flatMap { case (id, ws) =>
      ws.zip(ws.drop(1)).map { case (a, b) => (id, a, b) }
    }
    val nAb = pairs.groupBy(t => (t._2, t._3)).map { case (k, g) => k -> g.size.toLong }
    val nA = nAb.groupBy(_._1._1).map { case (a, g) => a -> g.values.sum }
    val n1fA = nAb.groupBy(_._1._1).map { case (a, g) => a -> g.size.toLong }
    val n1pB = nAb.groupBy(_._1._2).map { case (b, g) => b -> g.size.toLong }
    val tt = nAb.size.toLong
    def p(a: String, b: String): Double =
      (nAb((a, b)).toDouble - 0.75) / nA(a).toDouble +
        0.75 * n1fA(a).toDouble / nA(a).toDouble *
          (n1pB(b).toDouble / tt.toDouble)
    // KN is a PROPER conditional: summing P(b|a) over the whole
    // continuation vocabulary gives 1 for every context a
    val vocabB = n1pB.keys.toSeq
    n1fA.keys.foreach { a =>
      val z = vocabB.map { b =>
        val disc = nAb.get((a, b)).map(c => (c.toDouble - 0.75) / nA(a).toDouble).getOrElse(0.0)
        disc + 0.75 * n1fA(a).toDouble / nA(a).toDouble *
          (n1pB(b).toDouble / tt.toDouble)
      }.sum
      assert(math.abs(z - 1.0) < 1e-9, s"context '$a' sums to $z")
    }
    val expect = pairs.groupBy(_._1).toSeq.sortBy(_._1).map { case (id, ps) =>
      val snll = ps.map { case (_, a, b) =>
        math.floor(-math.log(p(a, b)) * 1000000L + 0.5).toLong
      }.sum
      (id, ps.size.toLong,
        math.floor(snll.toDouble / 1000000.0 / ps.size.toDouble * 1e4 + 0.5) / 1e4)
    }
    val got = graft.ops.LlmPipeline.textLmKneserNey(spark, sf001).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
    assert(got.toSeq == expect, s"kn mismatch (first: ${
      got.toSeq.zip(expect).find { case (x, y) => x != y }})")
  }

  test("ts_changepoint: exact brute-force parity + planted-shift sanity") {
    val rows = graft.io.Tables.events(spark, sf001)
      .select(col("event_type"), expr("unix_timestamp(ts) div 3600").as("h"),
        floor(col("value") * 100 + 0.5).as("c"))
      .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2)))
    val expect = rows.groupBy(_._1).toSeq.sortBy(_._1).flatMap { case (t, rs) =>
      val hourly = rs.groupBy(_._2).toSeq.sortBy(_._1)
        .map { case (h, g) => (h, g.map(_._3).sum) }
      val n = hourly.size.toLong
      if (n < 2) None else {
        val sn = hourly.map(_._2).sum
        var cum = 0L
        val cands = hourly.zipWithIndex.map { case ((h, sx), idx) =>
          cum += sx
          val i = (idx + 1).toLong
          (i, h, cum, if (i < n) Some(math.abs(n * cum - i * sn)) else None)
        }
        val mx = cands.flatMap(_._4).max
        val (i, h, cum2, _) = cands.filter(_._4.contains(mx)).minBy(_._1)
        Some((t, n, i, h,
          math.floor(cum2.toDouble / i.toDouble / 100.0 * 1e4 + 0.5) / 1e4,
          math.floor((sn - cum2).toDouble / (n - i).toDouble / 100.0 * 1e4 + 0.5) / 1e4))
      }
    }
    val got = graft.ops.Quant.tsChangepoint(spark, sf001).collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getLong(3),
        r.getDouble(4), r.getDouble(5)))
    assert(got.toSeq == expect, s"changepoint mismatch: ${got.toSeq} vs $expect")
    // planted shift: level 100 for 50 steps then 200 for 50 → split at 50
    val planted = (1 to 100).map(i => if (i <= 50) 100L else 200L)
    val sn = planted.sum; val n = 100L
    var cum = 0L
    val g = planted.zipWithIndex.map { case (x, idx) =>
      cum += x; val i = idx + 1L
      (i, if (i < n) math.abs(n * cum - i * sn) else -1L)
    }
    assert(g.filter(_._2 == g.map(_._2).max).map(_._1).min == 50L)
  }

  test("embedding_matryoshka_eval: dim-64 recall is exactly 1, monotone in dim") {
    val got = graft.ops.LlmPipeline.embeddingMatryoshkaEval(spark, sf001)
      .collect().map(r => (r.getInt(0), r.getLong(1), r.getDouble(2)))
    info(got.map { case (dim, _, rec) => f"d$dim=$rec%.4f" }.mkString(" "))
    assert(got.map(_._1).toSeq == Seq(8, 16, 32, 64))
    val nVec = graft.io.Tables.embeddings(spark, sf001).count()
    assert(got.forall(_._2 == nVec), "every vector must be a query")
    // the full-dimension column IS the brute-force baseline
    assert(got.last._3 == 1.0)
    // more dimensions can only help (prefix dots converge to the full dot)
    got.map(_._3).sliding(2).foreach(w => assert(w(0) <= w(1) + 1e-12,
      s"recall not monotone: ${got.toSeq}"))
    // truncation must genuinely degrade on the unclustered fixture —
    // otherwise the eval measures nothing
    assert(got.head._3 < 1.0)
  }

  test("graph_coreness: equals brute-force peeling; kcore is the coreness>=3 cut") {
    val edges = graft.ops.Analytics.coOrderPairs(spark, sf001)
      .groupBy(col("p1"), col("p2")).agg(count(lit(1)).as("cnt"))
      .where(col("cnt") >= 2).select(col("p1"), col("p2"))
      .collect().map(r => (r.getLong(0), r.getLong(1)))
    val adj = scala.collection.mutable.Map.empty[Long, scala.collection.mutable.Set[Long]]
    edges.foreach { case (a, b) =>
      adj.getOrElseUpdate(a, scala.collection.mutable.Set.empty) += b
      adj.getOrElseUpdate(b, scala.collection.mutable.Set.empty) += a
    }
    // classic peel: process min-degree first; core = running max of the
    // degree at removal time
    val core = scala.collection.mutable.Map.empty[Long, Long]
    var cur = 0L
    while (adj.nonEmpty) {
      val (v, nbs) = adj.minBy { case (v, nbs) => (nbs.size, v) }
      cur = math.max(cur, nbs.size.toLong)
      core(v) = cur
      nbs.foreach(u => adj.get(u).foreach(_ -= v))
      adj -= v
    }
    val got = graft.ops.Analytics.graphCoreness(spark, sf001).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toMap
    assert(got == core.toMap, s"coreness mismatch: ${
      got.toSeq.sorted.take(5)} vs ${core.toSeq.sorted.take(5)} (first 5)")
    // the fixed-k op is exactly the >= 3 level set of the decomposition
    val kcore = graft.ops.Analytics.graphKcore(spark, sf001).collect()
      .map(_.getLong(0)).toSet
    assert(got.filter(_._2 >= 3).keySet == kcore,
      "kcore membership != coreness >= 3 cut")
  }

  test("join_fuzzy_name: every pair same-block within distance, symmetric-complete") {
    val got = graft.ops.Relational.joinFuzzyName(spark, sf001).collect()
      .map(r => (r.getString(0), r.getString(1), r.getInt(2), r.getLong(3), r.getLong(4)))
    assert(got.nonEmpty)
    // brute-force the same predicate over the distinct-name table
    val names = graft.io.Tables.part(spark, sf001)
      .groupBy(col("p_name")).agg(count(lit(1)).as("n")).collect()
      .map(r => (r.getString(0), r.getLong(1)))
    def lev(a: String, b: String): Int = {
      val dp = Array.tabulate(a.length + 1)(i => Array.tabulate(b.length + 1)(j =>
        if (i == 0) j else if (j == 0) i else 0))
      for (i <- 1 to a.length; j <- 1 to b.length)
        dp(i)(j) = math.min(math.min(dp(i - 1)(j) + 1, dp(i)(j - 1) + 1),
          dp(i - 1)(j - 1) + (if (a(i - 1) == b(j - 1)) 0 else 1))
      dp(a.length)(b.length)
    }
    val expect = (for {
      (na, ca) <- names; (nb, cb) <- names
      if na < nb && na.split(" ").last == nb.split(" ").last
      d = lev(na, nb) if d <= 4
    } yield (na, nb, d, ca, cb)).sortBy(t => (t._1, t._2))
    assert(got.toSeq == expect.toSeq, s"fuzzy mismatch: ${got.length} vs ${expect.length}")
  }

  test("sample_weighted: exact A-ES selection from the engine's own hashes, biased long") {
    val base = graft.io.Tables.documents(spark, sf001)
      .select(col("doc_id"), col("n_chars"), xxhash64(col("doc_id")).as("h"))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    val keyed = base.map { case (id, w, h) =>
      val u = (math.floorMod(h, 1000000007L).toDouble + 1.0) / 1000000008.0
      (id, w, math.pow(u, 1.0 / w.toDouble))
    }
    val expect = keyed.sortBy { case (id, _, k) => (-k, id) }.take(100)
      .map { case (id, w, k) =>
        (id, w, math.floor(k * 1e6 + 0.5) / 1e6)
      }.sortBy(_._1)
    val got = graft.ops.LlmPipeline.sampleWeighted(spark, sf001).collect()
      .map(r => (r.getLong(0), r.getLong(2), r.getDouble(3)))
    assert(got.toSeq == expect.toSeq, s"a-es mismatch: ${got.take(3).toSeq} vs ${expect.take(3).toSeq}")
    // weighting sanity: the sample's mean length exceeds the corpus mean
    val corpusMean = base.map(_._2).sum.toDouble / base.length
    val sampleMean = got.map(_._2).sum.toDouble / got.length
    assert(sampleMean > corpusMean,
      f"length bias missing: sample $sampleMean%.1f <= corpus $corpusMean%.1f")
  }

  test("multimodal_pixel_stats: exact parity with direct decode; flat image pins zero") {
    val got = graft.ops.LlmPipeline.multimodalPixelStats(spark, sf001)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
        r.getLong(3), r.getLong(4), r.getDouble(5), r.getDouble(6)))
    val docs = graft.io.Tables.documents(spark, sf001)
      .select(col("doc_id"), col("text")).collect()
      .map(r => (r.getLong(0), r.getString(1)))
    assert(got.length == docs.length)
    val expect = docs.sortBy(_._1).map { case (id, text) =>
      val (n, s1, s2, e) =
        graft.ops.LlmPipeline.pixelStats(graft.ops.LlmPipeline.pngOf(text))
      (id, n, s1, s2, e,
        math.floor(s1.toDouble / n.toDouble * 1e4 + 0.5) / 1e4,
        math.floor(math.sqrt((n * s2 - s1 * s1).toDouble) / n.toDouble
          * 1e4 + 0.5) / 1e4)
    }
    assert(got.toSeq == expect.toSeq, s"pixel stats mismatch (first: ${
      got.toSeq.zip(expect).find { case (a, b) => a != b }})")
    // a constant-codepoint document renders FLAT: zero variance and
    // zero edge energy — the signal the quality cull keys on
    val (n, s1, s2, e) =
      graft.ops.LlmPipeline.pixelStats(graft.ops.LlmPipeline.pngOf("aaaa"))
    assert(n * s2 - s1 * s1 == 0L && e == 0L)
  }

  test("the staged PNG directory is registered for deletion at JVM exit") {
    graft.ops.LlmPipeline.multimodalPixelStats(spark, sf001).count()
    val dir = Memo.stored("png_stage_dir",
        Memo.fingerprint(sf001, "documents.parquet"))
      .getOrElse(fail("no staged PNG directory in the memo")).toString
    val path = java.nio.file.Paths.get(dir)
    assert(java.nio.file.Files.isDirectory(path), dir)
    assert(path.getFileName.toString.startsWith("graft-png"), dir)
    assert(TempDirs.pendingAtExit(path), s"$dir is not deleted at exit")
  }

  test("knn_pq: 3 exact-scored rows per query, deterministic, recall vs brute") {
    val pq = LlmPipeline.knnPq(spark, sf001).collect()
      .map(r => (r.getLong(0), r.getInt(1), r.getLong(2), r.getDouble(3)))
    val brute = LlmPipeline.knnCosine(spark, sf001).collect()
      .map(r => (r.getLong(0), r.getInt(1), r.getLong(2), r.getDouble(3)))
    val nq = brute.map(_._1).distinct.length
    // shape: every query reports exactly 3 ranked neighbors
    assert(pq.map(_._1).distinct.length == nq)
    assert(pq.groupBy(_._1).forall(_._2.map(_._2).sorted.sameElements(Seq(1, 2, 3))))
    // scores are EXACT fp32 rescores: any (a,b) pair reported by both
    // paths carries the identical rounded score
    val bruteScore = brute.map(t => ((t._1, t._3), t._4)).toMap
    pq.foreach { case (a, _, b, sc) =>
      bruteScore.get((a, b)).foreach(bs =>
        assert(bs == sc, s"pair ($a,$b): pq score $sc != brute $bs"))
    }
    // within-list ranking follows the shared (score desc, id asc) rule
    pq.groupBy(_._1).values.foreach { rs =>
      val o = rs.sortBy(_._2).map(r => (-r._4, r._3))
      assert(o.sameElements(o.sorted), s"rank order violated in ${rs.toSeq}")
    }
    // recall@3 against brute force: PQ (m=8, k=16, one Lloyd step) + a
    // 32-candidate exact rescore on the 64-d fixture
    val bruteTop = brute.groupBy(_._1).map { case (a, rs) => a -> rs.map(_._3).toSet }
    val hit = pq.count { case (a, _, b, _) => bruteTop(a).contains(b) }
    val recall = hit.toDouble / (nq * 3)
    info(f"knn_pq recall@3 = $recall%.3f")
    assert(recall >= 0.55, f"recall@3 $recall%.3f below pin 0.55")
    // determinism: an independent second run reproduces the result
    val again = LlmPipeline.knnPq(spark, sf001).collect()
      .map(r => (r.getLong(0), r.getInt(1), r.getLong(2), r.getDouble(3)))
    assert(again.sameElements(pq))
  }
}
