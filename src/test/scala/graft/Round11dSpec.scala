package graft

import org.apache.spark.sql.functions._
import graft.ops.{Analytics, Corpus, Custom, Functions}

/** Round-11d: corpus data card, blocklist gate, HITS, KMV/theta
  * intersection, measured layout pruning (SURVEY §2.23). */
class Round11dSpec extends SparkSpec {

  // ---------------------------------------------------------------- HITS

  /** Driver-side replay of the EXACT integer HITS recipe: long micro
    * scores, exact integer accumulation, decimal→double norm through
    * java.math.BigDecimal (the same conversion Spark's Decimal takes),
    * floor re-projection. The design claims bit-identical scores, so
    * the assert is equality, not tolerance. */
  private def replayHits(edges: Seq[(Long, Long)], rounds: Int)
      : (Map[Long, Long], Map[Long, Long]) = {
    var a: Map[Long, Long] =
      edges.map(_._2).distinct.map(_ -> 1000000L).toMap
    var h: Map[Long, Long] = Map.empty
    def norm(raw: Map[Long, Long]): Double = {
      val n2 = raw.values.foldLeft(BigInt(0))((acc, v) => acc + BigInt(v) * BigInt(v))
      new java.math.BigDecimal(n2.bigInteger).doubleValue()
    }
    for (_ <- 0 until rounds) {
      val hraw = edges.groupBy(_._1).map { case (k, es) =>
        k -> es.map(e => a(e._2)).sum }
      val nh = math.sqrt(norm(hraw))
      h = hraw.map { case (k, v) => k -> math.floor(v.toDouble * 1e6 / nh).toLong }
      val araw = edges.groupBy(_._2).map { case (k, es) =>
        k -> es.map(e => h(e._1)).sum }
      val na = math.sqrt(norm(araw))
      a = araw.map { case (k, v) => k -> math.floor(v.toDouble * 1e6 / na).toLong }
    }
    (h, a)
  }

  private def hitsMicros(edges: Seq[(Long, Long)], rounds: Int)
      : (Map[Long, Long], Map[Long, Long]) = {
    import spark.implicits._
    val out = Analytics.hits(edges.toDF("src", "dst"), rounds)
      .collect()
      .map(r => (r.getString(0), r.getLong(1),
        math.rint(r.getDouble(2) * 1e6).toLong))
    (out.filter(_._1 == "hub").map(t => t._2 -> t._3).toMap,
      out.filter(_._1 == "auth").map(t => t._2 -> t._3).toMap)
  }

  test("graph_hits: distributed loop == driver replay of the integer recipe, exactly") {
    val edges = for {
      c <- 1L to 8L
      k <- 0L until 5L
    } yield (c, 101L + (c * 3 + k) % 10)
    val (h, a) = hitsMicros(edges.distinct, rounds = 6)
    val (rh, ra) = replayHits(edges.distinct, rounds = 6)
    assert(h == rh, "hub micros differ from replay")
    assert(a == ra, "auth micros differ from replay")
  }

  test("graph_hits: star graph analytic values") {
    // 5 hubs all pointing at one authority: auth = 1.0 exactly,
    // every hub = floor(1e6/sqrt(5))/1e6
    val edges = (1L to 5L).map(c => (c, 100L))
    val (h, a) = hitsMicros(edges, rounds = 3)
    assert(a == Map(100L -> 1000000L))
    val expected = math.floor(1e6 / math.sqrt(5.0)).toLong
    assert(h.values.toSet == Set(expected), s"hubs $h != $expected")
  }

  test("graph_hits: fixture norms ~1 and determinism") {
    val run1 = Analytics.graphHits(spark, sf001).collect()
    val run2 = Analytics.graphHits(spark, sf001).collect()
    assert(run1.toSeq == run2.toSeq, "graph_hits not deterministic")
    Seq("hub", "auth").foreach { kind =>
      val s2 = run1.filter(_.getString(0) == kind)
        .map(r => r.getDouble(2) * r.getDouble(2)).sum
      assert(s2 > 0.98 && s2 <= 1.0 + 1e-9, s"$kind norm² = $s2")
    }
  }

  // ----------------------------------------------------------------- KMV

  test("KmvAgg: sketch == k smallest distinct, under any split + merge order") {
    val rnd = new scala.util.Random(42)
    val xs = Array.fill(500)(rnd.nextLong() >>> 1)
    val exact = xs.distinct.sorted.take(Custom.KmvK).toSeq
    val sequential = xs.foldLeft(Custom.KmvAgg.zero)(Custom.KmvAgg.reduce)
    assert(sequential.vs.toSeq == exact)
    val (l, r) = xs.splitAt(137)
    val merged = Custom.KmvAgg.merge(
      l.foldLeft(Custom.KmvAgg.zero)(Custom.KmvAgg.reduce),
      r.foldLeft(Custom.KmvAgg.zero)(Custom.KmvAgg.reduce))
    assert(merged.vs.toSeq == exact)
    val shuffled = rnd.shuffle(xs.toSeq).foldLeft(Custom.KmvAgg.zero)(Custom.KmvAgg.reduce)
    assert(shuffled.vs.toSeq == exact)
  }

  test("agg_kmv_intersect: estimates within ±25% of exact; exact mode when n < K") {
    val row = Custom.aggKmvIntersect(spark, sf01).collect().head
    val ev = graft.io.Tables.events(spark, sf01)
    def exactUsers(t: String): Long =
      ev.where(col("event_type") === t).select(col("user_id")).distinct().count()
    val ec = exactUsers("click"); val ep = exactUsers("purchase")
    val ei = ev.where(col("event_type") === "click").select(col("user_id"))
      .intersect(ev.where(col("event_type") === "purchase").select(col("user_id")))
      .count()
    assert(math.abs(row.getAs[Double]("est_click") - ec) <= 0.25 * ec)
    assert(math.abs(row.getAs[Double]("est_purchase") - ep) <= 0.25 * ep)
    assert(math.abs(row.getAs[Double]("est_intersect") - ei) <= 0.25 * math.max(ec, ep))
    // sf0.001 has fewer distinct users than K on each side → the sketch
    // IS the set and every estimate must be exact
    val small = Custom.aggKmvIntersect(spark, sf001).collect().head
    if (small.getAs[Int]("n_a") < Custom.KmvK && small.getAs[Int]("n_b") < Custom.KmvK) {
      val sev = graft.io.Tables.events(spark, sf001)
      val sc = sev.where(col("event_type") === "click")
        .select(col("user_id")).distinct().count()
      assert(small.getAs[Double]("est_click") == sc.toDouble)
      val si = sev.where(col("event_type") === "click").select(col("user_id"))
        .intersect(sev.where(col("event_type") === "purchase").select(col("user_id")))
        .count()
      assert(small.getAs[Double]("est_intersect") == si.toDouble)
    }
  }

  // -------------------------------------------------------------- layout

  test("layout_pruning_stats: curve layouts shrink the second dimension; hilbert <= zorder") {
    val rows = Functions.layoutPruningStats(spark, sf01).collect()
      .map(r => r.getString(0) ->
        (r.getLong(1), r.getAs[Double]("avg_extent_ok"), r.getAs[Double]("avg_extent_pk")))
      .toMap
    assert(rows.keySet == Set("1_linear", "2_zorder", "3_hilbert"))
    rows.values.foreach { case (nf, eo, ep) =>
      assert(nf == 16L)
      assert(eo > 0.0 && eo <= 1.0 + 1e-9); assert(ep > 0.0 && ep <= 1.0 + 1e-9)
    }
    val (_, linOk, linPk) = rows("1_linear")
    val (_, zOk, zPk) = rows("2_zorder")
    val (_, hOk, hPk) = rows("3_hilbert")
    // single-column sort: tightest on its own key, no pruning on the other
    assert(linOk < hOk && linOk < zOk)
    assert(linPk > 0.95)
    // the whole point: the curves buy partkey pruning
    assert(hPk < 0.6 * linPk, s"hilbert pk $hPk vs linear $linPk")
    assert(zPk < 0.6 * linPk, s"zorder pk $zPk vs linear $linPk")
    // hilbert's no-diagonal-jump property: never worse than z-order
    assert(hPk <= zPk + 0.02 && hOk <= zOk + 0.02,
      s"hilbert ($hOk,$hPk) should dominate zorder ($zOk,$zPk)")
    val again = Functions.layoutPruningStats(spark, sf01).collect()
    assert(again.map(_.toSeq).toSeq ==
      Functions.layoutPruningStats(spark, sf01).collect().map(_.toSeq).toSeq)
  }

  test("knn_binary_hamming: 3 exact-scored rows per query, deterministic, recall vs brute") {
    val bin = graft.ops.LlmPipeline.knnBinaryHamming(spark, sf001).collect()
      .map(r => (r.getLong(0), r.getInt(1), r.getLong(2), r.getDouble(3)))
    val brute = graft.ops.LlmPipeline.knnCosine(spark, sf001).collect()
      .map(r => (r.getLong(0), r.getInt(1), r.getLong(2), r.getDouble(3)))
    val nq = brute.map(_._1).distinct.length
    assert(bin.map(_._1).distinct.length == nq)
    assert(bin.groupBy(_._1).forall(_._2.map(_._2).sorted.sameElements(Seq(1, 2, 3))))
    // scores are EXACT fp32 rescores — any pair reported by both paths
    // carries the identical rounded score
    val bruteScore = brute.map(t => ((t._1, t._3), t._4)).toMap
    bin.foreach { case (a, _, b, sc) =>
      bruteScore.get((a, b)).foreach(bs =>
        assert(bs == sc, s"pair ($a,$b): binary score $sc != brute $bs"))
    }
    // recall@3: 64 sign bits + 32-candidate exact rescore on the
    // worst-case unclustered fixture
    val bruteTop = brute.groupBy(_._1).map { case (a, rs) => a -> rs.map(_._3).toSet }
    val hit = bin.count { case (a, _, b, _) => bruteTop(a).contains(b) }
    val recall = hit.toDouble / (nq * 3)
    info(f"knn_binary_hamming recall@3 = $recall%.3f")
    assert(recall >= 0.50, f"recall@3 $recall%.3f below pin 0.50")
    val again = graft.ops.LlmPipeline.knnBinaryHamming(spark, sf001).collect()
      .map(r => (r.getLong(0), r.getInt(1), r.getLong(2), r.getDouble(3)))
    assert(again.sameElements(bin))
  }

  // ------------------------------------------------------------- unigram LM

  /** Single-node replay of the EXACT hard-EM recipe from the same word
    * counts: same candidate seeding, same snapped log-probs, same
    * integer-dp Viterbi, same integer usage sums. The design claims
    * bit-identical piece tables and NLLs, so the assert is equality. */
  private def replayUnigram(words: Array[(String, Long)])
      : (Array[(String, Long)], Array[Double]) = {
    import graft.ops.LlmPipeline._
    val cand = scala.collection.mutable.Map.empty[String, Long]
    words.foreach { case (w, f) =>
      for {
        i <- 0 until w.length
        l <- 1 to math.min(UniMaxPieceLen, w.length - i)
      } cand.updateWith(w.substring(i, i + l))(o => Some(o.getOrElse(0L) + f))
    }
    val top = cand.toSeq.sortBy { case (p, c) => (-c, p) }.take(UniVocabTarget)
    val chars = cand.filter(_._1.length == 1).toSeq
    var pieces: Seq[(String, Long)] =
      (top ++ chars).distinctBy(_._1).sortBy { case (p, c) => (-c, p) }
    val nlls = scala.collection.mutable.ArrayBuffer.empty[Double]
    for (_ <- 1 to UniEmRounds) {
      val lp = uniLogProbs(pieces)
      val usage = scala.collection.mutable.Map.empty[String, Long]
      var nll = 0L
      words.foreach { case (w, f) =>
        val (segs, score) = uniViterbi(w, lp)
        segs.foreach(p => usage.updateWith(p)(o => Some(o.getOrElse(0L) + f)))
        nll += -score * f
      }
      nlls += nll / 1e6
      pieces = pieces.flatMap { case (p, _) =>
        val u = usage.getOrElse(p, 0L)
        if (u > 0 || p.length == 1) Some((p, u)) else None
      }.sortBy { case (p, c) => (-c, p) }
    }
    (pieces.toArray, nlls.toArray)
  }

  test("corpus_unigram_train: distributed EM == driver replay, NLL monotone") {
    import org.apache.spark.sql.functions.{count => fcount}
    val words = graft.io.Tables.documents(spark, sf001)
      .select(explode(split(col("text"), " ")).as("w"))
      .where(col("w") =!= "")
      .groupBy(col("w")).agg(fcount(lit(1)).as("freq"))
      .collect().map(r => (r.getString(0), r.getLong(1)))
    val (rp, rn) = replayUnigram(words)
    val (dp, dn) = graft.ops.LlmPipeline.trainUnigram(spark, sf001)
    assert(dp.toSeq == rp.toSeq, "piece tables differ from replay")
    assert(dn.toSeq == rn.toSeq, "NLL sequences differ from replay")
    // hard EM: joint best-segmentation NLL never increases
    dn.sliding(2).foreach { case Array(a, b) =>
      assert(b <= a + 1e-3, s"NLL increased: ${dn.toSeq}")
    }
    // the table carries every single character of the corpus (coverage)
    val pieceSet = dp.map(_._1).toSet
    words.flatMap(_._1.split("")).filter(_.nonEmpty)
      .foreach(c => assert(pieceSet.contains(c), s"missing char piece $c"))
  }

  test("corpus_unigram_tokenize: round-trip totality + count envelopes + determinism") {
    val out = graft.ops.LlmPipeline.corpusUnigramTokenize(spark, sf001).collect()
    assert(out.nonEmpty)
    out.foreach { r =>
      assert(r.getBoolean(4), s"round-trip failed for doc ${r.getLong(0)}")
      val (nw, nc, np) = (r.getLong(1), r.getLong(2), r.getLong(3))
      assert(nw <= np && np <= nc, s"envelope violated: words=$nw pieces=$np chars=$nc")
    }
    // a trained multi-char vocabulary must actually compress: strictly
    // fewer pieces than characters corpus-wide
    assert(out.map(_.getLong(3)).sum < out.map(_.getLong(2)).sum)
    val again = graft.ops.LlmPipeline.corpusUnigramTokenize(spark, sf001).collect()
    assert(again.map(_.toSeq).toSeq == out.map(_.toSeq).toSeq)
  }

  // ------------------------------------------------------------ governance

  test("privacy_t_closeness: bounds, identity class, and the global-mix class") {
    val rows = graft.ops.Govern.privacyTCloseness(spark, sf01).collect()
    assert(rows.nonEmpty)
    rows.foreach { r =>
      val t = r.getAs[Double]("t")
      assert(t >= 0.0 && t <= 1.0, s"t out of [0,1]: $t")
      assert(r.getAs[Double]("emd_bands") >= 0.0)
      assert((r.getAs[Int]("meets_t02") == 1) == (t <= 0.2))
    }
    // a class that IS the global distribution must score exactly 0 —
    // replay the integer chain on a synthetic single-class table
    import spark.implicits._
    val one = Seq.tabulate(100)(i => (1L, "X", (i % 5).toLong))
      .toDF("c_nationkey", "c_mktsegment", "c_acctbal")
    // route through the same banding by scaling bands up 1000×
    val df = one.withColumn("c_acctbal", col("c_acctbal") * 1000)
    df.createOrReplaceTempView("ignored") // (not used; direct call below)
    val tmp = tempDir("graft-tc")
    df.write.mode("overwrite").parquet(s"$tmp/customer.parquet")
    val r = graft.ops.Govern.privacyTCloseness(spark, tmp).collect()
    assert(r.length == 1 && r.head.getAs[Double]("t") == 0.0 &&
      r.head.getAs[Double]("emd_bands") == 0.0,
      s"single class vs itself must be t=0: ${r.toSeq}")
  }

  // ---------------------------------------------------------- random walks

  test("graph_random_walk_sample: shape, edge-validity, determinism") {
    val rows = graft.ops.Analytics.graphRandomWalkSample(spark, sf001).collect()
      .map(r => (r.getLong(0), r.getInt(1), r.getLong(2)))
    val walks = rows.groupBy(_._1)
    assert(walks.size == 128, s"expected 128 walks, got ${walks.size}")
    walks.values.foreach(w =>
      assert(w.map(_._2).sorted.sameElements(0 to 8), s"broken walk ${w.toSeq}"))
    // every consecutive (node, next) pair is an edge of the co-order graph
    val pairs = graft.ops.Analytics.coOrderPairs(spark, sf001).distinct().collect()
      .map(r => (r.getLong(0), r.getLong(1)))
    val edgeSet = pairs.flatMap(p => Seq(p, p.swap)).toSet
    walks.values.foreach { w =>
      w.sortBy(_._2).sliding(2).foreach { case Array(a, b) =>
        assert(edgeSet.contains((a._3, b._3)),
          s"walk step ${b._2} uses non-edge ${(a._3, b._3)}")
      }
    }
    val again = graft.ops.Analytics.graphRandomWalkSample(spark, sf001).collect()
      .map(r => (r.getLong(0), r.getInt(1), r.getLong(2)))
    assert(again.sameElements(rows))
  }

  test("graph_random_walk_sample: driver XXH64 replay on a synthetic graph") {
    import spark.implicits._
    import org.apache.spark.sql.catalyst.expressions.XXH64
    // 5-cycle: node i ~ i±1 mod 5
    val edges = (0L until 5L).flatMap(i =>
      Seq((i, (i + 1) % 5), ((i + 1) % 5, i)))
    val got = graft.ops.Analytics.randomWalks(
        edges.toDF("src", "dst"), Seq(0L, 1L).toDF("node"),
        walksPerSeed = 2, steps = 6)
      .collect().map(r => (r.getLong(0), r.getInt(1), r.getLong(2))).toSet
    val adj = edges.groupBy(_._1).map { case (s0, es) =>
      s0 -> es.map(_._2).sorted.toIndexedSeq }
    val expect = scala.collection.mutable.Set.empty[(Long, Int, Long)]
    for (seed <- Seq(0L, 1L); k <- 0 until 2) {
      val wid = seed * 2 + k
      var node = seed
      expect += ((wid, 0, node))
      for (t <- 1 to 6) {
        val h = XXH64.hashLong(wid, XXH64.hashLong(t.toLong, XXH64.hashLong(node, 42L)))
        val ns = adj(node)
        val idx = ((h % ns.length) + ns.length) % ns.length // pmod
        node = ns(idx.toInt)
        expect += ((wid, t, node))
      }
    }
    assert(got == expect.toSet, s"walks differ:\n got=$got\n exp=$expect")
  }

  // ------------------------------------------------- bloom decontamination

  test("decontaminate_bloom: one-sided vs exact, fpp-bounded loss, deterministic") {
    val exact = graft.ops.LlmPipeline.decontaminateNgram(spark, sf01)
      .select("doc_id").collect().map(_.getLong(0)).toSet
    val bloom = graft.ops.LlmPipeline.decontaminateBloom(spark, sf01)
      .select("doc_id").collect().map(_.getLong(0)).toSet
    // the filter can only over-flag: bloom-clean ⊆ exact-clean — a
    // contaminated doc can never survive the bloom tier
    assert(bloom.subsetOf(exact),
      s"bloom kept docs the exact tier drops: ${(bloom -- exact).take(5)}")
    // fpp-bounded loss: ≤ 2% of the exact-clean corpus falsely dropped
    val lost = exact.size - bloom.size
    assert(lost <= math.max(1, exact.size / 50),
      s"bloom dropped $lost of ${exact.size} clean docs")
    val again = graft.ops.LlmPipeline.decontaminateBloom(spark, sf01)
      .select("doc_id").collect().map(_.getLong(0)).toSet
    assert(again == bloom)
  }

  // ------------------------------------------------------- CDC chunk dedup

  test("dedup_cdc_chunks: boundaries re-align after an insertion (fixed segments don't)") {
    import spark.implicits._
    // 200 distinct non-periodic words; the twin prepends one word
    val words = (0 until 200).map(i => s"w$i")
    val a = words.mkString(" ")
    val b = ("zzz " + a)
    val tmp = tempDir("graft-cdc")
    Seq((1L, a, "en", "s", a.length.toLong), (2L, b, "en", "s", b.length.toLong))
      .toDF("doc_id", "text", "lang", "source", "n_chars")
      .write.mode("overwrite").parquet(s"$tmp/documents.parquet")
    val rows = graft.ops.LlmPipeline.dedupCdcChunks(spark, tmp).collect()
      .map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2))).toMap
    // CDC: after the one-word prefix shift, boundaries re-synchronize
    // within ~one expected chunk, so MOST chunks are shared verbatim
    val (nA, dupA) = rows(1L)
    assert(dupA.toDouble / nA >= 0.6,
      s"CDC re-alignment too weak: $dupA of $nA chunks shared")
    // the fixed-width strawman on the same pair: 16-word segments shift
    // by one word and share NOTHING
    val segA = words.grouped(16).map(_.mkString(" ")).toSet
    val segB = ("zzz" +: words).grouped(16).map(_.mkString(" ")).toSet
    assert(segA.intersect(segB).isEmpty,
      "fixed segments unexpectedly aligned — strawman invalid")
  }

  // ------------------------------------------------------ tokenizer report

  test("pipeline_tokenizer_report: rows equal independent aggregates") {
    val rep = graft.ops.LlmPipeline.pipelineTokenizerReport(spark, sf001)
      .collect().map(r => r.getString(0) -> (r.getLong(1), r.getDouble(2))).toMap
    assert(rep.keySet == Set("1_whitespace", "2_bpe", "3_unigram"))
    val bpe = graft.ops.LlmPipeline.corpusBpeTokenize(spark, sf001)
      .agg(org.apache.spark.sql.functions.sum("n_words"),
        org.apache.spark.sql.functions.sum("n_bpe_tokens")).collect().head
    val uni = graft.ops.LlmPipeline.corpusUnigramTokenize(spark, sf001)
      .agg(org.apache.spark.sql.functions.sum("n_words"),
        org.apache.spark.sql.functions.sum("n_pieces")).collect().head
    assert(rep("1_whitespace")._1 == bpe.getLong(0))
    assert(rep("2_bpe")._1 == bpe.getLong(1))
    assert(rep("3_unigram")._1 == uni.getLong(1))
    assert(rep("2_bpe")._2 >= 1.0 && rep("3_unigram")._2 >= 1.0)
    assert(rep("1_whitespace")._2 == 1.0)
  }

  test("stream_kmv_distinct: estimates within ±25% of exact per cell") {
    val est = graft.ops.Streaming.streamKmvDistinct(spark, sf01).collect()
      .map(r => (r.getTimestamp(0), r.getString(1)) ->
        (r.getInt(2), r.getAs[Double]("est_distinct"))).toMap
    assert(est.nonEmpty)
    val exact = graft.io.Tables.events(spark, sf01)
      .groupBy(window(col("ts"), "1 day").as("w"), col("event_type"))
      .agg(countDistinct(col("user_id")).as("n"))
      .select(col("w.start"), col("event_type"), col("n")).collect()
      .map(r => (r.getTimestamp(0), r.getString(1)) -> r.getLong(2)).toMap
    assert(est.keySet == exact.keySet)
    est.foreach { case (k, (kept, e)) =>
      val x = exact(k)
      assert(math.abs(e - x) <= math.max(2.0, 0.25 * x),
        s"cell $k: est $e vs exact $x (kept $kept)")
      if (kept < graft.ops.Custom.KmvK)
        assert(e == x.toDouble, s"sub-K cell $k must be exact: $e vs $x")
    }
  }

  // ---------------------------------------------------- embedding outliers

  test("embedding_outlier_knn: threshold semantics, rate, planted-junk recall") {
    val rows = graft.ops.LlmPipeline.embeddingOutlierKnn(spark, sf001).collect()
      .map(r => (r.getLong(0), r.getDouble(1), r.getInt(2)))
    val (out, keep) = rows.partition(_._3 == 1)
    assert(out.nonEmpty && keep.nonEmpty)
    // exact-percentile threshold: every outlier scores <= every keeper
    assert(out.map(_._2).max <= keep.map(_._2).min)
    val rate = out.length.toDouble / rows.length
    assert(rate >= 0.08 && rate <= 0.20, s"outlier rate $rate")
    // planted junk: 40 copies of a tight cluster + one orthogonal junk
    // vector — the junk's neighbors are all far and it MUST flag
    import spark.implicits._
    val dim = 64
    val base = Array.tabulate(dim)(i => if (i == 0) 1.0f else 0.0f)
    val clustered = (0L until 40L).map { i =>
      val v = base.clone()
      v(1) = (i % 7).toFloat * 1e-3f
      val n = math.sqrt(v.map(x => x.toDouble * x).sum).toFloat
      (i, v.map(_ / n))
    }
    val junk = (99L, Array.tabulate(dim)(i => if (i == 63) 1.0f else 0.0f))
    val tmp = tempDir("graft-outlier")
    (clustered :+ junk).toDF("vec_id", "embedding")
      .write.mode("overwrite").parquet(s"$tmp/embeddings.parquet")
    val planted = graft.ops.LlmPipeline.embeddingOutlierKnn(spark, tmp).collect()
      .map(r => r.getLong(0) -> r.getInt(2)).toMap
    assert(planted(99L) == 1, "planted junk vector not flagged")
  }

  // ------------------------------------------------------- shard manifest

  test("sink_shard_manifest: totals conserve and digest detects corruption") {
    val m = graft.io.Formats.sinkShardManifest(spark, sf001).collect()
      .map(r => (r.getInt(0), r.getLong(1), r.getLong(2), r.getLong(3)))
    val total = graft.io.Tables.documents(spark, sf001).count()
    assert(m.map(_._2).sum == total, "manifest loses/duplicates docs")
    assert(m.map(_._1).distinct.length == m.length)
    // the digest is content-sensitive: recompute with one doc's text
    // perturbed and the affected shard's digest must move
    import spark.implicits._
    val docs = graft.io.Tables.documents(spark, sf001)
    val tmp = tempDir("graft-manifest")
    docs.withColumn("text",
        when(col("doc_id") === 0L, concat(col("text"), lit(" corrupted")))
          .otherwise(col("text")))
      .write.mode("overwrite").parquet(s"$tmp/documents.parquet")
    val m2 = graft.io.Formats.sinkShardManifest(spark, tmp).collect()
      .map(r => r.getInt(0) -> r.getLong(3)).toMap
    val m1 = m.map(t => t._1 -> t._4).toMap
    assert(m1 != m2, "digest blind to content corruption")
    assert(m1.count { case (k, v) => m2(k) != v } == 1,
      "corruption should move exactly one shard digest")
  }

  // ------------------------------------------------------ time-decay EWMA

  test("ts_ewma_timedecay: driver replay + analytic half-life points") {
    val out = graft.ops.Quant.tsEwmaTimedecay(spark, sf001).collect()
      .map(r => r.getLong(0) -> (r.getLong(1), r.getDouble(2))).toMap
    def us(t: java.sql.Timestamp): Long =
      t.toInstant.getEpochSecond * 1000000L + t.toInstant.getNano / 1000L
    val ev = graft.io.Tables.events(spark, sf001)
      .select(col("user_id"), col("ts"), col("event_id"), col("value"))
      .collect()
      .map(r => (r.getLong(0), r.getTimestamp(1), r.getLong(2), r.getDouble(3)))
    ev.groupBy(_._1).foreach { case (u, rows) =>
      val xs = rows.sortBy(e => (us(e._2), e._3))
      var sm = xs(0)._4
      var prev = us(xs(0)._2)
      xs.drop(1).foreach { e =>
        val tu = us(e._2)
        val a = math.floor(math.exp(-((tu - prev).toDouble / 3.6e9)) * 1e6) / 1e6
        sm = a * sm + (1.0 - a) * e._4
        prev = tu
      }
      val expect = math.floor(sm * 10000.0 + 0.5) / 10000.0
      assert(out(u) == ((xs.length.toLong, expect)), s"user $u")
    }
    // analytic: one hour of decay weighs the old state by exactly
    // floor(e^-1 * 1e6)/1e6
    assert(math.floor(math.exp(-1.0) * 1e6) / 1e6 == 0.367879)
  }

  // -------------------------------------------- card + blocklist invariants

  test("pipeline_corpus_card: internal consistency") {
    val rows = Corpus.pipelineCorpusCard(spark, sf001).collect()
    def v(section: String, metric: String): Seq[Double] =
      rows.filter(r => r.getString(0) == section && r.getString(2) == metric)
        .map(_.getDouble(3)).toSeq
    val total = graft.io.Tables.documents(spark, sf001).count().toDouble
    assert(v("lang", "n_docs").sum == total)
    assert(v("source", "n_docs").sum == total)
    val Seq(mn) = v("len", "min_tokens"); val Seq(mx) = v("len", "max_tokens")
    val Seq(mean) = v("len", "mean_tokens")
    assert(mn <= mean && mean <= mx)
    (v("dup", "exact_dup_frac") ++ v("quality", "kept_frac")).foreach { f =>
      assert(f >= 0.0 && f <= 1.0)
    }
  }

  test("text_blocklist_filter: whole-token semantics match the array path") {
    val out = Corpus.textBlocklistFilter(spark, sf001)
    val rows = out.collect()
    rows.foreach { r =>
      val n = r.getLong(1)
      assert(n >= 3 && n <= Corpus.BlockTerms.size)
      assert(Corpus.BlockTerms.contains(r.getString(2)))
    }
    // independent recompute through array_intersect instead of the
    // exploded broadcast join
    val alt = graft.io.Tables.documents(spark, sf001)
      .select(col("doc_id"),
        array_intersect(array_distinct(split(col("text"), " ")),
          lit(Corpus.BlockTerms.toArray)).as("hits"))
      .select(col("doc_id"), size(col("hits")).as("n_blocked"),
        array_min(col("hits")).as("first_term"))
      .where(col("n_blocked") >= 3)
    assertSameRows(out, alt, "blocklist join vs array path:")
  }
}
