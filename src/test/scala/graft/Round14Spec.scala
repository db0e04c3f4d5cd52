package graft

import org.apache.spark.sql.functions._

/** Round-14 pins: MERGE clause routing, the HNSW rung's determinism /
  * exact-score / recall properties, video frame-delta replay, and the
  * scc-labeling memo's producer/consumer contract. */
class Round14Spec extends SparkSpec {

  // ------------------------------------------------ sql_merge_upsert

  test("sql_merge_upsert routes all five MERGE cases on a synthetic change batch") {
    import spark.implicits._
    // keys (user 1..5, one type) engineered per clause:
    //   u1: target only                      -> keep
    //   u2: target + source U                -> update (source values win)
    //   u3: target + source D (odd id %5==0) -> row absent
    //   u4: source U only                    -> insert
    //   u5: source D only                    -> no-op (absent)
    // plus a same-key source pair proving latest-wins pre-compaction.
    def ts(s: Long) = new java.sql.Timestamp(1700000000000L + s * 1000)
    val rows = Seq(
      (2L, 1L, ts(10), "click", 1.0), // u1 target (even id)
      (4L, 2L, ts(10), "click", 2.0), // u2 target
      (11L, 2L, ts(20), "click", 9.0), // u2 source U (odd, %5!=0)
      (7L, 2L, ts(15), "click", 8.0), // u2 older source, must lose
      (6L, 3L, ts(10), "click", 3.0), // u3 target
      (15L, 3L, ts(20), "click", 0.0), // u3 source D (odd, %5==0)
      (13L, 4L, ts(20), "click", 4.5), // u4 source U, no target
      (25L, 5L, ts(20), "click", 0.0)) // u5 source D, no target
    val tmp = tempDir("graft-merge14")
    rows.toDF("event_id", "user_id", "ts", "event_type", "value")
      .write.mode("overwrite").parquet(s"$tmp/events.parquet")
    val got = ops.Relational.sqlMergeUpsert(spark, tmp)
      .select(col("user_id"), col("event_id"), col("value"), col("action"))
      .as[(Long, Long, Double, String)].collect().toSeq
    assert(got === Seq(
      (1L, 2L, 1.0, "keep"),
      (2L, 11L, 9.0, "update"),
      (4L, 13L, 4.5, "insert")))
  }

  // ------------------------------------------------ knn_hnsw

  test("knn_hnsw: deterministic across runs; every emitted score equals the brute r4 dot") {
    import spark.implicits._
    val a = ops.LlmPipeline.knnHnsw(spark, sf001)
      .as[(Long, Int, Long, Double)].collect().toSeq
    val b = ops.LlmPipeline.knnHnsw(spark, sf001)
      .as[(Long, Int, Long, Double)].collect().toSeq
    assert(a === b, "two HNSW runs diverged — a nondeterminism leak")
    assert(a.nonEmpty && a.forall(_._3 >= 0))
    // exact-score pin: emitted scores are r4(dot) of the actual pair
    val embOf = graft.io.Tables.embeddings(spark, sf001)
      .select(col("vec_id"), col("embedding"))
      .as[(Long, Array[Float])].collect().toMap
    def dot(x: Array[Float], y: Array[Float]): Double = {
      var s = 0.0; var i = 0
      while (i < math.min(x.length, y.length)) {
        s += x(i).toDouble * y(i).toDouble; i += 1
      }
      s
    }
    def r4(x: Double): Double = math.floor(x * 10000 + 0.5) / 10000.0
    a.foreach { case (q, _, nb, sc) =>
      assert(sc === r4(dot(embOf(q), embOf(nb))),
        s"score drift for pair ($q, $nb)")
    }
    // per-query ranking is (score desc, id asc) and self-free
    a.groupBy(_._1).foreach { case (q, rs) =>
      val sorted = rs.sortBy(_._2)
      assert(sorted.forall(_._3 != q), s"query $q returned itself")
      assert(sorted.map(r => (-r._4, r._3)) === sorted.map(r => (-r._4, r._3)).sorted,
        s"query $q rank order violates (score desc, id asc)")
    }
  }

  test("hnsw rung: recall@3 >= the ivf_pq rung at sub-full candidate fraction (ann report)") {
    val rep = ops.LlmPipeline.pipelineAnnReport(spark, sf001)
      .collect().map(r => r.getString(0) ->
        (r.getDouble(1), r.getDouble(3))).toMap
    val (hnswRecall, hnswFrac) = rep("hnsw_fp32")
    val (ivfPqRecall, _) = rep("ivf_pq")
    info(f"hnsw recall=$hnswRecall%.4f frac=$hnswFrac%.4f; ivf_pq recall=$ivfPqRecall%.4f")
    assert(hnswRecall >= ivfPqRecall,
      s"hnsw recall $hnswRecall below the ivf_pq rung $ivfPqRecall")
    // the tiny sf0.001 collection may legitimately walk everything
    // (ef=64 ~ n); the sub-full-scan claim is pinned at sf0.01 below
    assert(hnswFrac > 0.0)
  }

  test("hnsw at sf0.1: the beam visits a sub-full candidate fraction") {
    import spark.implicits._
    // the beam's visited set is ~ef-sized + frontier expansion, roughly
    // n-independent — so the index effect only SHOWS once n outgrows it
    // (sf0.01's 500-vector collection is legitimately ~84% walked; the
    // 2000-vector sf0.1 collection is where sub-full must hold)
    val sf1 = "/root/testdata/sf0.1"
    val all = ops.LlmPipeline.hnswSearchAll(spark, sf1)
      .select(col("vec_id"), col("n_scored"))
      .groupBy(col("vec_id")).agg(max(col("n_scored")).as("m"))
      .as[(Long, Long)].collect()
    val n = graft.io.Tables.embeddings(spark, sf1).count()
    val frac = all.map(_._2).sum.toDouble / (all.length.toDouble * (n - 1))
    info(f"sf0.1: n=$n mean cand frac=$frac%.4f")
    assert(frac < 0.6,
      f"hnsw scored $frac%.2f of the collection per query — no index effect")
  }

  // ------------------------------------- multimodal_video_framestats

  test("multimodal_video_framestats == driver replay at sf0.001; planted payloads route") {
    import spark.implicits._
    val got = ops.LlmPipeline.multimodalVideoFramestats(spark, sf001)
      .as[(Long, Long, Double, Double, Double, Long)].collect()
    assert(got.nonEmpty)
    val docs = graft.io.Tables.documents(spark, sf001)
      .select(col("doc_id"), col("text")).as[(Long, String)].collect().toMap
    def r4(x: Double): Double = math.floor(x * 10000 + 0.5) / 10000.0
    got.foreach { case (id, nf, meanLuma, meanDelta, maxDelta, cuts) =>
      val b = docs(id).getBytes("UTF-8")
      val f = b.length / 256
      assert(nf === f.toLong, s"doc $id frame count")
      if (f > 0) {
        val luma = (0 until f * 256).foldLeft(0L)((a, i) => a + (b(i) & 0xff))
        assert(meanLuma === r4(luma.toDouble / (f.toLong * 256)), s"doc $id luma")
      }
      val deltas = (1 until f).map { fr =>
        (0 until 256).foldLeft(0L)((a, j) =>
          a + math.abs((b((fr - 1) * 256 + j) & 0xff) - (b(fr * 256 + j) & 0xff)))
      }
      if (f > 1) {
        assert(meanDelta === r4(deltas.sum.toDouble / ((f - 1).toLong * 256)),
          s"doc $id delta")
        assert(maxDelta === r4(deltas.max.toDouble / 256), s"doc $id maxDelta")
      }
      assert(cuts === deltas.count(_ >= 24L * 256).toLong, s"doc $id cuts")
    }
    // planted: a static clip (all-equal frames) and a hard-cut clip
    // (alternating black/white frames)
    val static = new String(Array.fill(4 * 256)('a'.toByte), "UTF-8")
    val cutty = new String((0 until 4).flatMap(fr =>
      Array.fill(256)(if (fr % 2 == 0) 0x20.toByte else 0x7e.toByte)).toArray, "UTF-8")
    val tmp = tempDir("graft-video14")
    Seq((1L, static, "en"), (2L, cutty, "en"))
      .toDF("doc_id", "text", "lang")
      .write.mode("overwrite").parquet(s"$tmp/documents.parquet")
    val planted = ops.LlmPipeline.multimodalVideoFramestats(spark, tmp)
      .as[(Long, Long, Double, Double, Double, Long)].collect()
      .map(r => r._1 -> r).toMap
    assert(planted(1L)._4 === 0.0 && planted(1L)._6 === 0L,
      "static clip must show zero motion and zero cuts")
    assert(planted(2L)._6 === 3L,
      "alternating clip must cut at every frame boundary")
    assert(planted(2L)._4 === (0x7e - 0x20).toDouble,
      "alternating clip mean delta is the full luma swing")
  }

  // ------------------------------------------ stream_merge_upsert

  test("stream_merge_upsert: batch mode == sql_merge_upsert bit-for-bit") {
    import spark.implicits._
    val a = ops.Stateful.streamMergeUpsert(spark, sf001)
      .select(col("user_id"), col("event_type"), col("event_id"),
        col("ts"), col("value"), col("action"))
      .as[(Long, String, Long, java.sql.Timestamp, Double, String)]
      .collect().toSet
    val b = ops.Relational.sqlMergeUpsert(spark, sf001)
      .select(col("user_id"), col("event_type"), col("event_id"),
        col("ts"), col("value"), col("action"))
      .as[(Long, String, Long, java.sql.Timestamp, Double, String)]
      .collect().toSet
    assert(a.nonEmpty && a === b)
  }

  test("stream_merge_upsert fold: order-free, split-replay exact, tombstone protocol") {
    import ops.Stateful.{Event, MuState, muFold, muView}
    def ts(sec: Long) = new java.sql.Timestamp(1700000000000L + sec * 1000)
    def ev(id: Long, sec: Long, v: Double) =
      Event(id, ts(sec), 1L, "click", v, "{}")
    val empty = MuState(None, None, emitted = false)
    val evs = Array(ev(2, 10, 1.0), ev(11, 20, 9.0), ev(7, 15, 8.0),
      ev(4, 25, 3.5), ev(9, 5, 2.0))
    // order-free: the candidate fold is a commutative tuple-max, so ANY
    // permutation and ANY chunking converge to the same state (unlike
    // scd2/Holt there is no cross-batch ordering precondition)
    val whole = muFold(evs, empty)
    evs.permutations.take(24).foreach { p =>
      assert(muFold(p, empty) === whole, s"permutation ${p.map(_.event_id).toSeq}")
      val (c1, c2) = p.splitAt(2)
      assert(muFold(c2, muFold(c1, empty)) === whole,
        s"split replay ${p.map(_.event_id).toSeq}")
    }
    // view: target = id 4 (ts 25 latest even), source = id 11 (ts 20
    // latest odd, op U) -> update with source values
    val v0 = muView(1L, "click", whole)
    assert(v0.exists(r => r.action === "update" && r.event_id === 11L &&
      r.value === 9.0))
    // tombstone protocol: a newer deleting source (id 25, %5==0) after a
    // published row -> one delete emission; further deletes emit nothing
    val del = muFold(Array(ev(25, 30, 0.0)), whole.copy(emitted = true))
    assert(muView(1L, "click", del).isEmpty)
    // muStream's emission rule: view None + emitted -> tombstone once
    assert(del.emitted, "fold must not clear the emitted flag itself")
    val again = muFold(Array(ev(35, 40, 0.0)), del.copy(emitted = false))
    assert(muView(1L, "click", again).isEmpty && !again.emitted)
  }

  // ------------------------------------ cluster_hierarchical_cut

  test("cluster_hierarchical_cut == driver CC of the FULL thresholded graph (MST equivalence)") {
    import spark.implicits._
    // independent driver check of the single-linkage <-> MST-cut
    // equivalence: CC of the whole co-order graph at cnt >= 3, computed
    // by union-find over the full edge set (never the forest)
    val full = ops.Analytics.coOrderPairs(spark, sf01)
      .groupBy(col("p1"), col("p2")).agg(count(lit(1)).as("cnt"))
      .as[(Long, Long, Long)].collect()
    val nodes = full.flatMap(e => Seq(e._1, e._2)).distinct
    val parent = scala.collection.mutable.Map(nodes.map(n => n -> n): _*)
    def find(x: Long): Long = {
      var r = x
      while (parent(r) != r) r = parent(r)
      var c = x
      while (parent(c) != r) { val n = parent(c); parent(c) = r; c = n }
      r
    }
    full.filter(e => e._3 >= 3 && e._1 != e._2).foreach { case (a, b, _) =>
      val (ra, rb) = (find(a), find(b))
      if (ra != rb) parent(math.max(ra, rb)) = math.min(ra, rb)
    }
    val expected = nodes.map(n => n -> find(n)).toMap
    val got = ops.Analytics.clusterHierarchicalCut(spark, sf01)
      .select(col("part"), col("cluster_id"), col("cluster_size"))
      .as[(Long, Long, Long)].collect()
    assert(got.nonEmpty)
    val gotUniverse = got.map(_._1).toSet
    // every op row must agree with the full-graph CC label
    got.foreach { case (p, cid, _) =>
      assert(expected(p) === cid, s"part $p: forest cut label $cid != full-graph CC ${expected(p)}")
    }
    // and the op's universe is exactly the forest-spanned node set
    // (every node with at least one co-order edge)
    assert(gotUniverse === nodes.toSet)
    // cluster sizes self-consistent
    got.groupBy(_._2).foreach { case (cid, rows) =>
      assert(rows.forall(_._3 === rows.length.toLong), s"cluster $cid size")
    }
    val nClusters = got.map(_._2).toSet.size
    info(s"sf0.01: ${got.length} parts in $nClusters single-linkage clusters at t=3")
    assert(nClusters > 1, "cut produced one giant cluster — threshold uninformative")
  }

  test("cluster_hierarchical_cut splits a synthetic chain at its weak link") {
    import spark.implicits._
    // parts 1-2-3 strongly co-ordered (3 orders each pair), 3-4 weak
    // (2 orders), 4-5 strong: the cut must split {1,2,3} | {4,5}
    def orders(o0: Long, a: Long, b: Long, n: Int) =
      (0 until n).flatMap(i => Seq((o0 + i, 1, a), (o0 + i, 2, b)))
    val rows = orders(100, 1, 2, 3) ++ orders(200, 2, 3, 3) ++
      orders(300, 3, 4, 2) ++ orders(400, 4, 5, 3)
    val tmp = tempDir("graft-slink14")
    rows.toDF("l_orderkey", "l_linenumber", "l_partkey")
      .write.mode("overwrite").parquet(s"$tmp/lineitem.parquet")
    val got = ops.Analytics.clusterHierarchicalCut(spark, tmp)
      .as[(Long, Long, Long)].collect().map(r => r._1 -> (r._2, r._3)).toMap
    assert(got.keySet === Set(1L, 2L, 3L, 4L, 5L))
    assert(Set(1L, 2L, 3L).map(got(_)._1).size === 1, "strong triple must stay together")
    assert(Set(4L, 5L).map(got(_)._1).size === 1, "strong pair must stay together")
    assert(got(1L)._1 !== got(4L)._1, "weak link must be cut")
    assert(got(1L)._2 === 3L && got(4L)._2 === 2L)
  }

  // ------------------------------------- graph_harmonic_centrality

  test("graph_harmonic_centrality == driver BFS replay from the same seeds at sf0.01") {
    import spark.implicits._
    // the op's own edge derivation, collected for the driver replay
    val edges = ops.Analytics.coOrderPairs(spark, sf01)
      .groupBy(col("p1"), col("p2")).agg(count(lit(1)).as("cnt"))
      .where(col("cnt") >= 2).select(col("p1"), col("p2"))
      .as[(Long, Long)].collect()
    val adj = scala.collection.mutable.Map.empty[Long, scala.collection.mutable.ArrayBuffer[Long]]
    edges.foreach { case (a, b) =>
      adj.getOrElseUpdate(a, scala.collection.mutable.ArrayBuffer.empty) += b
      adj.getOrElseUpdate(b, scala.collection.mutable.ArrayBuffer.empty) += a
    }
    // same seed rule as bfsLevels: k=16 smallest (xxhash64, id)
    val seeds = edges.flatMap(e => Seq(e._1, e._2)).distinct.toSeq.toDF("v")
      .withColumn("h", xxhash64(col("v")))
      .orderBy(col("h"), col("v")).limit(16)
      .select(col("v")).as[Long].collect()
    val rsum = scala.collection.mutable.Map.empty[Long, Long]
    val nre = scala.collection.mutable.Map.empty[Long, Long]
    seeds.foreach { s0 =>
      val dist = scala.collection.mutable.Map(s0 -> 0L)
      var frontier = List(s0)
      while (frontier.nonEmpty) {
        frontier = frontier.flatMap(v => adj.getOrElse(v, Nil).filter { n =>
          if (dist.contains(n)) false else { dist(n) = dist(v) + 1; true }
        })
      }
      dist.foreach { case (v, d0) =>
        if (v != s0) {
          rsum(v) = rsum.getOrElse(v, 0L) + math.floor(1e9 / d0).toLong
          nre(v) = nre.getOrElse(v, 0L) + 1L
        }
      }
    }
    val got = ops.Analytics.graphHarmonicCentrality(spark, sf01)
      .as[(Long, Long, Double)].collect()
    assert(got.nonEmpty)
    got.foreach { case (p, n, h) =>
      assert(n === nre(p), s"part $p n_reached")
      assert(h === math.floor(rsum(p).toDouble / 1e9 * 1e6 + 0.5) / 1e6,
        s"part $p harmonic")
    }
    assert(got.map(_._1).toSet === nre.keySet, "row universe mismatch")
  }

  test("graph_harmonic_centrality: all-seeds star identity") {
    import spark.implicits._
    // star 0-(1..9), each spoke co-ordered twice; k=16 > n makes every
    // node a seed: H(center) = 9, H(leaf) = 1 + 8 * 0.5 = 5
    val rows = (1L to 9L).flatMap { i =>
      Seq((i * 10, 1, 0L), (i * 10, 2, i), (i * 10 + 1, 1, 0L), (i * 10 + 1, 2, i))
    }
    val tmp = tempDir("graft-harm14")
    rows.toDF("l_orderkey", "l_linenumber", "l_partkey")
      .write.mode("overwrite").parquet(s"$tmp/lineitem.parquet")
    val got = ops.Analytics.graphHarmonicCentrality(spark, tmp)
      .as[(Long, Long, Double)].collect().map(r => r._1 -> (r._2, r._3)).toMap
    assert(got(0L) === ((9L, 9.0)), "star center")
    (1L to 9L).foreach(i => assert(got(i) === ((9L, 5.0)), s"leaf $i"))
  }

  // ------------------------------------------------ scc label memo

  test("scc labeling memo: producer/consumer share labels per corpus; fingerprint sees overwrites") {
    import spark.implicits._
    // synthetic directed fixture via lineitem: orders sequencing parts
    // both ways => one 2-cycle SCC; a third part only downstream
    def li(rows: Seq[(Long, Int, Long)], dir: String): Unit =
      rows.toDF("l_orderkey", "l_linenumber", "l_partkey")
        .write.mode("overwrite").parquet(s"$dir/lineitem.parquet")
    val dirA = tempDir("graft-sccmemoA")
    val dirB = tempDir("graft-sccmemoB")
    li(Seq(
      (10L, 1, 1L), (10L, 2, 2L), (11L, 1, 2L), (11L, 2, 1L),
      (12L, 1, 1L), (12L, 2, 2L), (13L, 1, 2L), (13L, 2, 1L),
      (14L, 1, 2L), (14L, 2, 3L), (15L, 1, 2L), (15L, 2, 3L)), dirA)
    // cycle moved to {2,3} in corpus B
    li(Seq(
      (20L, 1, 2L), (20L, 2, 3L), (21L, 1, 3L), (21L, 2, 2L),
      (22L, 1, 2L), (22L, 2, 3L), (23L, 1, 3L), (23L, 2, 2L),
      (24L, 1, 1L), (24L, 2, 2L), (25L, 1, 1L), (25L, 2, 2L)), dirB)
    val scc1 = ops.Analytics.graphScc(spark, dirA)
      .select(col("part"), col("scc_id")).as[(Long, Long)].collect().toMap
    assert(scc1(1L) === scc1(2L) && scc1(3L) === 3L)
    // consumer path: condensation after graph_scc hits the memo and must
    // agree with the producer's labeling
    val cond1 = ops.Analytics.graphCondensation(spark, dirA).collect()
    assert(cond1.map(_.getLong(0)).toSet === Set(1L, 3L))
    // the memo is keyed by corpus, not globally: corpus B's condensation
    // must reflect ITS cycle, not A's cached labels
    val cond2 = ops.Analytics.graphCondensation(spark, dirB).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(cond2.keySet === Set(1L, 2L),
      "condensation served corpus A's scc labels for corpus B")
    // and the fingerprint sees a same-path overwrite (mtime/size), so a
    // rewritten corpus can never be served stale labels
    val fpBefore = Memo.fingerprint(dirA, "lineitem.parquet")
    assert(fpBefore.isDefined)
    Thread.sleep(1100) // mtime granularity
    li(Seq((30L, 1, 5L), (30L, 2, 6L), (31L, 1, 5L), (31L, 2, 6L)), dirA)
    val fpAfter = Memo.fingerprint(dirA, "lineitem.parquet")
    assert(fpAfter.isDefined && fpAfter != fpBefore,
      "fingerprint blind to a same-path overwrite — stale-memo hazard")
  }
}
