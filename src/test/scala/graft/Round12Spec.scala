package graft

import org.apache.spark.sql.functions._
import graft.ops.LlmPipeline

/** Round-12: the composed IVF×PQ ANN rung + this round's scale guards
  * (SURVEY.md §2.24). */
class Round12Spec extends SparkSpec {

  test("knn_ivf_pq: 3 exact-scored rows per query, deterministic, recall vs brute") {
    val ivfpq = LlmPipeline.knnIvfPq(spark, sf001).collect()
      .map(r => (r.getLong(0), r.getInt(1), r.getLong(2), r.getDouble(3)))
    val brute = LlmPipeline.knnCosine(spark, sf001).collect()
      .map(r => (r.getLong(0), r.getInt(1), r.getLong(2), r.getDouble(3)))
    val nq = brute.map(_._1).distinct.length
    // shape: every query reports exactly 3 ranked neighbors
    assert(ivfpq.map(_._1).distinct.length == nq)
    assert(ivfpq.groupBy(_._1)
      .forall(_._2.map(_._2).sorted.sameElements(Seq(1, 2, 3))))
    // scores are EXACT fp32 rescores: any (a,b) pair reported by both
    // paths carries the identical rounded score
    val bruteScore = brute.map(t => ((t._1, t._3), t._4)).toMap
    ivfpq.foreach { case (a, _, b, sc) =>
      bruteScore.get((a, b)).foreach(bs =>
        assert(bs == sc, s"pair ($a,$b): ivfpq score $sc != brute $bs"))
    }
    // within-list ranking follows the shared (score desc, id asc) rule
    ivfpq.groupBy(_._1).values.foreach { rs =>
      val o = rs.sortBy(_._2).map(r => (-r._4, r._3))
      assert(o.sameElements(o.sorted), s"rank order violated in ${rs.toSeq}")
    }
    // recall@3 against brute: the two approximations stack (cell recall
    // × code recall), so the floor sits below both parents' pins
    // (knn_ivf 0.5, knn_pq 0.55) but must stay far above random
    val bruteTop = brute.groupBy(_._1)
      .map { case (a, rs) => a -> rs.map(_._3).toSet }
    val hit = ivfpq.count { case (a, _, b, _) => bruteTop(a).contains(b) }
    val recall = hit.toDouble / (nq * 3)
    info(f"knn_ivf_pq recall@3 = $recall%.3f")
    assert(recall >= 0.55, f"recall@3 $recall%.3f below pin 0.55 (measured 0.618)")
    // determinism: an independent second run reproduces the result
    val again = LlmPipeline.knnIvfPq(spark, sf001).collect()
      .map(r => (r.getLong(0), r.getInt(1), r.getLong(2), r.getDouble(3)))
    assert(again.sameElements(ivfpq))
  }

  test("per-user folds under hot-user skew: one user owns 16x the events, replay is exact") {
    import spark.implicits._
    // one bot user (7) with 16x the events of each of 30 normal users —
    // the layout the r11 verdict flagged: a whole-history heap buffer
    // per user would concentrate the bot's history in one task's memory;
    // the secondary-sort fold keeps O(1) state per open user
    val perNormal = 300
    val hot = (0 until 16 * perNormal).map { i =>
      (1000000L + i, 7L,
        new java.sql.Timestamp(1700000000000L + i.toLong * 731),
        "click", (i % 97).toDouble / 7.0)
    }
    val normal = (1 to 30).flatMap { u =>
      (0 until perNormal).map { i =>
        (2000000L + u * 10000L + i, 100L + u,
          new java.sql.Timestamp(1700000000000L + i.toLong * 60017 + u),
          "view", (i % 31).toDouble / 3.0)
      }
    }
    val rows = hot ++ normal
    val tmp = tempDir("graft-hotuser")
    rows.toDF("event_id", "user_id", "ts", "event_type", "value")
      .write.mode("overwrite").parquet(s"$tmp/events.parquet")
    // driver replay: identical arithmetic over the identical (ts, id)
    // total order, per user
    def us(t: java.sql.Timestamp): Long =
      t.toInstant.getEpochSecond * 1000000L + t.toInstant.getNano / 1000L
    def r4(x: Double): Double = math.floor(x * 10000.0 + 0.5) / 10000.0
    val byUser = rows.groupBy(_._2)
    val ewmaExp = byUser.map { case (u, es) =>
      val xs = es.sortBy(e => (us(e._3), e._1))
      var sm = xs.head._5
      var prev = us(xs.head._3)
      xs.tail.foreach { e =>
        val tu = us(e._3)
        val a = math.floor(
          math.exp(-((tu - prev).toDouble / 3.6e9)) * 1e6) / 1e6
        sm = a * sm + (1.0 - a) * e._5
        prev = tu
      }
      u -> (xs.length.toLong, r4(sm))
    }
    val holtExp = byUser.map { case (u, es) =>
      val xs = es.sortBy(e => (us(e._3), e._1)).map(_._5)
      var l = xs.head
      var b = 0.0
      xs.tail.foreach { v =>
        val l2 = 0.5 * v + 0.5 * (l + b)
        b = 0.25 * (l2 - l) + 0.75 * b
        l = l2
      }
      u -> (xs.length.toLong, r4(l), r4(b), r4(l + b))
    }
    val ewmaGot = graft.ops.Quant.tsEwmaTimedecay(spark, tmp).collect()
      .map(r => r.getLong(0) -> (r.getLong(1), r.getDouble(2))).toMap
    assert(ewmaGot == ewmaExp,
      s"ewma skew replay mismatch (hot user: got ${ewmaGot.get(7L)} " +
        s"expected ${ewmaExp.get(7L)})")
    val holtGot = graft.ops.Quant.tsHoltLinear(spark, tmp).collect()
      .map(r => r.getLong(0) ->
        (r.getLong(1), r.getDouble(2), r.getDouble(3), r.getDouble(4))).toMap
    assert(holtGot == holtExp,
      s"holt skew replay mismatch (hot user: got ${holtGot.get(7L)} " +
        s"expected ${holtExp.get(7L)})")
  }

  // ------------------------------------------------- L-BFGS trainer tier

  /** Independent single-node replay of [[Govern.lbfgsTrainLoop]]'s
    * recipe: snapped-integer gradient sums (order-free), then the same
    * deterministic driver math — diagonal-Newton first step, m=5
    * two-loop recursion, fixed unit step, ridge 1e-4. */
  private def replayLbfgs(
      sparse: Array[(Long, Int, Double)], labels: Map[Long, Double])
      : (Array[Double], Double, Double) = {
    import graft.ops.Govern
    val dDim = Govern.LbfgsB + 1
    val w = Array.fill(dDim)(0.0)
    val byDoc = sparse.groupBy(_._1)
    val n = byDoc.size
    def pOf(rows: Array[(Long, Int, Double)]): Double = {
      val z = rows.map { case (_, b, x) =>
        math.floor(w(b) * x * 1e9).toLong }.sum / 1e9
      val p0 = 1.0 / (1.0 + math.exp(-z))
      math.min(math.max(p0, 1e-12), 1.0 - 1e-12)
    }
    val diag = Array.fill(dDim)(0L)
    sparse.foreach { case (_, b, x) =>
      diag(b) += math.floor(x * x * 1e8).toLong }
    val ridge = 1e-4
    val m = 5
    val sHist = scala.collection.mutable.ArrayBuffer.empty[Array[Double]]
    val yHist = scala.collection.mutable.ArrayBuffer.empty[Array[Double]]
    var prevW: Array[Double] = null
    var prevG: Array[Double] = null
    for (_ <- 1 to Govern.LbfgsIters) {
      val raw = Array.fill(dDim)(0L)
      byDoc.foreach { case (_, rows) =>
        val p = pOf(rows)
        val err = labels(rows.head._1) - p
        rows.foreach { case (_, b, x) =>
          raw(b) += math.floor(x * err * 1e8).toLong }
      }
      val grad = Array.tabulate(dDim)(j =>
        -(raw(j).toDouble / (1e8 * n)) + ridge * w(j))
      if (prevG != null) {
        val sv = Array.tabulate(dDim)(j => w(j) - prevW(j))
        val yv = Array.tabulate(dDim)(j => grad(j) - prevG(j))
        var sy = 0.0
        var i = 0
        while (i < dDim) { sy += sv(i) * yv(i); i += 1 }
        if (sy > 1e-12) {
          sHist += sv; yHist += yv
          if (sHist.length > m) { sHist.remove(0); yHist.remove(0) }
        }
      }
      prevW = w.clone(); prevG = grad
      val dir =
        if (sHist.isEmpty)
          Array.tabulate(dDim) { j =>
            -grad(j) / (0.25 * diag(j).toDouble / (1e8 * n) + ridge)
          }
        else {
          val q = grad.clone()
          val k = sHist.length
          val alpha = new Array[Double](k)
          val rho = Array.tabulate(k) { i =>
            var d0 = 0.0
            var t = 0
            while (t < dDim) { d0 += sHist(i)(t) * yHist(i)(t); t += 1 }
            1.0 / d0
          }
          var i = k - 1
          while (i >= 0) {
            var d0 = 0.0
            var t = 0
            while (t < dDim) { d0 += sHist(i)(t) * q(t); t += 1 }
            alpha(i) = rho(i) * d0
            t = 0
            while (t < dDim) { q(t) -= alpha(i) * yHist(i)(t); t += 1 }
            i -= 1
          }
          var yy = 0.0
          var t = 0
          while (t < dDim) { yy += yHist(k - 1)(t) * yHist(k - 1)(t); t += 1 }
          val gamma = 1.0 / (rho(k - 1) * yy)
          t = 0
          while (t < dDim) { q(t) *= gamma; t += 1 }
          i = 0
          while (i < k) {
            var d0 = 0.0
            t = 0
            while (t < dDim) { d0 += yHist(i)(t) * q(t); t += 1 }
            val beta = rho(i) * d0
            t = 0
            while (t < dDim) { q(t) += (alpha(i) - beta) * sHist(i)(t); t += 1 }
            i += 1
          }
          Array.tabulate(dDim)(j => -q(j))
        }
      var j = 0
      while (j < dDim) { w(j) += dir(j); j += 1 }
    }
    var loss = 0L; var correct = 0L
    byDoc.foreach { case (doc, rows) =>
      val p = pOf(rows)
      val y = labels(doc)
      loss += math.floor(
        -(y * math.log(p) + (1.0 - y) * math.log(1.0 - p)) * 1e6).toLong
      correct += (if ((p >= 0.5) == (y >= 0.5)) 1L else 0L)
    }
    (w, loss.toDouble / 1e6 / n, correct.toDouble / n)
  }

  test("classifier_lbfgs_train: distributed L-BFGS == single-node replay, bit-exact; partitioning-invariant") {
    import graft.ops.Govern
    val (sp, lb) = Govern.hashedFeaturesB(spark, sf001, Govern.LbfgsB)
    val (dw, dloss, dacc, dn) =
      Govern.lbfgsTrainLoop(sp, lb, Govern.LbfgsB + 1)
    val sparse = sp.collect()
      .map(r => (r.getLong(0), r.getInt(1), r.getDouble(2)))
    val labels = lb.collect().map(r => (r.getLong(0), r.getDouble(1))).toMap
    assert(dn == labels.size)
    val (rw, rloss, racc) = replayLbfgs(sparse, labels)
    assert(dw.toSeq == rw.toSeq, "lbfgs weights differ from replay")
    assert(dloss == rloss && dacc == racc)
    val (dw2, _, _, _) = Govern.lbfgsTrainLoop(
      sp.repartition(7), lb.repartition(3), Govern.LbfgsB + 1)
    assert(dw.toSeq == dw2.toSeq, "weights depend on partitioning")
  }

  // ------------------------------------------- sampled-Brandes betweenness

  /** Driver-side brute Brandes from the same seeds with the same 1e-9
    * contribution grid — must equal the distributed cascade EXACTLY. */
  private def bruteBetweenness(
      edges: Array[(Long, Long)], seeds: Seq[Long], k: Int)
      : (Map[Long, Double], Map[Long, Double]) = {
    val adj = edges.groupBy(_._1).map { case (s, es) => s -> es.map(_._2) }
    val n = edges.map(_._1).distinct.length
    val depGrid = scala.collection.mutable.Map.empty[Long, Long]
    seeds.foreach { s =>
      val dist = scala.collection.mutable.Map(s -> 0)
      val sigma = scala.collection.mutable.Map(s -> 1L)
      var frontier = Seq(s)
      var d = 0
      val byLevel = scala.collection.mutable.ArrayBuffer(Seq(s))
      while (frontier.nonEmpty) {
        val nextSigma = scala.collection.mutable.Map.empty[Long, Long]
        frontier.foreach { v =>
          adj.getOrElse(v, Array.empty[Long]).foreach { w =>
            if (!dist.contains(w))
              nextSigma(w) = nextSigma.getOrElse(w, 0L) + sigma(v)
          }
        }
        d += 1
        nextSigma.foreach { case (w, sg) => dist(w) = d; sigma(w) = sg }
        frontier = nextSigma.keys.toSeq
        if (frontier.nonEmpty) byLevel += frontier
      }
      val delta = scala.collection.mutable.Map.empty[Long, Long]
      for (lvl <- byLevel.length - 1 to 1 by -1) {
        byLevel(lvl).foreach { w =>
          val dw = delta.getOrElse(w, 0L)
          adj.getOrElse(w, Array.empty[Long]).foreach { p =>
            if (dist.get(p).contains(lvl - 1)) {
              val c = math.floor(
                (sigma(p).toDouble / sigma(w).toDouble) *
                  (1.0 + dw.toDouble / 1e9) * 1e9).toLong
              delta(p) = delta.getOrElse(p, 0L) + c
            }
          }
        }
      }
      delta.foreach { case (v, dl) =>
        if (v != s) depGrid(v) = depGrid.getOrElse(v, 0L) + dl
      }
    }
    val dep = depGrid.map { case (v, g) =>
      v -> math.floor(g.toDouble / 1e9 * 1e6 + 0.5) / 1e6
    }.toMap
    val bc = depGrid.map { case (v, g) =>
      v -> math.floor(
        g.toDouble / 1e9 * (n.toDouble / (2.0 * k)) * 1e6 + 0.5) / 1e6
    }.toMap
    (dep, bc)
  }

  test("graph_betweenness_approx == driver brute Brandes from the same seeds, exactly") {
    import graft.ops.Analytics
    val got = Analytics.graphBetweennessApprox(spark, sf01).collect()
      .map(r => (r.getLong(0), r.getDouble(1), r.getDouble(2)))
    // rebuild the same graph + seed choice the operator used
    val und = {
      import spark.implicits._
      val pairs = graft.ops.Analytics.coOrderPairs(spark, sf01)
        .groupBy(col("p1"), col("p2")).agg(count(lit(1)).as("cnt"))
        .where(col("cnt") >= 2).select(col("p1"), col("p2"))
        .as[(Long, Long)].collect()
      pairs.flatMap(p => Seq(p, p.swap))
    }
    val seeds = {
      import spark.implicits._
      und.map(_._1).distinct.toSeq.toDF("v")
        .select(col("v"), xxhash64(col("v")).as("h"))
        .collect().map(r => (r.getLong(0), r.getLong(1)))
        .sortBy { case (v, h) => (h, v) }.take(16).map(_._1).toSeq
    }
    val (dep, bc) = bruteBetweenness(und, seeds, 16)
    val gotDep = got.map(t => t._1 -> t._2).toMap
    val gotBc = got.map(t => t._1 -> t._3).toMap
    // every node with nonzero dependency appears with the exact value
    dep.foreach { case (v, d0) =>
      assert(gotDep.get(v).contains(d0),
        s"dep($v): got ${gotDep.get(v)} expected $d0")
      assert(gotBc.get(v).contains(bc(v)),
        s"bc($v): got ${gotBc.get(v)} expected ${bc(v)}")
    }
    gotDep.filter(_._2 != 0.0).keys.foreach(v =>
      assert(dep.contains(v), s"distributed emitted unexpected dep for $v"))
    assert(dep.exists(_._2 > 0.0), "fixture graph produced no dependency")
  }

  test("stream_kalman_filter: batch-mode == ts_kalman_1d bit-for-bit; split-fold resume parity") {
    import graft.ops.{Quant, Stateful}
    val batch = Quant.tsKalman1d(spark, sf01).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2), r.getDouble(3)))
    val stream = Stateful.streamKalmanFilter(spark, sf01).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2), r.getDouble(3)))
    assert(batch.toSeq == stream.toSeq,
      "stateful batch-mode output differs from the declarative form")
    // resume parity: the (n, x, P) state is a sufficient statistic —
    // folding a prefix, then the remainder from the stored state,
    // must equal one whole fold exactly
    import spark.implicits._
    val evs = graft.io.Tables.events(spark, sf001)
      .as[graft.ops.Stateful.Event]
      .collect().filter(_.user_id == 1L)
      .sortBy(e => (e.ts.getTime, e.event_id))
    assert(evs.length >= 4, "fixture user 1 too small for the split pin")
    val whole = Stateful.kalmanFold(evs, Stateful.KalmanState(0L, 0.0, 0.0))
    (1 until evs.length by math.max(1, evs.length / 5)).foreach { cut =>
      val resumed = Stateful.kalmanFold(evs.drop(cut),
        Stateful.kalmanFold(evs.take(cut), Stateful.KalmanState(0L, 0.0, 0.0)))
      assert(resumed == whole, s"resume at $cut diverged: $resumed != $whole")
    }
  }

  test("dedup_minhash_cc == driver union-find over the same verified pair set") {
    import graft.ops.LlmPipeline
    val got = LlmPipeline.dedupMinhashCc(spark, sf01).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getBoolean(2)))
    val pairs = LlmPipeline.dedupNearMinhash(spark, sf01).collect()
      .map(r => (r.getLong(0), r.getLong(1)))
    val docs = graft.io.Tables.documents(spark, sf01)
      .select(col("doc_id")).collect().map(_.getLong(0))
    // union-find with path compression; root = min member by final pass
    val parent = scala.collection.mutable.Map(docs.map(d0 => d0 -> d0): _*)
    def find(x: Long): Long = {
      var r = x
      while (parent(r) != r) r = parent(r)
      var c = x
      while (parent(c) != r) { val n = parent(c); parent(c) = r; c = n }
      r
    }
    pairs.foreach { case (a, b) =>
      val (ra, rb) = (find(a), find(b))
      if (ra != rb) parent(math.max(ra, rb)) = math.min(ra, rb)
    }
    val expect = docs.map(d0 => d0 -> find(d0)).toMap
    assert(got.length == docs.length, "one verdict row per document")
    got.foreach { case (d0, c0, dup) =>
      assert(expect(d0) == c0, s"cluster($d0): got $c0 expected ${expect(d0)}")
      assert(dup == (c0 != d0))
    }
    assert(got.exists(_._3), "duplicate-rich fixture produced no dup verdict")
  }

  test("graph_closeness_approx == driver BFS replay from the same seeds, exactly") {
    import graft.ops.Analytics
    val got = Analytics.graphClosenessApprox(spark, sf01).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getDouble(3)))
    val und = {
      import spark.implicits._
      val pairs = Analytics.coOrderPairs(spark, sf01)
        .groupBy(col("p1"), col("p2")).agg(count(lit(1)).as("cnt"))
        .where(col("cnt") >= 2).select(col("p1"), col("p2"))
        .as[(Long, Long)].collect()
      pairs.flatMap(p => Seq(p, p.swap))
    }
    val seeds = {
      import spark.implicits._
      und.map(_._1).distinct.toSeq.toDF("v")
        .select(col("v"), xxhash64(col("v")).as("h"))
        .collect().map(r => (r.getLong(0), r.getLong(1)))
        .sortBy { case (v, h) => (h, v) }.take(16).map(_._1).toSeq
    }
    val adj = und.groupBy(_._1).map { case (s0, es) => s0 -> es.map(_._2) }
    val distSum = scala.collection.mutable.Map.empty[Long, Long]
    val nReach = scala.collection.mutable.Map.empty[Long, Long]
    seeds.foreach { s0 =>
      val dist = scala.collection.mutable.Map(s0 -> 0L)
      var frontier = Seq(s0)
      var d = 0L
      while (frontier.nonEmpty) {
        d += 1
        val nf = frontier.flatMap(v => adj.getOrElse(v, Array.empty[Long]))
          .distinct.filterNot(dist.contains)
        nf.foreach(w => dist(w) = d)
        frontier = nf
      }
      dist.foreach { case (v, dv) =>
        if (v != s0) {
          distSum(v) = distSum.getOrElse(v, 0L) + dv
          nReach(v) = nReach.getOrElse(v, 0L) + 1L
        }
      }
    }
    val expect = distSum.keys.map { v =>
      v -> ((distSum(v), nReach(v),
        math.floor(nReach(v).toDouble / distSum(v).toDouble * 1e6) / 1e6))
    }.toMap
    assert(got.length == expect.size,
      s"row count ${got.length} != ${expect.size}")
    got.foreach { case (v, ds, nr, ce) =>
      assert(expect.get(v).contains((ds, nr, ce)),
        s"closeness($v): got ($ds,$nr,$ce) expected ${expect.get(v)}")
    }
    assert(got.nonEmpty && got.exists(_._4 > 0.0))
  }

  test("graph_eccentricity_sample == driver BFS; path-graph endpoint ecc = n-1") {
    import graft.ops.Analytics
    val got = Analytics.graphEccentricitySample(spark, sf01).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    val und = {
      import spark.implicits._
      val pairs = Analytics.coOrderPairs(spark, sf01)
        .groupBy(col("p1"), col("p2")).agg(count(lit(1)).as("cnt"))
        .where(col("cnt") >= 2).select(col("p1"), col("p2"))
        .as[(Long, Long)].collect()
      pairs.flatMap(p => Seq(p, p.swap))
    }
    val seeds = {
      import spark.implicits._
      und.map(_._1).distinct.toSeq.toDF("v")
        .select(col("v"), xxhash64(col("v")).as("h"))
        .collect().map(r => (r.getLong(0), r.getLong(1)))
        .sortBy { case (v, h) => (h, v) }.take(16).map(_._1).toSeq
    }
    val adj = und.groupBy(_._1).map { case (s0, es) => s0 -> es.map(_._2) }
    val expect = seeds.map { s0 =>
      val dist = scala.collection.mutable.Map(s0 -> 0L)
      var frontier = Seq(s0); var d0 = 0L
      while (frontier.nonEmpty) {
        d0 += 1
        val nf = frontier.flatMap(v => adj.getOrElse(v, Array.empty[Long]))
          .distinct.filterNot(dist.contains)
        nf.foreach(w => dist(w) = d0)
        frontier = nf
      }
      s0 -> ((dist.values.max, dist.size.toLong))
    }.toMap
    val gotMap = got.filter(_._1 >= 0L).map(t => t._1 -> ((t._2, t._3))).toMap
    assert(gotMap == expect, s"per-seed ecc mismatch:\n$gotMap\nvs\n$expect")
    val lb = got.find(_._1 == -1L).get
    assert(lb._2 == expect.values.map(_._1).max, "diameter LB != max ecc")
    // path graph 0-1-2-...-9: any endpoint seed has ecc n-1, interior
    // seeds strictly less; the -1 row carries the max
    import spark.implicits._
    val path = (0L until 9L).flatMap(i => Seq((i, i + 1), (i + 1, i)))
      .toDF("src", "dst")
    val pe = Analytics.eccentricityFrom(path, 16).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toMap
    assert(pe(-1L) == 9L, s"path diameter LB ${pe(-1L)} != 9")
    assert(pe(0L) == 9L && pe(9L) == 9L, "endpoint ecc != n-1")
  }

  test("graph_betweenness_approx: star center carries all betweenness, leaves none") {
    import spark.implicits._
    val star = (1L to 40L).flatMap(l => Seq((0L, l), (l, 0L)))
      .toDF("src", "dst")
    val out = graft.ops.Analytics.betweennessFrom(star, 16).collect()
      .map(r => (r.getLong(0), r.getDouble(2))).toMap
    assert(out.getOrElse(0L, 0.0) > 0.0, s"center bc ${out.get(0L)}")
    (1L to 40L).foreach(l =>
      assert(out.getOrElse(l, 0.0) == 0.0, s"leaf $l bc ${out.get(l)}"))
  }

  test("classifier_lbfgs_train: IRLS-parity accuracy at d=4096; stopword buckets dominate") {
    import graft.ops.Govern
    val out = Govern.classifierLbfgsTrain(spark, sf01).collect()
      .map(r => r.getString(0) -> r.getDouble(1)).toMap
    // the same >= 0.95 bar the d=64 IRLS tier carries on this rule
    assert(out("final_accuracy") >= 0.95, s"accuracy ${out("final_accuracy")}")
    val bkts = spark.range(1)
      .select(
        pmod(xxhash64(lit("a")), lit(Govern.LbfgsB.toLong)).cast("int"),
        pmod(xxhash64(lit("the")), lit(Govern.LbfgsB.toLong)).cast("int"))
      .head()
    val swBuckets = Set(bkts.getInt(0), bkts.getInt(1)).map(b => s"bucket_$b")
    val weights = out.filter(_._1.startsWith("bucket_"))
    val top = weights.toSeq.sortBy(-_._2).take(swBuckets.size).map(_._1).toSet
    assert(top == swBuckets, s"top weights $top != stopword buckets $swBuckets")
  }
}
