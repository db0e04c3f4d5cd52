package graft

import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._
import graft.ops.{LlmPipeline, Quant}

/** Round-8 pins: approx tiers and scale-path variants added this round. */
class Round8Spec extends SparkSpec {

  test("dedup_containment_incremental: foreachBatch micro-batches over a persisted index == batch twin") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val docs = graft.io.Tables.documents(spark, sf01)
      .select(col("doc_id"), col("text"))
    // the static asset: built ONCE, persisted, reused by every batch
    val idx = LlmPipeline
      .containmentIndexOf(docs.where(col("doc_id") % 2 === 0)).persist()
    val arriving = docs.where(col("doc_id") % 2 === 1)
      .as[(Long, String)].collect()
    val mem = MemoryStream[(Long, String)]
    val acc = new java.util.concurrent.ConcurrentLinkedQueue[
      (Long, Long, Long, Double)]()
    val q = mem.toDF().toDF("doc_id", "text").writeStream
      .foreachBatch { (batch: org.apache.spark.sql.DataFrame, _: Long) =>
        LlmPipeline.scoreAgainstIndex(batch, idx).collect().foreach { r =>
          acc.add((r.getLong(0), r.getLong(1), r.getLong(2), r.getDouble(3)))
        }
      }
      .queryName("t_cinc").start()
    // 4 genuine micro-batches: drain the query between chunks
    arriving.grouped(math.max(1, arriving.length / 4 + 1)).foreach { chunk =>
      mem.addData(chunk.toIndexedSeq)
      q.processAllAvailable()
    }
    q.stop()
    idx.unpersist()
    val streamed = acc.toArray(Array.empty[(Long, Long, Long, Double)])
      .sortBy(_._1).toSeq
    val batchTwin = LlmPipeline.dedupContainmentIncremental(spark, sf01)
      .as[(Long, Long, Long, Double)].collect().toSeq
    assert(batchTwin.nonEmpty, "vacuous: batch twin found no contained docs")
    assert(streamed == batchTwin,
      s"foreachBatch union differs from batch twin:\n$streamed\nvs\n$batchTwin")
  }

  test("graph_triangle_approx: deterministic DOULION estimate lands near the exact count (k=2, sf0.01)") {
    // The edge sample is a FIXED hash draw, so the estimate is a stable
    // number, not a random variable — the current draw lands within 5%
    // of exact (64 vs 61). The [1/3, 3] band regression-locks the kernel
    // and the k³ rescale (a wrong rescale is off by 8×) without betting
    // the gate on sampling luck if the fixture regenerates.
    val exactRow = graft.ops.Analytics.graphTriangleCount(spark, sf01)
      .collect()(0)
    val exact = exactRow.getLong(2)
    val nEdges = exactRow.getLong(1)
    val row = graft.ops.Analytics.graphTriangleApprox(spark, sf01).collect()(0)
    val est = row.getLong(2)
    assert(exact > 0, "fixture has no triangles at sf0.01")
    assert(est > exact / 3 && est < exact * 3,
      s"estimate $est outside [1/3, 3] x exact $exact")
    // the 1-in-2 hash sample must keep ~half the edges (binomial bound)
    val kept = row.getLong(0)
    assert(math.abs(kept - nEdges / 2.0) < nEdges * 0.05,
      s"sampled $kept of $nEdges edges — hash sample not ~1/2")
    // determinism: the hash-sampled estimate is a pure function of data
    val again = graft.ops.Analytics.graphTriangleApprox(spark, sf01)
      .collect()(0).getLong(2)
    assert(again == est, "sampled estimate not deterministic")
  }

  test("graph_kcore == driver-side brute peeling; every surviving degree >= 3") {
    import spark.implicits._
    val got = graft.ops.Analytics.graphKcore(spark, sf001).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(got.nonEmpty, "vacuous: empty 3-core at sf0.001")
    assert(got.values.min >= 3, s"in-core degree < 3: $got")
    // brute reference: same edge set, peel on the driver until fixpoint
    val edges = graft.ops.Analytics.coOrderPairs(spark, sf001)
      .groupBy(col("p1"), col("p2")).agg(count(lit(1)).as("c"))
      .where(col("c") >= 2).select(col("p1"), col("p2"))
      .as[(Long, Long)].collect().toSet
    var e = edges
    var changed = true
    while (changed) {
      val deg = e.toSeq.flatMap(p => Seq(p._1, p._2))
        .groupBy(identity).map { case (k, v) => k -> v.size }
      val low = deg.filter(_._2 < 3).keySet
      val next = e.filter(p => !low.contains(p._1) && !low.contains(p._2))
      changed = next.size != e.size
      e = next
    }
    val want = e.toSeq.flatMap(p => Seq(p._1, p._2))
      .groupBy(identity).map { case (k, v) => k -> v.size.toLong }
    assert(got == want, s"kcore mismatch:\n got=$got\nwant=$want")
  }

  test("embedding_pca_project: diagonal projection covariance, ordered variance, beats best single axis") {
    import spark.implicits._
    val proj = graft.ops.LlmPipeline.embeddingPcaProject(spark, sf001)
      .as[(Long, Double, Double)].collect()
    val n = proj.length
    assert(n > 10, "vacuous: too few projections")
    def stats(xs: Array[Double]): (Double, Double) = {
      val m = xs.sum / n
      (m, xs.map(x => (x - m) * (x - m)).sum / (n - 1))
    }
    val (m1, v1) = stats(proj.map(_._2))
    val (m2, v2) = stats(proj.map(_._3))
    val cross = proj.map { case (_, a, b) => (a - m1) * (b - m2) }.sum / (n - 1)
    // principal axes are uncorrelated and variance-ordered
    assert(math.abs(cross) < 1e-3 * math.sqrt(v1 * v2) + 1e-6,
      s"projections correlated: $cross (v1=$v1 v2=$v2)")
    assert(v1 >= v2 && v2 > 0, s"variance order violated: $v1 < $v2")
    // PCA optimality: pc1 captures at least what the best ORIGINAL
    // axis does (strictly more unless the data is axis-aligned)
    val embs = graft.io.Tables.embeddings(spark, sf001)
      .select(col("embedding")).as[Array[Float]].collect()
    val bestAxis = (0 until 64).map { i =>
      val xs = embs.map(_(i).toDouble)
      val m = xs.sum / n
      xs.map(x => (x - m) * (x - m)).sum / (n - 1)
    }.max
    assert(v1 >= bestAxis - 1e-9,
      s"pc1 variance $v1 below best single axis $bestAxis")
  }

  test("analytics_pareto_approx: decile mass within epsilon of the exact form") {
    val exact = Quant.analyticsPareto(spark, sf01).collect()
      .map(r => r.getInt(0) -> (r.getLong(1), r.getDouble(2), r.getDouble(3)))
      .toMap
    val approx = Quant.analyticsParetoApprox(spark, sf01).collect()
      .map(r => r.getInt(0) -> (r.getLong(1), r.getDouble(2), r.getDouble(3)))
      .toMap
    assert(exact.nonEmpty, "vacuous: exact pareto produced no deciles")
    // same band structure and total population
    assert(approx.keySet == exact.keySet,
      s"decile sets differ: ${approx.keySet} vs ${exact.keySet}")
    assert(approx.values.map(_._1).sum == exact.values.map(_._1).sum,
      "approx bucketing lost or duplicated users")
    // sketch boundaries may shift band edges by at most the rank error
    // (n/10000 users per edge) — decile shares must stay within 2 pp
    exact.foreach { case (dec, (_, share, cum)) =>
      val (_, aShare, aCum) = approx(dec)
      assert(math.abs(aShare - share) < 0.02,
        s"decile $dec share $aShare vs exact $share")
      assert(math.abs(aCum - cum) < 0.02,
        s"decile $dec cum_share $aCum vs exact $cum")
    }
    // the Pareto read-off itself: top decile carries the largest share
    val topShare = approx(approx.keys.min)._2
    assert(approx.values.map(_._2).max == topShare,
      "top decile is not the largest band")
  }

  test("stream_anomaly_welford: 4 ts-ordered micro-batches == batch fold") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val all = graft.io.Tables.events(spark, sf001)
      .as[graft.ops.Stateful.Event].collect()
      .sortBy(e => (e.ts.getTime, e.event_id))
    val mem = MemoryStream[graft.ops.Stateful.Event]
    val q = graft.ops.Stateful.anomalyWelfordStream(mem.toDS())
      .writeStream.format("memory").queryName("t_welford")
      .outputMode("append").start()
    // 4 genuine micro-batches, globally ts-ordered → per-user order holds
    all.grouped(all.length / 4 + 1).foreach { chunk =>
      mem.addData(chunk.toIndexedSeq)
      q.processAllAvailable()
    }
    q.stop()
    val key = (o: graft.ops.Stateful.AnomalyOut) => (o.user_id, o.event_id)
    val streamed = spark.table("t_welford")
      .as[graft.ops.Stateful.AnomalyOut].collect().sortBy(key).toSeq
    val batch = graft.ops.Stateful.streamAnomalyWelford(spark, sf001)
      .as[graft.ops.Stateful.AnomalyOut].collect().sortBy(key).toSeq
    assert(batch.nonEmpty, "vacuous: batch fold produced no rows")
    assert(batch.count(_.n_prior >= 8) > 0, "vacuous: nobody reached 8 priors")
    assert(streamed == batch,
      s"stream/batch mismatch: ${streamed.diff(batch).take(3)} vs ${batch.diff(streamed).take(3)}")
    // warmup contract: the first 8 events per user are never scored
    assert(batch.filter(_.n_prior < 8).forall(o => o.z == 0.0 && !o.is_anomaly))
  }

  test("stream_anomaly_welford flags an injected outlier, and only after 8 priors") {
    import spark.implicits._
    def ev(id: Long, tsSec: Long, v: Double) = graft.ops.Stateful.Event(
      id, new java.sql.Timestamp(tsSec * 1000L), 7L, "click", v, "{}")
    val base = (1 to 9).map(i => ev(i.toLong, i * 60L, 10.0 + (i % 3) * 0.5))
    val out = graft.ops.Stateful
      .anomalyWelford((base :+ ev(10L, 600L, 1000.0)).toDS())
      .collect().sortBy(_.event_id)
    assert(out.take(8).forall(o => !o.is_anomaly && o.z == 0.0),
      "warmup rows must be unscored")
    assert(!out(8).is_anomaly, "a normal 9th value must not be flagged")
    assert(out.last.is_anomaly && out.last.z > 3.0,
      s"injected outlier not flagged: ${out.last}")
  }

  test("stream_holt_forecast: 4 ts-ordered micro-batches converge to the batch recurrence") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val all = graft.io.Tables.events(spark, sf001)
      .as[graft.ops.Stateful.Event].collect()
      .sortBy(e => (e.ts.getTime, e.event_id))
    val mem = MemoryStream[graft.ops.Stateful.Event]
    val q = graft.ops.Stateful.holtStream(mem.toDS())
      .writeStream.format("memory").queryName("t_holt")
      .outputMode("update").start()
    all.grouped(all.length / 4 + 1).foreach { chunk =>
      mem.addData(chunk.toIndexedSeq)
      q.processAllAvailable()
    }
    q.stop()
    // update mode: keep each user's LAST emission (max n_obs)
    val streamed = spark.table("t_holt")
      .as[graft.ops.Stateful.HoltOut].collect()
      .groupBy(_.user_id).map { case (_, v) => v.maxBy(_.n_obs) }
      .toSeq.sortBy(_.user_id)
    val batch = graft.ops.Quant.tsHoltLinear(spark, sf001)
      .as[graft.ops.Stateful.HoltOut].collect().toSeq.sortBy(_.user_id)
    assert(batch.nonEmpty, "vacuous: no users")
    assert(streamed == batch,
      s"stream tail != batch recurrence: ${streamed.diff(batch).take(3)}")
    // and the batch-mode run of the stateful operator is the same fold
    val batchMode = graft.ops.Stateful.streamHoltForecast(spark, sf001)
      .as[graft.ops.Stateful.HoltOut].collect().toSeq.sortBy(_.user_id)
    assert(batchMode == batch, "batch-mode stateful run diverges")
  }

  test("cdc_scd2 incremental apply over 4 ts-ordered micro-batches == monolithic recompute") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    def usOf(t: java.sql.Timestamp): Long =
      t.toInstant.getEpochSecond * 1000000L + t.toInstant.getNano / 1000L
    val all = graft.io.Tables.events(spark, sf001)
      .select(col("user_id"), col("event_id"), col("event_type"), col("ts"))
      .as[(Long, Long, String, java.sql.Timestamp)].collect()
      .sortBy(e => (usOf(e._4), e._2))
    val histDir = tempDir("graft-scd2-inc") + "/hist"
    def emptyHist(b: org.apache.spark.sql.DataFrame) = b
      .select(col("user_id"), col("event_id"), col("event_type"),
        col("ts").as("valid_from"), col("ts").as("valid_to"),
        lit(0).cast("int").as("is_current"))
      .where(lit(false))
    var batches = 0
    val mem = MemoryStream[(Long, Long, String, java.sql.Timestamp)]
    val q = mem.toDF().toDF("user_id", "event_id", "event_type", "ts")
      .writeStream
      .foreachBatch { (batch: org.apache.spark.sql.DataFrame, id: Long) =>
        // read-modify-REPLACE on the history table: never overwrite the
        // path a lazy plan still reads — write versioned, then swap
        val histFile = new java.io.File(histDir)
        val hist =
          if (histFile.exists) batch.sparkSession.read.parquet(histDir)
          else emptyHist(batch)
        val tmp = histDir + s"-v$id"
        graft.ops.Analytics.scd2ApplyBatch(hist, batch)
          .write.mode("overwrite").parquet(tmp)
        def rm(f: java.io.File): Unit = {
          if (f.isDirectory) f.listFiles.foreach(rm)
          f.delete(): Unit
        }
        if (histFile.exists) rm(histFile)
        assert(new java.io.File(tmp).renameTo(histFile), "history swap failed")
        batches += 1
      }
      .queryName("t_scd2_inc").start()
    all.grouped(all.length / 4 + 1).foreach { chunk =>
      mem.addData(chunk.toIndexedSeq)
      q.processAllAvailable()
    }
    q.stop()
    assert(batches >= 4, s"expected >=4 micro-batches, got $batches")
    def keyed(df: org.apache.spark.sql.DataFrame) = df
      .select(col("user_id"), col("event_id"), col("event_type"),
        col("valid_from"), col("valid_to"), col("is_current"))
      .collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getString(2),
        r.getTimestamp(3), Option(r.getTimestamp(4)), r.getInt(5)))
      .sortBy(t => (t._1, t._2)).toSeq
    val maintained = keyed(spark.read.parquet(histDir))
    val monolithic = keyed(graft.ops.Analytics.cdcScd2(spark, sf001))
    assert(monolithic.nonEmpty, "vacuous: empty SCD2 history")
    assert(maintained == monolithic,
      s"incremental history diverged: ${maintained.diff(monolithic).take(3)} " +
        s"vs ${monolithic.diff(maintained).take(3)}")
  }

  test("graph_label_propagation == driver-side brute propagation (4 sync rounds, min-tie)") {
    import spark.implicits._
    val got = graft.ops.Analytics.graphLabelPropagation(spark, sf001).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    assert(got.nonEmpty, "vacuous: empty label-propagation result at sf0.001")
    // brute reference: same edge set, same synchronous rule on the driver
    val edges = graft.ops.Analytics.coOrderPairs(spark, sf001)
      .groupBy(col("p1"), col("p2")).agg(count(lit(1)).as("c"))
      .where(col("c") >= 2).select(col("p1"), col("p2"))
      .as[(Long, Long)].collect()
    val adj = (edges.map(e => e._1 -> e._2) ++ edges.map(e => e._2 -> e._1))
      .groupBy(_._1).map { case (k, v) => k -> v.map(_._2).toSeq }
    var lab: Map[Long, Long] = adj.keys.map(k => k -> k).toMap
    (1 to 4).foreach { _ =>
      lab = adj.map { case (v, ns) =>
        val hist = ns.map(lab).groupBy(identity)
          .map { case (l, xs) => l -> xs.size }
        v -> hist.toSeq.minBy { case (l, n) => (-n, l) }._1
      }
    }
    val size = lab.values.toSeq.groupBy(identity)
      .map { case (l, xs) => l -> xs.size.toLong }
    val want = lab.toSeq.map { case (v, l) => (v, l, size(l)) }.toSet
    assert(got == want, s"LPA mismatch:\n got=$got\nwant=$want")
    // non-vacuous: labels actually propagated — some community has > 1 member
    assert(size.values.max > 1L, "no label spread beyond its own node")
  }

  test("graph_modularity == brute Q from brute LPA labels (sf0.01 — sf0.001 is one component, Q=0 exactly)") {
    import spark.implicits._
    val edges = graft.ops.Analytics.coOrderPairs(spark, sf01)
      .groupBy(col("p1"), col("p2")).agg(count(lit(1)).as("c"))
      .where(col("c") >= 2).select(col("p1"), col("p2"))
      .as[(Long, Long)].collect()
    val adj = (edges.map(e => e._1 -> e._2) ++ edges.map(e => e._2 -> e._1))
      .groupBy(_._1).map { case (k, v) => k -> v.map(_._2).toSeq }
    var lab: Map[Long, Long] = adj.keys.map(k => k -> k).toMap
    (1 to 4).foreach { _ =>
      lab = adj.map { case (v, ns) =>
        val hist = ns.map(lab).groupBy(identity)
          .map { case (l, xs) => l -> xs.size }
        v -> hist.toSeq.minBy { case (l, n) => (-n, l) }._1
      }
    }
    val m = edges.length.toLong
    val w = edges.count(e => lab(e._1) == lab(e._2)).toLong
    val tot = edges.flatMap(e => Seq(lab(e._1), lab(e._2)))
      .groupBy(identity).map { case (_, xs) => xs.size.toLong }
    val t2 = tot.map(t => t * t).sum
    val q = math.floor((w.toDouble / m.toDouble -
      t2.toDouble / (4.0 * m.toDouble * m.toDouble)) * 1e6 + 0.5) / 1e6
    val gotQ = graft.ops.Analytics.graphModularity(spark, sf01).collect()(0)
    assert(gotQ.getLong(0) == m, s"edge count ${gotQ.getLong(0)} != $m")
    assert(gotQ.getLong(1) == tot.size.toLong,
      s"community count ${gotQ.getLong(1)} != ${tot.size}")
    assert(gotQ.getDouble(2) == q,
      s"modularity ${gotQ.getDouble(2)} != brute $q")
    assert(gotQ.getDouble(2) > 0.0, "vacuous: no community structure found")
  }
}
