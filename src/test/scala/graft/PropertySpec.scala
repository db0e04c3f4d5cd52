package graft

import org.apache.spark.sql.functions._
import graft.io.Tables

/** Property-style invariants (SURVEY.md §5.2.3) over seeded-random
  * synthetic data — the fixtures have no nulls/empties/out-of-order rows,
  * so these cover the blind spots (§5.4). Deterministic seed: failures
  * reproduce. (Plain seeded loops rather than the scalatest+scalacheck
  * bridge, which is not in the offline dependency set.) */
class PropertySpec extends SparkSpec {

  import scala.jdk.CollectionConverters._
  import org.apache.spark.sql.{Row, types => T}

  private val schema = T.StructType(Seq(
    T.StructField("k", T.IntegerType),
    T.StructField("v", T.DoubleType, nullable = true)))

  private def mkDf(rows: Seq[(Int, java.lang.Double)]) =
    spark.createDataFrame(
      rows.map { case (k, v) => Row(k, v) }.asJava, schema)

  private def randRows(rnd: scala.util.Random, n: Int): Seq[(Int, java.lang.Double)] =
    Seq.fill(n)((rnd.nextInt(6),
      if (rnd.nextInt(5) == 0) null
      else Double.box(rnd.nextDouble() * 200 - 100)))

  test("native topK == window row_number form on random data (ties, varying k)") {
    import spark.implicits._
    import org.apache.spark.sql.expressions.Window
    val rnd = new scala.util.Random(11)
    // duplicate scores on purpose: ties must break by id ascending in both
    val rows = Seq.tabulate(500) { i =>
      (rnd.nextInt(20).toLong, i.toLong, (rnd.nextInt(12) - 6).toDouble)
    }
    val df = rows.toDF("g", "id", "v").repartition(7)
    for (k <- Seq(1, 3, 5)) {
      val native = graft.plans.TopKPerGroup.topK(df, "g", "v", "id", k)
        .select(col("g"), col("rn"), col("id"), col("v"))
      val w = Window.partitionBy(col("g")).orderBy(col("v").desc, col("id").asc)
      val windowed = df
        .withColumn("rn", row_number().over(w))
        .where(col("rn") <= k)
        .select(col("g"), col("rn"), col("id"), col("v"))
      assertSameRows(native.orderBy(col("g"), col("rn")),
        windowed.orderBy(col("g"), col("rn")), s"topk-k$k")
    }
  }

  test("native topK == window form with nulls in group, order, and tie") {
    import org.apache.spark.sql.expressions.Window
    // ADVICE round-2: the partial exec used to DROP null-keyed rows while
    // the window form ranks them (order DESC → nulls last, tie ASC → nulls
    // first, null group = its own partition). Pin the repaired semantics
    // against the window form on data where every null position occurs.
    val rnd = new scala.util.Random(17)
    val sch = T.StructType(Seq(
      T.StructField("g", T.LongType, nullable = true),
      T.StructField("id", T.LongType, nullable = true),
      T.StructField("v", T.DoubleType, nullable = true)))
    // Coarse v (11 values) forces tie-breaks through id, including null
    // ids. Rows that fully tie — same (g, v), both ids null — are
    // IDENTICAL rows (no other columns), so rank assignment among them
    // is multiset-stable and the comparison stays deterministic.
    val rows = Seq.tabulate(400) { i =>
      Row(
        if (rnd.nextInt(10) == 0) null else Long.box(rnd.nextInt(8).toLong),
        if (rnd.nextInt(8) == 0) null else Long.box(i.toLong),
        if (rnd.nextInt(5) == 0) null else Double.box((rnd.nextInt(11) - 5).toDouble))
    }
    val df = spark.createDataFrame(rows.asJava, sch).repartition(5)
    for (k <- Seq(1, 2, 4)) {
      val native = graft.plans.TopKPerGroup.topK(df, "g", "v", "id", k)
        .select(col("g"), col("rn"), col("id"), col("v"))
      val w = Window.partitionBy(col("g")).orderBy(col("v").desc, col("id").asc)
      val windowed = df
        .withColumn("rn", row_number().over(w))
        .where(col("rn") <= k)
        .select(col("g"), col("rn"), col("id"), col("v"))
      assertSameRows(native.orderBy(col("g"), col("rn")),
        windowed.orderBy(col("g"), col("rn")), s"topk-nulls-k$k")
    }
  }

  test("pack_sequences invariants: offsets inside the budget, bins contiguous per stratum") {
    val out = graft.ops.LlmPipeline.packSequences(spark, sf001).collect()
      .map(r => (r.getString(1), r.getLong(0), r.getLong(2), r.getLong(3), r.getLong(4)))
    out.foreach { case (_, doc, _, _, off) =>
      assert(off >= 0 && off < 4096, s"doc $doc offset $off outside budget")
    }
    // within a language, bins are non-decreasing in doc order and start at 0
    out.groupBy(_._1).values.foreach { grp =>
      val byDoc = grp.sortBy(_._2)
      assert(byDoc.head._4 == 0L, s"first bin of ${byDoc.head._1} not 0")
      byDoc.sliding(2).foreach {
        case Array((_, _, _, b1, _), (_, d2, n2, b2, o2)) =>
          assert(b2 >= b1 && b2 <= b1 + 1 + n2 / 4096,
            s"bin jump at doc $d2: $b1 -> $b2")
          // offset is consistent with the bin boundary definition
          assert(o2 < 4096)
        case _ => ()
      }
    }
  }

  test("morton interleave round-trips: even/odd bit extraction recovers both keys") {
    val rnd = new scala.util.Random(13)
    def compact(z: Long): Long = {
      var x = z & 0x5555555555555555L
      x = (x | (x >> 1)) & 0x3333333333333333L
      x = (x | (x >> 2)) & 0x0f0f0f0f0f0f0f0fL
      x = (x | (x >> 4)) & 0x00ff00ff00ff00ffL
      x = (x | (x >> 8)) & 0x0000ffff0000ffffL
      x = (x | (x >> 16)) & 0x00000000ffffffffL
      x
    }
    (0 until 1000).foreach { _ =>
      val x = rnd.nextLong() & 0xffffffffL
      val y = rnd.nextLong() & 0xffffffffL
      val z = graft.functions.MortonCode.interleave(x, y)
      assert(compact(z) == x && compact(z >> 1) == y,
        s"round-trip failed for ($x, $y): z=$z")
    }
  }

  test("graft_dot equals a JVM reference fold on random vectors (incl. ragged lengths)") {
    graft.functions.Catalog.install(spark)
    val rnd = new scala.util.Random(7)
    val rows: Seq[(Long, Array[Float], Array[Float])] = Seq.tabulate(200) { i =>
      // ragged lengths exercise the min-length truncation both paths share
      val la = 1 + rnd.nextInt(96)
      val lb = if (i % 3 == 0) la else 1 + rnd.nextInt(96)
      def vec(n: Int) = Array.fill(n)((rnd.nextFloat() - 0.5f) * 20f)
      (i.toLong, vec(la), vec(lb))
    }
    def ref(a: Array[Float], b: Array[Float]): Double = {
      var s = 0.0; var i = 0
      val n = math.min(a.length, b.length)
      while (i < n) { s += a(i).toDouble * b(i).toDouble; i += 1 }
      s
    }
    import spark.implicits._
    val got = rows.toDF("id", "a", "b")
      .selectExpr("id", "graft_dot(a, b) AS d")
      .collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
    rows.foreach { case (id, a, b) =>
      assert(got(id) == ref(a, b), s"row $id: ${got(id)} != ${ref(a, b)}")
    }
  }

  test("text_chunk_overlap invariants: every token covered, 16-token overlap, tail lengths exact") {
    val rows = graft.ops.LlmPipeline.textChunkOverlap(spark, sf001).collect()
      .map(r => (r.getLong(0), r.getInt(1), r.getLong(2), r.getLong(3),
        r.getString(4)))
    val docs = Tables.documents(spark, sf001)
      .select(col("doc_id"), col("text")).collect()
      .map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(rows.nonEmpty)
    rows.groupBy(_._1).foreach { case (docId, chunks) =>
      val toks = docs(docId).split(" ", -1)
      val sorted = chunks.sortBy(_._2)
      // starts form the exact 48-stride grid, ids contiguous from 0
      sorted.zipWithIndex.foreach { case ((_, cid, start, len, text), i) =>
        assert(cid == i && start == i.toLong * 48)
        assert(len == math.min(64, toks.length - start),
          s"doc $docId chunk $cid: len $len")
        assert(text == toks.slice(start.toInt, start.toInt + 64).mkString(" "),
          s"doc $docId chunk $cid text mismatch")
      }
      // coverage: last chunk reaches the final token
      val (_, _, lastStart, lastLen, _) = sorted.last
      assert(lastStart + lastLen == toks.length,
        s"doc $docId: tail not covered")
      // chunk count == |{0, 48, 96, …} ∩ [0, n)| == ceil(n/48); the
      // 48-stride grid with 64-length slices IS the 16-token overlap
      assert(sorted.size == (toks.length + 47) / 48,
        s"doc $docId: ${sorted.size} chunks for ${toks.length} tokens")
    }
  }

  test("ab_test_lift population identity: arms partition the distinct users; conversions bounded") {
    val rows = graft.ops.Analytics.abTestLift(spark, sf001).collect()
    assert(rows.nonEmpty)
    val users = Tables.events(spark, sf001)
      .select(col("user_id")).distinct().collect().map(_.getLong(0))
    val (na, nb) = (users.count(_ % 2 == 0).toLong, users.count(_ % 2 == 1).toLong)
    rows.foreach { r =>
      assert(r.getLong(1) == na && r.getLong(2) == nb,
        s"${r.getString(0)}: population ${r.getLong(1)}/${r.getLong(2)} != $na/$nb")
      assert(r.getLong(3) <= na && r.getLong(4) <= nb,
        s"${r.getString(0)}: conversions exceed arm population")
    }
  }

  test("dedup is idempotent; dedup(x) size <= x size") {
    val rnd = new scala.util.Random(42)
    for (_ <- 1 to 5) {
      val df = mkDf(randRows(rnd, 40)).cache()
      val once = df.dropDuplicates()
      assert(once.count() <= df.count())
      assert(once.dropDuplicates().count() == once.count())
      df.unpersist()
    }
  }

  test("union-all count additivity; union-distinct bounded") {
    val rnd = new scala.util.Random(43)
    for (_ <- 1 to 5) {
      val (a, b) = (mkDf(randRows(rnd, 30)), mkDf(randRows(rnd, 30)))
      assert(a.unionByName(b).count() == a.count() + b.count())
      assert(a.unionByName(b).distinct().count() <=
        a.distinct().count() + b.distinct().count())
    }
  }

  test("running window sum final value equals group sum (with nulls)") {
    import org.apache.spark.sql.expressions.Window
    val rnd = new scala.util.Random(44)
    for (_ <- 1 to 3) {
      val df = mkDf(randRows(rnd, 40))
      val w = Window.partitionBy(col("k")).orderBy(monotonically_increasing_id())
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      val lastRs = df.withColumn("rs", sum(col("v")).over(w))
        .groupBy(col("k")).agg(last(col("rs"), ignoreNulls = true).as("fin"))
      val ref = df.groupBy(col("k")).agg(sum(col("v")).as("total"))
      val lm = lastRs.collect().map(r => r.getInt(0) -> Option(r.get(1))).toMap
      val rm = ref.collect().map(r => r.getInt(0) -> Option(r.get(1))).toMap
      lm.foreach { case (k, v) =>
        (v, rm(k)) match {
          case (Some(x: Double), Some(y: Double)) => assert(math.abs(x - y) < 1e-9)
          case (a, b) => assert(a == b, s"key $k: $a vs $b")
        }
      }
    }
  }

  test("sessionization invariants: gaps respect the 30min boundary; counts total") {
    val sessions = graft.ops.Streaming.streamSession30m(spark, sf001).collect()
    val byUser = sessions.groupBy(_.getAs[Long]("user_id"))
    byUser.foreach { case (_, ss) =>
      val sorted = ss.sortBy(_.getAs[Long]("session_idx"))
      sorted.sliding(2).foreach {
        case Array(a, b) =>
          val gap = b.getAs[java.sql.Timestamp]("session_start").toInstant.getEpochSecond -
            a.getAs[java.sql.Timestamp]("session_end").toInstant.getEpochSecond
          assert(gap > 1800, s"inter-session gap $gap <= 30min")
        case _ =>
      }
    }
    assert(sessions.map(_.getAs[Long]("n_events")).sum ==
      Tables.events(spark, sf001).count())
  }

  test("agg_mode tie-break: equal counts pick the lexicographically smallest value") {
    // The fixtures rarely manufacture exact count ties, so the encoding
    // trick (inverted-count ‖ value, minimized) is pinned here on
    // guaranteed ties: every user sees 'view' and 'click' equally often,
    // plus one 'error' — mode must be 'click' (tie, lex-min), never
    // 'view', and never the singleton.
    import spark.implicits._
    val rows = for {
      u <- 1L to 20L
      e <- Seq("view", "view", "click", "click", "error")
    } yield (u, e)
    val counts = rows.toDF("user_id", "event_type")
      .groupBy(col("user_id"), col("event_type"))
      .agg(count(lit(1)).as("n"))
    val modes = counts.groupBy(col("user_id"))
      .agg(min_by(col("event_type"),
        graft.ops.Relational.invertedCountKey(col("n"), col("event_type")))
        .as("mode_event"))
      .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(modes.size == 20 && modes.values.forall(_ == "click"), s"$modes")
  }

  test("cdc tie-break: equal timestamps pick the larger event_id deterministically") {
    import spark.implicits._
    val t0 = java.sql.Timestamp.valueOf("2024-01-01 10:00:00")
    // two events per user at the IDENTICAL timestamp — max_by on ts alone
    // is nondeterministic here; the composite key must pick the larger id
    val rows = (1L to 10L).flatMap(u =>
      Seq((u * 10 + 1, t0, u, 1.0), (u * 10 + 2, t0, u, 2.0)))
    val df = rows.toDF("event_id", "ts", "user_id", "value")
    val latest = df.groupBy(col("user_id"))
      .agg(max_by(col("event_id"),
        graft.ops.Relational.latestTsIdKey(col("ts"), col("event_id")))
        .as("event_id"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    (1L to 10L).foreach(u => assert(latest(u) == u * 10 + 2, s"$latest"))
  }

  test("null handling: aggregates skip nulls, count(*) does not") {
    val df = mkDf(Seq((1, Double.box(1.0)), (1, null), (2, null)))
    val r = df.groupBy(col("k"))
      .agg(count(lit(1)).as("n_rows"), count(col("v")).as("n_vals"),
        sum(col("v")).as("s"))
      .collect().map(r => r.getInt(0) -> ((r.getLong(1), r.getLong(2), Option(r.get(3))))).toMap
    assert(r(1) == ((2L, 1L, Some(1.0))))
    assert(r(2) == ((1L, 0L, None)))
  }

  test("empty input: relational operators yield empty, not error") {
    val empty = mkDf(Nil)
    assert(empty.groupBy(col("k")).agg(sum(col("v"))).count() == 0)
    assert(empty.join(empty.toDF("k2", "v2"), col("k") === col("k2")).count() == 0)
    assert(empty.dropDuplicates().count() == 0)
    assert(empty.orderBy(col("k")).limit(5).count() == 0)
  }

  test("round-4 analytics invariants: funnel monotone, histogram complete, RFM partitions, SCD2 intervals") {
    // funnel stages can only narrow
    val f = graft.ops.Analytics.funnelOrdered(spark, sf001).head()
    assert(f.getLong(0) >= f.getLong(1) && f.getLong(1) >= f.getLong(2),
      s"funnel widened: $f")
    // histogram bins partition the events (counts sum to the table size)
    val hist = graft.ops.Analytics.aggHistogram(spark, sf001)
      .agg(sum(col("n"))).head().getLong(0)
    val events = Tables.events(spark, sf001).count()
    assert(hist == events, s"histogram lost rows: $hist vs $events")
    // RFM segments partition the customers-with-orders set
    val rfm = graft.ops.Analytics.analyticsRfm(spark, sf001)
      .agg(sum(col("n_cust"))).head().getLong(0)
    val nCust = Tables.orders(spark, sf001)
      .select(col("o_custkey")).distinct().count()
    assert(rfm == nCust, s"RFM segments dropped customers: $rfm vs $nCust")
    // SCD2: exactly one current version per user; intervals don't invert
    val scd = graft.ops.Analytics.cdcScd2(spark, sf001)
    val current = scd.where(col("is_current") === 1)
      .groupBy(col("user_id")).agg(count(lit(1)).as("n"))
      .where(col("n") =!= 1).count()
    assert(current == 0, "a user has != 1 current SCD2 version")
    val inverted = scd.where(col("valid_to").isNotNull &&
      col("valid_to") < col("valid_from")).count()
    assert(inverted == 0, "SCD2 interval inverts")
    // mixture sample: per-source sampled count == quota implied by ranks
    val sample = graft.ops.Analytics.corpusMixtureSample(spark, sf001)
    val perSrc = sample.groupBy(col("source"))
      .agg(count(lit(1)).as("n"), max(col("rank")).as("maxr"))
      .where(col("n") =!= col("maxr")).count()
    assert(perSrc == 0, "sample ranks are not contiguous 1..quota")
  }

  test("stateful folds are chunking-invariant: any ts-ordered split == one-shot fold (Welford + Holt)") {
    // THE property the streaming forms rely on: resuming from carried
    // state over arbitrary micro-batch boundaries must be bit-identical
    // to folding the whole history at once. 50 seeded trials, random
    // series and random cut points.
    val rnd = new scala.util.Random(4242)
    (1 to 50).foreach { trial =>
      val n = 5 + rnd.nextInt(40)
      val evs = (1 to n).map { i =>
        graft.ops.Stateful.Event(i.toLong,
          new java.sql.Timestamp(1700000000000L + i * 60000L + rnd.nextInt(999)),
          7L, "click", rnd.nextDouble() * 200 - 100, "{}")
      }.toArray
      val cuts = (0 until 1 + rnd.nextInt(4))
        .map(_ => rnd.nextInt(n + 1)).sorted.distinct
      val chunks = (Seq(0) ++ cuts ++ Seq(n)).distinct.sliding(2)
        .map { case Seq(a, b) => evs.slice(a, b) }.filter(_.nonEmpty).toSeq
      // Welford
      val oneW = graft.ops.Stateful.scoreFold(7L, evs,
        graft.ops.Stateful.WelfordState(0L, 0.0, 0.0))
      val manyW = chunks.foldLeft(
        (Vector.empty[graft.ops.Stateful.AnomalyOut],
          graft.ops.Stateful.WelfordState(0L, 0.0, 0.0))) {
        case ((acc, st), chunk) =>
          val (out, st2) = graft.ops.Stateful.scoreFold(7L, chunk, st)
          (acc ++ out, st2)
      }
      assert(manyW._1 == oneW._1.toVector && manyW._2 == oneW._2,
        s"Welford chunk split diverges (trial $trial, cuts $cuts)")
      // Holt
      val oneH = graft.ops.Stateful.holtFold(evs,
        graft.ops.Stateful.HoltState(0L, 0.0, 0.0))
      val manyH = chunks.foldLeft(graft.ops.Stateful.HoltState(0L, 0.0, 0.0)) {
        (st, chunk) => graft.ops.Stateful.holtFold(chunk, st)
      }
      assert(manyH == oneH,
        s"Holt chunk split diverges (trial $trial, cuts $cuts)")
    }
  }

  test("scd2ApplyBatch is chunking-invariant over ts-ordered splits (random trials)") {
    import spark.implicits._
    val rnd = new scala.util.Random(777)
    (1 to 3).foreach { trial =>
      val rows = (1 to 40).map { i =>
        (1L + rnd.nextInt(4),  // user
          i.toLong,            // event_id (ts-aligned: ordered arrival)
          s"t${rnd.nextInt(3)}",
          new java.sql.Timestamp(1700000000000L + i * 3600000L))
      }.sortBy(r => (r._4.getTime, r._2))
      def df(rs: Seq[(Long, Long, String, java.sql.Timestamp)]) =
        rs.toDF("user_id", "event_id", "event_type", "ts")
      val empty = df(rows).select(col("user_id"), col("event_id"),
        col("event_type"), col("ts").as("valid_from"),
        col("ts").as("valid_to"), lit(0).cast("int").as("is_current"))
        .where(lit(false))
      val oneShot = graft.ops.Analytics.scd2ApplyBatch(empty, df(rows))
      val cut1 = 1 + rnd.nextInt(38)
      val cut2 = cut1 + 1 + rnd.nextInt(39 - cut1)
      val chunked = Seq(rows.take(cut1), rows.slice(cut1, cut2), rows.drop(cut2))
        .filter(_.nonEmpty)
        .foldLeft(empty) { (hist, chunk) =>
          graft.ops.Analytics.scd2ApplyBatch(hist, df(chunk))
            .localCheckpoint()
        }
      def keyed(d: org.apache.spark.sql.DataFrame) = d.collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getString(2),
          r.getTimestamp(3), Option(r.getTimestamp(4)), r.getInt(5)))
        .sortBy(t => (t._1, t._2)).toSeq
      assert(keyed(chunked) == keyed(oneShot),
        s"scd2ApplyBatch chunking diverges (trial $trial, cuts $cut1/$cut2)")
    }
  }

  test("phash banding == brute force on random multibyte corpora (the pigeonhole claim)") {
    // 7 bands of 9 bits must recall EVERY Hamming<=6 pair: compare the
    // op's banded n_near against a brute pairwise count over the op's
    // own signatures. Alphabet includes 2- and 3-byte codepoints so the
    // char-based sampling semantics are exercised, and mutated copies
    // plant pairs across the whole Hamming range.
    import spark.implicits._
    val rnd = new scala.util.Random(23)
    val alphabet = "abcdefgh éüñ中文漢字 xyz".toCharArray
    val base = Seq.tabulate(60) { i =>
      val n = 60 + rnd.nextInt(140)
      (i.toLong, String.valueOf(Array.fill(n)(alphabet(rnd.nextInt(alphabet.length)))))
    }
    val mutants = Seq.tabulate(15) { j =>
      val (src, text) = base(rnd.nextInt(base.length))
      val flips = 1 + rnd.nextInt(3)
      val chars = text.toCharArray
      (0 until flips).foreach { _ =>
        chars(rnd.nextInt(chars.length)) = alphabet(rnd.nextInt(alphabet.length))
      }
      (1000L + j, String.valueOf(chars))
    }
    val dir = tempDir("graft-phash-prop")
    (base ++ mutants).map { case (id, t) => (id, t, "en", "srcP", t.length.toLong) }
      .toDF("doc_id", "text", "lang", "source", "n_chars")
      .write.mode("overwrite").parquet(s"$dir/documents.parquet")
    val out = graft.ops.LlmPipeline.multimodalPhashDedup(spark, dir)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    val sigs = out.map(r => (r._1, r._2))
    val brute = sigs.map { case (id, ph) =>
      id -> sigs.count { case (id2, ph2) =>
        id2 != id && java.lang.Long.bitCount(ph ^ ph2) <= 6
      }.toLong
    }.toMap
    out.foreach { case (id, _, nNear) =>
      assert(nNear == brute(id),
        s"banded count $nNear != brute ${brute(id)} for doc $id")
    }
    assert(out.exists(_._3 > 0), "property corpus planted no near pair — vacuous")
  }

  test("reservoir sample: exactly min(k, group size) rows per group, drawn from the group") {
    val out = graft.ops.Analytics.sampleReservoirPergroup(spark, sf001).collect()
    val byType = out.groupBy(_.getString(0))
    val events = Tables.events(spark, sf001)
      .groupBy(col("event_type")).agg(count(lit(1)).as("n"))
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    events.foreach { case (t, n) =>
      val got = byType.get(t).map(_.length).getOrElse(0)
      assert(got == math.min(5L, n),
        s"group $t: sampled $got of $n (want min(5, n))")
    }
    // ranks are 1..k dense per group
    byType.values.foreach { rows =>
      assert(rows.map(_.getInt(1)).sorted.toSeq == (1 to rows.length).toSeq,
        "sample ranks not dense 1..k")
    }
  }

  test("zipf slope recovers ~-1 on an exactly Zipfian synthetic corpus") {
    import spark.implicits._
    val words = (1 to 50).flatMap(r => Seq.fill(1000 / r)(s"w${"%02d".format(r)}"))
    val dir = tempDir("graft-zipf-prop")
    // spread across docs so the word-count aggregate actually reduces
    words.grouped(200).zipWithIndex
      .map { case (ws, i) => (i.toLong, ws.mkString(" "), "en", "srcZ", 0L) }
      .toSeq
      .toDF("doc_id", "text", "lang", "source", "n_chars")
      .write.mode("overwrite").parquet(s"$dir/documents.parquet")
    val row = graft.ops.Quant.textZipfSlope(spark, dir).collect().head
    assert(row.getLong(0) == 50, s"expected 50 terms, got ${row.getLong(0)}")
    val slope = row.getDouble(1)
    assert(slope > -1.05 && slope < -0.9,
      s"slope $slope outside the Zipf band on a 1/r corpus")
  }

  test("shingle tokenizers agree on trailing-space docs (one split(\" \", -1) everywhere)") {
    // r8 regression class: shingleSet/simhash used split(' ') (drops
    // trailing empties) while the hashed-shingle kernel used
    // split(" ", -1) — the two shingle definitions silently disagreed on
    // any doc ending in a space. All kernels now share wsTokens.
    import graft.ops.LlmPipeline
    val docs = Seq("alpha beta gamma delta ", "x y z  ", "a b ", " lead in",
      "no trailing here", "double  inner space ")
    for (doc <- docs) {
      val toks = LlmPipeline.wsTokens(doc)
      assert(toks.length == doc.count(_ == ' ') + 1,
        s"wsTokens dropped tokens on <$doc>")
      // string shingles (minhash path) and hashed shingles
      // (decontaminate path, w=3) must see the SAME 3-token windows
      val strSh = LlmPipeline.shingleSet(doc).toSeq
      val expect =
        if (toks.length < 3) Seq.empty
        else toks.sliding(3).map(_.mkString(" ")).toSeq
      assert(strSh == expect, s"shingleSet windows diverge on <$doc>")
      val nHashed = LlmPipeline.shingleHashes64(doc, 3).length
      assert(nHashed == expect.length,
        s"hashed-shingle kernel window count ${nHashed} != ${expect.length} on <$doc>")
    }
  }

  test("pixel dHash: PNG encode->decode->block-average == direct grid hash on random multibyte text") {
    // decode-integrity pin for the real-pixel path (r11): grayscale PNG
    // is lossless and the 32x32 -> 8x8 block average divides evenly, so
    // pixelDHash(pngOf(text)) must equal a hash computed straight from
    // the rendered luminance grid — no image pipeline involved. Any
    // lossy/dithered encode, raster offset, or block-boundary bug breaks
    // the equality.
    import graft.ops.LlmPipeline
    def directHash(text: String): Long = {
      val n = text.codePointCount(0, text.length)
      val gray = Array.tabulate(1024) { p =>
        if (n == 0) 0L
        else (text.codePointAt(
          text.offsetByCodePoints(0, ((p.toLong * n) / 1024L).toInt)) % 256).toLong
      }
      val cells = Array.tabulate(64) { ci =>
        val (cy, cx) = (ci / 8, ci % 8)
        var sum = 0L
        for (y <- cy * 4 until cy * 4 + 4; x <- cx * 4 until cx * 4 + 4)
          sum += gray(y * 32 + x)
        sum / 16
      }
      (0 until 63).foldLeft(0L)((h, i) =>
        if (cells(i) > cells(i + 1)) h | (1L << i) else h)
    }
    val rnd = new scala.util.Random(17)
    val alphabet = "abcdefgh ázλ💡日 0189.,!"
    val texts = Seq("", "x", "short one") ++ Seq.tabulate(40) { _ =>
      Seq.fill(1 + rnd.nextInt(400))(
        alphabet.charAt(rnd.nextInt(alphabet.length))).mkString
    }
    for (t <- texts) {
      assert(LlmPipeline.pixelDHash(LlmPipeline.pngOf(t)) == directHash(t),
        s"PNG roundtrip hash diverged on <${t.take(40)}...> (len ${t.length})")
    }
  }
}
