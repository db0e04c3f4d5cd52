package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.Trigger
import graft.io.{EventSource, Tables}
import graft.ops.Streaming

/** Stream-batch parity (SURVEY.md §5.2.4): every §2.9 transform fed from
  * the AvailableNow replay source must produce exactly the rows its batch
  * form produces. DuckDB can't run a stream — this parity IS the streaming
  * correctness gate; the batch forms are the oracle-gated entries. */
abstract class StreamingParitySpecBase extends SparkSpec with StateStoreVariant {

  private def runStream(streamDf: DataFrame, mode: String, name: String): DataFrame = {
    val q = streamDf.writeStream
      .format("memory")
      .queryName(name)
      .outputMode(mode)
      .trigger(Trigger.AvailableNow())
      .start()
    q.awaitTermination()
    spark.table(name)
  }

  private def events = Tables.events(spark, sf001)
  private def replay = EventSource.replay(sf001).stream(spark)

  test("multi-micro-batch replay (maxFilesPerTrigger=1) == single-drain batch agg") {
    // True incremental execution: 4 source files arrive as 4 micro-batches;
    // windowed state must carry across batches and the final COMPLETE-mode
    // table must equal the one-shot batch aggregation.
    val in = tempDir("graft-mb")
    val raw = graft.io.Tables.normalizeTs(
      spark.read.parquet(s"$sf001/events.parquet"))
    (0 until 4).foreach { i =>
      raw.where(col("event_id") % 4 === i).coalesce(1)
        .write.parquet(s"$in/part$i")
    }
    val stream = spark.readStream.schema(EventSource.storedSchema)
      .option("recursiveFileLookup", "true")
      .option("maxFilesPerTrigger", 1)
      .parquet(in)
    val agg = Streaming.tumblingTransform(stream.withWatermark("ts", "10 minutes"))
    val q = agg.writeStream.format("memory").queryName("t_multibatch")
      .outputMode("complete").trigger(Trigger.AvailableNow()).start()
    q.awaitTermination()
    assert(q.recentProgress.count(_.numInputRows > 0) >= 4,
      s"expected >=4 non-empty micro-batches, got " +
        q.recentProgress.map(_.numInputRows).mkString(","))
    assertSameRows(
      spark.table("t_multibatch").orderBy(col("hour_start"), col("event_type")),
      Streaming.streamTumbling1h(spark, sf001), "multibatch")
  }

  test("streaming hourly counts + rank read-off across 4 micro-batches == batch stream_topk_per_window") {
    // The dashboard top-k split: the STREAM maintains (hour, type)
    // counts incrementally; the rank read-off runs over the maintained
    // COMPLETE-mode table — and must equal the one-shot batch twin.
    val in = tempDir("graft-topk")
    val raw = graft.io.Tables.normalizeTs(
      spark.read.parquet(s"$sf001/events.parquet"))
    (0 until 4).foreach { i =>
      raw.where(col("event_id") % 4 === i).coalesce(1)
        .write.parquet(s"$in/part$i")
    }
    val stream = spark.readStream.schema(EventSource.storedSchema)
      .option("recursiveFileLookup", "true")
      .option("maxFilesPerTrigger", 1)
      .parquet(in)
    val counts = Streaming.hourlyTypeCounts(
      stream.withWatermark("ts", "10 minutes"))
    val q = counts.writeStream.format("memory").queryName("t_topk_counts")
      .outputMode("complete").trigger(Trigger.AvailableNow()).start()
    q.awaitTermination()
    assert(q.recentProgress.count(_.numInputRows > 0) >= 4,
      "expected >=4 non-empty micro-batches")
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("hour_start")).orderBy(col("n").desc, col("event_type"))
    val ranked = spark.table("t_topk_counts")
      .withColumn("rn", row_number().over(w))
      .where(col("rn") <= 3)
    assertSameRows(
      ranked.orderBy(col("hour_start"), col("rn")),
      Streaming.streamTopkPerWindow(spark, sf001), "topk-per-window")
  }

  test("streaming CDC latest-state across 4 micro-batches == batch cdc_upsert_latest") {
    // The feature-store current-state table maintained INCREMENTALLY:
    // the same max_by aggregate runs over 4 arrival batches (complete
    // mode re-emits the maintained state) and must land on the one-shot
    // batch compaction exactly — latest-wins must survive keys whose
    // winner arrives in an earlier batch than later losers.
    val in = tempDir("graft-cdc")
    val raw = graft.io.Tables.normalizeTs(
      spark.read.parquet(s"$sf001/events.parquet"))
    (0 until 4).foreach { i =>
      raw.where(col("event_id") % 4 === i).coalesce(1)
        .write.parquet(s"$in/part$i")
    }
    val stream = spark.readStream.schema(EventSource.storedSchema)
      .option("recursiveFileLookup", "true")
      .option("maxFilesPerTrigger", 1)
      .parquet(in)
    val state = graft.ops.Relational.upsertLatestTransform(stream)
    val q = state.writeStream.format("memory").queryName("t_cdc_state")
      .outputMode("complete").trigger(Trigger.AvailableNow()).start()
    q.awaitTermination()
    assert(q.recentProgress.count(_.numInputRows > 0) >= 4,
      "expected >=4 non-empty micro-batches")
    assertSameRows(
      spark.table("t_cdc_state").orderBy(col("user_id"), col("event_type")),
      graft.ops.Relational.cdcUpsertLatest(spark, sf001), "cdc-latest-state")
  }

  test("chained hourly→daily stateful aggs across 4 micro-batches == batch stream_chained_agg") {
    // TWO windowed aggregations in one streaming query (window-on-window,
    // append mode — the multiple-stateful-operator feature). Append only
    // emits a window once the watermark passes its end, so batch 4
    // carries a far-future sentinel event that pushes the watermark past
    // every REAL day window; the sentinel's own (incomplete) windows stay
    // in state and must NOT surface. Expected = the batch twin over the
    // real events only.
    val in = tempDir("graft-chain")
    val raw = graft.io.Tables.normalizeTs(
      spark.read.parquet(s"$sf001/events.parquet"))
    // arrival must be TIME-ordered (ntile over ts), not hash-split: in
    // append mode the watermark from an out-of-order batch 1 would mark
    // nearly every later row late and DROP it — the complete-mode suites
    // never see this because their state outlives the watermark.
    val batched = raw.withColumn("b",
      ntile(3).over(org.apache.spark.sql.expressions.Window
        .orderBy(col("ts"), col("event_id"))))
    (1 to 3).foreach { i =>
      batched.where(col("b") === i).drop("b").coalesce(1)
        .write.parquet(s"$in/part$i")
    }
    val maxTs = raw.agg(max(col("ts"))).head.getTimestamp(0)
    val sentinel = raw.limit(1).select(
      lit(-1L).as("event_id"),
      (lit(maxTs) + expr("INTERVAL 5 DAYS")).cast("timestamp").as("ts"),
      lit(-1L).as("user_id"), lit("sentinel").as("event_type"),
      lit(0.0).as("value"), lit("{}").as("props"))
      .select(raw.columns.map(col).toIndexedSeq: _*)
    sentinel.coalesce(1).write.parquet(s"$in/part4")
    val stream = spark.readStream.schema(EventSource.storedSchema)
      .option("recursiveFileLookup", "true")
      .option("maxFilesPerTrigger", 1)
      .parquet(in)
    val agg = Streaming.chainedAggTransform(
      stream.withWatermark("ts", "10 minutes"))
    val q = agg.writeStream.format("memory").queryName("t_chained")
      .outputMode("append").trigger(Trigger.AvailableNow()).start()
    q.awaitTermination()
    assert(q.recentProgress.count(_.numInputRows > 0) >= 4,
      "expected >=4 non-empty micro-batches")
    assertSameRows(
      spark.table("t_chained").orderBy(col("day_start"), col("event_type")),
      Streaming.streamChainedAgg(spark, sf001), "chained-agg")
  }

  test("chained stateful aggs survive a checkpoint restart: both state stores recover, windows emit exactly once") {
    // The production restart story for MULTIPLE stateful operators in one
    // query: run 1 drains the first (time-ordered) half and emits the
    // day windows its watermark finalizes; run 2 restarts from the SAME
    // checkpoint with the second half + a watermark-push sentinel. Both
    // aggregation stages' state AND the watermark must recover — the
    // union of the two runs' append output must equal the batch twin
    // exactly once, with no window emitted twice and none lost.
    val root = tempDir("graft-chain-ckpt")
    val (in, out, ckpt) = (s"$root/in", s"$root/out", s"$root/ckpt")
    java.nio.file.Files.createDirectories(java.nio.file.Paths.get(in))
    val raw = graft.io.Tables.normalizeTs(
      spark.read.parquet(s"$sf001/events.parquet"))
    val batched = raw.withColumn("b",
      ntile(2).over(org.apache.spark.sql.expressions.Window
        .orderBy(col("ts"), col("event_id"))))
    def runOnce(): Unit = {
      val stream = spark.readStream.schema(EventSource.storedSchema)
        .option("recursiveFileLookup", "true").parquet(in)
      val q = Streaming.chainedAggTransform(
        stream.withWatermark("ts", "10 minutes"))
        .writeStream.format("parquet")
        .option("path", out).option("checkpointLocation", ckpt)
        .outputMode("append").trigger(Trigger.AvailableNow()).start()
      q.awaitTermination()
    }
    batched.where(col("b") === 1).drop("b").coalesce(1)
      .write.parquet(s"$in/half1")
    runOnce()
    val firstRunRows = spark.read.parquet(out).count()
    batched.where(col("b") === 2).drop("b").coalesce(1)
      .write.parquet(s"$in/half2")
    val maxTs = raw.agg(max(col("ts"))).head.getTimestamp(0)
    raw.limit(1).select(
      lit(-1L).as("event_id"),
      (lit(maxTs) + expr("INTERVAL 5 DAYS")).cast("timestamp").as("ts"),
      lit(-1L).as("user_id"), lit("sentinel").as("event_type"),
      lit(0.0).as("value"), lit("{}").as("props"))
      .select(raw.columns.map(col).toIndexedSeq: _*)
      .coalesce(1).write.parquet(s"$in/half3")
    runOnce()
    val sunk = spark.read.parquet(out)
    assert(sunk.count() > firstRunRows,
      "restart emitted nothing — second half lost")
    assert(sunk.groupBy(col("day_start"), col("event_type")).count()
      .where(col("count") > 1).count() == 0,
      "a window emitted twice across the restart")
    assertSameRows(
      sunk.orderBy(col("day_start"), col("event_type")),
      Streaming.streamChainedAgg(spark, sf001), "chained-ckpt-recovery")
  }

  test("per-day PSI drift monitor: streamed (day, bin) counts + readout == batch") {
    // The drift family's streaming form: reference bins broadcast static,
    // the replayed current half maintains per-(day, bin) counts, and the
    // rank-style readout over the maintained table must reproduce the
    // oracle-gated batch key row-for-row.
    val bins = graft.ops.Drift.driftPsiRefBins(events)
    val cur = replay
      .where(col("ts") >= lit("2024-01-16 00:00:00").cast("timestamp"))
      .withWatermark("ts", "10 minutes")
    val streamed = runStream(
      graft.ops.Drift.driftPsiCountsTransform(cur, bins),
      "complete", "t_drift_psi")
    assertSameRows(
      graft.ops.Drift.driftPsiReadout(streamed),
      graft.ops.Drift.streamDriftPsi(spark, sf001), "drift-psi")
  }

  test("DP noisy release: streamed day counts + readout == batch (stream_privacy_dp)") {
    // Governance twin of the drift monitor: the stream maintains
    // watermark-evictable per-(day, type) counts; the readout attaches
    // the key-derived Laplace noise — so the streamed release must
    // reproduce the batch key row-for-row.
    val streamed = runStream(
      graft.ops.Govern.dpCountsTransform(replay.withWatermark("ts", "10 minutes")),
      "complete", "t_privacy_dp")
    assertSameRows(
      graft.ops.Govern.dpReleaseReadout(streamed),
      graft.ops.Govern.streamPrivacyDp(spark, sf001), "privacy-dp")
  }

  test("kinesis envelope wrap→decode under streaming replay == batch tumbling agg") {
    // The reference's actual shape: a stream of Kinesis-style records
    // (partition key, sequence number, base64 JSON blob) decoded and
    // windowed incrementally. Wrap and decode are pure column transforms,
    // so the SAME code runs here on the replay stream and in the
    // oracle-gated batch key (source_kinesis_envelope).
    val stream = replay
    val decoded = graft.io.Formats.kinesisDecode(
      graft.io.Formats.kinesisWrap(stream), stream.schema)
    val agg = Streaming.tumblingTransform(
      decoded.withWatermark("ts", "10 minutes"))
    val out = runStream(agg, "complete", "t_kinesis_env")
    assertSameRows(
      out.orderBy(col("hour_start"), col("event_type")),
      Streaming.streamTumbling1h(spark, sf001), "kinesis-envelope")
  }

  test("checkpoint recovery: restarted query resumes at the stored offset, no reprocessing") {
    // Kinesis-resume semantics on the file-replay source: drain batch 1,
    // stop, add data, restart with the SAME checkpoint — the second run
    // must process only the new file and the sink must hold each event
    // exactly once.
    val root = tempDir("graft-ckpt")
    val (in, out, ckpt) = (s"$root/in", s"$root/out", s"$root/ckpt")
    java.nio.file.Files.createDirectories(java.nio.file.Paths.get(in))
    val raw = graft.io.Tables.normalizeTs(
      spark.read.parquet(s"$sf001/events.parquet"))
    raw.where(col("event_id") % 2 === 0)
      .coalesce(1).write.parquet(s"$in/batch1")
    def runOnce(): Unit = {
      val q = spark.readStream.schema(EventSource.storedSchema)
        .option("recursiveFileLookup", "true").parquet(in)
        .writeStream.format("parquet")
        .option("path", out).option("checkpointLocation", ckpt)
        .trigger(Trigger.AvailableNow()).start()
      q.awaitTermination()
    }
    runOnce()
    val afterFirst = spark.read.parquet(out).count()
    assert(afterFirst == raw.where(col("event_id") % 2 === 0).count())
    raw.where(col("event_id") % 2 === 1)
      .coalesce(1).write.parquet(s"$in/batch2")
    runOnce()
    val sunk = spark.read.parquet(out)
    assert(sunk.count() == raw.count(), "restart reprocessed or lost rows")
    assert(sunk.select(col("event_id")).distinct().count() == raw.count(),
      "duplicate event_ids after checkpoint restart")
  }

  test("tumbling window: stream == batch") {
    val streamed = runStream(
      Streaming.tumblingTransform(replay.withWatermark("ts", "10 minutes")),
      "complete", "t_tumbling")
    assertSameRows(
      streamed.orderBy(col("hour_start"), col("event_type")),
      Streaming.streamTumbling1h(spark, sf001), "tumbling")
  }

  test("sliding window: stream == batch") {
    val streamed = runStream(
      Streaming.slidingTransform(replay.withWatermark("ts", "10 minutes")),
      "complete", "t_sliding")
    assertSameRows(
      streamed.orderBy(col("win_start"), col("event_type")),
      Streaming.streamSliding(spark, sf001), "sliding")
  }

  test("session window membership: stream session_window == batch gaps-and-islands") {
    // Spark's session_window end = last event + gap; the contract emits
    // min/max/count so both forms are comparable (SURVEY.md §2.9).
    val streamed = runStream(
      replay.withWatermark("ts", "10 minutes")
        .groupBy(session_window(col("ts"), "30 minutes"), col("user_id"))
        .agg(min(col("ts")).as("session_start"), max(col("ts")).as("session_end"),
          count(lit(1)).as("n_events")),
      "complete", "t_session")
    val batch = Streaming.streamSession30m(spark, sf001)
      .select(col("user_id"), col("session_start"), col("session_end"), col("n_events"))
    assertSameRows(
      streamed.select(col("user_id"), col("session_start"), col("session_end"),
        col("n_events")).orderBy(col("user_id"), col("session_start")),
      batch.orderBy(col("user_id"), col("session_start")), "session")
  }

  test("KMV sketch streaming aggregation: stream == batch") {
    // a CUSTOM typed Aggregator as streaming state: the ≤K-value buffer
    // rides the state store across micro-batches; the readout estimate
    // must equal the batch twin exactly (the sketch is deterministic)
    val streamed = runStream(
      Streaming.kmvDistinctTransform(replay.withWatermark("ts", "10 minutes")),
      "complete", "t_kmv")
    assertSameRows(
      Streaming.kmvDistinctReadout(streamed),
      Streaming.streamKmvDistinct(spark, sf001), "kmv-distinct")
  }

  test("stream-static join: stream == batch") {
    val streamed = runStream(
      Streaming.staticJoinTransform(replay, Tables.customer(spark, sf001)),
      "append", "t_static")
    assertSameRows(
      streamed.orderBy(col("event_id")),
      Streaming.streamStaticJoin(spark, sf001), "static-join")
  }

  test("KMV update-mode state EVICTION: day windows behind the watermark leave the store") {
    // The caller-attaches-watermark contract (Streaming.scala) gains an
    // executed witness (r12 verdict task 5): in UPDATE mode with a
    // 10-minute watermark, a (day, type) sketch row must be REMOVED from
    // the state store once the watermark passes its window end — without
    // eviction the store grows one row per (day, type) forever. Three
    // arrival batches: day-1 events, day-3 events (watermark still at
    // day 1 during this batch), then day-5 events of ONE type — during
    // batch 3 the watermark (day-3 noon − 10 min) is past day 1's window
    // end, so every day-1 cell must exit the store and the final row
    // count must be exactly the live cells.
    val in = tempDir("graft-kmvevict")
    val raw = graft.io.Tables.normalizeTs(
      spark.read.parquet(s"$sf001/events.parquet")).limit(600)
    val firstType = raw.select(col("event_type")).orderBy(col("event_type"))
      .first().getString(0)
    def slice(i: Int): DataFrame =
      raw.where(col("event_id") % 3 === i)
    slice(0).withColumn("ts", to_timestamp(lit("2024-01-01 12:00:00")))
      .coalesce(1).write.parquet(s"$in/part0")
    slice(1).withColumn("ts", to_timestamp(lit("2024-01-03 12:00:00")))
      .coalesce(1).write.parquet(s"$in/part1")
    slice(2).where(col("event_type") === firstType)
      .withColumn("ts", to_timestamp(lit("2024-01-05 12:00:00")))
      .coalesce(1).write.parquet(s"$in/part2")
    val typesDay1 = slice(0).select(col("event_type")).distinct().count()
    val typesDay3 = slice(1).select(col("event_type")).distinct().count()
    val stream = spark.readStream.schema(EventSource.storedSchema)
      .option("recursiveFileLookup", "true")
      .option("maxFilesPerTrigger", 1)
      .parquet(in)
    val q = Streaming.kmvDistinctTransform(stream.withWatermark("ts", "10 minutes"))
      .writeStream.format("memory").queryName("t_kmv_evict")
      .outputMode("update").trigger(Trigger.AvailableNow()).start()
    q.awaitTermination()
    val progs = q.recentProgress.filter(_.numInputRows > 0)
    assert(progs.length >= 3, s"expected >=3 data batches, got ${progs.length}")
    val totals = progs.map(_.stateOperators(0).numRowsTotal)
    val removed = progs.map(_.stateOperators(0).numRowsRemoved).sum
    assert(removed == typesDay1,
      s"watermark must remove exactly the ${typesDay1} day-1 cells " +
        s"(removed $removed; totals ${totals.mkString(",")})")
    assert(totals.last == typesDay3 + 1,
      s"final state must hold only live cells (day-3 types + 1 day-5 " +
        s"cell): totals ${totals.mkString(",")}")
    assert(totals.last < totals.max,
      s"state never shrank: ${totals.mkString(",")}")
  }

  test("stream-stream join: stream == batch") {
    val clicks = replay.withWatermark("ts", "1 hour")
    val streamed = runStream(
      Streaming.streamStreamJoinTransform(clicks), "append", "t_ss")
    assertSameRows(
      streamed.orderBy(col("user_id"), col("click_id"), col("purchase_id")),
      Streaming.streamStreamJoin(spark, sf001), "stream-stream")
  }

  test("stream-stream LEFT OUTER join: matched rows equal batch; null emission obeys the watermark horizon") {
    val streamed = runStream(
      Streaming.streamStreamLeftTransform(replay.withWatermark("ts", "10 minutes")),
      "append", "t_ssl")
    val batch = Streaming.streamStreamLeftJoin(spark, sf001)
    // matched rows emit as soon as both sides arrive — exact parity
    assertSameRows(
      streamed.where(col("matched") === 1)
        .orderBy(col("user_id"), col("click_id"), col("purchase_id")),
      batch.where(col("matched") === 1), "ssl-matched")
    // a null-padded row for click c emits only once the final watermark
    // (max ts − 10 min) passes c's join-state horizon c_ts + 1 hour;
    // clicks inside the horizon are still held in state at termination
    val maxTs = events.agg(max(col("ts"))).head().getTimestamp(0)
    val sU = streamed.where(col("matched") === 0)
      .select(col("user_id"), col("click_id"), col("c_ts"))
    val bU = batch.where(col("matched") === 0)
      .select(col("user_id"), col("click_id"), col("c_ts"))
    assert(sU.count() > 0, "no null-padded rows emitted before termination")
    // every streamed null row is a true batch null row …
    assert(sU.except(bU).count() == 0,
      "stream emitted a null row the batch left join does not contain")
    // … and every batch null row safely past the horizon was emitted
    // (1-minute margin keeps the pin off the exact eviction boundary)
    val safe = new java.sql.Timestamp(maxTs.getTime - (10 + 60 + 1) * 60 * 1000L)
    assert(bU.where(col("c_ts") < lit(safe)).except(sU).count() == 0,
      "watermark-closed unmatched clicks were not emitted null-padded")
  }

  test("foreachBatch bridges the stream to a batch parquet sink (sink_foreachbatch)") {
    val outDir = tempDir("graft-fb")
    val q = replay
      .writeStream
      .foreachBatch { (batch: DataFrame, id: Long) =>
        batch.withColumn("batch_id", lit(id))
          .write.mode("append").parquet(s"$outDir/events")
      }
      .trigger(Trigger.AvailableNow())
      .start()
    q.awaitTermination()
    val written = spark.read.parquet(s"$outDir/events")
    assert(written.count() == events.count(), "foreachBatch lost rows")
    assert(written.columns.contains("batch_id"))
  }

  test("foreachBatch incremental MV maintenance == mv_incremental_refresh == full recompute") {
    // The STREAMING twin of the mv_incremental_refresh query key: each
    // micro-batch's partial aggregate merges into a running MV table via
    // foreachBatch (read-modify-write on the group key), state lives in
    // the sink, and the final MV must equal both the batch key and a flat
    // recompute. Integer-cents accumulation makes merge order irrelevant.
    val in = tempDir("graft-mv-in")
    val mvDir = tempDir("graft-mv") + "/mv"
    val raw = graft.io.Tables.normalizeTs(
      spark.read.parquet(s"$sf001/events.parquet"))
    (0 until 4).foreach { i =>
      raw.where(col("event_id") % 4 === i).coalesce(1)
        .write.parquet(s"$in/part$i")
    }
    val stream = spark.readStream.schema(EventSource.storedSchema)
      .option("recursiveFileLookup", "true")
      .option("maxFilesPerTrigger", 1)
      .parquet(in)
    val q = stream.writeStream
      .foreachBatch { (batch: DataFrame, _: Long) =>
        val delta = batch
          .select(col("event_type"),
            floor(col("value") * 100 + 0.5).cast("long").as("cents"))
          .groupBy(col("event_type"))
          .agg(count(lit(1)).as("n"), sum(col("cents")).as("cents"))
        val merged =
          if (new java.io.File(mvDir).exists())
            spark.read.parquet(mvDir).unionByName(delta)
              .groupBy(col("event_type"))
              .agg(sum(col("n")).as("n"), sum(col("cents")).as("cents"))
          else delta
        // read fully before overwriting the same path
        val rows = merged.collect()
        spark.createDataFrame(
            spark.sparkContext.parallelize(rows.toIndexedSeq), merged.schema)
          .write.mode("overwrite").parquet(mvDir)
      }
      .trigger(Trigger.AvailableNow())
      .start()
    q.awaitTermination()
    assert(q.recentProgress.count(_.numInputRows > 0) >= 4,
      "expected >=4 micro-batches")
    val mv = spark.read.parquet(mvDir)
      .select(col("event_type"), col("n"),
        (col("cents").cast("double") / 100.0).as("sum_value"))
      .orderBy(col("event_type"))
    assertSameRows(mv,
      graft.ops.Analytics.mvIncrementalRefresh(spark, sf001), "stream-mv")
  }

  test("foreachBatch CDC apply over 4 micro-batches == cdc_upsert_latest") {
    // The streaming twin of cdc_upsert_latest: each micro-batch upserts
    // into a keyed state table (survivor = max (ts ‖ event_id) composite
    // key, same tie rule as the batch op), so the final state after the
    // stream drains must equal the one-shot batch upsert.
    val in = tempDir("graft-cdc-in")
    val stDir = tempDir("graft-cdc") + "/state"
    val raw = graft.io.Tables.normalizeTs(
      spark.read.parquet(s"$sf001/events.parquet"))
    (0 until 4).foreach { i =>
      raw.where(col("event_id") % 4 === i).coalesce(1)
        .write.parquet(s"$in/part$i")
    }
    val stream = spark.readStream.schema(EventSource.storedSchema)
      .option("recursiveFileLookup", "true")
      .option("maxFilesPerTrigger", 1)
      .parquet(in)
    val q = stream.writeStream
      .foreachBatch { (batch: DataFrame, _: Long) =>
        val key = graft.ops.Relational.latestTsIdKey(col("ts"), col("event_id"))
        val delta = batch.select(
          col("user_id"), col("event_type"), col("event_id"),
          col("value"), col("ts"))
        val merged =
          (if (new java.io.File(stDir).exists())
             spark.read.parquet(stDir).unionByName(delta)
           else delta)
            .groupBy(col("user_id"), col("event_type"))
            .agg(
              max_by(col("event_id"), key).as("event_id"),
              max_by(col("value"), key).as("value"),
              max(col("ts")).as("ts"))
        val rows = merged.collect()
        spark.createDataFrame(
            spark.sparkContext.parallelize(rows.toIndexedSeq), merged.schema)
          .write.mode("overwrite").parquet(stDir)
      }
      .trigger(Trigger.AvailableNow())
      .start()
    q.awaitTermination()
    val streamed = spark.read.parquet(stDir)
      .select(col("user_id"), col("event_type"), col("event_id"),
        (floor(col("value") * 100 + 0.5) / 100.0).as("value"), col("ts"))
      .orderBy(col("user_id"), col("event_type"))
    assertSameRows(streamed,
      graft.ops.Relational.cdcUpsertLatest(spark, sf001), "stream-cdc")
  }

  test("stream-stream FULL OUTER join: matched rows equal batch; both sides emit null-padded rows") {
    val streamed = runStream(
      Streaming.streamStreamFullTransform(replay.withWatermark("ts", "10 minutes")),
      "append", "t_ssf")
    val batch = Streaming.streamStreamFullJoin(spark, sf001)
    assertSameRows(
      streamed.where(col("matched") === 1)
        .orderBy(col("user_id"), col("click_id"), col("purchase_id")),
      batch.where(col("matched") === 1), "ssf-matched")
    // null-padded emission is watermark-gated (not all unmatched rows are
    // out when AvailableNow terminates) but must be a subset of the batch
    // truth — and BOTH outer directions must actually have fired
    val sNull = streamed.where(col("matched") === 0)
      .select(col("user_id"), col("click_id"), col("purchase_id"))
    val bNull = batch.where(col("matched") === 0)
      .select(col("user_id"), col("click_id"), col("purchase_id"))
    assert(sNull.except(bNull).count() == 0,
      "stream emitted a null row the batch full join does not contain")
    assert(sNull.where(col("purchase_id") === -1L).count() > 0,
      "no unmatched clicks emitted")
    assert(sNull.where(col("click_id") === -1L).count() > 0,
      "no unmatched purchases emitted")
  }

  test("kinesis-envelope replay preserves per-shard (user_id % nShards) arrival order") {
    // Kinesis guarantees order per shard (partition key → sequence
    // number). The replay emulation's claim: draining time-ordered chunk
    // files through AvailableNow yields, for every shard, an arrival
    // sequence equal to that shard's (ts, event_id) order. Build 4 chunk
    // files = ts quartiles (each sorted inside), then record actual
    // arrival order via foreachBatch.
    val nShards = 4
    val in = tempDir("graft-shard")
    val raw = graft.io.Tables.normalizeTs(
      spark.read.parquet(s"$sf001/events.parquet"))
    // quantile-cut on epoch µs (approxQuantile needs a numeric column)
    val tsus = unix_micros(col("ts"))
    val withUs = raw.withColumn("tsus", tsus)
    val qs = withUs.stat.approxQuantile("tsus", Array(0.25, 0.5, 0.75), 0.0)
    val edges = Array(Long.MinValue) ++ qs.map(_.toLong) ++ Array(Long.MaxValue)
    (0 until 4).foreach { i =>
      val f = new java.io.File(s"$in/part$i")
      withUs.where(col("tsus") > edges(i) && col("tsus") <= edges(i + 1))
        .drop("tsus")
        .coalesce(1).sortWithinPartitions(col("ts"), col("event_id"))
        .write.parquet(f.toString)
      // FileStreamSource orders by modification time — make it strict
      f.listFiles().foreach(_.setLastModified(1600000000000L + i * 60000L))
    }
    val arrivals = new java.util.concurrent.ConcurrentLinkedQueue[(Long, Long, Long)]()
    val q = spark.readStream.schema(EventSource.storedSchema)
      .option("recursiveFileLookup", "true")
      .option("maxFilesPerTrigger", 1)
      .parquet(in)
      .writeStream
      .foreachBatch { (batch: DataFrame, id: Long) =>
        batch.collect().foreach(r =>
          arrivals.add((id, r.getLong(2) % nShards, r.getLong(0))))
      }
      .trigger(Trigger.AvailableNow())
      .start()
    q.awaitTermination()
    val seen = arrivals.toArray(Array.empty[(Long, Long, Long)])
    assert(seen.length == raw.count(), "replay lost or duplicated rows")
    assert(seen.map(_._1).distinct.length >= 4, "expected >=4 micro-batches")
    val tsOf = withUs.select(col("event_id"), col("tsus")).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    (0L until nShards).foreach { sh =>
      val arrived = seen.filter(_._2 == sh).map(_._3)
      val expected = arrived.sortBy(id => (tsOf(id), id))
      assert(arrived.sameElements(expected),
        s"shard $sh replayed out of per-shard order")
    }
  }

  test("dedup within watermark drops synthetic duplicates") {
    import spark.implicits._
    val base = events.limit(50).collect()
    val dup = base ++ base.take(10) // 10 exact duplicate rows
    val dupDf = spark.createDataFrame(
      spark.sparkContext.parallelize(dup.toSeq), events.schema)
    assert(Streaming.dedupTransform(dupDf).count() == 50)
  }
}

/** The in-heap default backend (HDFSBackedStateStoreProvider). */
class StreamingParitySpec extends StreamingParitySpecBase {
  protected def providerClass: String =
    "org.apache.spark.sql.execution.streaming.state.HDFSBackedStateStoreProvider"
}

/** The production backend: every stream-batch parity result — including
  * checkpoint-recovery resume, which here exercises changelog REPLAY —
  * must be identical with state in RocksDB. */
class StreamingParityRocksDbSpec extends StreamingParitySpecBase {
  protected def providerClass: String =
    "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider"
  override protected def extraConf: Map[String, String] = Map(
    "spark.sql.streaming.stateStore.rocksdb.changelogCheckpointing.enabled" ->
      "true")
}
