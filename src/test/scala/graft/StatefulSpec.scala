package graft

import java.sql.Timestamp

import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.Trigger
import graft.io.Tables
import graft.ops.{Stateful, Streaming}

/** Custom stateful operator + late-data semantics (SURVEY.md §2.9),
  * parameterized over the state-store backend: every test in this base
  * runs once under the in-heap default ([[StatefulSpec]]) and once under
  * the production RocksDB provider ([[StatefulRocksDbSpec]]) — at 100 TB
  * the feed's state lives on RocksDB (local-disk spill, state scales
  * with active keys not heap), so both backends must produce identical
  * sessions, including across a checkpointed restart. */
abstract class StatefulSpecBase extends SparkSpec with StateStoreVariant {

  test("flatMapGroupsWithState sessionization == declarative gaps-and-islands (batch)") {
    val stateful = Stateful.streamStatefulSession(spark, sf001)
      .select(col("user_id"), col("session_idx"), col("session_start"),
        col("session_end"), col("n_events"), col("sum_value"))
    val declarative = Streaming.streamSession30m(spark, sf001)
    assertSameRows(stateful, declarative, "stateful-session")
  }

  test("flatMapGroupsWithState sessionization under AvailableNow streaming == batch") {
    import spark.implicits._
    val streamed = Stateful.sessionize(
      graft.io.EventSource.replay(sf001).stream(spark).as[Stateful.Event])
    val q = streamed.writeStream.format("memory").queryName("t_stateful")
      .outputMode("append").trigger(Trigger.AvailableNow()).start()
    q.awaitTermination()
    assertSameRows(
      spark.table("t_stateful").orderBy(col("user_id"), col("session_idx")),
      Stateful.streamStatefulSession(spark, sf001), "stateful-stream")
  }

  test("transformWithState sessionization == flatMapGroupsWithState (batch + stream)") {
    import spark.implicits._
    // batch parity: both stateful APIs against each other
    assertSameRows(
      Stateful.streamStatefulTws(spark, sf001),
      Stateful.streamStatefulSession(spark, sf001), "tws-batch")
    // streaming parity under AvailableNow replay
    val streamed = Stateful.sessionizeTws(
      graft.io.EventSource.replay(sf001).stream(spark).as[Stateful.Event])
    val q = streamed.writeStream.format("memory").queryName("t_tws")
      .outputMode("append").trigger(Trigger.AvailableNow()).start()
    q.awaitTermination()
    assertSameRows(
      spark.table("t_tws").orderBy(col("user_id"), col("session_idx")),
      Stateful.streamStatefulSession(spark, sf001), "tws-stream")
  }

  test("sessionizeStream stitches a session across micro-batches and flushes by watermark") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    def t(s: String) = Timestamp.valueOf(s)
    def ev(id: Long, ts: String, user: Long, v: Double) =
      Stateful.Event(id, t(ts), user, "click", v, "{}")
    val mem = MemoryStream[Stateful.Event]
    val out = Stateful.sessionizeStream(
      mem.toDS().withWatermark("ts", "0 seconds"))
    val q = out.writeStream.format("memory").queryName("t_sstream")
      .outputMode("append").start()
    // batch 1: user 1 session begins; user 2 lone event
    mem.addData(ev(1, "2024-01-01 10:00:00", 1, 1.0),
      ev(2, "2024-01-01 10:10:00", 1, 2.0),
      ev(3, "2024-01-01 10:00:00", 2, 5.0))
    q.processAllAvailable()
    // batch 2: 10:20 is within 30 min of 10:10 — the SAME session, even
    // though it arrives in a later micro-batch (the r01 NoTimeout form
    // split here); 12:00 closes it (gap > 30 min) and opens session 1.
    mem.addData(ev(4, "2024-01-01 10:20:00", 1, 3.0),
      ev(5, "2024-01-01 12:00:00", 1, 4.0))
    q.processAllAvailable()
    // two more batches: advance the watermark past 12:30 so the event-time
    // timeout flushes the open sessions (timeouts fire the batch AFTER the
    // watermark update).
    mem.addData(ev(6, "2024-01-01 13:01:00", 99, 0.0))
    q.processAllAvailable()
    mem.addData(ev(7, "2024-01-01 13:02:00", 99, 0.0))
    q.processAllAvailable()
    // user 2 RETURNS after their session 0 was flushed by timeout: the idx
    // counter must survive eviction — the new session is (2, 1), not (2, 0)
    mem.addData(ev(8, "2024-01-01 14:00:00", 2, 7.0))
    q.processAllAvailable()
    mem.addData(ev(9, "2024-01-01 15:01:00", 99, 0.0))
    q.processAllAvailable()
    mem.addData(ev(10, "2024-01-01 15:02:00", 99, 0.0))
    q.processAllAvailable()
    q.stop()
    val rows = spark.table("t_sstream")
      .select(col("user_id"), col("session_idx"), col("session_start"),
        col("session_end"), col("n_events"), col("sum_value"))
      .collect()
      .map(r => (r.getLong(0), r.getLong(1)) ->
        (r.getTimestamp(2).toString, r.getTimestamp(3).toString,
          r.getLong(4), r.getDouble(5))).toMap
    // user 1 session 0 STITCHED across batches 1+2: 10:00–10:20, 3 events
    assert(rows((1L, 0L)) ==
      ("2024-01-01 10:00:00.0", "2024-01-01 10:20:00.0", 3L, 6.0), s"$rows")
    // user 1 session 1 flushed by timeout: the lone 12:00 event
    assert(rows((1L, 1L)) ==
      ("2024-01-01 12:00:00.0", "2024-01-01 12:00:00.0", 1L, 4.0), s"$rows")
    // user 2's lone session flushed by timeout
    assert(rows((2L, 0L)) ==
      ("2024-01-01 10:00:00.0", "2024-01-01 10:00:00.0", 1L, 5.0), s"$rows")
    // and their post-eviction return continues the sequence at idx 1
    assert(rows((2L, 1L)) ==
      ("2024-01-01 14:00:00.0", "2024-01-01 14:00:00.0", 1L, 7.0), s"$rows")
  }

  test("sessionizeStream widens session_start for an out-of-order event inside watermark slack") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    def t(s: String) = Timestamp.valueOf(s)
    def ev(id: Long, ts: String, user: Long, v: Double) =
      Stateful.Event(id, t(ts), user, "click", v, "{}")
    val mem = MemoryStream[Stateful.Event]
    // 1 h watermark delay: an event 30 min older than the open session's
    // start is LEGAL late data, not a watermark violation — it must merge
    // and extend session_start backwards (ADVICE round-2: the merge used
    // to keep the newer start, yielding a wrong start/duration).
    val out = Stateful.sessionizeStream(
      mem.toDS().withWatermark("ts", "1 hour"))
    val q = out.writeStream.format("memory").queryName("t_ooo")
      .outputMode("append").start()
    mem.addData(ev(1, "2024-01-01 10:30:00", 7, 1.0))
    q.processAllAvailable()
    // arrives in a LATER batch with an EARLIER timestamp (watermark is
    // 09:30, so it is not dropped upstream)
    mem.addData(ev(2, "2024-01-01 10:00:00", 7, 2.0))
    q.processAllAvailable()
    // advance the watermark far past end+30min, then one more batch so the
    // event-time timeout actually fires and flushes user 7's session
    mem.addData(ev(3, "2024-01-01 20:00:00", 99, 0.0))
    q.processAllAvailable()
    mem.addData(ev(4, "2024-01-01 20:30:00", 99, 0.0))
    q.processAllAvailable()
    q.stop()
    val rows = spark.table("t_ooo")
      .select(col("user_id"), col("session_idx"), col("session_start"),
        col("session_end"), col("n_events"), col("sum_value"))
      .collect()
      .map(r => (r.getLong(0), r.getLong(1)) ->
        (r.getTimestamp(2).toString, r.getTimestamp(3).toString,
          r.getLong(4), r.getDouble(5))).toMap
    assert(rows((7L, 0L)) ==
      ("2024-01-01 10:00:00.0", "2024-01-01 10:30:00.0", 2L, 3.0), s"$rows")
  }

  test("sessionizeStream islands late events a full gap BEFORE the open session (batch parity)") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    def t(s: String) = Timestamp.valueOf(s)
    def ev(id: Long, ts: String, user: Long, v: Double) =
      Stateful.Event(id, t(ts), user, "click", v, "{}")
    val mem = MemoryStream[Stateful.Event]
    // 3 h watermark slack: events 2 h older than the open session's start
    // are LEGAL late data. Being > 30 min gap before it, batch
    // gaps-and-islands puts them in their OWN earlier session — the stream
    // must too, and must renumber so (user, idx) matches time order
    // (ADVICE round-3: these used to merge into the open session).
    val out = Stateful.sessionizeStream(
      mem.toDS().withWatermark("ts", "3 hours"))
    val q = out.writeStream.format("memory").queryName("t_early")
      .outputMode("append").start()
    mem.addData(ev(1, "2024-01-01 12:00:00", 7, 1.0))
    q.processAllAvailable()
    // a LATER batch delivers two events 2 h earlier, 10 min apart: they
    // island together (one session, n=2), not with the open 12:00 session
    mem.addData(ev(2, "2024-01-01 10:00:00", 7, 2.0),
      ev(3, "2024-01-01 10:10:00", 7, 4.0))
    q.processAllAvailable()
    // advance the watermark past 12:00 + 30 min so the open session flushes
    mem.addData(ev(4, "2024-01-02 02:00:00", 99, 0.0))
    q.processAllAvailable()
    mem.addData(ev(5, "2024-01-02 02:30:00", 99, 0.0))
    q.processAllAvailable()
    q.stop()
    val rows = spark.table("t_early")
      .select(col("user_id"), col("session_idx"), col("session_start"),
        col("session_end"), col("n_events"), col("sum_value"))
      .collect()
      .map(r => (r.getLong(0), r.getLong(1)) ->
        (r.getTimestamp(2).toString, r.getTimestamp(3).toString,
          r.getLong(4), r.getDouble(5))).toMap
    // the early pair is its own session at idx 0 (time order)...
    assert(rows((7L, 0L)) ==
      ("2024-01-01 10:00:00.0", "2024-01-01 10:10:00.0", 2L, 6.0), s"$rows")
    // ...and the session that was open shifted to idx 1, unmerged
    assert(rows((7L, 1L)) ==
      ("2024-01-01 12:00:00.0", "2024-01-01 12:00:00.0", 1L, 1.0), s"$rows")
  }

  test("sessionizeStream bridges a late-event chain transitively into the open session (batch parity)") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    def t(s: String) = Timestamp.valueOf(s)
    def ev(id: Long, ts: String, user: Long, v: Double) =
      Stateful.Event(id, t(ts), user, "click", v, "{}")
    val mem = MemoryStream[Stateful.Event]
    // 3 h watermark slack; open session at 12:00, then ONE batch delivers
    // 11:10 and 11:35. 11:10 is > 30 min before 12:00 (can't merge
    // directly) but 11:10→11:35→12:00 are each ≤ 30 min apart, so batch
    // gaps-and-islands makes all three ONE session. The stream must too
    // (ADVICE round-4: the pre/rest cut at open.start − gap islanded
    // {11:10} alone before 11:35 had widened the open session).
    val out = Stateful.sessionizeStream(
      mem.toDS().withWatermark("ts", "3 hours"))
    val q = out.writeStream.format("memory").queryName("t_bridge")
      .outputMode("append").start()
    mem.addData(ev(1, "2024-01-01 12:00:00", 7, 1.0))
    q.processAllAvailable()
    mem.addData(ev(2, "2024-01-01 11:10:00", 7, 2.0),
      ev(3, "2024-01-01 11:35:00", 7, 4.0))
    q.processAllAvailable()
    // advance the watermark past 12:00 + 30 min so the merged session flushes
    mem.addData(ev(4, "2024-01-02 02:00:00", 99, 0.0))
    q.processAllAvailable()
    mem.addData(ev(5, "2024-01-02 02:30:00", 99, 0.0))
    q.processAllAvailable()
    q.stop()
    val rows = spark.table("t_bridge")
      .filter(col("user_id") === 7)
      .select(col("session_idx"), col("session_start"),
        col("session_end"), col("n_events"), col("sum_value"))
      .collect()
      .map(r => (r.getLong(0), r.getTimestamp(1).toString,
        r.getTimestamp(2).toString, r.getLong(3), r.getDouble(4)))
      .toList
    // exactly one session: idx 0, 11:10 → 12:00, all three events
    assert(rows ==
      List((0L, "2024-01-01 11:10:00.0", "2024-01-01 12:00:00.0", 3L, 7.0)),
      s"$rows")
  }

  test("sessionizeStream over 4-batch time-ordered replay == batch sessions (open tails excluded)") {
    import spark.implicits._
    import org.apache.spark.sql.streaming.Trigger
    // time-ordered file sequence: ntile(4) over ts → each micro-batch
    // advances event time monotonically, like a live feed would
    val in = tempDir("graft-sess-mb")
    val raw = graft.io.Tables.normalizeTs(
      spark.read.parquet(s"$sf001/events.parquet"))
    val w = org.apache.spark.sql.expressions.Window.orderBy(col("ts"), col("event_id"))
    val tiled = raw.withColumn("tile", ntile(4).over(w)).cache()
    (1 to 4).foreach { i =>
      tiled.where(col("tile") === i).drop("tile").coalesce(1)
        .write.parquet(s"$in/part$i")
    }
    tiled.unpersist()
    val stream = spark.readStream.schema(graft.io.EventSource.storedSchema)
      .option("recursiveFileLookup", "true")
      .option("maxFilesPerTrigger", 1)
      .parquet(in)
    val q = Stateful.sessionizeStream(
        stream.withWatermark("ts", "0 seconds").as[Stateful.Event])
      .writeStream.format("memory").queryName("t_sess_mb")
      .outputMode("append").trigger(Trigger.AvailableNow()).start()
    q.awaitTermination()
    def key(r: org.apache.spark.sql.Row) =
      (r.getLong(0), r.getLong(1), r.getTimestamp(2), r.getTimestamp(3),
        r.getLong(4), r.getDouble(5))
    val streamed = spark.table("t_sess_mb")
      .select(col("user_id"), col("session_idx"), col("session_start"),
        col("session_end"), col("n_events"), col("sum_value"))
      .collect().map(key).toSet
    val batchRows = Streaming.streamSession30m(spark, sf001).collect().map(key)
    val batch = batchRows.toSet
    val lastIdx = batchRows.groupBy(_._1).view.mapValues(_.map(_._2).max).toMap
    val nonLast = batchRows.filter(r => r._2 < lastIdx(r._1)).toSet
    // every emitted session is a real batch session (stitching across the
    // 4 batches is exact), and every session provably closed by a later
    // event was emitted; only the still-open (or not-yet-timed-out) tail
    // of each user may be withheld at stream end
    assert(streamed.subsetOf(batch),
      s"stream emitted sessions the batch form doesn't have: ${streamed.diff(batch).take(3)}")
    assert(nonLast.subsetOf(streamed),
      s"closed sessions missing from stream: ${nonLast.diff(streamed).take(3)}")
  }

  test("sessionizeStream state survives a checkpointed restart mid-stream") {
    import spark.implicits._
    import org.apache.spark.sql.streaming.Trigger
    val root = tempDir("graft-sess-ckpt")
    val (in, out, ckpt) = (s"$root/in", s"$root/out", s"$root/ckpt")
    java.nio.file.Files.createDirectories(java.nio.file.Paths.get(in))
    val raw = graft.io.Tables.normalizeTs(
      spark.read.parquet(s"$sf001/events.parquet"))
    val w = org.apache.spark.sql.expressions.Window.orderBy(col("ts"), col("event_id"))
    val tiled = raw.withColumn("tile", ntile(4).over(w)).cache()
    def writeTile(i: Int): Unit =
      tiled.where(col("tile") === i).drop("tile").coalesce(1)
        .write.parquet(s"$in/part$i")
    def runOnce(): Unit = {
      val stream = spark.readStream.schema(graft.io.EventSource.storedSchema)
        .option("recursiveFileLookup", "true")
        .option("maxFilesPerTrigger", 1)
        .parquet(in)
      val q = Stateful.sessionizeStream(
          stream.withWatermark("ts", "0 seconds").as[Stateful.Event])
        .writeStream.format("parquet")
        .option("path", out).option("checkpointLocation", ckpt)
        .outputMode("append").trigger(Trigger.AvailableNow()).start()
      q.awaitTermination()
    }
    // first run sees only the first half of event time; open sessions and
    // idx counters land in the state store
    writeTile(1); writeTile(2)
    runOnce()
    // restart against the SAME checkpoint with the rest of the stream: the
    // recovered state must stitch sessions across the restart boundary
    writeTile(3); writeTile(4)
    runOnce()
    tiled.unpersist()
    def key(r: org.apache.spark.sql.Row) =
      (r.getLong(0), r.getLong(1), r.getTimestamp(2), r.getTimestamp(3),
        r.getLong(4), r.getDouble(5))
    val emitted = spark.read.parquet(out)
      .select(col("user_id"), col("session_idx"), col("session_start"),
        col("session_end"), col("n_events"), col("sum_value"))
      .collect().map(key)
    // exactly-once: no (user, idx) appears twice across the two runs
    assert(emitted.map(r => (r._1, r._2)).distinct.length == emitted.length,
      "duplicate (user_id, session_idx) after restart")
    val batchRows = Streaming.streamSession30m(spark, sf001).collect().map(key)
    val lastIdx = batchRows.groupBy(_._1).view.mapValues(_.map(_._2).max).toMap
    val nonLast = batchRows.filter(r => r._2 < lastIdx(r._1)).toSet
    assert(emitted.toSet.subsetOf(batchRows.toSet),
      s"restart emitted sessions the batch form doesn't have: " +
        s"${emitted.toSet.diff(batchRows.toSet).take(3)}")
    assert(nonLast.subsetOf(emitted.toSet),
      s"closed sessions lost across restart: ${nonLast.diff(emitted.toSet).take(3)}")
  }

  test("sessionize asserts its single-batch-per-key precondition") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    def ev(id: Long, ts: String, user: Long) =
      Stateful.Event(id, Timestamp.valueOf(ts), user, "click", 1.0, "{}")
    val mem = MemoryStream[Stateful.Event]
    val q = Stateful.sessionize(mem.toDS())
      .writeStream.format("memory").queryName("t_precond")
      .outputMode("append").start()
    mem.addData(ev(1, "2024-01-01 10:00:00", 1))
    q.processAllAvailable()
    mem.addData(ev(2, "2024-01-01 12:00:00", 1)) // same key, second batch
    val ex = intercept[org.apache.spark.sql.streaming.StreamingQueryException] {
      q.processAllAvailable()
    }
    def causes(t: Throwable): Seq[Throwable] =
      Option(t).toSeq.flatMap(x => x +: causes(x.getCause))
    assert(causes(ex).exists(_.isInstanceOf[IllegalStateException]),
      s"expected the precondition IllegalStateException, got $ex")
    try q.stop() catch { case _: Exception => () }
  }

  test("watermark drops events later than 10 minutes (stream_late_data)") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val mem = MemoryStream[(Timestamp, Long, Double)]
    val df = mem.toDF().toDF("ts", "user_id", "value")
    val agg = df.withWatermark("ts", "10 minutes")
      .groupBy(window(col("ts"), "1 hour").as("w"))
      .agg(count(lit(1)).as("n"))
      .select(col("w.start").as("h"), col("n"))
    val q = agg.writeStream.format("memory").queryName("t_late")
      .outputMode("update").start()
    def t(s: String) = Timestamp.valueOf(s)
    // batch 1: advance event time to 12:00 → watermark becomes 11:50
    mem.addData((t("2024-01-01 10:05:00"), 1L, 1.0), (t("2024-01-01 12:00:00"), 1L, 1.0))
    q.processAllAvailable()
    // batch 2: one on-time event and one >10min-late event (10:07 < 11:50)
    mem.addData((t("2024-01-01 11:55:00"), 2L, 1.0), (t("2024-01-01 10:07:00"), 2L, 1.0))
    q.processAllAvailable()
    q.stop()
    // update mode re-emits a row each time a window changes: the LAST (max)
    // value per window is its final count.
    val rows = spark.table("t_late")
      .groupBy(col("h")).agg(max(col("n")).as("n"))
      .collect().map(r => r.getTimestamp(0).toString -> r.getLong(1)).toMap
    // the 10:07 late event must NOT appear: hour 10:00 stays at n=1
    assert(rows("2024-01-01 10:00:00.0") == 1L, s"late event leaked: $rows")
    assert(rows("2024-01-01 11:00:00.0") == 1L)
    assert(rows("2024-01-01 12:00:00.0") == 1L)
  }

  test("output modes: append/update/complete all run the tumbling agg") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    for ((mode, name) <- Seq("complete" -> "m_c", "update" -> "m_u")) {
      val mem = MemoryStream[(Timestamp, Double)]
      val agg = mem.toDF().toDF("ts", "value")
        .withWatermark("ts", "10 minutes")
        .groupBy(window(col("ts"), "1 hour")).agg(count(lit(1)).as("n"))
      val q = agg.writeStream.format("memory").queryName(name)
        .outputMode(mode).start()
      mem.addData((Timestamp.valueOf("2024-01-01 10:05:00"), 1.0))
      q.processAllAvailable(); q.stop()
      assert(spark.table(name).count() >= 0) // ran without AnalysisException
    }
    // append mode emits only watermark-closed windows
    val mem = MemoryStream[(Timestamp, Double)]
    val agg = mem.toDF().toDF("ts", "value")
      .withWatermark("ts", "10 minutes")
      .groupBy(window(col("ts"), "1 hour")).agg(count(lit(1)).as("n"))
    val q = agg.writeStream.format("memory").queryName("m_a")
      .outputMode("append").start()
    mem.addData((Timestamp.valueOf("2024-01-01 10:05:00"), 1.0))
    q.processAllAvailable()
    mem.addData((Timestamp.valueOf("2024-01-01 13:00:00"), 1.0)) // closes 10:00
    q.processAllAvailable(); q.stop()
    assert(spark.table("m_a").count() == 1, "append should emit exactly the closed window")
  }

  test("welford aggregator matches avg/var_samp within 1e-9 (agg_custom_typed)") {
    val w = graft.ops.Custom.aggCustomTyped(spark, sf001).collect()
      .map(r => r.getLong(0) -> (r.getLong(1), r.getDouble(2), r.getDouble(3))).toMap
    val ref = Tables.events(spark, sf001)
      .groupBy(col("user_id"))
      .agg(count(lit(1)).as("n"), avg(col("value")).as("m"), var_samp(col("value")).as("v"))
      .collect().map(r => r.getLong(0) -> (r.getLong(1), r.getDouble(2), r.getDouble(3))).toMap
    assert(w.keySet == ref.keySet)
    w.foreach { case (u, (n, m, v)) =>
      val (rn, rm, rv) = ref(u)
      assert(n == rn)
      assert(math.abs(m - rm) < 1e-9 + 1e-4, s"user $u mean $m vs $rm")
      assert(math.abs(v - rv) < 1e-9 + 1e-4, s"user $u var $v vs $rv")
    }
  }
}

/** The in-heap default backend (HDFSBackedStateStoreProvider). */
class StatefulSpec extends StatefulSpecBase {
  protected def providerClass: String =
    "org.apache.spark.sql.execution.streaming.state.HDFSBackedStateStoreProvider"
}

/** The production backend: state in RocksDB, spilling to local disk,
  * with changelog checkpointing (commit = changelog upload; recovery =
  * snapshot + changelog replay). */
class StatefulRocksDbSpec extends StatefulSpecBase {
  protected def providerClass: String =
    "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider"
  override protected def extraConf: Map[String, String] = Map(
    "spark.sql.streaming.stateStore.rocksdb.changelogCheckpointing.enabled" ->
      "true")
}
