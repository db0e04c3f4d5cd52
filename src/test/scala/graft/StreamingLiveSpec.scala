package graft

import java.util.concurrent.ConcurrentLinkedQueue

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{StreamingQueryListener, Trigger}
import graft.ops.Streaming

/** LIVE-trigger streaming smoke (the ops-facing half of a production
  * feed): every other streaming test drains deterministically under
  * `Trigger.AvailableNow` — correct for parity, but it never exercises
  * the ProcessingTime scheduler, the StreamingQueryListener progress
  * feed, or watermark advance ACROSS wall-clock triggers. Here the
  * fixture replays as rate-limited micro-batches (one file per trigger)
  * under ProcessingTime, and the assertions are the ones an operator's
  * dashboard runs on: batches progressed, the event-time watermark
  * advanced past epoch, and the stateful operators report live state
  * rows. Runs under both state-store backends (variant subclasses). */
abstract class StreamingLiveSpecBase extends SparkSpec with StateStoreVariant {

  /** Stage the sf0.001 events as `nFiles` ts-ordered parquet files (the
    * normalized frame, per the fixture-vintage rule) so the file source
    * under maxFilesPerTrigger=1 replays them as separate micro-batches
    * with monotonically advancing event time. */
  private def stageChunks(nFiles: Int): String = {
    val dir = tempDir("graft-live")
    val ev = graft.io.Tables.events(spark, sf001)
      .select(col("event_id"), col("ts"), col("user_id"), col("event_type"),
        col("value"), col("props"))
      .orderBy(col("ts"), col("event_id"))
      .withColumn("chunk", ntile(nFiles).over(
        org.apache.spark.sql.expressions.Window
          .orderBy(col("ts"), col("event_id"))))
      .persist()
    (1 to nFiles).foreach { i =>
      ev.where(col("chunk") === i).drop("chunk")
        .coalesce(1).write.mode("append").parquet(dir)
      Thread.sleep(5) // distinct mtimes => deterministic file order
    }
    ev.unpersist()
    dir
  }

  private def rateLimitedStream(dir: String): DataFrame =
    spark.readStream
      .schema(graft.io.EventSource.storedSchema)
      .option("maxFilesPerTrigger", "1")
      .parquet(dir)

  /** Drive `transform` live and return this query's progress snapshots. */
  private def runLive(name: String, transformed: DataFrame)
      : Seq[org.apache.spark.sql.streaming.StreamingQueryProgress] = {
    val progresses =
      new ConcurrentLinkedQueue[
        org.apache.spark.sql.streaming.StreamingQueryProgress]()
    var queryId: java.util.UUID = null
    val listener = new StreamingQueryListener {
      override def onQueryStarted(
          e: StreamingQueryListener.QueryStartedEvent): Unit = ()
      override def onQueryProgress(
          e: StreamingQueryListener.QueryProgressEvent): Unit =
        if (e.progress.id == queryId) progresses.add(e.progress)
      override def onQueryTerminated(
          e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
    }
    spark.streams.addListener(listener)
    val q = transformed.writeStream
      .format("memory").queryName(name)
      .outputMode("append")
      .trigger(Trigger.ProcessingTime("100 milliseconds"))
      .start()
    try {
      queryId = q.id
      q.processAllAvailable()
      // one more live tick so the final file's event time gets folded
      // into the watermark (watermark advances at the NEXT batch start)
      val before = progresses.size()
      val deadline = System.nanoTime() + 10L * 1000 * 1000 * 1000
      while (progresses.size() == before && System.nanoTime() < deadline)
        Thread.sleep(50)
    } finally {
      q.stop()
      spark.streams.removeListener(listener)
    }
    import scala.jdk.CollectionConverters._
    progresses.asScala.toSeq
  }

  test("live ProcessingTime tumbling agg: batches progress, watermark advances, state rows reported") {
    val dir = stageChunks(4)
    val agg = Streaming.tumblingTransform(
      rateLimitedStream(dir).withWatermark("ts", "10 minutes"))
    val ps = runLive("t_live_tumbling", agg)
    val withRows = ps.filter(_.numInputRows > 0)
    assert(withRows.size >= 3,
      s"expected >=3 rate-limited micro-batches with rows, saw ${withRows.size}")
    // one file per trigger: no batch may swallow the whole fixture
    val total = withRows.map(_.numInputRows).sum
    assert(withRows.map(_.numInputRows).max < total,
      "a single trigger consumed every staged file — rate limit not applied")
    val watermarks = ps.flatMap(p => Option(p.eventTime.get("watermark")))
    assert(watermarks.distinct.size >= 2 &&
      watermarks.last > "1971",
      s"event-time watermark never advanced: $watermarks")
    val stateful = ps.filter(_.stateOperators.nonEmpty)
    assert(stateful.nonEmpty && stateful.exists(
      _.stateOperators.exists(_.numRowsTotal > 0)),
      "no progress event reported live state rows for the windowed agg")
    // the ops dashboard also reads per-trigger durations — they must be
    // present and sane for every batch that did work
    assert(withRows.forall(_.durationMs.get("triggerExecution") >= 0))
    val sunk = spark.table("t_live_tumbling").count()
    assert(sunk > 0, "append-mode sink emitted no finalized windows")
  }

  test("live ProcessingTime query restarts from its checkpoint: offsets resume, exactly-once windows") {
    // The AvailableNow restart test proves state/watermark recovery; this
    // one proves the same through the PROCESSING-TIME scheduler — the
    // path a production feed actually takes when an executor rolls: run 1
    // drains the first ts-ordered half under a live trigger and stops;
    // run 2 restarts from the SAME checkpoint with the second half + a
    // watermark-push sentinel. Offsets must resume (batch ids advance,
    // nothing reprocessed), and the file sink's union must equal the
    // batch twin with no window emitted twice.
    val root = tempDir("graft-live-ckpt")
    val (in, out, ckpt) = (s"$root/in", s"$root/out", s"$root/ckpt")
    java.nio.file.Files.createDirectories(java.nio.file.Paths.get(in))
    val raw = graft.io.Tables.normalizeTs(
      spark.read.parquet(s"$sf001/events.parquet"))
    val batched = raw.withColumn("b",
      ntile(2).over(org.apache.spark.sql.expressions.Window
        .orderBy(col("ts"), col("event_id"))))
    def runOnce(): Long = {
      val stream = spark.readStream
        .schema(graft.io.EventSource.storedSchema)
        .option("recursiveFileLookup", "true")
        .option("maxFilesPerTrigger", "1")
        .parquet(in)
      val q = Streaming.tumblingTransform(
        stream.withWatermark("ts", "10 minutes"))
        .writeStream.format("parquet")
        .option("path", out).option("checkpointLocation", ckpt)
        .outputMode("append")
        .trigger(Trigger.ProcessingTime("100 milliseconds")).start()
      q.processAllAvailable()
      val last = q.recentProgress.toSeq.map(_.batchId).maxOption.getOrElse(-1L)
      q.stop()
      last
    }
    batched.where(col("b") === 1).drop("b").coalesce(1)
      .write.parquet(s"$in/half1")
    val lastBatch1 = runOnce()
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
    val lastBatch2 = runOnce()
    assert(lastBatch2 > lastBatch1,
      s"restart did not advance past the stored offset ($lastBatch1 -> $lastBatch2)")
    val sunk = spark.read.parquet(out)
    assert(sunk.count() > firstRunRows,
      "restart emitted nothing — second half lost")
    assert(sunk.groupBy(col("hour_start"), col("event_type")).count()
      .where(col("count") > 1).count() == 0,
      "a window emitted twice across the live restart")
    assertSameRows(
      sunk.orderBy(col("hour_start"), col("event_type")),
      Streaming.streamTumbling1h(spark, sf001), "live-ckpt-recovery")
  }

  test("live ProcessingTime chained agg: BOTH stateful stages report state in one query") {
    val dir = stageChunks(4)
    val agg = Streaming.chainedAggTransform(
      rateLimitedStream(dir).withWatermark("ts", "10 minutes"))
    val ps = runLive("t_live_chained", agg)
    assert(ps.count(_.numInputRows > 0) >= 3,
      "expected >=3 rate-limited micro-batches with rows")
    val maxStateOps = ps.map(_.stateOperators.length).maxOption.getOrElse(0)
    assert(maxStateOps >= 2,
      s"chained query should report 2 stateful operators, saw $maxStateOps")
    assert(ps.exists(_.stateOperators.count(_.numRowsTotal > 0) >= 2),
      "both window stages should hold live state rows")
    val watermarks = ps.flatMap(p => Option(p.eventTime.get("watermark")))
    assert(watermarks.distinct.size >= 2, s"watermark never advanced: $watermarks")
  }
}

/** In-heap default backend. */
class StreamingLiveSpec extends StreamingLiveSpecBase {
  protected def providerClass: String =
    "org.apache.spark.sql.execution.streaming.state.HDFSBackedStateStoreProvider"
}

/** Production backend: RocksDB with changelog checkpointing. */
class StreamingLiveRocksDbSpec extends StreamingLiveSpecBase {
  protected def providerClass: String =
    "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider"
  override protected def extraConf: Map[String, String] = Map(
    "spark.sql.streaming.stateStore.rocksdb.changelogCheckpointing.enabled" ->
      "true")
}
