package graft.perfbench

import java.nio.file.{Files, Path, Paths, StandardCopyOption}

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import com.fasterxml.jackson.databind.JsonNode
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions.{col, lit}
import org.apache.spark.sql.streaming.StreamingQuery

import graft.io.EventSource
import graft.ops.{Stateful, Streaming}

/** The streaming feed: `Streaming.dedupTransform` feeding both
  * `Streaming.tumblingTransform` and `Stateful.sessionizeStream`, as one
  * query on the RocksDB state store with a checkpoint and a parquet sink,
  * reading one file per trigger.
  *
  * A run warms the query up on a few files, then has a closed-loop drain
  * phase (the whole staged backlog lands in the source directory at once)
  * and an open-loop paced phase (a generator thread renames files into the
  * source directory at a fixed rate, each with a due time). The paced rate
  * is a fixed share (`pace`) of the drain capacity the same window just
  * measured, so the query keeps up and emit lag is per-file latency, not
  * the growth of a queue. A sentinel event then pushes the
  * watermark past every window and session, and the sink must equal the
  * batch twin of the same transforms over the de-duplicated files. */
object Feed {
  private val watermark = "10 minutes"

  /** Both outputs in one schema: tumbling windows keyed by event type and
    * sessions keyed by user. */
  def transform(events: DataFrame, stream: Boolean): DataFrame = {
    import events.sparkSession.implicits._
    val deduped = Streaming.dedupTransform(events)
    val tumble = Streaming.tumblingTransform(deduped).select(
      lit("tumble").as("kind"), col("event_type").as("key"),
      col("hour_start").as("start"), col("hour_start").as("end"),
      lit(0L).as("idx"), col("n"), col("sum_value"))
    val ds = deduped.as[Stateful.Event]
    val sessions = (if (stream) Stateful.sessionizeStream(ds) else Stateful.sessionize(ds))
      .toDF().select(
        lit("session").as("kind"), col("user_id").cast("string").as("key"),
        col("session_start").as("start"), col("session_end").as("end"),
        col("session_idx").as("idx"), col("n_events").as("n"), col("sum_value"))
    tumble.unionByName(sessions)
  }

  /** Copies `files` into `dir` with strictly increasing mtimes from
    * `mtime0`: the file source takes the oldest file first. */
  private def stage(files: Seq[Path], dir: Path, mtime0: Long): Seq[Path] = {
    Files.createDirectories(dir)
    files.zipWithIndex.map { case (f, i) =>
      val to = dir.resolve(f.getFileName)
      Files.copy(f, to, StandardCopyOption.REPLACE_EXISTING)
      Files.setLastModifiedTime(to,
        java.nio.file.attribute.FileTime.fromMillis(mtime0 + i * 1000L))
      to
    }
  }

  private def start(spark: SparkSession, root: Path): StreamingQuery = {
    val src = spark.readStream.schema(EventSource.storedSchema)
      .option("maxFilesPerTrigger", "1").parquet(root.resolve("src").toString)
    transform(src.withWatermark("ts", watermark), stream = true).writeStream
      .format("parquet")
      .option("path", root.resolve("sink").toString)
      .option("checkpointLocation", root.resolve("ckpt").toString)
      .outputMode("append").start()
  }

  /** Waits for the no-data batch that follows the sentinel's batch: it is
    * the one that evicts state past the advanced watermark. */
  private def flush(q: StreamingQuery): Unit = {
    q.processAllAvailable()
    val sentinelBatch = q.recentProgress.filter(_.numInputRows > 0).last.batchId
    val deadline = System.nanoTime() + 30L * 1000 * 1000 * 1000
    while (q.lastProgress.batchId <= sentinelBatch && System.nanoTime() < deadline)
      Thread.sleep(20)
  }

  def run(spark: SparkSession, plan: JsonNode, result: mutable.Map[String, Any]): Unit = {
    val work = Paths.get(plan.get("work").asText)
    val f = plan.get("feed")
    val staged = Paths.get(f.get("staged").asText)
    def names(k: String) = f.get(k).elements.asScala.map(n => staged.resolve(n.asText)).toSeq
    val backlog = names("backlog")
    val paced = names("paced")
    val warm = names("warm")
    val sentinel = staged.resolve("sentinel.parquet")
    val pace = f.get("pace").asDouble
    val trace = plan.get("trace").asBoolean
    val mtime0 = System.currentTimeMillis() - 3600L * 1000

    val windows = mutable.ArrayBuffer.empty[Map[String, Any]]
    val checks = mutable.ArrayBuffer.empty[Map[String, Any]]
    def window(traced: Boolean): Unit = {
      val root = work.resolve(s"feed-${windows.size}")
      val src = root.resolve("src")
      // strictly increasing mtimes across warm, backlog, paced and sentinel
      stage(warm, src, mtime0)
      val queued = stage(backlog, root.resolve("backlog"), mtime0 + warm.size * 1000L)
      val pending = stage(paced :+ sentinel, root.resolve("pending"),
        mtime0 + (warm.size + backlog.size) * 1000L)
      def put(p: Path): Unit =
        Files.move(p, src.resolve(p.getFileName), StandardCopyOption.ATOMIC_MOVE)
      val q = start(spark, root)
      val puts = mutable.ArrayBuffer.empty[Map[String, Any]]
      var tracer: Tracer = null
      var observed = Map.empty[String, Any]
      try {
        // warm-up: the query's first batches run the warm files
        q.processAllAvailable()
        val warmBatches = q.recentProgress.length
        if (traced) { tracer = new Tracer(spark); tracer.install() }
        // closed loop: the whole backlog lands at once, one file per trigger
        val t0 = Main.now()
        if (!result.contains("first_timed_ms")) result("first_timed_ms") = t0
        queued.foreach(put)
        q.processAllAvailable()
        val drainMs = Main.now() - t0
        val drainBatches = q.recentProgress.length - warmBatches
        // open loop at `pace` times the drain rate just measured: file i is
        // due at p0 + i * interval, whatever the query does
        val intervalMs = drainMs / backlog.size / pace
        val p0 = Main.now() + 200
        val gen = new Thread(() => pending.init.zipWithIndex.foreach { case (p, i) =>
          val due = p0 + i * intervalMs
          val wait = due - Main.now()
          if (wait > 0) Thread.sleep(wait.toLong, ((wait % 1) * 1e6).toInt)
          put(p)
          puts += Map("file" -> p.getFileName.toString, "due_ms" -> due, "put_ms" -> Main.now())
        }, "perfbench-feed-generator")
        gen.start()
        gen.join()
        q.processAllAvailable()
        put(pending.last)
        flush(q)
        val batches = q.recentProgress.toSeq.drop(warmBatches).map(p => Map(
          "batch_id" -> p.batchId, "rows" -> p.numInputRows,
          "trigger_ms" -> p.durationMs.getOrDefault("triggerExecution", 0L).toLong,
          "start_ms" -> java.time.Instant.parse(p.timestamp).toEpochMilli.toDouble,
          "late_dropped_rows" -> p.stateOperators.map(_.numRowsDroppedByWatermark).sum))
        observed = Map("traced" -> traced, "drain_ms" -> drainMs,
          "drain_batches" -> drainBatches, "interval_ms" -> intervalMs,
          "paced" -> puts.toSeq, "batches" -> batches,
          "checkpoint" -> root.resolve("ckpt").toString)
      } finally q.stop()
      if (tracer != null) {
        val (classes, ms) = tracer.uninstall()
        observed ++= Map("codegen_classes" -> classes, "codegen_ms" -> ms)
        Main.writeSpans(plan.get("spans").asText, tracer.spans())
      }
      windows += observed
      // the sink against the batch twin over the same de-duplicated files
      val files = (warm ++ backlog ++ paced).map(_.toString)
      val twin = transform(spark.read.schema(EventSource.storedSchema).parquet(files: _*),
        stream = false)
      val sink = Fingerprint.of(spark.read.parquet(root.resolve("sink").toString))
      val want = Fingerprint.of(twin)
      checks += Map("traced" -> traced, "sink_rows" -> sink.rows, "sink_hash" -> sink.hex,
        "twin_rows" -> want.rows, "twin_hash" -> want.hex)
    }
    window(traced = false)
    result("live_heap_mb") = Main.liveHeapMb()
    // the untraced window after the traced one sees the same JIT state, so
    // the two differ by the tracing overhead
    if (trace) { window(traced = true); window(traced = false) }
    result("windows") = windows
    result("checks") = checks
    result("errors") = Seq.empty
  }
}
