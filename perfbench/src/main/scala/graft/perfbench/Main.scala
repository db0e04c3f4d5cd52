package graft.perfbench

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, SparkSession}

import graft.{Broadcasts, Caches, Memo, SparkEntry}

/** The benchmark's JVM side. `run.py` generates the inputs and a plan
  * file, starts this main, and turns the raw observations it writes into
  * metrics:
  *
  *   Main <plan.json>
  *
  * Batch workloads run a closed loop with one client over
  * `SparkEntry.queries`: untimed warm-up passes that also fingerprint
  * every key's result, then timed passes until the window closes. Each
  * timed execution builds the key's frame and materializes it through the
  * `noop` sink, so every column and sort is paid for. With tracing on,
  * the window is twice as long and every second pass runs with the
  * listeners of [[Tracer]] installed; afterwards every key is timed once
  * more with `count()`. */
object Main {
  private val baseMs = System.currentTimeMillis().toDouble
  private val baseNs = System.nanoTime()
  /** Epoch milliseconds on the monotonic clock, comparable with the
    * millisecond times Spark's listener events carry. */
  def now(): Double = baseMs + (System.nanoTime() - baseNs) / 1e6

  def main(args: Array[String]): Unit = {
    val result = mutable.LinkedHashMap.empty[String, Any]
    val plan = Json.read(args(0))
    val work = plan.get("work").asText
    val trace = plan.get("trace").asBoolean
    val cpus = Runtime.getRuntime.availableProcessors
    val builder = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.codegen.cache.maxEntries", "8192")
      .config("spark.local.dir", s"$work/spark-local")
      .config("spark.sql.warehouse.dir", s"$work/warehouse")
      .config("spark.sql.streaming.numRecentProgressUpdates", "100000")
    if (plan.get("workload").asText == "feed_stream")
      builder
        .config("spark.sql.streaming.stateStore.providerClass",
          "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
        .config("spark.sql.streaming.stateStore.rocksdb.changelogCheckpointing.enabled",
          "true")
    val spark = builder.getOrCreate()
    result("session_ms") = now() - baseMs
    spark.sparkContext.setLogLevel("ERROR")
    result("cpus") = cpus
    try {
      if (plan.get("workload").asText == "feed_stream") Feed.run(spark, plan, result)
      else batch(spark, plan, trace, result)
    } finally {
      result("rss_peak_mb") = rssPeakMb()
      val w = new java.io.PrintWriter(plan.get("result").asText, "UTF-8")
      try w.println(Json(result)) finally w.close()
      spark.stop()
    }
  }

  /** Heap still in use after a full collection, in MB: what the session
    * retains once the timed work is done. */
  def liveHeapMb(): Double = {
    System.gc(); System.gc()
    val mem = java.lang.management.ManagementFactory.getMemoryMXBean
    mem.getHeapMemoryUsage.getUsed / (1024.0 * 1024.0)
  }

  /** Peak resident set of this JVM (VmHWM), in MB. */
  def rssPeakMb(): Double =
    scala.io.Source.fromFile("/proc/self/status").getLines()
      .find(_.startsWith("VmHWM:"))
      .map(_.split("\\s+")(1).toDouble / 1024.0).getOrElse(Double.NaN)

  /** What a library user does once a query's action has completed. */
  private def release(): Unit = { Broadcasts.destroyAll(); Caches.unpersistAll() }

  private def batch(spark: SparkSession, plan: com.fasterxml.jackson.databind.JsonNode,
      trace: Boolean, result: mutable.Map[String, Any]): Unit = {
    val data = plan.get("data").asText
    val seconds = plan.get("seconds").asDouble
    val warmup = plan.get("warmup").asInt
    val memoReset = plan.get("memo_reset").asBoolean
    val orders = plan.get("orders").elements.asScala
      .map(_.elements.asScala.map(_.asText).toVector).toVector
    val errors = mutable.ArrayBuffer.empty[Map[String, String]]
    var tracing: Tracer = null

    def fail(key: String, phase: String, e: Throwable): Unit =
      errors += Map("key" -> key, "phase" -> phase, "error" ->
        (e.getClass.getSimpleName + ": " + Option(e.getMessage).getOrElse("")
          .takeWhile(_ != '\n').take(200)))

    /** Builds and materializes one key; None when it failed. */
    def execute(key: String, phase: String)(action: DataFrame => Unit): Option[Double] = {
      val t0 = now()
      try {
        val df = SparkEntry.queries(key)(spark, data)
        val tb = now()
        action(df)
        val t1 = now()
        if (tracing != null) tracing.op(key, df, t0, tb, t1)
        Some(t1 - t0)
      } catch { case e: Throwable => fail(key, phase, e); None }
      finally release()
    }
    def noop(df: DataFrame): Unit = df.write.format("noop").mode("overwrite").save()

    /** One pass over `order`; returns (wall ms, memo serves, samples). */
    def pass(order: Seq[String], phase: String,
        check: Option[mutable.Map[String, Any]]): (Double, Int, Seq[(String, Double)]) = {
      if (memoReset) { Memo.clear(); spark.catalog.clearCache() }
      Memo.drainServed()
      var served = 0
      val t0 = now()
      val samples = order.flatMap { k =>
        val ms = execute(k, phase) { df =>
          noop(df)
          check.foreach { c =>
            val fp = Fingerprint.of(df)
            c(k) = Map("rows" -> fp.rows, "hash" -> fp.hex)
          }
        }
        served += Memo.drainServed().size
        ms.map(k -> _)
      }
      (now() - t0, served, samples)
    }

    val fingerprints = mutable.LinkedHashMap.empty[String, Any]
    var next = 0
    result("warmup_ms") = (0 until warmup).map { i =>
      next += 1
      pass(orders(next - 1), "warmup", if (i == warmup - 1) Some(fingerprints) else None)._1
    }
    result("fingerprints") = fingerprints

    // The timed window. With tracing, passes alternate untraced / traced
    // (listeners installed for the traced pass only), so both halves see
    // the same JIT state and their difference is the tracing overhead.
    val tracer = if (trace) new Tracer(spark) else null
    val passes = Seq(mutable.ArrayBuffer.empty[Map[String, Any]],
      mutable.ArrayBuffer.empty[Map[String, Any]])
    var codegen = (0L, 0.0)
    val start = now()
    result("first_timed_ms") = start
    val budget = seconds * 1000 * (if (trace) 2 else 1)
    while (passes(0).isEmpty || (trace && passes(1).isEmpty) || now() - start < budget) {
      val traced = trace && next % 2 == 1
      if (traced) { tracer.install(); tracing = tracer }
      val (wall, served, samples) = pass(orders(next % orders.size), "timed", None)
      if (traced) {
        tracing = null
        val (n, ms) = tracer.uninstall()
        codegen = (codegen._1 + n, codegen._2 + ms)
      }
      next += 1
      passes(if (traced) 1 else 0) += Map("wall_ms" -> wall, "memo_served" -> served,
        "queries" -> samples.map { case (k, ms) => Seq(k, ms) })
    }
    result("live_heap_mb") = liveHeapMb()
    val windows = mutable.ArrayBuffer[Map[String, Any]](
      Map("traced" -> false, "passes" -> passes(0)))
    if (trace) {
      windows += Map("traced" -> true, "passes" -> passes(1),
        "codegen_classes" -> codegen._1, "codegen_ms" -> codegen._2)
      writeSpans(plan.get("spans").asText, tracer.spans())
      // count() prunes unused columns; time it (second of two runs, so its
      // own plans are compiled) next to the noop sink
      val counts = (1 to 2).map(_ =>
        orders(0).flatMap(k => execute(k, "count")(_.count()).map(k -> _))).last
      result("count_ms") = counts.toMap
    }
    result("windows") = windows
    result("errors") = errors
  }

  def writeSpans(path: String, spans: Seq[Span]): Unit = {
    val w = new java.io.PrintWriter(path, "UTF-8")
    try spans.foreach(s => w.println(Tracer.json(s))) finally w.close()
  }
}
