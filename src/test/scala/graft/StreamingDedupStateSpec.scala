package graft

import java.sql.Timestamp

import org.apache.spark.sql.Row
import org.apache.spark.sql.streaming.Trigger
import graft.io.EventSource
import graft.ops.Streaming

/** `Streaming.dedupTransform` on a watermarked stream keeps bounded
  * state: ids whose event time fell behind the watermark by more than
  * the delay are evicted, so every dedup operator's `numRowsTotal` stays
  * flat while event time advances, and a re-delivery inside the delay is
  * still dropped. Runs under both state-store backends (variant
  * subclasses). */
abstract class StreamingDedupStateSpecBase extends SparkSpec with StateStoreVariant {

  private val base = Timestamp.valueOf("2024-01-01 00:00:00").getTime

  private def event(id: Long, atMs: Long): Row =
    Row(id, new Timestamp(atMs), id % 7, "view", 1.0, "{}")

  /** Writes each batch as one parquet file, in order, with distinct
    * mtimes so the file source reads them in that order. */
  private def stage(batches: Seq[Seq[Row]]): String = {
    val dir = java.nio.file.Files.createTempDirectory("graft-dedup-state").toString
    batches.foreach { rows =>
      spark.createDataFrame(
        spark.sparkContext.parallelize(rows, 1), EventSource.storedSchema)
        .write.mode("append").parquet(dir)
      Thread.sleep(5)
    }
    dir
  }

  /** Drains `dir` one file per micro-batch through the dedup and returns
    * the sink's event ids and the dedup operators' state rows per batch
    * (one sequence per operator). */
  private def drain(dir: String, name: String): (Seq[Long], Seq[Seq[Long]]) = {
    val deduped = Streaming.dedupTransform(
      spark.readStream.schema(EventSource.storedSchema)
        .option("maxFilesPerTrigger", "1").parquet(dir)
        .withWatermark("ts", "10 minutes"))
    val q = deduped.writeStream.format("memory").queryName(name)
      .outputMode("append").trigger(Trigger.AvailableNow()).start()
    try q.awaitTermination()
    finally q.stop()
    val perBatch = q.recentProgress.filter(_.numInputRows > 0).toSeq
      .map(_.stateOperators.filter(_.operatorName.startsWith("dedupe"))
        .map(_.numRowsTotal).toSeq)
    assert(perBatch.nonEmpty && perBatch.forall(_.nonEmpty),
      s"no dedup operator reported state: $perBatch")
    val ids = spark.table(name).select("event_id").collect().map(_.getLong(0))
    (ids.toSeq, perBatch.transpose)
  }

  test("dedup state stays flat while event time advances past the delay") {
    val perFile = 200
    val hourMs = 3600L * 1000
    val batches = (0 until 6).map { b =>
      (0 until perFile).map(j => event(b * 1000L + j, base + b * hourMs + j * 1000L))
    }
    val (ids, state) = drain(stage(batches), "t_dedup_flat")
    assert(ids.sorted == batches.flatten.map(_.getLong(0)).sorted)
    assert(state.head.length == batches.length,
      s"expected one micro-batch per file, saw ${state.head.length}")
    // an id stays until the watermark passes its event time plus the
    // delay, so at most two hourly files are ever held
    state.foreach { rows =>
      assert(rows.forall(_ <= 2 * perFile),
        s"dedup state grew with the stream instead of staying flat: $rows")
    }
  }

  test("a re-delivery inside the watermark delay is still dropped") {
    val first = (0 until 100).map(j => event(j.toLong, base + j * 1000L))
    // five minutes later, inside the 10-minute delay: new ids plus ten
    // re-deliveries of the first file's events
    val second = (100 until 200).map(j => event(j.toLong, base + 300000L + j * 1000L)) ++
      first.take(10)
    val (ids, _) = drain(stage(Seq(first, second)), "t_dedup_redelivery")
    assert(ids.length == 200 && ids.distinct.length == 200,
      s"expected the 200 distinct events once each, got ${ids.length} rows")
  }
}

/** In-heap default backend. */
class StreamingDedupStateSpec extends StreamingDedupStateSpecBase {
  protected def providerClass: String =
    "org.apache.spark.sql.execution.streaming.state.HDFSBackedStateStoreProvider"
}

/** Production backend: RocksDB with changelog checkpointing. */
class StreamingDedupStateRocksDbSpec extends StreamingDedupStateSpecBase {
  protected def providerClass: String =
    "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider"
  override protected def extraConf: Map[String, String] = Map(
    "spark.sql.streaming.stateStore.rocksdb.changelogCheckpointing.enabled" ->
      "true")
}
