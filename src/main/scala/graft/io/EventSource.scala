package graft.io

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.types._

/** Streaming ingestion abstraction (SURVEY.md §2.9).
  *
  * The production source for the reference's domain is AWS Kinesis; this
  * container has no Kinesis/Kafka connector and zero egress, so the tested
  * implementation is a file-replay source over events.parquet driven with
  * `Trigger.AvailableNow` — which drains all available input through the
  * same incremental StreamExecution machinery (watermarks, state stores,
  * output modes) a live stream would use, then stops deterministically.
  *
  * Kinesis semantics modeled by the replay: per-shard ordering (shard key =
  * user_id % nShards — the partition-key role), at-least-once delivery
  * (dedup via dropDuplicatesWithinWatermark downstream, in
  * `Streaming.dedupTransform`: a re-delivery later than the watermark
  * delay passes through), approximate arrival time (ts column).
  */
trait EventSource {
  /** Streaming DataFrame with the event envelope schema. */
  def stream(spark: SparkSession): DataFrame
}

object EventSource {

  /** NORMALIZED envelope schema (ts already TimestampType) — what specs
    * that re-write `Tables.normalizeTs`-ed fixture slices as streaming
    * input declare to readStream. The on-disk fixture itself has shipped
    * as both TIMESTAMP(NANOS) and TIMESTAMP(MICROS); [[ParquetReplay]]
    * reads the actual footer and normalizes, so only files WE wrote go
    * through this constant. */
  val storedSchema: StructType = StructType(Seq(
    StructField("event_id", LongType),
    StructField("ts", TimestampType),
    StructField("user_id", LongType),
    StructField("event_type", StringType),
    StructField("value", DoubleType),
    StructField("props", StringType)))

  /** File-replay source: events.parquet as an AvailableNow-drainable
    * stream. The file stream source requires a DIRECTORY (a bare file path
    * fails partition inference with "basePath must be a directory"), so the
    * single fixture file is exposed through a temp dir symlink. With a
    * directory of many files this replays in deterministic path order. */
  final class ParquetReplay(sfDir: String) extends EventSource {
    def stream(spark: SparkSession): DataFrame = {
      val dir = java.nio.file.Files.createTempDirectory("graft-events-replay")
      dir.toFile.deleteOnExit()
      val link = dir.resolve("events.parquet")
      java.nio.file.Files.createSymbolicLink(
        link, java.nio.file.Paths.get(sfDir, "events.parquet"))
      link.toFile.deleteOnExit()
      // the stream source cannot infer schema — read the footer via the
      // batch reader, then normalize whichever ts vintage it declares
      val onDisk = spark.read.parquet(link.toString).schema
      Tables.normalizeTs(
        spark.readStream
          .schema(onDisk)
          .parquet(dir.toString))
    }
  }

  /** Swap-in point for a real Kinesis connector deployment. Documents the
    * options a production build would pass; intentionally unimplemented
    * here (no connector jar, no egress). */
  final class KinesisStub(
      streamName: String,
      region: String,
      initialPosition: String = "LATEST") extends EventSource {
    def stream(spark: SparkSession): DataFrame =
      throw new UnsupportedOperationException(
        "Kinesis connector not available in this environment; use " +
          s"ParquetReplay. Would read stream=$streamName region=$region " +
          s"from $initialPosition via the spark-sql-kinesis DSv2 source.")
  }

  def replay(sfDir: String): EventSource = new ParquetReplay(sfDir)
}
