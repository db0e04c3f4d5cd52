package graft.ops

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.Det.round
import graft.io.Tables

/** Streaming operators (SURVEY.md §2.9) in their BATCH-EQUIVALENT form —
  * these are the oracle-gated `queries` entries. Each transform is written
  * against a plain DataFrame so the identical column expressions run in
  * both worlds; `StreamRunners` (test scope) feeds the same transforms from
  * `EventSource.replay` under Trigger.AvailableNow and asserts row-for-row
  * parity (stream-batch parity is the verification strategy: DuckDB cannot
  * run a stream).
  *
  * Scale: every aggregation below keys on (window × type) or (user ×
  * session) — bounded state per key, watermark-evictable; stream-stream
  * joins carry time-range conditions so join state is GC'd by watermark.
  */
object Streaming {

  /** Shared transform: tumbling 1-hour window per event_type.
    * In streaming this is `window($"ts", "1 hour")` + watermark; the
    * window START equals date_trunc('hour') — asserted by the parity test.
    */
  def tumblingTransform(events: DataFrame): DataFrame =
    events
      // group by the window STRUCT — projecting .start before the agg
      // severs event-time watermark propagation (measured: late rows then
      // leak through); .start is extracted after aggregation.
      .groupBy(window(col("ts"), "1 hour").as("w"), col("event_type"))
      .agg(count(lit(1)).as("n"), round(sum(col("value")), 2).as("sum_value"))
      .select(col("w.start").as("hour_start"), col("event_type"),
        col("n"), col("sum_value"))

  def streamTumbling1h(s: SparkSession, d: String): DataFrame =
    tumblingTransform(Tables.events(s, d))
      .orderBy(col("hour_start"), col("event_type"))

  /** Maintained state of the hourly top-k readout: (hour window, type)
    * counts — a plain streamable aggregation (bounded state per window ×
    * type, watermark-evictable). Shared by [[streamTopkPerWindow]] and
    * the parity test, which ranks the COMPLETE-mode result table. */
  def hourlyTypeCounts(events: DataFrame): DataFrame =
    events
      .groupBy(window(col("ts"), "1 hour").as("w"), col("event_type"))
      .agg(count(lit(1)).as("n"))
      .select(col("w.start").as("hour_start"), col("event_type"), col("n"))

  /** Per-hour top-3 event types by count — the streaming-dashboard top-k.
    * Rank functions don't run inside a streaming agg; the production
    * shape is exactly this split: the STREAM maintains the (window, type)
    * counts, the READOUT ranks the maintained table (here the batch twin
    * ranks the same transform over the stored events — parity-tested
    * across 4 micro-batches under both state-store backends).
    *
    * Scale: the rank window partitions by hour — fan-in bounded by
    * |event types| per partition, never row count. */
  def streamTopkPerWindow(s: SparkSession, d: String): DataFrame = {
    val w = Window.partitionBy(col("hour_start"))
      .orderBy(col("n").desc, col("event_type"))
    hourlyTypeCounts(Tables.events(s, d))
      .withColumn("rn", row_number().over(w))
      .where(col("rn") <= 3)
      .orderBy(col("hour_start"), col("rn"))
  }

  /** CHAINED stateful aggregation — two time-window aggregates in ONE
    * query (the multiple-stateful-operator pipeline Spark supports since
    * 3.4, append mode): hourly (window, type) counts roll up to a daily
    * profile per type (peak hourly rate + active-hour count) via
    * window-on-window (`window(w1, "1 day")`), so in streaming BOTH
    * aggregates are incrementally maintained in the same state store and
    * the intermediate hourly table never materializes to a sink.
    *
    * Scale: state = |hours in watermark horizon| × |types| for stage 1
    * plus |days| × |types| for stage 2 — both watermark-evictable; the
    * daily rollup's input is the hourly AGGREGATE stream (≤ 24×|types|
    * rows/day), not the raw feed. Parity across 4 micro-batches under
    * both state-store backends is the streaming gate; this batch twin is
    * the oracle-gated entry. */
  def chainedAggTransform(events: DataFrame): DataFrame =
    events
      .groupBy(window(col("ts"), "1 hour").as("w1"), col("event_type"))
      .agg(count(lit(1)).as("n"))
      .groupBy(window(col("w1"), "1 day").as("w2"), col("event_type"))
      .agg(max(col("n")).as("peak_hourly"), count(lit(1)).as("active_hours"))
      .select(col("w2.start").as("day_start"), col("event_type"),
        col("peak_hourly"), col("active_hours"))

  def streamChainedAgg(s: SparkSession, d: String): DataFrame =
    chainedAggTransform(Tables.events(s, d))
      .orderBy(col("day_start"), col("event_type"))

  /** Sliding 1-hour window every 15 minutes: each event lands in 4
    * windows. Batch equivalent of `window(ts, "1 hour", "15 minutes")`. */
  def slidingTransform(events: DataFrame): DataFrame =
    events
      .groupBy(window(col("ts"), "1 hour", "15 minutes").as("w"), col("event_type"))
      .agg(count(lit(1)).as("n"), round(sum(col("value")), 2).as("sum_value"))
      .select(col("w.start").as("win_start"), col("event_type"),
        col("n"), col("sum_value"))

  def streamSliding(s: SparkSession, d: String): DataFrame =
    slidingTransform(Tables.events(s, d))
      .orderBy(col("win_start"), col("event_type"))

  /** Per-user 30-minute-gap sessionization, batch form: gaps-and-islands
    * (lag → gap flag → running session index), emitting min/max ts and
    * count per session — NEVER Spark's session_window bounds (its window
    * end = last event + gap, which no oracle reproduces; SURVEY.md §2.9).
    * The streaming twin uses session_window and is parity-checked on
    * membership (same min/max/count). */
  def streamSession30m(s: SparkSession, d: String): DataFrame = {
    withSessionIdx(Tables.events(s, d), 1800)
      .groupBy(col("user_id"), col("session_idx"))
      .agg(
        min(col("ts")).as("session_start"),
        max(col("ts")).as("session_end"),
        count(lit(1)).as("n_events"),
        round(sum(col("value")), 2).as("sum_value"))
      .orderBy(col("user_id"), col("session_idx"))
  }

  /** Shared batch gaps-and-islands session indexing: lag → gap flag →
    * running sum over (ts, event_id) order per user. The ONE copy of the
    * sessionization both [[streamSession30m]] and
    * [[Analytics.joinIntervalOverlap]] build on (a gap-rule tweak applied
    * to one must reach the other; Round6Spec keeps an independent copy on
    * purpose — it's the test reference). First row per user: the lag is
    * NULL, the comparison is NULL, and CASE routes NULL to the ELSE
    * branch — 0 — so indices are 0-based; a coalesce over the flag can
    * never fire (the .otherwise already absorbed the NULL). */
  private[ops] def withSessionIdx(events: DataFrame, gapSec: Long): DataFrame = {
    val byUser = Window.partitionBy(col("user_id"))
      .orderBy(col("ts").asc, col("event_id").asc)
    val gapFlag = when(
      unix_timestamp(col("ts")) -
        unix_timestamp(lag(col("ts"), 1).over(byUser)) > gapSec, 1)
      .otherwise(0)
    events.withColumn("session_idx",
      sum(gapFlag).over(
        byUser.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
  }

  /** Dedup on event_id. A stream (which must carry a watermark) uses
    * `dropDuplicatesWithinWatermark`, so an id's state is evicted once the
    * watermark passes its event time plus the delay and the state stays
    * bounded; a batch frame uses `dropDuplicates`, its twin, because
    * Spark 4.1 rejects `dropDuplicatesWithinWatermark` on a batch frame
    * ("not supported with batch DataFrames/DataSets"). The two agree
    * on every re-delivery inside the watermark delay; a re-delivery later
    * than the delay passes through the stream. Each branch that consumes
    * the result plans its own dedup operator with its own state store (a
    * query that feeds it to two transforms dedups twice).
    * Deterministic survivor: events carry unique ids in the fixture, and
    * the synthetic-duplicate parity test feeds exact duplicate ROWS, so
    * any survivor is the same row. */
  def dedupTransform(events: DataFrame): DataFrame =
    if (events.isStreaming) events.dropDuplicatesWithinWatermark("event_id")
    else events.dropDuplicates("event_id")

  def streamDedupWatermark(s: SparkSession, d: String): DataFrame =
    dedupTransform(Tables.events(s, d))
      .select(col("event_id"), col("user_id"), col("event_type"))
      .orderBy(col("event_id"))

  /** Stream ⋈ static dimension: events enriched with the customer row of
    * user_id. Static side is broadcast — in streaming, stream-static joins
    * need no watermark on the static side. */
  def staticJoinTransform(events: DataFrame, customer: DataFrame): DataFrame =
    events.join(broadcast(customer), col("user_id") === col("c_custkey"))
      .select(col("event_id"), col("user_id"), col("event_type"),
        col("c_mktsegment"), round(col("value"), 2).as("value"))

  def streamStaticJoin(s: SparkSession, d: String): DataFrame =
    staticJoinTransform(Tables.events(s, d), Tables.customer(s, d))
      .orderBy(col("event_id"))

  /** Stream-stream join: click ⋈ purchase of the same user within 1 hour
    * (click before purchase). The time-range conjunct is what lets a
    * streaming execution bound and evict join state by watermark. */
  def streamStreamJoinTransform(events: DataFrame): DataFrame = {
    val clicks = events.where(col("event_type") === "click")
      .select(col("event_id").as("click_id"), col("user_id"), col("ts").as("c_ts"))
    val purchases = events.where(col("event_type") === "purchase")
      .select(col("event_id").as("purchase_id"), col("user_id").as("p_user"),
        col("ts").as("p_ts"))
    clicks.join(purchases,
      col("user_id") === col("p_user") &&
        col("p_ts") >= col("c_ts") &&
        col("p_ts") <= col("c_ts") + expr("INTERVAL 1 HOUR"))
      .select(col("user_id"), col("click_id"), col("purchase_id"))
  }

  def streamStreamJoin(s: SparkSession, d: String): DataFrame =
    streamStreamJoinTransform(Tables.events(s, d))
      .orderBy(col("user_id"), col("click_id"), col("purchase_id"))

  /** Stream-stream LEFT OUTER join: every click, enriched with each
    * same-user purchase in the following hour, or one null-padded row
    * (purchase_id sentinel −1, matched 0) when none arrives — the
    * "unconverted clicks" feed a funnel alerter tails. In streaming both
    * inputs inherit the source watermark and the join keeps the
    * time-range conjunct, so an unmatched click is held in state only
    * until the watermark passes c_ts + 1 hour and is then emitted
    * null-padded; c_ts rides along in the output so consumers (and the
    * parity test) can reason about that emission horizon. */
  def streamStreamLeftTransform(events: DataFrame): DataFrame = {
    val clicks = events.where(col("event_type") === "click")
      .select(col("event_id").as("click_id"), col("user_id"), col("ts").as("c_ts"))
    val purchases = events.where(col("event_type") === "purchase")
      .select(col("event_id").as("purchase_id"), col("user_id").as("p_user"),
        col("ts").as("p_ts"))
    clicks.join(purchases,
      col("user_id") === col("p_user") &&
        col("p_ts") >= col("c_ts") &&
        col("p_ts") <= col("c_ts") + expr("INTERVAL 1 HOUR"),
      "left_outer")
      .select(col("user_id"), col("click_id"), col("c_ts"),
        coalesce(col("purchase_id"), lit(-1L)).as("purchase_id"),
        col("purchase_id").isNotNull.cast("int").as("matched"))
  }

  def streamStreamLeftJoin(s: SparkSession, d: String): DataFrame =
    streamStreamLeftTransform(Tables.events(s, d))
      .orderBy(col("user_id"), col("click_id"), col("purchase_id"))

  /** Stream-stream FULL OUTER join — both directions of
    * [[streamStreamLeftTransform]]: clicks without a following purchase
    * AND purchases without a preceding click each surface once,
    * null-padded with −1 sentinels. In streaming, watermark passage over
    * each side's state horizon (c_ts + 1 h for clicks, p_ts for
    * purchases) triggers the null emission; matched rows emit
    * immediately. */
  def streamStreamFullTransform(events: DataFrame): DataFrame = {
    val clicks = events.where(col("event_type") === "click")
      .select(col("event_id").as("click_id"), col("user_id"), col("ts").as("c_ts"))
    val purchases = events.where(col("event_type") === "purchase")
      .select(col("event_id").as("purchase_id"), col("user_id").as("p_user"),
        col("ts").as("p_ts"))
    clicks.join(purchases,
      col("user_id") === col("p_user") &&
        col("p_ts") >= col("c_ts") &&
        col("p_ts") <= col("c_ts") + expr("INTERVAL 1 HOUR"),
      "full_outer")
      .select(coalesce(col("user_id"), col("p_user")).as("uid"),
        coalesce(col("click_id"), lit(-1L)).as("click_id"),
        coalesce(col("purchase_id"), lit(-1L)).as("purchase_id"),
        (col("click_id").isNotNull && col("purchase_id").isNotNull)
          .cast("int").as("matched"))
      .withColumnRenamed("uid", "user_id")
  }

  def streamStreamFullJoin(s: SparkSession, d: String): DataFrame =
    streamStreamFullTransform(Tables.events(s, d))
      .orderBy(col("user_id"), col("click_id"), col("purchase_id"))

  /** Maintained state of the streaming distinct-count monitor: per
    * (day window, type) a KMV sketch of user-id hashes — a CUSTOM typed
    * Aggregator ([[Custom.KmvAgg]]) running INSIDE a streaming
    * aggregation, the composition that makes sketches the streaming
    * distinct answer: the ≤K-value buffer is the state-store row, merge
    * is the across-micro-batch combine, and state stays constant-size
    * per key no matter how many events a day carries (exact
    * countDistinct would hold per-user state). Shared by the batch twin
    * and StreamingParitySpec's replay.
    *
    * Like every transform in this file, the input must already carry
    * `withWatermark("ts", ...)` for update/append eviction (the parity
    * replay attaches a 10-minute one; the batch twin needs none) —
    * WITHOUT a caller watermark, update/append mode accumulates one
    * state row per (day, type) forever. State is evicted per watermark
    * only when the caller attaches it — an EXECUTED contract, not
    * prose: StreamingParitySpec's update-mode eviction test pins that
    * the watermark removes exactly the expired day cells from the
    * state store under both backends. */
  def kmvDistinctTransform(events: DataFrame): DataFrame = {
    val kmv = udaf(Custom.KmvAgg)
    events
      .groupBy(window(col("ts"), "1 day").as("w"), col("event_type"))
      .agg(kmv(expr("shiftrightunsigned(xxhash64(user_id), 1)")).as("sk"))
      .select(col("w.start").as("day_start"), col("event_type"),
        col("sk.vs").as("vs"))
  }

  /** The readout over the maintained sketch table: kept-value count and
    * the KMV distinct estimate (exact below K). Pure column transforms —
    * runs identically on the streaming sink table and the batch twin. */
  def kmvDistinctReadout(sketches: DataFrame): DataFrame =
    sketches
      .select(col("day_start"), col("event_type"),
        size(col("vs")).as("n_kept"),
        Custom.kmvEstCol(col("vs")).as("est_distinct"))
      .orderBy(col("day_start"), col("event_type"))

  /** Query key `stream_kmv_distinct`: the daily distinct-users
    * dashboard as a STREAM — watermark-evictable (day × type) KMV
    * sketches + the estimate readout. Oracle-exempt (sketch);
    * StreamingParitySpec pins stream ≡ batch row-for-row under both
    * state-store backends, Round11dSpec pins the estimates against
    * exact per-cell distincts. */
  def streamKmvDistinct(s: SparkSession, d: String): DataFrame =
    kmvDistinctReadout(kmvDistinctTransform(Tables.events(s, d)))

  /** Kinesis reshard assignment — one SPLIT and one MERGE — shared by
    * the batch twin and the replay test. The feed starts on two shards
    * (shard = user_id % 2 — the partition-key hash role); at the first
    * third of the fixture's time range shard 1 SPLITS into children 2
    * and 3 (the next key bit, user_id >> 1, divides the parent's hash
    * range — exactly how a Kinesis split partitions the parent's
    * hash-key interval); at the second third, 2 and 3 MERGE into shard
    * 4 (adjacent hash ranges re-join — the Kinesis merge, whose child
    * is gated on BOTH parents draining). Shard 0 is untouched
    * throughout, so the output also exercises the not-resharded case.
    * Era membership is a pure function of the event time against the
    * (min, max) epoch-second bounds — integer arithmetic on the floor
    * grid (`unix_timestamp` floors; the oracle writes
    * `floor(epoch(...))`), so both engines and the streaming replay
    * agree on every boundary row. The one-row bounds frame enters via
    * broadcast crossJoin — a scalar subquery, never a shuffle. */
  def reshardAssign(events: DataFrame): DataFrame = {
    val e = events.withColumn("sec", unix_timestamp(col("ts")))
    val bounds = e.agg(min(col("sec")).as("mn"), max(col("sec")).as("mx"))
    val span = col("mx") - col("mn")
    e.crossJoin(broadcast(bounds))
      .transform(df => shardCols(df,
        col("sec") < col("mn") + floor(span / 3).cast("long"),
        col("sec") < col("mn") + floor(span * 2 / 3).cast("long")))
      .drop("sec", "mn", "mx")
  }

  /** Streaming-usable variant: the split/merge seconds arrive
    * precomputed (a real consumer learns reshard boundaries from the
    * reshard control events, it never infers them from the feed — and a
    * streaming frame cannot crossJoin its own min/max aggregate
    * anyway). */
  def reshardAssignAt(
      events: DataFrame, splitSec: Long, mergeSec: Long): DataFrame =
    shardCols(events, unix_timestamp(col("ts")) < lit(splitSec),
      unix_timestamp(col("ts")) < lit(mergeSec))

  private def shardCols(
      df: DataFrame, isParent: Column, preMerge: Column): DataFrame = {
    val p = col("user_id") % 2
    val child = lit(2L) + shiftright(col("user_id"), 1) % 2
    df.withColumn("era",
      when(isParent, lit("parent"))
        .when(preMerge, lit("split")).otherwise(lit("merged")))
      .withColumn("shard_id",
        when(col("era") === "parent", p)
          .when(col("era") === "split",
            when(p === 1, child).otherwise(lit(0L)))
          .otherwise(when(p === 1, lit(4L)).otherwise(lit(0L))))
  }

  /** Per-(shard, era) profile of the resharded feed: row and distinct-
    * user counts, value sum, time bounds. The era column makes both
    * reshard events visible in the output: shard 1 carries only
    * parent-era rows (it closed at the split), shards 2/3 only
    * split-era rows (they opened at the split and closed at the merge),
    * shard 4 only merged-era rows, and shard 0 spans all three eras. */
  def reshardTransform(events: DataFrame): DataFrame =
    reshardAssign(events)
      .groupBy(col("shard_id"), col("era"))
      .agg(count(lit(1)).as("n_events"),
        countDistinct(col("user_id")).as("n_users"),
        round(sum(col("value")), 2).as("sum_value"),
        min(col("ts")).as("first_ts"), max(col("ts")).as("last_ts"))

  /** The STREAMABLE subset of the reshard profile — exact distinct
    * counting is not a streaming aggregate, so the maintained table
    * carries everything but n_users (which the batch twin and the
    * oracle gate); Round16Spec compares on these columns. */
  def reshardStreamAgg(assigned: DataFrame): DataFrame =
    assigned.groupBy(col("shard_id"), col("era"))
      .agg(count(lit(1)).as("n_events"),
        round(sum(col("value")), 2).as("sum_value"),
        min(col("ts")).as("first_ts"), max(col("ts")).as("last_ts"))

  /** Query key `stream_reshard_replay`: Kinesis shard split AND merge
    * semantics on the replay stand-in (SURVEY.md §2.28). A long-lived
    * Kinesis feed WILL hit reshards, and the one ordering contract the
    * plain replay did not model is that a child shard's records are
    * consumed only after its parent(s) fully drain — one parent for a
    * split, BOTH parents for a merge (per-key order across the
    * reshard). This batch twin computes the post-reshard per-(shard,
    * era) profile; Round16Spec drives the SAME [[reshardTransform]]
    * from a three-phase replay — parent-era files drained to checkpoint
    * FIRST, split-era files only then made visible, merged-era files
    * only after the split era drains, each restart continuing from the
    * same checkpoint — and pins (a) each drain consumed exactly its
    * era (children gated on parent drain; the merged shard gated on
    * both parents), (b) every user's rows land in strictly later
    * micro-batches era over era (the Kinesis contract), (c) the final
    * maintained table equals this batch twin row-for-row.
    *
    * Scale: one broadcast bounds row + one (shard, era) aggregate —
    * map-side combined, |shards| × 2 result rows; nothing about the
    * assignment shuffles the feed. */
  def streamReshardReplay(s: SparkSession, d: String): DataFrame =
    reshardTransform(Tables.events(s, d))
      .orderBy(col("shard_id"), col("era"))
}
