package graft

import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.Trigger

/** Round-16 pins: Kinesis reshard semantics on the replay stand-in — one
  * split AND one merge (children gated on parent drain, the merged shard
  * gated on BOTH parents, per-key order across each reshard, stream ≡
  * batch on the maintained table) — and the reshard assignment's
  * pure-function / hash-range-partition properties. */
class Round16Spec extends SparkSpec {

  // ------------------------------------------- stream_reshard_replay

  test("stream_reshard_replay: each era gated on the prior drain; per-user order across split AND merge; maintained table == batch twin") {
    import spark.implicits._
    val raw = graft.io.Tables.normalizeTs(
      spark.read.parquet(s"$sf001/events.parquet")).localCheckpoint()
    // The reshard boundaries a real consumer learns from the reshard
    // control events — computed once, driver-side, on the same
    // floor-epoch grid as the shared kernel.
    val (mn, mx) = raw.agg(
      min(unix_timestamp(col("ts"))), max(unix_timestamp(col("ts"))))
      .as[(Long, Long)].head()
    val splitSec = mn + (mx - mn) / 3
    val mergeSec = mn + 2 * (mx - mn) / 3
    val assigned = ops.Streaming.reshardAssignAt(raw, splitSec, mergeSec)
      .localCheckpoint()
    // sanity: all three eras are non-trivial at this sf
    val eras = assigned.groupBy(col("era")).count()
      .as[(String, Long)].collect().toMap
    Seq("parent", "split", "merged").foreach(e =>
      assert(eras.getOrElse(e, 0L) > 0, s"era $e is empty"))

    val in = tempDir("graft-reshard")
    val ck = tempDir("graft-reshard-ck")
    val ckOrd = tempDir("graft-reshard-ck2")
    val envelope = io.EventSource.storedSchema.fieldNames.map(col)
    // ONE file per live (era, shard): rows in (ts, event_id) order — the
    // per-shard sequence-number order a Kinesis shard delivers.
    def writeEra(era: String, shards: Seq[Long]): Unit =
      shards.foreach { sh =>
        assigned.where(col("era") === era && col("shard_id") === sh)
          .orderBy(col("ts"), col("event_id")).select(envelope: _*)
          .coalesce(1).write.parquet(s"$in/${era}_s$sh")
      }
    writeEra("parent", Seq(0L, 1L))

    def aggQuery(): org.apache.spark.sql.streaming.StreamingQuery = {
      val stream = spark.readStream.schema(io.EventSource.storedSchema)
        .option("recursiveFileLookup", "true").parquet(in)
      ops.Streaming.reshardStreamAgg(
        ops.Streaming.reshardAssignAt(stream, splitSec, mergeSec))
        .writeStream.format("memory").queryName("t_reshard")
        .option("checkpointLocation", ck)
        .outputMode("complete").trigger(Trigger.AvailableNow()).start()
    }
    val seen = new java.util.concurrent.ConcurrentLinkedQueue[
      (Long, Long, String, Long)]() // (batchId, user_id, era, shard_id)
    def ordQuery(): org.apache.spark.sql.streaming.StreamingQuery = {
      val stream = spark.readStream.schema(io.EventSource.storedSchema)
        .option("recursiveFileLookup", "true")
        .option("maxFilesPerTrigger", 1).parquet(in)
      ops.Streaming.reshardAssignAt(stream, splitSec, mergeSec)
        .select(col("user_id"), col("era"), col("shard_id"))
        .writeStream.option("checkpointLocation", ckOrd)
        .foreachBatch { (df: org.apache.spark.sql.DataFrame, bid: Long) =>
          df.as[(Long, String, Long)].collect()
            .foreach { case (u, e, sh) => seen.add((bid, u, e, sh)) }
        }
        .trigger(Trigger.AvailableNow()).start()
    }
    def snapshot(): Array[(Long, Long, String, Long)] =
      seen.toArray(Array.empty[(Long, Long, String, Long)])

    // ---- drain 1: only the parent era is visible
    aggQuery().awaitTermination()
    ordQuery().awaitTermination()
    val drain1 = snapshot()
    assert(drain1.nonEmpty && drain1.forall(_._3 == "parent"),
      "drain 1 must consume EXACTLY the parent era — children are gated " +
        "on parent drain")
    assert(drain1.length == eras("parent"))
    val maxParentBatch = drain1.map(_._1).max

    // ---- split: shard 1's children appear (0 continues; 1 -> 2 and 3),
    // stream restarts from the same checkpoint
    writeEra("split", Seq(0L, 2L, 3L))
    aggQuery().awaitTermination()
    ordQuery().awaitTermination()
    val afterSplit = snapshot()
    val splitRows = afterSplit.filter(_._3 == "split")
    assert(splitRows.length == eras("split"))
    assert(afterSplit.count(_._3 == "merged") == 0)
    // the Kinesis split contract: for every user, all split-era rows
    // arrive in strictly later micro-batches than every parent-era row
    // (batch ids continue across the restart)
    assert(splitRows.forall(_._1 > maxParentBatch),
      "a split-era row was processed before the parent shard drained")
    val parentMaxByUser = drain1.groupBy(_._2).view.mapValues(_.map(_._1).max)
    splitRows.foreach { case (bid, u, _, _) =>
      parentMaxByUser.get(u).foreach(pm =>
        assert(bid > pm, s"user $u: split-era batch $bid <= parent batch $pm"))
    }
    val maxSplitBatch = splitRows.map(_._1).max

    // ---- merge: shards 2 and 3 merge into 4 — the merged child is
    // gated on BOTH parents having drained
    writeEra("merged", Seq(0L, 4L))
    aggQuery().awaitTermination()
    ordQuery().awaitTermination()
    val all = snapshot()
    val mergedRows = all.filter(_._3 == "merged")
    assert(mergedRows.length == eras("merged"))
    assert(mergedRows.forall(_._1 > maxSplitBatch),
      "a merged-era row was processed before both split parents drained")
    val splitMaxByUser = splitRows.groupBy(_._2).view.mapValues(_.map(_._1).max)
    mergedRows.foreach { case (bid, u, _, _) =>
      splitMaxByUser.get(u).foreach(sm =>
        assert(bid > sm, s"user $u: merged-era batch $bid <= split batch $sm"))
    }
    // Reshard correctness: shard 1 closed at the split; 2/3 live only in
    // the split era; 4 only in the merged era; shard 0 spans all three.
    assert(all.filter(_._4 == 1L).forall(_._3 == "parent"))
    assert(all.filter(r => r._4 == 2L || r._4 == 3L).forall(_._3 == "split"))
    assert(all.filter(_._4 == 4L).forall(_._3 == "merged"))
    assert(all.filter(_._4 == 0L).map(_._3).distinct.length == 3)
    // every merged-shard user sits in the re-joined hash range (the
    // union of the two split children's ranges = old shard 1's range)
    assert(mergedRows.filter(_._4 == 4L).forall(_._2 % 2 == 1))

    // ---- the maintained table equals the batch twin on the streamable
    // columns (n_users is batch/oracle-only: exact distinct is not a
    // streaming aggregate)
    assertSameRows(
      spark.table("t_reshard")
        .orderBy(col("shard_id"), col("era")),
      ops.Streaming.reshardStreamAgg(
        ops.Streaming.reshardAssign(
          graft.io.Tables.events(spark, sf001)))
        .orderBy(col("shard_id"), col("era")),
      "reshard stream-batch parity")
    // and the full batch twin carries the same (shard, era) keys
    val twinKeys = ops.Streaming.streamReshardReplay(spark, sf001)
      .select(col("shard_id"), col("era")).as[(Long, String)].collect().toSet
    val streamKeys = spark.table("t_reshard")
      .select(col("shard_id"), col("era")).as[(Long, String)].collect().toSet
    assert(twinKeys == streamKeys && twinKeys.nonEmpty)
  }

  test("stream_reshard_replay: assignment is a pure function — crossJoin form == precomputed-split form; hash ranges partition") {
    import spark.implicits._
    val ev = graft.io.Tables.events(spark, sf001)
    val (mn, mx) = ev.agg(
      min(unix_timestamp(col("ts"))), max(unix_timestamp(col("ts"))))
      .as[(Long, Long)].head()
    val a = ops.Streaming.reshardAssign(ev)
      .select(col("event_id"), col("era"), col("shard_id"))
      .as[(Long, String, Long)].collect().sortBy(_._1)
    val b = ops.Streaming
      .reshardAssignAt(ev, mn + (mx - mn) / 3, mn + 2 * (mx - mn) / 3)
      .select(col("event_id"), col("era"), col("shard_id"))
      .as[(Long, String, Long)].collect().sortBy(_._1)
    assert(a.sameElements(b))
    // hash ranges partition: every user routed to child 2/3 or the
    // merged shard 4 would have been on parent shard 1; children and
    // the merged shard are non-trivial at this sf
    val users = ops.Streaming.reshardAssign(ev)
      .select(col("user_id"), col("shard_id")).distinct()
      .as[(Long, Long)].collect()
    users.filter(u => u._2 >= 2L)
      .foreach { case (u, _) => assert(u % 2 == 1, s"user $u crossed shards") }
    assert(users.exists(_._2 == 2L) && users.exists(_._2 == 3L) &&
      users.exists(_._2 == 4L))
  }
}
