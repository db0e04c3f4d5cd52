package graft.ops

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.Det.round
import graft.io.Tables

/** Round-4 product-analytics + pipeline operators (SURVEY.md §2.14):
  * the event-analytics layer (funnel, cohort, attribution, SCD2, OHLC
  * resample, histogram, co-occurrence) and the training-data layer
  * (deterministic split, mixture weights, bucketed co-located join)
  * every large feed pipeline ends up needing.
  *
  * All oracle-gated (OracleSql twins): scalar output columns only, total
  * row order with unique tiebreakers, Det.round on computed doubles, UTC.
  */
object Analytics {

  private def events(s: SparkSession, d: String): DataFrame =
    Tables.events(s, d)

  /** Uniform k-per-group sample (k = 5 per event type) via hash-rank
    * bottom-k — the DISTRIBUTED-RESERVOIR equivalence: ranking every row
    * by a fixed hash of its id and keeping each group's k smallest IS a
    * uniform-without-replacement sample (any hash-independent subset of
    * ranks works), and unlike a sequential reservoir it is MERGEABLE —
    * each partition's local bottom-k unions to the global bottom-k, the
    * same partial→final shape as a top-k aggregate. Deterministic: the
    * multiplicative hash (odd multiplier mod 2³²) is a fixed bijection
    * on ids, identical in both engines' exact BIGINT arithmetic, with
    * event_id as the total tiebreak.
    *
    * Scale: planned here as the row_number window (one keyed exchange);
    * the map-side-reducing twin is the native [[graft.plans.TopKPerGroup]]
    * operator (win_topk_native), which ships ≤ k rows per (group,
    * partition) instead of every row — sampling 1000 docs per source
    * from 100 TB shuffles k·sources·partitions rows only. */
  def sampleReservoirPergroup(s: SparkSession, d: String): DataFrame = {
    val hrank = pmod(col("event_id") * lit(2654435761L) + lit(40503L),
      lit(4294967296L))
    val w = Window.partitionBy(col("event_type"))
      .orderBy(col("hrank"), col("event_id"))
    events(s, d)
      .withColumn("hrank", hrank)
      .withColumn("rn", row_number().over(w))
      .where(col("rn") <= 5)
      .select(col("event_type"), col("rn"), col("event_id"), col("user_id"))
      .orderBy(col("event_type"), col("rn"))
  }

  /** Query key `funnel_any_order`: set-completion funnel — the
    * order-free companion of [[funnelOrdered]] (an ordered funnel
    * undercounts whenever the product lets steps happen in any order;
    * the set form answers "who did ALL of {click, view, purchase}" and
    * how long the set took to complete): per user the FIRST ts of each
    * target type (one conditional min aggregate per type — partial
    * aggregation collapses map-side, no window over the fact table),
    * completed ⇔ all three present, completion span = greatest(firsts)
    * − least(firsts) in floor seconds (unix_timestamp ≡ epoch-second,
    * exact integers). One row per user who did at least one step;
    * oracle = identical SQL in DuckDB. */
  def funnelAnyOrder(s: SparkSession, d: String): DataFrame =
    events(s, d)
      .groupBy(col("user_id"))
      .agg(
        min(when(col("event_type") === "click", col("ts"))).as("t_click"),
        min(when(col("event_type") === "view", col("ts"))).as("t_view"),
        min(when(col("event_type") === "purchase", col("ts")))
          .as("t_purchase"))
      .where(col("t_click").isNotNull || col("t_view").isNotNull ||
        col("t_purchase").isNotNull)
      .select(col("user_id"), col("t_click"), col("t_view"),
        col("t_purchase"),
        (col("t_click").isNotNull && col("t_view").isNotNull &&
          col("t_purchase").isNotNull).cast("int").as("completed"),
        when(col("t_click").isNotNull && col("t_view").isNotNull &&
            col("t_purchase").isNotNull,
          unix_timestamp(greatest(col("t_click"), col("t_view"),
            col("t_purchase"))) -
            unix_timestamp(least(col("t_click"), col("t_view"),
              col("t_purchase"))))
          .as("span_s"))
      .orderBy(col("user_id"))

  /** Ordered 3-stage funnel: users who clicked, then VIEWED strictly after
    * their first click, then PURCHASED strictly after that first qualifying
    * view. The ordering constraint is what groupBy-pivot funnels get wrong
    * — each stage's anchor is the min event time AFTER the previous
    * stage's anchor, so the steps chain.
    *
    * Scale: ONE scan of events and ONE user_id shuffle — the stage
    * anchors chain as conditional window minima over the same partition
    * (Catalyst stacks the three Window operators on a single exchange;
    * a join-per-stage funnel would scan and shuffle once per stage).
    * Output is one global summary row. */
  def funnelOrdered(s: SparkSession, d: String): DataFrame = {
    val w = Window.partitionBy(col("user_id"))
    val anchored = events(s, d)
      .select(col("user_id"), col("event_type"), col("ts"))
      .withColumn("t1",
        min(when(col("event_type") === "click", col("ts"))).over(w))
      .withColumn("t2",
        min(when(col("event_type") === "view" && col("ts") > col("t1"),
          col("ts"))).over(w))
      .withColumn("t3",
        min(when(col("event_type") === "purchase" && col("ts") > col("t2"),
          col("ts"))).over(w))
    anchored
      .groupBy(col("user_id"))
      .agg(first(col("t1")).as("t1"), first(col("t2")).as("t2"),
        first(col("t3")).as("t3"))
      .agg(
        count(col("t1")).as("n_click"),
        count(col("t2")).as("n_click_view"),
        count(col("t3")).as("n_full_funnel"))
  }

  /** Time-to-convert for fully-funneled users: for every user whose
    * click → view → purchase chain completes ([[funnelOrdered]]'s anchor
    * chain), the elapsed µs from the click anchor to the purchase anchor
    * — the latency distribution input every conversion report needs.
    * Differences stay in exact integer microseconds (no FP date math).
    *
    * Scale: the same ONE scan + ONE user_id shuffle as funnel_ordered —
    * the three stage anchors stack as conditional window minima on a
    * single exchange; the final filter+project is map-side. */
  def funnelTimeToConvert(s: SparkSession, d: String): DataFrame = {
    val w = Window.partitionBy(col("user_id"))
    events(s, d)
      .select(col("user_id"), col("event_type"), col("ts"))
      .withColumn("t1",
        min(when(col("event_type") === "click", col("ts"))).over(w))
      .withColumn("t2",
        min(when(col("event_type") === "view" && col("ts") > col("t1"),
          col("ts"))).over(w))
      .withColumn("t3",
        min(when(col("event_type") === "purchase" && col("ts") > col("t2"),
          col("ts"))).over(w))
      .groupBy(col("user_id"))
      .agg(first(col("t1")).as("t1"), first(col("t3")).as("t3"))
      .where(col("t3").isNotNull)
      .select(col("user_id"),
        (unix_micros(col("t3")) - unix_micros(col("t1"))).as("us_to_convert"))
      .orderBy(col("user_id"))
  }

  /** Weekly cohort retention: users grouped by first-seen ISO week, then
    * for each (cohort, week offset) the count of cohort members active
    * that week. The per-(user, week) distinct happens BEFORE the cohort
    * join — the join input is one row per user-week, not per event.
    *
    * Week arithmetic stays in integer UTC seconds (date_trunc('week') is
    * always a Monday 00:00 UTC, so offsets are exact multiples of 604800
    * — no DST, no fractional weeks). */
  def cohortRetention(s: SparkSession, d: String): DataFrame = {
    val userWeeks = events(s, d)
      .select(col("user_id"), date_trunc("week", col("ts")).as("wk"))
      .distinct()
    val cohorts = userWeeks.groupBy(col("user_id"))
      .agg(min(col("wk")).as("cohort_wk"))
    userWeeks.join(cohorts, "user_id")
      .withColumn("week_offset",
        ((unix_timestamp(col("wk")) - unix_timestamp(col("cohort_wk"))) /
          lit(604800L)).cast("long"))
      .groupBy(col("cohort_wk"), col("week_offset"))
      .agg(count(lit(1)).as("n_users"))
      .orderBy(col("cohort_wk"), col("week_offset"))
  }

  /** Last-touch attribution: every purchase credited to the latest
    * preceding non-purchase event of the same user. One window pass with
    * a conditional `last(..., ignoreNulls)` over rows-unbounded-to-1-
    * preceding — no self-join, no per-purchase subquery; both credited
    * columns come from the SAME window frame row because they share the
    * predicate. Total order (ts, event_id) makes the credited touch
    * deterministic under timestamp ties.
    *
    * Scale: exactly one shuffle (user_id), frame state is O(1) per row —
    * the running last-match — regardless of user history length. */
  def attributionLastTouch(s: SparkSession, d: String): DataFrame = {
    val w = Window.partitionBy(col("user_id"))
      .orderBy(col("ts").asc, col("event_id").asc)
      .rowsBetween(Window.unboundedPreceding, -1)
    val touch = when(col("event_type") =!= "purchase", col("event_id"))
    val touchType = when(col("event_type") =!= "purchase", col("event_type"))
    events(s, d)
      .withColumn("touch_id", last(touch, ignoreNulls = true).over(w))
      .withColumn("touch_type", last(touchType, ignoreNulls = true).over(w))
      .where(col("event_type") === "purchase" && col("touch_id").isNotNull)
      .select(col("event_id").as("purchase_id"), col("user_id"),
        col("touch_id"), col("touch_type"))
      .orderBy(col("purchase_id"))
  }

  /** SCD2 (slowly-changing-dimension type 2) build: each event becomes a
    * version row with a [valid_from, valid_to) interval per user —
    * valid_to is the NEXT event's timestamp (lead over the per-user
    * timeline), open-ended for the current version. The standard CDC →
    * warehouse-dimension materialization, as one window pass.
    *
    * is_current is emitted as INT (1/0): the driver's comparator hashes
    * scalar columns and Spark/DuckDB boolean reprs differ. */
  def cdcScd2(s: SparkSession, d: String): DataFrame = {
    val w = Window.partitionBy(col("user_id"))
      .orderBy(col("ts").asc, col("event_id").asc)
    events(s, d)
      .withColumn("valid_to", lead(col("ts"), 1).over(w))
      .select(col("user_id"), col("event_id"), col("event_type"),
        col("ts").as("valid_from"), col("valid_to"),
        when(col("valid_to").isNull, 1).otherwise(0).cast("int")
          .as("is_current"))
      .orderBy(col("user_id"), col("valid_from"), col("event_id"))
  }

  /** Per-session feature vector — the session-level training-example
    * builder: gaps-and-islands sessionization (the shared 30-min kernel)
    * rolled up to one row per (user, session) with the features a
    * ranking/abuse model trains on. Everything exact: integer-cents sum,
    * floor-second duration, first/last event via the shared sortable
    * (ts, event_id) string key (same tie rule as cdc_upsert_latest).
    * Scale: ONE user_id shuffle serves both the session window and the
    * rollup (the groupBy key extends the window's partition key). */
  def winSessionFeatures(s: SparkSession, d: String): DataFrame = {
    val key = Relational.latestTsIdKey(col("ts"), col("event_id"))
    Streaming.withSessionIdx(events(s, d), 1800)
      .withColumn("cents", floor(col("value") * 100 + 0.5).cast("long"))
      .groupBy(col("user_id"), col("session_idx"))
      .agg(
        count(lit(1)).as("n_events"),
        (unix_timestamp(max(col("ts"))) - unix_timestamp(min(col("ts"))))
          .as("duration_s"),
        (sum(col("cents")).cast("double") / lit(1e2)).as("sum_value"),
        countDistinct(col("event_type")).as("n_types"),
        min_by(col("event_type"), key).as("first_type"),
        max_by(col("event_type"), key).as("last_type"))
      .orderBy(col("user_id"), col("session_idx"))
  }

  /** One incremental SCD2 MERGE step — how a feature store actually
    * maintains [[cdcScd2]]'s history under an arriving feed instead of
    * recomputing it: the arriving chunk chains internally (lead over the
    * chunk), each affected user's OPEN row closes at that user's first
    * arriving ts, and everything else passes through untouched.
    * Precondition: per-user ts-ordered arrival (the Kinesis per-shard
    * guarantee, shard key = user).
    *
    * Scale: cost per step ∝ |batch| + |open rows of affected users| —
    * the closed history (the unbounded part) is never rewritten, only
    * unioned through; with the history table partitioned on is_current
    * the pass-through is a metadata-only move. One user_id shuffle for
    * the chunk window + one join against the open slice. */
  def scd2ApplyBatch(hist: DataFrame, batch: DataFrame): DataFrame = {
    val w = Window.partitionBy(col("user_id"))
      .orderBy(col("ts").asc, col("event_id").asc)
    val newRows = batch
      .withColumn("valid_to", lead(col("ts"), 1).over(w))
      .select(col("user_id"), col("event_id"), col("event_type"),
        col("ts").as("valid_from"), col("valid_to"),
        when(col("valid_to").isNull, 1).otherwise(0).cast("int")
          .as("is_current"))
    val firstTs = batch.groupBy(col("user_id"))
      .agg(min(col("ts")).as("first_ts"))
    val closed = hist.where(col("is_current") === 1)
      .join(firstTs, Seq("user_id"))
      .select(col("user_id"), col("event_id"), col("event_type"),
        col("valid_from"), col("first_ts").as("valid_to"),
        lit(0).cast("int").as("is_current"))
    val untouched = hist
      .join(firstTs, Seq("user_id"), "left_anti")
      .unionByName(hist.where(col("is_current") === 0)
        .join(firstTs, Seq("user_id"), "left_semi"))
    untouched.unionByName(closed).unionByName(newRows)
  }

  /** Query entry: ONE apply against an empty history must equal the
    * monolithic [[cdcScd2]] recompute row-for-row (same oracle SQL) —
    * the algebraic base case the multi-batch foreachBatch parity test
    * (Round8Spec) extends to arbitrary chunkings. */
  def cdcScd2Incremental(s: SparkSession, d: String): DataFrame = {
    val empty = events(s, d)
      .select(col("user_id"), col("event_id"), col("event_type"),
        col("ts").as("valid_from"), col("ts").as("valid_to"),
        lit(0).cast("int").as("is_current"))
      .where(lit(false))
    scd2ApplyBatch(empty,
      events(s, d).select(col("user_id"), col("event_id"),
        col("event_type"), col("ts")))
      .orderBy(col("user_id"), col("valid_from"), col("event_id"))
  }

  /** Point-in-time join against the SCD2 state history — the feature-store
    * lookup [[cdcScd2]]'s validity intervals exist FOR: "what was each
    * user's state at every day boundary?" (training labels must join
    * features AS OF label time, never current state — the classic leakage
    * bug). Implemented as the merge-sorted as-of: probes (per-user day
    * grid) union with the state-change events, ONE per-user window pass
    * carries the last state forward into each probe row — no interval
    * join, no row multiplication.
    *
    * Scale: the union shuffles once on user_id; the probe grid is
    * days-per-user rows (time-bounded, not event-bounded); both
    * last(ignoreNulls) columns share one window spec → one exchange. */
  def joinScd2Pit(s: SparkSession, d: String): DataFrame = {
    val ev = events(s, d)
      .select(col("user_id"), col("ts"), col("event_id"), col("event_type"))
    val grid = ev.groupBy(col("user_id"))
      .agg(date_trunc("day", min(col("ts"))).as("d0"),
        date_trunc("day", max(col("ts"))).as("d1"))
      .where(col("d1") > col("d0"))
      .select(col("user_id"), explode(sequence(
        expr("d0 + interval 1 day"), col("d1"),
        expr("interval 1 day"))).as("pt"))
    val tagged = ev
      .select(col("user_id"), col("ts"), lit(0).as("tag"),
        col("event_id"), col("event_type"))
      .unionByName(grid.select(col("user_id"), col("pt").as("ts"),
        lit(1).as("tag"), lit(null).cast("long").as("event_id"),
        lit(null).cast("string").as("event_type")))
    // events at exactly the day boundary sort BEFORE the probe (tag 0 <
    // 1): as-of semantics are `state at ts <= probe`; event_id breaks
    // same-timestamp event ties deterministically
    val w = Window.partitionBy(col("user_id"))
      .orderBy(col("ts"), col("tag"), col("event_id"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    tagged
      .withColumn("state_event",
        last(col("event_id"), ignoreNulls = true).over(w))
      .withColumn("state_type",
        last(col("event_type"), ignoreNulls = true).over(w))
      .where(col("tag") === 1)
      .select(col("user_id"), col("ts").as("snap_ts"),
        col("state_event"), col("state_type"))
      .orderBy(col("user_id"), col("snap_ts"))
  }

  /** Daily OHLC resample per event_type: open/close are the values of the
    * earliest/latest event in the bucket (arg-min/arg-max over the
    * (ts, event_id) composite key — deterministic under timestamp ties,
    * same fixed-width string-key encoding as cdc_upsert_latest since
    * neither engine's arg-min orders by struct), high/low are plain
    * min/max. One partial-aggregated shuffle on (day, type) — the
    * time-series downsampling shape: output ∝ buckets, not events. */
  def tsResampleOhlc(s: SparkSession, d: String): DataFrame = {
    val key = Relational.latestTsIdKey(col("ts"), col("event_id"))
    events(s, d)
      .groupBy(date_trunc("day", col("ts")).as("day"), col("event_type"))
      .agg(
        min_by(col("value"), key).as("open"),
        max(col("value")).as("high"),
        min(col("value")).as("low"),
        max_by(col("value"), key).as("close"),
        count(lit(1)).as("n"),
        round(sum(col("value")), 2).as("volume"))
      .orderBy(col("day"), col("event_type"))
  }

  /** Fixed-width histogram over events.value (bin width 50 anchored at 0
    * — fixed bounds, so the binning needs NO global min/max pre-pass and
    * stays a single map-side expression + one partial-aggregated shuffle
    * on the bin id; bins are emitted sparse (only non-empty). */
  def aggHistogram(s: SparkSession, d: String): DataFrame =
    events(s, d)
      .groupBy(floor(col("value") / 50).cast("long").as("bin"))
      .agg(count(lit(1)).as("n"), round(sum(col("value")), 2).as("sum_value"))
      .withColumn("lo", (col("bin") * 50).cast("double"))
      .select(col("bin"), col("lo"), col("n"), col("sum_value"))
      .orderBy(col("bin"))

  /** Market-basket co-occurrence: part pairs ordered together in ≥ 2
    * orders. Self-join on l_orderkey with p1 < p2 — the join is
    * key-co-located (both sides shuffle on the SAME orderkey, Spark
    * reuses one exchange), and the pair blow-up is bounded by the
    * per-order item count (≤ 7 in TPC-H-ish data ⇒ ≤ 21 pairs/order),
    * so output grows linearly in orders, not quadratically in rows.
    * Support threshold prunes the singleton tail before the final sort. */
  /** One row per (order, unordered part pair): the part set per order —
    * collect_set dedups within the order, so a part on two lineitems of
    * one order contributes ONCE per pair (ADVICE round-4 semantics).
    * ONE orderkey shuffle; fan-out bounded by parts-per-order
    * (≤ C(13,2) on this data), so the expansion never amplifies an
    * exchange. Shared by the whole co-order graph family.
    *
    * The pair expansion stays IN-PLAN (sort_array + nested transform)
    * rather than a typed flatMap: the Dataset form pays the Seq[Long]
    * encoder round-trip per order — measured 1.41 s vs 1.13 s for
    * pairs+count at sf0.1, ~0.3 s on every one of the ~12 graph-family
    * consumers — and although HOF lambdas are interpreted, the per-row
    * work here is a bounded 2-level index walk, far below the
    * deserialize→Scala-collection→re-encode cost it replaces. */
  private[graft] def coOrderPairs(s: SparkSession, d: String): DataFrame =
    Tables.lineitem(s, d)
      .groupBy(col("l_orderkey"))
      .agg(sort_array(collect_set(col("l_partkey"))).as("ps"))
      .select(explode(expr(
        "flatten(transform(ps, (x, i) -> " +
          "transform(slice(ps, i + 2, size(ps)), y -> struct(x AS p1, y AS p2))))"))
        .as("pr"))
      .select(col("pr.p1").as("p1"), col("pr.p2").as("p2"))

  /** Canonical THRESHOLDED co-order pair-count kernel: (p1 < p2, cnt)
    * with cnt >= 2 — the edge set (weights included) that the whole
    * co-order graph family derives (louvain, modularity, coreness,
    * kcore, LPA, the four sampled-centrality keys, both neighborhood
    * functions, ktruss, assortativity, bfs_frontier, triangle family,
    * degree_stats, adamic_adar, edge_jaccard, recursive BFS, the ALS
    * candidate graph). r15 measured the same build re-executing per key
    * (~1.1 s of every consumer's sf0.1 time), so it rides `graft.Memo`
    * exactly like scc_edges (r16, verdict task 2): `assoc_pairs` — whose
    * declared semantics ARE these counts — is the PRODUCER and always
    * recomputes + refreshes; every other key consumes. The memoized
    * value is the thresholded set only (3.6k rows at sf0.1 — the
    * UN-thresholded counts measure 1.2M rows there, past the gate, which
    * is why `graph_mst_boruvka` / `graph_random_walk_sample` /
    * `assoc_*`'s raw supports are NOT consumers: their edge sets
    * genuinely differ). The collect rides the same 1M-row
    * broadcast-tier gate as sccEdgeRows — per-partition take(gate+1)
    * keeps the check inside the one collect job; past the gate both
    * producer and consumers ride the un-memoized DataFrame build. Rows
    * sort by (p1, p2) before storing so consumer input order is a pure
    * function of the data, not of collect scheduling. */
  /** The un-memoized DataFrame build of the thresholded pair counts —
    * hoisted to object level so [[coPairCounts]]'s gated collect
    * attributes to the whitelisted def (the nested-def lint rule). */
  private def coPairCountsBuild(s: SparkSession, d: String): DataFrame =
    coOrderPairs(s, d)
      .groupBy(col("p1"), col("p2"))
      .agg(count(lit(1)).as("cnt"))
      .where(col("cnt") >= 2)

  private[graft] def coPairCounts(
      s: SparkSession, d: String, producer: Boolean = false): DataFrame = {
    import s.implicits._
    coPairArr(s, d, producer) match {
      case Some(rows) =>
        s.createDataset(rows.toIndexedSeq).toDF("p1", "p2", "cnt")
      case None => coPairCountsBuild(s, d)
    }
  }

  /** The gated driver-side form of the thresholded pair counts — the
    * memo value itself (r16 split so the graph loops can derive their
    * static compile width from the edge count the memo already has;
    * see [[graft.LoopConf]]). */
  private[graft] def coPairArr(
      s: SparkSession, d: String, producer: Boolean = false)
      : Option[Array[(Long, Long, Long)]] = {
    import s.implicits._
    val fp = graft.Memo.fingerprint(d, "lineitem.parquet")
    val gate = 1000000
    lazy val fresh: Option[Array[(Long, Long, Long)]] = {
      val arr = coPairCountsBuild(s, d).as[(Long, Long, Long)]
        .mapPartitions(_.take(gate + 1)).collect()
      if (arr.length > gate) None
      else Some(arr.sortBy(t => (t._1, t._2)))
    }
    if (producer) graft.Memo.refresh("co_edges_w", fp)(fresh)
    else graft.Memo.getOrCompute("co_edges_w", fp)(fresh)
  }

  /** Static-compile width for a co-order-family loop: derived from the
    * memoized edge count when the gate passed; None above the gate
    * (callers then keep the session width + AQE — the 100 TB path). */
  private def coLoopWidth(s: SparkSession, d: String): Option[Int] =
    coPairArr(s, d).map(a => graft.LoopConf.width(a.length.toLong))

  /** Compile a co-order-family loop statically narrow when the edge
    * set is gate-tier, else unchanged (see [[graft.LoopConf]]). */
  private def coLoopStatic[T](s: SparkSession, d: String)(body: => T): T =
    coLoopWidth(s, d) match {
      case Some(w) => graft.LoopConf.static(s, w)(body)
      case None    => body
    }

  /** The unweighted thresholded co-order edge set — the form most graph
    * keys consume (see [[coPairCounts]] for the memo discipline). */
  private[graft] def coEdges(s: SparkSession, d: String): DataFrame =
    coPairCounts(s, d).select(col("p1"), col("p2"))

  def assocPairs(s: SparkSession, d: String): DataFrame =
    coPairCounts(s, d, producer = true)
      .select(col("p1"), col("p2"), col("cnt").as("n_orders"))
      .orderBy(col("n_orders").desc, col("p1"), col("p2"))

  /** Association rules over the co-order pairs: support, confidence
    * (p1→p2) and lift from EXACT integer counts (pair orders, per-part
    * orders, total orders) — the market-basket metrics proper, one step
    * past assoc_pairs' raw support. The count tables are integer-exact in
    * any engine; the two divides + the round are spelled identically in
    * the twin.
    *
    * Scale: pair counts reuse the bounded coOrderPairs kernel; the
    * per-part support table is small (≤ |parts|) and broadcast into both
    * rule sides; N folds in as a one-row broadcast (tf-idf pattern —
    * never a collect). */
  def assocRules(s: SparkSession, d: String): DataFrame = {
    val dl = Tables.lineitem(s, d)
      .select(col("l_orderkey"), col("l_partkey")).distinct()
    val partN = dl.groupBy(col("l_partkey")).agg(count(lit(1)).as("n_part"))
    val totalN = dl.agg(countDistinct(col("l_orderkey")).as("n_total"))
    val pairN = coPairCounts(s, d)
      .select(col("p1"), col("p2"), col("cnt").as("n_ab"))
    pairN
      .join(broadcast(partN.toDF("p1", "n_a")), Seq("p1"))
      .join(broadcast(partN.toDF("p2", "n_b")), Seq("p2"))
      .crossJoin(broadcast(totalN))
      .select(col("p1"), col("p2"), col("n_ab"),
        round(col("n_ab").cast("double") / col("n_a").cast("double"), 6)
          .as("conf"),
        round(col("n_total").cast("double") * col("n_ab").cast("double") /
          (col("n_a").cast("double") * col("n_b").cast("double")), 6)
          .as("lift"))
      .orderBy(col("n_ab").desc, col("p1"), col("p2"))
  }

  /** Deterministic train/val/test split — the assignment every training
    * pipeline must make REPRODUCIBLY and ENGINE-PORTABLY: a Knuth
    * multiplicative hash on doc_id (h = id·2654435761 mod 2³², pure
    * BIGINT arithmetic, bit-identical in any engine — no reliance on a
    * specific engine's murmur/xxhash) bucketed 8/1/1. Pure map-side
    * expression: the split column costs no shuffle; the summary agg is
    * one partial-aggregated groupBy over 3 keys. */
  def splitTrainTest(s: SparkSession, d: String): DataFrame = {
    val h = (col("doc_id") * lit(2654435761L)) % lit(4294967296L)
    val bucket = h % 10
    Tables.documents(s, d)
      .withColumn("split",
        when(bucket < 8, "train").when(bucket === 8, "val").otherwise("test"))
      .groupBy(col("split"))
      .agg(
        count(lit(1)).as("n_docs"),
        sum(col("n_chars")).as("sum_chars"),
        min(col("doc_id")).as("min_id"),
        max(col("doc_id")).as("max_id"))
      .orderBy(col("split"))
  }

  /** Per-source mixture weights for training-data sampling (the
    * temperature-scaled heuristic: weight ∝ tokens^α, α = 0.5 — upweights
    * small sources like multilingual sampling does): per-source token
    * totals, then normalized against the global sum folded in as a
    * broadcast one-row cross join — never a driver-side collect.
    *
    * Determinism: the normalizer is Σ over sources of a DOUBLE — and FP
    * addition is not associative, so a raw double sum could differ between
    * engines by partial-aggregation order. The sqrt is therefore scaled to
    * an exact integer first (floor(√n·10⁶) — sqrt and the multiply are
    * single correctly-rounded IEEE ops, identical in any engine) so the
    * global sum is exact BIGINT arithmetic; only then one final division
    * + 6-dp Det round. */
  def pipelineMixtureWeights(s: SparkSession, d: String): DataFrame = {
    val per = Tables.documents(s, d)
      .select(col("source"), size(split(col("text"), " ")).as("tok"))
      .groupBy(col("source"))
      .agg(count(lit(1)).as("n_docs"),
        sum(col("tok")).cast("long").as("n_tokens"))
      .withColumn("w_scaled",
        floor(sqrt(col("n_tokens").cast("double")) * 1e6).cast("long"))
    val total = per.agg(sum(col("w_scaled")).as("w_tot"))
    per.crossJoin(broadcast(total))
      .select(col("source"), col("n_docs"), col("n_tokens"),
        round(col("w_scaled").cast("double") / col("w_tot").cast("double"), 6)
          .as("weight"))
      .orderBy(col("source"))
  }

  /** RFM customer segmentation (recency / frequency / monetary) — the
    * classic warehouse scoring, built scale-safe: per-customer aggregates
    * first (orders reduce to customer cardinality), then the three score
    * thresholds come from ONE exact-percentile aggregate broadcast back
    * as a single row — never a global ntile window, which would funnel
    * every customer through one task at scale. Scores bucket above/below
    * the median; both engines interpolate percentiles identically
    * (pinned by the oracle-gated agg_percentile). */
  def analyticsRfm(s: SparkSession, d: String): DataFrame = {
    val orders = Tables.orders(s, d)
    val refDate = orders.agg(max(col("o_orderdate")).as("ref"))
    val cust = orders.crossJoin(broadcast(refDate))
      .groupBy(col("o_custkey"))
      .agg(
        min(datediff(col("ref"), col("o_orderdate"))).as("recency_days"),
        count(lit(1)).as("frequency"),
        round(sum(col("o_totalprice")), 2).as("monetary"))
    val med = cust.agg(
      expr("percentile(recency_days, 0.5)").as("r_med"),
      expr("percentile(frequency, 0.5)").as("f_med"),
      expr("percentile(monetary, 0.5)").as("m_med"))
    cust.crossJoin(broadcast(med))
      .select(
        concat(
          when(col("recency_days") <= col("r_med"), "R").otherwise("r"),
          when(col("frequency") > col("f_med"), "F").otherwise("f"),
          when(col("monetary") > col("m_med"), "M").otherwise("m"))
          .as("segment"),
        col("monetary"))
      .groupBy(col("segment"))
      .agg(
        count(lit(1)).as("n_cust"),
        round(sum(col("monetary")), 2).as("sum_monetary"))
      .orderBy(col("segment"))
  }

  /** Incremental materialized-view maintenance: the events feed arrives
    * as four append batches (deterministic event_id mod 4 chunks standing
    * in for micro-batches); each batch folds into the running MV by
    * merging PARTIAL aggregates — (type, n, cents) — never recomputing
    * from history. The final state is oracle-gated against the full
    * recompute, which is exactly the invariant incremental view
    * maintenance must prove.
    *
    * The measure accumulates in integer CENTS (floor(v·100+0.5) per row):
    * FP addition is order-dependent, and an MV folded batch-by-batch sums
    * in a DIFFERENT order than a flat scan — integer accumulation makes
    * refresh order provably irrelevant, which is the right design for a
    * restatement-sensitive MV at any scale (and what makes the exact-hash
    * gate sound here).
    *
    * Scale: each merge shuffles |types| partial rows, not events; a
    * production run keys the MV store on the group key and upserts. */
  def mvIncrementalRefresh(s: SparkSession, d: String): DataFrame = {
    val ev = events(s, d).select(
      col("event_type"), col("event_id"),
      floor(col("value") * 100 + 0.5).cast("long").as("cents"))
    val mv = (0 until 4).map { i =>
        ev.where(pmod(col("event_id"), lit(4)) === i)
          .groupBy(col("event_type"))
          .agg(count(lit(1)).as("n"), sum(col("cents")).as("cents"))
      }
      .reduce(_ unionByName _)
      .groupBy(col("event_type"))
      .agg(sum(col("n")).as("n"), sum(col("cents")).as("cents"))
    mv.select(col("event_type"), col("n"),
        (col("cents").cast("double") / 100.0).as("sum_value"))
      .orderBy(col("event_type"))
  }

  /** Materialize the MIXED corpus that [[pipelineMixtureWeights]] only
    * scores: each source contributes a quota of documents proportional
    * to its α=0.5 weight (out of a 1000-doc target), selected by the
    * engine-portable Knuth hash order — "random" but bit-reproducible,
    * the property a training-data sample must have to be auditable.
    * ALL arithmetic is integer (scaled-sqrt weights, `div` quotas, hash
    * ranks), so the sample is the same set in any engine; the only
    * shuffle partitions by source for the per-source rank window.
    * At 100 TB quotas come from the same tiny per-source aggregate and
    * the rank window stays per-source — no global ordering anywhere. */
  def corpusMixtureSample(s: SparkSession, d: String): DataFrame = {
    val docs = Tables.documents(s, d)
    val per = docs
      .select(col("source"), size(split(col("text"), " ")).as("tok"))
      .groupBy(col("source"))
      .agg(sum(col("tok")).cast("long").as("n_tokens"))
      .withColumn("w_scaled",
        floor(sqrt(col("n_tokens").cast("double")) * 1e6).cast("long"))
    val total = per.agg(sum(col("w_scaled")).as("w_tot"))
    val quotas = per.crossJoin(broadcast(total))
      .select(col("source"),
        expr("w_scaled * 1000 div w_tot").as("quota"))
    val h = (col("doc_id") * lit(2654435761L)) % lit(4294967296L)
    val w = Window.partitionBy(col("source"))
      .orderBy(h.asc, col("doc_id").asc)
    docs.select(col("doc_id"), col("source"))
      .withColumn("rank", row_number().over(w))
      .join(broadcast(quotas), "source")
      .where(col("rank") <= col("quota"))
      .select(col("source"), col("doc_id"), col("rank"))
      .orderBy(col("source"), col("rank"))
  }

  /** Co-located join over BUCKETED storage — the 100 TB join strategy:
    * both sides are written bucketed+sorted on the join key (8 buckets
    * here; thousands on a cluster), so the join satisfies its
    * distribution requirement from the LAYOUT and plans with NO exchange
    * on either side (pinned by CustomSurfaceSpec + PlanSpec). The write
    * happens once per dataset in production; this query key performs
    * write+read+join so the oracle certifies the whole path against the
    * plain parquet join. MERGE hint: the fixture dims would auto-
    * broadcast and hide the layout effect being exercised. */
  // Per-JVM tag on the bucketed table names: the warehouse directory is
  // shared on disk, so two concurrent sessions writing the same name
  // would race exactly like the Formats.tmpDir case (ADVICE round-3).
  private val sessionTag: String =
    java.util.UUID.randomUUID().toString.take(8).replace("-", "")

  def joinBucketedColocated(s: SparkSession, d: String): DataFrame = {
    val enc = d.getBytes("UTF-8").map(b => f"$b%02x").mkString
    val custT = s"graft_buck_cust_${sessionTag}_$enc"
    val ordT = s"graft_buck_ord_${sessionTag}_$enc"
    // A fresh session's in-memory catalog doesn't know tables whose
    // warehouse directories a PREVIOUS JVM left on disk — CREATE TABLE
    // then fails on locationAlreadyExists even under overwrite. Drop the
    // catalog entry AND clear the leftover location before writing.
    val wh = s.conf.get("spark.sql.warehouse.dir").stripPrefix("file:")
    Seq(custT, ordT).foreach { t =>
      s.sql(s"DROP TABLE IF EXISTS $t")
      val loc = new java.io.File(wh, t)
      if (loc.exists()) new scala.reflect.io.Directory(loc).deleteRecursively()
    }
    Tables.customer(s, d)
      .write.mode("overwrite").bucketBy(8, "c_custkey")
      .sortBy("c_custkey").saveAsTable(custT)
    Tables.orders(s, d)
      .write.mode("overwrite").bucketBy(8, "o_custkey")
      .sortBy("o_custkey").saveAsTable(ordT)
    s.table(custT).hint("MERGE")
      .join(s.table(ordT), col("c_custkey") === col("o_custkey"))
      .groupBy(col("c_mktsegment"))
      .agg(count(lit(1)).as("n_orders"),
        round(sum(col("o_totalprice")), 2).as("sum_price"))
      .orderBy(col("c_mktsegment"))
  }

  /** Per-user Shannon entropy of the event-type distribution — the
    * behavioral-diversity score (and, over token/source distributions, the
    * data-quality screen a corpus pipeline runs before mixing).
    * H = −Σ p·log₂p over each user's event types.
    *
    * Scale: counts first (map-side partial agg collapses the event volume
    * to users × types rows), then the total as a window sum over the SAME
    * user_id partitioning — the final groupBy reuses that exchange, so the
    * whole query is two shuffles regardless of event count. */
  def aggEntropy(s: SparkSession, d: String): DataFrame = {
    val counts = events(s, d)
      .groupBy(col("user_id"), col("event_type"))
      .agg(count(lit(1)).cast("double").as("n"))
    val withTot = counts.withColumn("tot",
      sum(col("n")).over(Window.partitionBy(col("user_id"))))
    withTot
      .groupBy(col("user_id"))
      .agg(round(-sum((col("n") / col("tot")) *
        log2(col("n") / col("tot"))), 4).as("h"),
        sum(col("n")).cast("long").as("n_events"))
      .orderBy(col("user_id"))
  }

  /** Interval-overlap join: 30-min-gap user sessions × "incident hours"
    * (hours whose error count ≥ 1.5× the average hourly error count —
    * relative so the key stays non-vacuous at every scale factor). A
    * session S overlaps incident hour H iff S.start < H+1h ∧ H ≤ S.end.
    *
    * Scale: instead of a theta join (nested loops at any size), each
    * session is BANDED onto the hour grid it covers — explode over
    * sequence(hour(start), hour(end)) — and the overlap becomes an
    * equi-join on the hour. Band fan-out is bounded by session length
    * (30-min-gap sessions span few hours), and the incident side is an
    * aggregated hour table, broadcastable at any event volume. */
  def joinIntervalOverlap(s: SparkSession, d: String): DataFrame = {
    val ev = events(s, d)
    val sess = Streaming.withSessionIdx(ev, 1800)
      .groupBy(col("user_id"), col("session_idx"))
      .agg(min(col("ts")).as("s_start"), max(col("ts")).as("s_end"))
    val hourly = ev.where(col("event_type") === "error")
      .groupBy(date_trunc("hour", col("ts")).as("h"))
      .agg(count(lit(1)).as("n_errors"))
    // relative threshold folded in as a one-row broadcast (never a collect)
    val avgN = hourly.agg(avg(col("n_errors")).as("avg_n"))
    val incidents = hourly.crossJoin(broadcast(avgN))
      .where(col("n_errors").cast("double") >= lit(1.5) * col("avg_n"))
      .select(col("h"), col("n_errors"))
    val banded = sess.select(col("user_id"), col("session_idx"),
      col("s_start"), col("s_end"),
      explode(sequence(date_trunc("hour", col("s_start")),
        date_trunc("hour", col("s_end")), expr("interval 1 hour"))).as("h"))
    banded.join(broadcast(incidents), Seq("h"))
      .select(col("user_id"), col("session_idx"),
        col("h").as("incident_hour"), col("n_errors"))
      .orderBy(col("user_id"), col("session_idx"), col("incident_hour"))
  }

  /** Per-user z-score anomaly flags: events whose |z| ≥ 2.5 against the
    * user's own mean/stddev over `value` — the standard per-entity outlier
    * screen a feed pipeline runs before training on behavioral features.
    * Users with < 12 events (no stable moments) and zero-variance users
    * are excluded; the threshold compares the 4-dp Det-rounded z on BOTH
    * sides of the gate so the filter is engine-portable.
    *
    * Scale: mean/std/count stack as three whole-partition window
    * aggregates over ONE user_id exchange (no groupBy+join back); user_id
    * is high-cardinality, so partitions stay balanced at any volume. */
  def anomalyZscore(s: SparkSession, d: String): DataFrame = {
    val w = Window.partitionBy(col("user_id"))
    val z4 = round((col("value") - col("mu")) / col("sd"), 4)
    events(s, d)
      .select(col("event_id"), col("user_id"), col("value"))
      .withColumn("mu", avg(col("value")).over(w))
      .withColumn("sd", stddev_samp(col("value")).over(w))
      .withColumn("n", count(lit(1)).over(w))
      .where(col("n") >= 12 && col("sd") > 0)
      .withColumn("z", z4)
      .where(abs(col("z")) >= 2.5)
      .select(col("event_id"), col("user_id"), col("z"))
      .orderBy(col("user_id"), col("event_id"))
  }

  /** Finite-window EWMA (exponential smoothing, r=1/2 over the last 8
    * events) of `value` per user in (ts, event_id) order — the time-series
    * feature-smoothing pass. All eight weights are exact powers of two and
    * the normalizer 255/128 is exactly representable, so every term —
    * scale, left-to-right sum, final divide — is bit-identical IEEE
    * arithmetic in any engine; the oracle twin spells the same chain.
    * Rows before the 8th are dropped (incomplete window — no partial
    * weighting ambiguity).
    *
    * Scale: one user_id exchange, eight stacked lag()s on the same sort —
    * Catalyst collapses them into a single Window operator; no
    * whole-history state, O(8) per row. */
  def tsEwma(s: SparkSession, d: String): DataFrame = {
    val w = Window.partitionBy(col("user_id"))
      .orderBy(col("ts"), col("event_id"))
    // x0·1 + x1·2⁻¹ + … + x7·2⁻⁷, summed left-to-right exactly as written
    val weighted = (0 until 8)
      .map(k => lag(col("value"), k).over(w) * lit(math.pow(0.5, k)))
      .reduceLeft(_ + _)
    events(s, d)
      .select(col("event_id"), col("user_id"), col("ts"), col("value"))
      .withColumn("rn", row_number().over(w))
      .withColumn("ewma", weighted / lit(1.9921875))
      .where(col("rn") >= 8)
      .select(col("event_id"), col("user_id"), round(col("ewma"), 6).as("ewma"))
      .orderBy(col("user_id"), col("event_id"))
  }

  /** Triangle count over the part co-occurrence graph (edges = part pairs
    * co-ordered in ≥ 2 orders, the assoc_pairs graph): one global row
    * (n_nodes, n_edges, n_triangles). Triangles are the clustering signal
    * dedup/community passes read off co-occurrence graphs.
    *
    * Scale: DEGREE-ORDERED wedge counting, the O(m^1.5) plan. Edges are
    * re-oriented low-degree → high-degree (id tiebreak), so every
    * triangle has exactly ONE pivot node with two out-edges and the
    * wedge join fans out by OUT-degree, which the orientation bounds by
    * O(√m) — a star node with a million neighbors contributes ~zero
    * wedges as a pivot because almost all its edges point AT it. The
    * id-oriented form (p1 < p2) this replaces was quadratic in hub
    * degree: wedge volume Σ in·out over id order, unbounded under skew.
    * Still two equi-joins + one degree groupBy — no theta join. */
  def graphTriangleCount(s: SparkSession, d: String): DataFrame = {
    val (e, deg, tri) = coOrderTriangles(s, d)
    val nodes = deg.agg(count(lit(1)).as("n_nodes"))
    nodes.crossJoin(e.agg(count(lit(1)).as("n_edges")))
      .crossJoin(tri.agg(count(lit(1)).as("n_triangles")))
  }

  /** DOULION-sampled triangle estimate (Tsourakakis et al., KDD'09) —
    * the declared scale tier for the wedge-bound class: the 10× stress
    * harness shows exact wedge counting is output-bound when
    * co-occurrence densifies (~15× per 10× rows), and the standard
    * answer is edge sampling — keep each edge with probability 1/k
    * (deterministic endpoint hash, reproducible under any partitioning),
    * count triangles on the thinned graph with the SAME degree-ordered
    * kernel, rescale by k³. Wedge work drops ~k²; the estimator is
    * unbiased with relative error ~ √(k³/T). k ADAPTS to the measured
    * wedge density ([[adaptiveK]]: √(Σdeg²/(8·m)), floor 2), so the
    * thinned join stays linear-in-m however the graph densifies.
    * Oracle-exempt (sampling has no DuckDB twin obligation); the ε pin
    * vs the exact count lives in Round8Spec. */
  def graphTriangleApprox(s: SparkSession, d: String): DataFrame = {
    val (e, _, tri, k) = coOrderTrianglesSampled(s, d)
    e.agg(count(lit(1)).as("n_edges_sampled"))
      .crossJoin(tri.agg(count(lit(1)).as("n_tri_sampled")))
      .select(col("n_edges_sampled"), col("n_tri_sampled"),
        (col("n_tri_sampled") * lit(k * k * k)).as("est_triangles"))
  }

  /** Shared degree-ordered triangle kernel: the persisted edge set, the
    * degree table, and the one-row-per-triangle join (corner columns
    * e1.src / e1.dst / e2.dst) — read off by [[graphTriangleCount]]
    * (global counts) and [[graphClusteringCoeff]] (per-corner credit). */
  private def coOrderTriangles(
      s: SparkSession, d: String): (DataFrame, DataFrame, DataFrame) = {
    val (e, deg, tri, _) = coOrderTrianglesCore(s, d, sampled = false)
    (e, deg, tri)
  }

  /** Sampled variant for the approx tiers; also returns the ADAPTIVE
    * sample rate k chosen from the measured wedge density (callers need
    * it for the k² / k³ rescale). */
  private def coOrderTrianglesSampled(
      s: SparkSession, d: String): (DataFrame, DataFrame, DataFrame, Long) =
    coOrderTrianglesCore(s, d, sampled = true)

  /** Adaptive DOULION rate: bound the THINNED wedge join to ~[[WedgeBudgetPerEdge]]
    * wedges per edge. Sampled wedge volume is Σdeg²/k², so
    * k = √(wedges / (budget · m)) tracks densification — on a graph
    * whose wedge count grows 15× per 10× edges (the r8 stress measure),
    * a FIXED k only shifts the constant while the ratio stays
    * super-linear; the adaptive rate keeps the join linear-in-m at any
    * density. Floors at 2 (always a genuine sample); at fixture scale
    * (sf0.01: 13.4k wedges / 3.4k edges) the floor binds, so the
    * Round8/9 determinism and edge-share pins see k = 2. Estimator
    * error grows with k (~√(k³/T) for counts) — the documented price of
    * a bounded join; both aggregates run on the small persisted
    * degree/edge tables. */
  private val WedgeBudgetPerEdge = 8.0

  private[ops] def adaptiveK(deg: DataFrame, m: Long): Long = {
    // sum() over an EMPTY degree table is NULL, not 0 — an edgeless
    // graph (no pair co-ordered twice) must fall to the floor rate,
    // not NPE, where the exact twins cleanly return zero counts
    val row = deg.agg(sum(col("deg") * (col("deg") - lit(1L))).as("w2"))
      .collect()(0)
    val w2 = if (row.isNullAt(0)) 0L else row.getLong(0)
    val wedges = w2 / 2.0
    math.max(2L,
      math.ceil(math.sqrt(wedges / (WedgeBudgetPerEdge * math.max(1L, m))))
        .toLong)
  }

  private def coOrderTrianglesCore(
      s: SparkSession, d: String,
      sampled: Boolean): (DataFrame, DataFrame, DataFrame, Long) = {
    // Thresholded edge set from the shared memoized kernel (r16); the
    // persist still matters on the memo-miss fallback path, where the
    // edge set is referenced four times (degree build + node and edge
    // counts + orientation) and Spark's exchange reuse does not collapse
    // the alias-renamed subtrees — without it the whole pair pipeline
    // runs 4× (same multi-reference pattern as pagerank's
    // iterate-persist). The edge set itself is tiny (pairs co-ordered
    // ≥2×), and the harness clears the SQL cache between queries.
    val full = coEdges(s, d)
      .persist()
    // degrees ALWAYS come from the full edge set (persisted above): in
    // the unsampled path this is the same table as before; in the
    // sampled path the approx tiers need TRUE degrees for their
    // per-node/per-pair denominators, and the orientation below only
    // needs a consistent total order, which full-graph degrees provide
    // for any sample.
    val deg = full.select(col("p1").as("p")).union(full.select(col("p2").as("p")))
      .groupBy(col("p")).agg(count(lit(1)).as("deg"))
      .persist()
    // DOULION-style deterministic edge sampling (keep 1-in-k by a pure
    // hash of the endpoints — reproducible under any partitioning);
    // wedge work drops ~k², the estimator rescales by k³. xxhash64 mixes
    // bits nonlinearly BEFORE the modulus — a linear combination of the
    // endpoints (the r8 form) let low-bit parity decide membership for
    // k = 2 (both multipliers odd ⇒ the filter kept exactly the
    // same-parity pairs), which correlates triangle survival and biases
    // the k³ rescale; with a real mixer membership is hash-uniform.
    // k itself is ADAPTIVE — see [[adaptiveK]].
    val k = if (!sampled) 1L else adaptiveK(deg, full.count())
    val e =
      if (!sampled) full
      else full.where(pmod(xxhash64(col("p1"), col("p2")), lit(k)) === 0)
        .persist()
    // orient (p1,p2) toward the (deg, id)-larger endpoint; p1 < p2
    // already, so a degree tie keeps p1 → p2. The degree table is
    // |V| rows — broadcast, so orientation is MAP-SIDE over e (at
    // extreme |V| it becomes two shuffles on p1/p2; still O(m))
    val fwd = col("da") < col("db") || (col("da") === col("db"))
    val dir = e
      .join(broadcast(deg.select(col("p").as("pa"), col("deg").as("da"))),
        col("p1") === col("pa"))
      .join(broadcast(deg.select(col("p").as("pb"), col("deg").as("db"))),
        col("p2") === col("pb"))
      .select(when(fwd, col("p1")).otherwise(col("p2")).as("src"),
        when(fwd, col("p2")).otherwise(col("p1")).as("dst"))
      .persist()
    // pivot wedges (a→b, a→c, b ≠ c) closed by the directed edge b→c:
    // exactly one of the wedge's two orderings closes, so each triangle
    // counts once
    val tri = dir.as("e1")
      .join(dir.as("e2"),
        col("e1.src") === col("e2.src") && col("e1.dst") =!= col("e2.dst"))
      .join(dir.as("e3"),
        col("e3.src") === col("e1.dst") && col("e3.dst") === col("e2.dst"))
    (e, deg, tri, k)
  }

  /** Per-node local clustering coefficient over the same co-order graph:
    * coeff(v) = 2·tri(v) / (deg(v)·(deg(v)−1)) for deg ≥ 2 — the
    * node-level clustering signal community/dedup passes threshold on,
    * where [[graphTriangleCount]] only reports the global total.
    *
    * Scale: rides the identical degree-ordered O(m^1.5) kernel — each
    * triangle is materialized ONCE and credited to its three corners by
    * a 3-way explode, so per-node credit costs one map-side expansion
    * over the triangle stream (3·|T| rows) + one corner groupBy; never
    * a per-node neighborhood intersection (which re-does each triangle
    * 3× and dies on hub nodes). The divide is spelled in the identical
    * operand order as the DuckDB twin so the rounded doubles match. */
  def graphClusteringCoeff(s: SparkSession, d: String): DataFrame = {
    val (_, deg, tri) = coOrderTriangles(s, d)
    val perNode = tri
      .select(explode(array(col("e1.src"), col("e1.dst"), col("e2.dst")))
        .as("p"))
      .groupBy(col("p")).agg(count(lit(1)).as("tri_cnt"))
    deg.where(col("deg") >= 2)
      .join(perNode, Seq("p"), "left")
      .select(col("p"), col("deg"),
        coalesce(col("tri_cnt"), lit(0L)).as("tri_cnt"),
        round(lit(2.0) * coalesce(col("tri_cnt"), lit(0L)) /
          (col("deg") * (col("deg") - lit(1.0))), 4).as("coeff"))
      .orderBy(col("p"))
  }

  /** DOULION-sampled per-node clustering coefficient — the scale tier for
    * [[graphClusteringCoeff]]'s wedge-bound kernel (the r8 stress harness
    * measured the exact form ~15× per 10× rows on densified
    * co-occurrence). Edges are kept 1-in-k by the same deterministic
    * xxhash64 draw as [[graphTriangleApprox]]; a triangle survives with
    * probability 1/k³, so each surviving corner credit rescales by k³ —
    * but the DENOMINATOR deg(v)·(deg(v)−1) uses the TRUE degree (the
    * full edge set is O(m) to aggregate; only the wedge join is thinned),
    * so the estimate is unbiased per node, not per sampled subgraph.
    * Wedge work drops ~k²; per-node relative error shrinks as the node's
    * triangle count grows — the hub nodes that make exact counting
    * expensive are exactly the ones estimated tightest. Oracle-exempt
    * (sampling has no DuckDB twin); Round9Spec pins the aggregate
    * estimate against the exact coefficients and determinism. */
  def graphClusteringCoeffApprox(s: SparkSession, d: String): DataFrame = {
    val (_, deg, tri, k) = coOrderTrianglesSampled(s, d)
    val k3 = k * k * k // 1-in-k edge sampling ⇒ triangle survival 1/k³
    val perNode = tri
      .select(explode(array(col("e1.src"), col("e1.dst"), col("e2.dst")))
        .as("p"))
      .groupBy(col("p")).agg((count(lit(1)) * lit(k3)).as("tri_est"))
    deg.where(col("deg") >= 2)
      .join(perNode, Seq("p"), "left")
      .select(col("p"), col("deg"),
        coalesce(col("tri_est"), lit(0L)).as("tri_est"),
        round(lit(2.0) * coalesce(col("tri_est"), lit(0L)) /
          (col("deg") * (col("deg") - lit(1.0))), 4).as("coeff_est"))
      .orderBy(col("p"))
  }

  /** Degree assortativity of the co-order graph — one scalar in [-1, 1]:
    * do high-degree parts co-occur with other hubs (r > 0) or with
    * leaves (r < 0)? The skew diagnostic that decides whether the
    * triangle/k-core passes face hub-hub wedge pressure.
    *
    * Pearson correlation of endpoint degrees over the DIRECTED edge
    * list (each undirected edge contributes both orientations, the
    * standard definition — so Σx = Σy and Σx² = Σy² collapse to one
    * pass): every moment is an exact BIGINT sum over |E| rows (map-side
    * broadcast degree decoration, one global aggregate, no shuffle
    * beyond the edge build), and the closed form runs in double with
    * the identical operand order as the oracle. */
  def graphAssortativity(s: SparkSession, d: String): DataFrame = {
    // localCheckpoint: the edge set feeds the degree union (2 reads) and
    // the moment join (1 more) — without the cut the whole co-order pair
    // build re-executes 3x (persist alone leaves the first readers racing
    // the same uncached plan in one job)
    val e = coEdges(s, d)
      .localCheckpoint()
    val deg = e.select(col("p1").as("p")).union(e.select(col("p2").as("p")))
      .groupBy(col("p")).agg(count(lit(1)).as("deg"))
    val sums = e
      .join(broadcast(deg.select(col("p").as("pa"), col("deg").as("da"))),
        col("p1") === col("pa"))
      .join(broadcast(deg.select(col("p").as("pb"), col("deg").as("db"))),
        col("p2") === col("pb"))
      .agg(
        count(lit(1)).as("m_edges"),
        sum(col("da") * col("db")).as("sxy1"),
        sum(col("da") + col("db")).as("sx"),
        sum(col("da") * col("da") + col("db") * col("db")).as("sxx"))
    val md = col("m_edges").cast("double")
    val sxyd = col("sxy1").cast("double")
    val sxd = col("sx").cast("double")
    val sxxd = col("sxx").cast("double")
    deg.agg(count(lit(1)).as("n_nodes"))
      .crossJoin(sums.select(
        col("m_edges").as("n_edges"),
        round(((lit(2.0) * md) * (lit(2.0) * sxyd) - sxd * sxd) /
          ((lit(2.0) * md) * sxxd - sxd * sxd), 6).as("assortativity")))
  }

  /** Modularity Q of the LPA communities — the score that says whether
    * [[graphLabelPropagation]]'s labels actually found structure
    * (Q ≈ 0: no better than random; Q > 0.3: strong communities).
    *
    * The textbook per-community sum Σ_c [in_c/m − (tot_c/2m)²] is
    * algebraically collapsed to W/m − T/(4m²) with W = within-community
    * edge count and T = Σ_c (degree mass)² — BOTH exact BIGINT
    * aggregates, so the whole score is two integer sums and ONE double
    * expression: no per-community double accumulation whose merge order
    * could wobble the result. Labels join the edge list by node id
    * (|V|-row sides, shuffle or broadcast as the planner sizes them). */
  def graphModularity(s: SparkSession, d: String): DataFrame = {
    val (e, lab) = coLoopStatic(s, d) {
      // one pair build feeds BOTH the LPA loop and the scoring joins;
      // static narrow compile per graft.LoopConf (r16)
      val e0 = coEdges(s, d).localCheckpoint()
      (e0, lpaLabels(e0))
    }
    val withL = e
      .join(lab.select(col("p").as("p1"), col("label").as("l1")), Seq("p1"))
      .join(lab.select(col("p").as("p2"), col("label").as("l2")), Seq("p2"))
      .persist()
    val wm = withL.agg(
      count(lit(1)).as("m"),
      sum(when(col("l1") === col("l2"), 1L).otherwise(0L)).as("w"))
    val tot = withL.select(col("l1").as("l"))
      .union(withL.select(col("l2").as("l")))
      .groupBy(col("l")).agg(count(lit(1)).as("tot"))
      .agg(sum(col("tot") * col("tot")).as("t2"),
        count(lit(1)).as("n_communities"))
    wm.crossJoin(tot).select(
      col("m").as("n_edges"), col("n_communities"),
      round(col("w").cast("double") / col("m").cast("double") -
        col("t2").cast("double") /
          (lit(4.0) * col("m").cast("double") * col("m").cast("double")), 6)
        .as("modularity"))
  }

  /** 3-core of the co-order part graph — iterative peeling: repeatedly
    * drop every node with degree < 3 (each removal lowers neighbors'
    * degrees, so peeling cascades) until fixpoint; output = surviving
    * nodes with their IN-CORE degree. The k-core is the dense backbone
    * community/robustness passes run on after pruning the tree-like
    * fringe the triangle/wedge counts are diluted by.
    *
    * Scale: the graph_pagerank / dedup_cluster_cc loop shape — each
    * round is one degree groupBy + two left-anti joins (all equi,
    * partial-aggregable); rounds are bounded by the peeling depth
    * (degeneracy ordering), NOT |V|, and the edge set only shrinks.
    * `localCheckpoint` per round truncates lineage; superseded
    * checkpoint blocks are freed once the next round materializes
    * (pagerank's eager-free convention). Oracle-exempt (iterative
    * global fixpoint — not expressible as a recursive CTE over rows);
    * Round8Spec pins the result against driver-side brute peeling and
    * the invariant min(core_deg) ≥ 3. */
  /** FULL core decomposition of the co-order graph — the coreness
    * number of every node, not just membership at one k
    * ([[graphKcore]]'s k=3 cut is the special case {v : coreness ≥ 3},
    * cross-pinned in Round11bSpec). Distributed h-index iteration
    * (the Montresor-et-al k-core recipe): c⁰(v) = deg(v), then
    * cᵗ⁺¹(v) = min(cᵗ(v), H({cᵗ(u) : u ∈ N(v)})) where H is the
    * h-index of the neighbor multiset — monotonically non-increasing,
    * fixpoint = coreness. H computes relationally: rank neighbor values
    * desc, H = max(min(rank, value)).
    *
    * Scale: per round one equi join (attach neighbor estimates), one
    * per-node window + aggregate — all partial-aggregable on the node
    * key; no peeling set ever funnels through the driver (the r8 kcore
    * hole this formulation sidesteps entirely). Rounds are bounded by
    * the graph's degeneracy ordering depth (hits the fixpoint in single
    * digits on the fixture graphs). ONE job per round (r12): the round
    * checkpoint is LAZY, so the convergence count's job is what
    * materializes it — the separate materialize-then-count round-trip
    * is gone. (Pre-partitioning the checkpointed edge list on the join
    * key was measured and REJECTED: Spark 4.1's localCheckpoint does
    * not preserve outputPartitioning through the LogicalRDD, so the
    * up-front repartition is a pure extra shuffle — single-key A/B at
    * sf0.1 read ~10% slower with it.) */
  def graphCoreness(s: SparkSession, d: String): DataFrame = coLoopStatic(s, d) {
    val e = coEdges(s, d)
    val und = e.select(col("p1").as("src"), col("p2").as("dst"))
      .union(e.select(col("p2").as("src"), col("p1").as("dst")))
      .localCheckpoint()
    var c = und.groupBy(col("src")).agg(count(lit(1)).as("cv"))
      .localCheckpoint()
    var prevRdd: Option[org.apache.spark.rdd.RDD[_]] = None
    var rounds = 0
    var done = false
    while (!done && rounds < 32) {
      val w = Window.partitionBy(col("src"))
        .orderBy(col("cd").desc, col("dst"))
      val h = und
        .join(c.select(col("src").as("dst"), col("cv").as("cd")), "dst")
        .withColumn("rn", row_number().over(w).cast("bigint"))
        .groupBy(col("src"))
        .agg(max(least(col("rn"), col("cd"))).as("h"))
      // LAZY checkpoint: the convergence count below is the action that
      // materializes this round's blocks — the filter sits ABOVE the
      // RDD boundary, so the count computes and caches every partition
      // in the same job it counts changed rows in (1 job/round, not 2)
      val next = c.withColumnRenamed("cv", "prev").join(h, "src")
        .select(col("src"), least(col("prev"), col("h")).as("cv"),
          col("prev"))
        .localCheckpoint(eager = false)
      val changed = next.where(col("cv") =!= col("prev")).count()
      // free the superseded round only after its successor materialized
      prevRdd.foreach(_.unpersist(false))
      prevRdd = c.queryExecution.logical.collectFirst {
        case r: org.apache.spark.sql.execution.LogicalRDD => r.rdd
      }
      c = next.select(col("src"), col("cv"))
      done = changed == 0
      rounds += 1
    }
    c.select(col("src").as("part"), col("cv").as("coreness"))
      .orderBy(col("part"))
  }

  def graphKcore(s: SparkSession, d: String): DataFrame =
    graphKcoreImpl(s, d, bcPeelThreshold = 5_000_000L)

  /** Peel loop with an explicit broadcast budget on the peel set —
    * `bcPeelThreshold` is the max ids a round may broadcast; a bigger
    * peel set falls back to shuffled anti joins. Round one of a
    * low-degree-heavy graph can peel O(|V|) ids (hundreds of millions
    * at 1e9 nodes) — unconditionally broadcasting that through the
    * driver is the r8 scale hole. 5M ids ≈ 80 MB fits the default
    * broadcast budget; both paths produce identical cores (Round9Spec
    * pins parity with threshold 0, which forces the shuffled path). */
  private[graft] def graphKcoreImpl(
      s: SparkSession, d: String, bcPeelThreshold: Long): DataFrame =
    coLoopStatic(s, d) {
    val k = 3
    def rddOf(df: DataFrame): Option[org.apache.spark.rdd.RDD[_]] =
      df.queryExecution.logical.collectFirst {
        case r: org.apache.spark.sql.execution.LogicalRDD => r.rdd
      }
    var e = coEdges(s, d)
      .localCheckpoint()
    // checkpoint blocks superseded by the NEXT materialization — freed
    // only after it completes, because the un-materialized rounds
    // in between re-execute a lineage that still reads them (a freed
    // localCheckpoint cannot recompute: its lineage is truncated)
    var pendingFree = List.empty[org.apache.spark.rdd.RDD[_]]
    var rounds = 0
    var done = false
    while (!done && rounds < 64) {
      val deg = e.select(col("p1").as("p")).union(e.select(col("p2").as("p")))
        .groupBy(col("p")).agg(count(lit(1)).as("deg"))
      // lazy: the size count materializes the peel set (1 job, not 2)
      val low = deg.where(col("deg") < k).select(col("p"))
        .localCheckpoint(eager = false)
      val nLow = low.count()
      if (nLow == 0) done = true
      else {
        // small peel set — broadcast both anti joins so each round's
        // edge filter is MAP-SIDE; the only shuffle per round is the
        // degree groupBy (9.2 s → 6.7 s at sf0.1 stress protocol vs
        // shuffled anti joins). Beyond the broadcast budget the SAME
        // anti joins run shuffled (keyed on p1/p2) — O(m) per round,
        // never a peel set through the driver. Checkpointing every
        // round beats sparser checkpoints: the skipped-materialization
        // variant re-executes the filter chain once per degree pass and
        // measured 2× worse at 10× rows.
        pendingFree = pendingFree ++ rddOf(e) ++ rddOf(low)
        val hint: DataFrame => DataFrame =
          if (nLow <= bcPeelThreshold) broadcast else identity
        e = e
          .join(hint(low.select(col("p").as("p1"))), Seq("p1"), "left_anti")
          .join(hint(low.select(col("p").as("p2"))), Seq("p2"), "left_anti")
          .localCheckpoint()
        pendingFree.foreach(_.unpersist(blocking = false))
        pendingFree = Nil
      }
      rounds += 1
    }
    if (!done)
      throw new IllegalStateException(s"graphKcore: no fixpoint in $rounds rounds")
    val out = e.select(col("p1").as("p")).union(e.select(col("p2").as("p")))
      .groupBy(col("p")).agg(count(lit(1)).as("core_deg"))
      .orderBy(col("p"))
    out
    }

  /** Community detection on the co-order part graph by synchronous label
    * propagation: every node starts labeled with itself; each round a
    * node adopts the most frequent label among its neighbors (ties →
    * smallest label). FOUR fixed synchronous rounds — bounded and fully
    * deterministic (no convergence test, so bipartite-flip oscillation
    * cannot make the result run-dependent).
    *
    * Scale: the pagerank loop shape — per round one equi join (messages:
    * each directed edge carries its endpoint's current label) and two
    * partial-aggregable groupBys (per-(node, label) histogram, then
    * per-node argmax via min_by over the unique (-count, label) key).
    * Labels shuffle by node id, never broadcast — |V| scales past memory.
    * `localCheckpoint` per round truncates lineage (graphKcore's
    * eager-free convention). Oracle-exempt (iterative global fixpoint);
    * Round8Spec pins exact equality with driver-side brute propagation
    * under the same rule. */
  def graphLabelPropagation(s: SparkSession, d: String): DataFrame = {
    // static narrow loop compile at the data-derived width (r16,
    // graft.LoopConf); the community-size readout compiles after
    // restore, so it keeps AQE
    val lab = coLoopStatic(s, d) { lpaLabels(coEdges(s, d)) }
    lab
      .withColumn("community_size",
        count(lit(1)).over(Window.partitionBy(col("label"))))
      .orderBy(col("p"))
  }

  /** LPA core over a prebuilt thresholded edge set — shared by
    * [[graphLabelPropagation]] (which adds community sizes) and
    * [[graphModularity]] (which would otherwise pay the whole co-order
    * pair build a second time just to rebuild the same edges). */
  /** Louvain-style community detection (first-phase modularity ascent)
    * over the co-order graph — the QUALITY community detector next to
    * [[graphLabelPropagation]]'s frequency heuristic: each round every
    * node evaluates the modularity GAIN of joining each neighboring
    * community — ΔQ(v→c) = k_vc/m − deg_v·(tot_c − [c = c_v]·deg_v)/(2m²),
    * the standard local-move objective with v's own degree removed from
    * its current community's total — and adopts the best (grid-snapped
    * to 1e-12, ties to the LOWEST community id, staying always a
    * candidate via a zero-link row so a singleton scores exactly 0).
    *
    * Parallel synchronous moves can oscillate (two nodes swapping
    * communities each round, the classic distributed-Louvain failure);
    * the standard mitigation applied here is ALTERNATION — a round only
    * moves nodes whose id parity matches the round parity, so the two
    * endpoints of any odd-id/even-id pair never move simultaneously and
    * the fixpoint behavior is deterministic. Four rounds per phase, and
    * the algorithm is the full TWO-PHASE Louvain: after the local moves
    * converge, communities contract to a weighted supergraph (see
    * [[louvainComm]]) and the same loop reruns there, merging whole
    * communities — measured Q 0.193 → 0.248 at sf0.01 over the
    * single-phase form.
    *
    * Scale: per round — one community-total aggregate (keyed on c), one
    * neighbor-community count (keyed on (src, c)), two broadcast-or-hash
    * equi joins, one min_by groupBy; everything shuffles on node or
    * community ids, labels never broadcast, localCheckpoint per round
    * with eager free (the pagerank convention). m is one driver long.
    * Oracle-exempt (iterative fixpoint); Round9bSpec pins determinism
    * and that the ascent beats LPA's modularity on the fixtures. */
  def graphLouvain(s: SparkSession, d: String): DataFrame = {
    val (e, comm) = louvainComm(s, d)
    val withC = e
      .join(comm.select(col("p").as("p1"), col("c").as("c1")), Seq("p1"))
      .join(comm.select(col("p").as("p2"), col("c").as("c2")), Seq("p2"))
    val internal = withC.where(col("c1") === col("c2"))
      .groupBy(col("c1").as("community"))
      .agg(count(lit(1)).as("n_internal"))
    comm.groupBy(col("c").as("community"))
      .agg(count(lit(1)).as("n_nodes"))
      .join(internal, Seq("community"), "left")
      .select(col("community"), col("n_nodes"),
        coalesce(col("n_internal"), lit(0L)).as("n_internal"))
      .orderBy(col("n_nodes").desc, col("community"))
  }

  /** The move loop; returns (cnt≥2 edge set, node→community). Shared by
    * the rollup above and the Round9bSpec modularity pins. */
  /** The weighted local-move loop shared by both Louvain phases:
    * `und` is the symmetric (src, dst, w) edge list WITHOUT self-loops,
    * `deg` the per-node weighted degree (self-loops counted twice —
    * they travel with the node, shifting every candidate's score
    * equally, so they contribute to deg but never to k_vc), `m` the
    * ORIGINAL total edge weight (fixed across phases, as Louvain
    * requires). */
  private def louvainMoves(
      und: DataFrame, deg: DataFrame, m: Double, rounds: Int): DataFrame = {
    def rddOf(df: DataFrame): Option[org.apache.spark.rdd.RDD[_]] =
      df.queryExecution.logical.collectFirst {
        case r: org.apache.spark.sql.execution.LogicalRDD => r.rdd
      }
    // comm carries (p, c, deg): deg is functional on p, so riding it in
    // the checkpointed frame eliminates TWO per-round equi joins (the
    // tot-side deg attach and scored's deg attach) — 8 joins saved per
    // louvain invocation at identical semantics (r12 wall-time pass)
    var comm = deg.select(col("src").as("p"), col("src").as("c"), col("deg"))
      .localCheckpoint()
    (1 to rounds).foreach { round =>
      val prev = rddOf(comm)
      val tot = comm.groupBy(col("c")).agg(sum(col("deg")).as("tot"))
      // weighted links from v to each neighboring community, PLUS the
      // zero-link stay row (max() dedups it against a real in-community
      // sum — weights are ≥ 1, so max ≡ the real sum when one exists)
      val links = und
        .join(comm.select(col("p").as("dst"), col("c").as("c2")), Seq("dst"))
        .groupBy(col("src"), col("c2")).agg(sum(col("w")).as("k"))
        .unionByName(comm.select(col("p").as("src"), col("c").as("c2"),
          lit(0L).as("k")))
        .groupBy(col("src"), col("c2")).agg(max(col("k")).as("k"))
      val scored = links
        .join(comm.select(col("p").as("src"), col("c").as("cur"),
          col("deg")), Seq("src"))
        .join(tot.withColumnRenamed("c", "c2"), Seq("c2"))
        .select(col("src"), col("c2"), col("cur"), col("deg"),
          floor((col("k").cast("double") / lit(m) -
            col("deg").cast("double") *
              (col("tot") - when(col("c2") === col("cur"), col("deg"))
                .otherwise(lit(0L))).cast("double") /
              (lit(2.0) * lit(m) * lit(m))) * 1e12 + 0.5)
            .cast("long").as("gain"))
      val chosen = scored
        .groupBy(col("src"), col("cur"), col("deg"))
        .agg(min_by(col("c2"), struct((-col("gain")).as("ng"), col("c2")))
          .as("best"))
      comm = chosen
        .select(col("src").as("p"),
          when(pmod(col("src") + lit(round.toLong), lit(2L)) === 0,
            col("best")).otherwise(col("cur")).as("c"),
          col("deg"))
        .localCheckpoint()
      prev.foreach(_.unpersist(blocking = false))
    }
    comm.select(col("p"), col("c"))
  }

  private[graft] def louvainComm(
      s: SparkSession, d: String): (DataFrame, DataFrame) = coLoopStatic(s, d) {
    // static narrow compile (r16, graft.LoopConf): the two 4-round move
    // phases ran ~99 AQE stage-materialization driver jobs over
    // edge-count-sized frames; compiled statically at the data-derived
    // width the whole invocation is a handful of jobs. Results are
    // width-free (min_by on a total order; integer gains) — the
    // Round9bSpec determinism/modularity pins run unchanged.
    val e = coEdges(s, d)
      .localCheckpoint()
    // the fixed frames below checkpoint LAZILY (r15): each still
    // truncates lineage and stores exactly once — the first loop round
    // (or m's count, for e) forces it — without paying a dedicated
    // driver job per frame up front
    val und1 = e.select(col("p1").as("src"), col("p2").as("dst"), lit(1L).as("w"))
      .union(e.select(col("p2").as("src"), col("p1").as("dst"), lit(1L).as("w")))
      .localCheckpoint(eager = false)
    val deg1 = und1.groupBy(col("src")).agg(sum(col("w")).as("deg"))
      .localCheckpoint(eager = false)
    val m = e.count().toDouble
    // phase 1: local moves on the original graph
    val comm1 = louvainMoves(und1, deg1, m, rounds = 4)
    // phase 2 (the coarsening that makes Louvain LOUVAIN): contract each
    // community to a supernode — inter-community edge weights sum,
    // intra-community weight becomes the supernode's self-loop (counted
    // twice in its degree, never a move candidate) — and rerun the SAME
    // move loop on the supergraph against the ORIGINAL m. This merges
    // whole communities, the moves phase 1 cannot express node-by-node
    // under the parity gate.
    val superE = e
      .join(comm1.select(col("p").as("p1"), col("c").as("c1")), Seq("p1"))
      .join(comm1.select(col("p").as("p2"), col("c").as("c2")), Seq("p2"))
      .select(least(col("c1"), col("c2")).as("a"),
        greatest(col("c1"), col("c2")).as("b"))
      .groupBy(col("a"), col("b")).agg(count(lit(1)).as("w"))
      .localCheckpoint(eager = false)
    val selfW = superE.where(col("a") === col("b"))
      .select(col("a").as("src"), col("w").as("selfw"))
    val undS = superE.where(col("a") =!= col("b"))
    val und2 = undS.select(col("a").as("src"), col("b").as("dst"), col("w"))
      .union(undS.select(col("b").as("src"), col("a").as("dst"), col("w")))
      .localCheckpoint(eager = false)
    val deg2 = und2.groupBy(col("src")).agg(sum(col("w")).as("ext"))
      .join(selfW, Seq("src"), "full_outer")
      .select(col("src"),
        (coalesce(col("ext"), lit(0L)) +
          lit(2L) * coalesce(col("selfw"), lit(0L))).as("deg"))
      .localCheckpoint(eager = false)
    val comm2 = louvainMoves(und2, deg2, m, rounds = 4)
    // unfold: original node → phase-1 community → phase-2 community
    val commFinal = comm1
      .join(comm2.select(col("p").as("c"), col("c").as("c2")), Seq("c"), "left")
      .select(col("p"), coalesce(col("c2"), col("c")).as("c"))
      .localCheckpoint()
    (e, commFinal)
  }

  /** Final-partition modularity for ANY node→community assignment over
    * the cnt≥2 co-order graph — shared by the Louvain spec pins. */
  private[graft] def modularityOf(e: DataFrame, comm: DataFrame): Double = {
    val withL = e
      .join(comm.select(col("p").as("p1"), col("c").as("l1")), Seq("p1"))
      .join(comm.select(col("p").as("p2"), col("c").as("l2")), Seq("p2"))
      .persist()
    val row = withL.agg(
      count(lit(1)).as("m"),
      sum(when(col("l1") === col("l2"), 1L).otherwise(0L)).as("w"))
      .crossJoin(broadcast(
        withL.select(col("l1").as("l")).union(withL.select(col("l2").as("l")))
          .groupBy(col("l")).agg(count(lit(1)).as("tot"))
          .agg(sum(col("tot") * col("tot")).as("t2"))))
      .select(
        (col("w").cast("double") / col("m").cast("double") -
          col("t2").cast("double") /
            (lit(4.0) * col("m").cast("double") * col("m").cast("double")))
          .as("q"))
      .head()
    withL.unpersist()
    row.getDouble(0)
  }

  private def lpaLabels(e: DataFrame): DataFrame = {
    def rddOf(df: DataFrame): Option[org.apache.spark.rdd.RDD[_]] =
      df.queryExecution.logical.collectFirst {
        case r: org.apache.spark.sql.execution.LogicalRDD => r.rdd
      }
    val und = e.select(col("p1").as("src"), col("p2").as("dst"))
      .union(e.select(col("p2").as("src"), col("p1").as("dst")))
      .localCheckpoint()
    var labels = und.select(col("src").as("p")).distinct()
      .withColumn("label", col("p"))
      .localCheckpoint()
    (1 to 4).foreach { _ =>
      val prev = rddOf(labels)
      labels = und
        .join(labels.select(col("p").as("dst"), col("label")), Seq("dst"))
        .groupBy(col("src"), col("label")).agg(count(lit(1)).as("n"))
        .groupBy(col("src"))
        .agg(min_by(col("label"),
          struct((-col("n")).as("nn"), col("label"))).as("label"))
        .select(col("src").as("p"), col("label"))
        .localCheckpoint()
      prev.foreach(_.unpersist(blocking = false))
    }
    labels
  }

  /** Multi-source BFS over the co-order part graph: hop distance from the
    * seed set (nodes with p % 50 == 0 — a deterministic, collect-free
    * seed rule) to every node reachable within 12 hops. The frontier
    * loop is the canonical distributed BFS: each round expands the
    * current frontier one hop (equi join on src), drops already-visited
    * nodes (shuffled anti join — the visited set is NEVER broadcast or
    * collected, so |V| scales past driver memory), and a node's FIRST
    * discovery level is its exact shortest-hop distance (level-synchronous
    * expansion). The 12-hop cap is part of the semantics on BOTH engines
    * (the oracle's recursive CTE carries the same bound), so results
    * match even on graphs with a larger diameter.
    *
    * Scale: per round one join keyed by src + one distinct + one anti
    * join, all shuffles on node id; frontier size is bounded by the
    * graph's expansion, rounds by the cap. localCheckpoint per round
    * truncates the growing lineage (graphKcore's eager-free convention). */
  def graphBfsFrontier(s: SparkSession, d: String): DataFrame =
    coLoopStatic(s, d) {
    val maxHops = 12
    def rddOf(df: DataFrame): Option[org.apache.spark.rdd.RDD[_]] =
      df.queryExecution.logical.collectFirst {
        case r: org.apache.spark.sql.execution.LogicalRDD => r.rdd
      }
    val e = coEdges(s, d)
    val und = e.select(col("p1").as("src"), col("p2").as("dst"))
      .union(e.select(col("p2").as("src"), col("p1").as("dst")))
      .localCheckpoint()
    var visited = und.select(col("src").as("p")).distinct()
      .where(col("p") % 50 === 0)
      .withColumn("dist", lit(0))
      .localCheckpoint()
    var frontier = visited
    var pendingFree = List.empty[org.apache.spark.rdd.RDD[_]]
    var hop = 0
    while (hop < maxHops && !frontier.isEmpty) {
      hop += 1
      val next = frontier.select(col("p").as("src"))
        .join(und, Seq("src"))
        .select(col("dst").as("p")).distinct()
        .join(visited.select(col("p")), Seq("p"), "left_anti")
        .withColumn("dist", lit(hop))
        .localCheckpoint()
      pendingFree = pendingFree ++ rddOf(visited) ++ rddOf(frontier)
      visited = visited.union(next).localCheckpoint()
      pendingFree.foreach(_.unpersist(blocking = false))
      pendingFree = Nil
      frontier = next
    }
    visited.orderBy(col("p"))
    }

  /** Neighborhood function of the co-order graph — the HyperANF/ANF
    * shape (Palmer et al. 2002; Boldi et al. 2011): N(t) = Σ_v
    * |ball(v, t)|, the number of node pairs within distance t, for
    * t = 0..4, plus each horizon's fraction of the t=4 total and the
    * effective-diameter flag (smallest t covering ≥ 90% of the
    * horizon's reachable pairs). This is THE statistic that sizes a
    * graph's reach ("how many hops until dedup clusters / link
    * neighborhoods saturate?") without ever materializing pairwise
    * distances.
    *
    * Implementation is the ANF register iteration done EXACTLY: each
    * node's ball is a sparse bitset — (node, word, bits) rows, only
    * nonzero 64-bit words — initialized to the node's own bit;
    * each round every edge forwards the source ball and the union is
    * one `bit_or` groupBy on (node, word): partial-aggregable, the
    * map-side combiner collapses duplicate words before the shuffle.
    * |ball| = Σ bit_count(word), so N(t) is one aggregate over the
    * ball table; the loop early-exits when N(t) stops growing (balls
    * saturated). Rounds cost ONE job each (the N(t) aggregate is the
    * materialization); superseded checkpoints free one round late
    * (pagerank's convention).
    *
    * Scale: the exact-bitset ball table is Θ(reachable pairs)/64 words
    * — right up to ~10⁶-node graphs (a 20k-node fixture ball table
    * saturates at 6M longs); past that the production swap is the
    * HyperANF one: replace the word bitsets with fixed-width HLL
    * register arrays and `bit_or` with positionwise register-max —
    * the relational shape (edge-forward + keyed merge aggregate) is
    * IDENTICAL, which is the point of building it relationally.
    * Oracle-exempt (iterative fixpoint); Round11cSpec pins exact
    * parity with a driver-side BFS recompute plus the path-graph
    * analytic form. */
  def graphNeighborhood(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val maxT = 4
    val e = coEdges(s, d)
    val und = e.select(col("p1").as("src"), col("p2").as("dst"))
      .union(e.select(col("p2").as("src"), col("p1").as("dst")))
    val counts = coLoopStatic(s, d) { neighborhoodCounts(und, maxT) }
    val horizon = counts.last.toDouble
    val nv = counts.head
    // pad early-exit rounds: a saturated ball stays saturated
    val full = (0 to maxT).map(i => counts(math.min(i, counts.size - 1)))
    val effT = full.indexWhere(_ >= 0.9 * horizon)
    full.zipWithIndex.map { case (np, i) =>
      (i, np, math.floor(np.toDouble / nv * 1e6) / 1e6,
        math.floor(np / horizon * 1e6) / 1e6, if (i == effT) 1 else 0)
    }.toDF("t", "reachable_pairs", "avg_ball", "frac_of_horizon",
      "is_effective_diameter")
  }

  /** HyperANF proper — [[graphNeighborhood]]'s documented 100 TB swap
    * made real: per node a fixed 64-register HLL sketch instead of the
    * exact bitset, so state is Θ(|V|·64) rows at ANY graph size
    * (vs Θ(reachable pairs)/64 for the exact form), and the merge is
    * positionwise register-max under the IDENTICAL edge-forward +
    * keyed-merge relational shape. Registers derive from the engine's
    * xxhash64 (reg = low 6 bits, rho = leading-zero rank of the rest
    * via length(bin(..)) — exact integer arithmetic); per-node
    * estimates use the standard HLL estimator (α₆₄·m²/Z with the
    * small-range linear-counting branch), with Z accumulated as an
    * EXACT decimal of 2^(58−rho) integers and the per-node estimate
    * snapped to the 1e-6 grid before the corpus sum — bit-deterministic
    * under any partitioning despite being an approximation.
    * Oracle-exempt; Round11cSpec pins the estimate within ±25% of the
    * exact bitset N(t) on the fixture graph and on the star graph,
    * plus near-monotonicity. */
  def graphNeighborhoodHll(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val maxT = 4
    val e = coEdges(s, d)
    val und = e.select(col("p1").as("src"), col("p2").as("dst"))
      .union(e.select(col("p2").as("src"), col("p1").as("dst")))
    val ests = coLoopStatic(s, d) { neighborhoodHllEst(und, maxT) }
    val full = (0 to maxT).map(i => ests(math.min(i, ests.size - 1)))
    val horizon = full.last
    full.zipWithIndex.map { case (np, i) =>
      (i, np, math.floor(np / horizon * 1e6) / 1e6)
    }.toDF("t", "est_reachable_pairs", "est_frac_of_horizon")
  }

  /** The register iteration behind [[graphNeighborhoodHll]]: returns
    * the estimated N(0..T), early-exiting once the register table
    * reaches its fixpoint (max-merge is monotone). One job per round:
    * the estimate aggregate materializes the next register table. */
  private[graft] def neighborhoodHllEst(undirected: DataFrame, maxT: Int): Vector[Double] = {
    def rddOf(df: DataFrame): Option[org.apache.spark.rdd.RDD[_]] =
      df.queryExecution.logical.collectFirst {
        case r: org.apache.spark.sql.execution.LogicalRDD => r.rdd
      }
    val und = undirected.localCheckpoint()
    // self-insert: reg = low 6 hash bits; rho = 59 − bit-length of the
    // remaining 58 bits (= leading-zero rank + 1), all exact integers
    var sk = und.select(col("src").as("node")).distinct()
      .select(col("node"),
        xxhash64(col("node")).bitwiseAND(lit(63L)).cast("int").as("reg"),
        expr("cast(case when shiftrightunsigned(xxhash64(node), 6) = 0 then 59 " +
          "else 59 - length(bin(shiftrightunsigned(xxhash64(node), 6))) end as int)")
          .as("mw"))
      .localCheckpoint()
    val alpha = 0.709 // α₆₄
    // (est, register-mass fingerprint) in ONE aggregate; 2^(58−rho)
    // sums ride an exact DECIMAL so no double ever accumulates
    def estOf(skDf: DataFrame): (Double, (Long, java.math.BigDecimal)) = {
      val perNode = skDf.groupBy(col("node"))
        .agg(
          sum(expr("cast(shiftleft(1L, 58 - mw) as decimal(30,0))")).as("zs"),
          count(lit(1)).as("pres"))
      val scale = math.pow(2.0, 58)
      val zTot = (col("zs") + (lit(64) - col("pres")).cast("decimal(30,0)") *
        lit(new java.math.BigDecimal(java.math.BigInteger.ONE.shiftLeft(58))))
        .cast("decimal(38,0)")
      val v = lit(64) - col("pres") // zero registers
      val raw = lit(alpha * 64.0 * 64.0 * scale) / zTot.cast("double")
      val eNode = when(raw <= 2.5 * 64 && v > 0,
        lit(64.0) * log(lit(64.0) / v.cast("double"))).otherwise(raw)
      val row = perNode.agg(
        sum(floor(eNode * 1e6).cast("bigint")).as("est"),
        sum(col("pres")).as("rows"),
        sum(col("zs")).as("mass")).head()
      (row.getAs[Long]("est").toDouble / 1e6,
        (row.getAs[Long]("rows"), row.getAs[java.math.BigDecimal]("mass")))
    }
    var (e0, fp0) = estOf(sk)
    var ests = Vector(e0)
    var fp = fp0
    var prevRdd: Option[org.apache.spark.rdd.RDD[_]] = None
    var t = 0
    var saturated = false
    while (t < maxT && !saturated) {
      t += 1
      val recv = und
        .join(sk.withColumnRenamed("node", "src"), Seq("src"))
        .select(col("dst").as("node"), col("reg"), col("mw"))
      val next = sk.union(recv)
        .groupBy(col("node"), col("reg"))
        .agg(max(col("mw")).as("mw"))
        .localCheckpoint()
      val (e1, fp1) = estOf(next)
      prevRdd.foreach(_.unpersist(false))
      prevRdd = rddOf(sk)
      sk = next
      saturated = fp1 == fp
      fp = fp1
      ests = ests :+ e1
    }
    prevRdd.foreach(_.unpersist(false))
    rddOf(sk).foreach(_.unpersist(false))
    rddOf(und).foreach(_.unpersist(false))
    ests
  }

  /** The ANF register iteration over any undirected edge frame
    * (src, dst) — returns N(0..T) where N(t) = node pairs within
    * distance t, early-exiting (and therefore possibly shorter than
    * T+1) once the balls saturate. Factored out so the spec drives it
    * over synthetic graphs with analytic neighborhood functions. */
  private[graft] def neighborhoodCounts(undirected: DataFrame, maxT: Int): Vector[Long] = {
    def rddOf(df: DataFrame): Option[org.apache.spark.rdd.RDD[_]] =
      df.queryExecution.logical.collectFirst {
        case r: org.apache.spark.sql.execution.LogicalRDD => r.rdd
      }
    val und = undirected.localCheckpoint()
    var ball = und.select(col("src").as("node")).distinct()
      .select(col("node"),
        floor(col("node") / 64).cast("bigint").as("word"),
        expr("shiftleft(1L, cast(node % 64 as int))").as("bits"))
      .localCheckpoint()
    def pairsOf(b: DataFrame): Long =
      b.agg(sum(expr("bit_count(bits)"))).head().getLong(0)
    var counts = Vector(pairsOf(ball)) // N(0) = |V|
    var prevRdd: Option[org.apache.spark.rdd.RDD[_]] = None
    var t = 0
    var saturated = false
    while (t < maxT && !saturated) {
      t += 1
      val recv = und
        .join(ball.withColumnRenamed("node", "src"), Seq("src"))
        .select(col("dst").as("node"), col("word"), col("bits"))
      val next = ball.union(recv)
        .groupBy(col("node"), col("word"))
        .agg(expr("bit_or(bits)").as("bits"))
        .localCheckpoint()
      val n = pairsOf(next) // the one job that also materializes `next`
      prevRdd.foreach(_.unpersist(false))
      prevRdd = rddOf(ball)
      ball = next
      saturated = n == counts.last
      counts = counts :+ n
    }
    prevRdd.foreach(_.unpersist(false))
    rddOf(ball).foreach(_.unpersist(false))
    rddOf(und).foreach(_.unpersist(false))
    counts
  }

  /** Per-language skewness + excess kurtosis of document length, computed
    * from EXACT integer power sums (Σx..Σx⁴ as BIGINT — n_chars ≤ ~600,
    * so Σx⁴ < 2⁶³ by orders of magnitude). The double-valued moment
    * formulas then run on identical integers in any engine, written in the
    * same order as the oracle twin, so the 4-dp round never straddles.
    * (Engine-native skewness()/kurtosis() are NOT oracle-safe: Spark uses
    * population moments, DuckDB sample-adjusted ones.)
    *
    * Scale: one partial-aggregable groupBy — four integer sums collapse
    * map-side; the moment algebra is per-group scalar math. */
  def aggSkewKurt(s: SparkSession, d: String): DataFrame = {
    val x = col("n_chars")
    val grouped = Tables.documents(s, d)
      .groupBy(col("lang"))
      .agg(count(lit(1)).as("n"),
        sum(x).as("s1"), sum(x * x).as("s2"),
        sum(x * x * x).as("s3"), sum(x * x * x * x).as("s4"))
    val n = col("n").cast("double")
    val mu = col("s1").cast("double") / n
    val m2 = col("s2").cast("double") / n - mu * mu
    val m3 = col("s3").cast("double") / n -
      lit(3.0) * mu * (col("s2").cast("double") / n) +
      lit(2.0) * mu * mu * mu
    val m4 = col("s4").cast("double") / n -
      lit(4.0) * mu * (col("s3").cast("double") / n) +
      lit(6.0) * mu * mu * (col("s2").cast("double") / n) -
      lit(3.0) * mu * mu * mu * mu
    grouped.select(col("lang"), col("n"),
        round(m3 / sqrt(m2 * m2 * m2), 4).as("skew"),
        round(m4 / (m2 * m2) - lit(3.0), 4).as("kurt"))
      .orderBy(col("lang"))
  }

  /** Per-returnflag Pearson correlation + sample covariance between
    * quantity and price, from EXACT integer sums: quantity is integer-
    * valued and price snaps to cents via floor(x·100+0.5) (stored doubles
    * are identical in both engines, so the snapped integers are too). The
    * squared-cents sum needs 128-bit headroom (Σy² ≈ 1e14/row) — Spark
    * sums DECIMAL(38,0), DuckDB's BIGINT sum widens to HUGEINT natively —
    * then one exact-integer→double cast per sum feeds the textbook
    * formula, spelled identically in the twin. (Engine-native corr() is
    * NOT oracle-safe: co-moment accumulation order differs.)
    *
    * Scale: one partial-aggregable groupBy on a 3-value key; the decimal
    * sums combine map-side, so the exchange carries 6 numbers per flag.
    * Group count is tiny here, but the same shape holds for any key —
    * sums are associative whatever the cardinality. */
  def aggCorrExact(s: SparkSession, d: String): DataFrame = {
    val x = col("l_quantity").cast("long")
    val y = floor(col("l_extendedprice") * 100 + 0.5).cast("long")
    val dec = (c: org.apache.spark.sql.Column) => c.cast("decimal(38,0)")
    val g = Tables.lineitem(s, d)
      .select(col("l_returnflag"), x.as("x"), y.as("y"))
      .groupBy(col("l_returnflag"))
      .agg(count(lit(1)).as("n"),
        sum(dec(col("x"))).as("sx"), sum(dec(col("y"))).as("sy"),
        sum(dec(col("x") * col("x"))).as("sx2"),
        sum(dec(col("y") * col("y"))).as("sy2"),
        sum(dec(col("x") * col("y"))).as("sxy"))
    val n = col("n").cast("double")
    val (sx, sy) = (col("sx").cast("double"), col("sy").cast("double"))
    val (sx2, sy2, sxy) =
      (col("sx2").cast("double"), col("sy2").cast("double"),
        col("sxy").cast("double"))
    g.select(col("l_returnflag"), col("n"),
        round((n * sxy - sx * sy) /
          sqrt((n * sx2 - sx * sx) * (n * sy2 - sy * sy)), 6).as("corr_qp"),
        round((n * sxy - sx * sy) / (n * (n - lit(1.0))), 4).as("covar_qp"))
      .orderBy(col("l_returnflag"))
  }

  /** Data-quality profile of the events feed — the validation pass every
    * ingest runs before training reads the data: null/blank counts, range
    * violations, duplicate keys, and referential orphans (lineitems whose
    * order is missing), as ONE summary row.
    *
    * Scale: the column checks are a single partial-aggregable global agg
    * (one scan, a handful of counters per partition); the FK check is a
    * broadcast-able anti-join ON KEYS ONLY (both sides pre-projected to
    * the key column), so no payload ever shuffles. */
  def dqProfile(s: SparkSession, d: String): DataFrame =
    dqProfileFrom(events(s, d), Tables.lineitem(s, d), Tables.orders(s, d))

  /** DQ counters via the Observation API — [[dqProfile]]'s column checks
    * collected as a SIDE EFFECT of a pass the pipeline already makes,
    * which is how production jobs get ingest metrics without paying a
    * second scan: `observe` attaches accumulator-backed aggregates to
    * the plan, the action drives them, and the metrics row comes back on
    * the driver for free. The noop sink stands in for "whatever the
    * pipeline was writing anyway". Same-named SQL aggregates gate the
    * values against DuckDB. */
  def dqObserveMetrics(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val obs = org.apache.spark.sql.Observation()
    events(s, d).observe(obs,
      count(lit(1)).as("n_rows"),
      sum(floor(col("value") * 100 + 0.5).cast("long")).as("sum_cents"),
      min(col("event_id")).as("min_event_id"),
      max(col("event_id")).as("max_event_id"),
      sum(when(col("props").isNull, 1L).otherwise(0L)).as("n_null_props"))
      .write.format("noop").mode("overwrite").save()
    val m = obs.get
    Seq((
      m("n_rows").asInstanceOf[Long],
      m("sum_cents").asInstanceOf[Long].toDouble / 100.0,
      m("min_event_id").asInstanceOf[Long],
      m("max_event_id").asInstanceOf[Long],
      m("n_null_props").asInstanceOf[Long]))
      .toDF("n_rows", "sum_value", "min_event_id", "max_event_id",
        "n_null_props")
  }

  /** Frame-parameterized kernel: the fixture data is CLEAN (all violation
    * counters 0 at every sf — verified), so DqSpec proves detection by
    * injecting dirty rows here; the gated query proves the clean-path
    * hash. */
  private[graft] def dqProfileFrom(
      ev: DataFrame, li: DataFrame, ord: DataFrame): DataFrame = {
    val colChecks = ev.agg(
      count(lit(1)).as("n_rows"),
      sum(when(col("value").isNull, 1L).otherwise(0L)).as("null_value"),
      sum(when(col("event_type").isNull || col("event_type") === "", 1L)
        .otherwise(0L)).as("blank_type"),
      sum(when(col("value") < 0, 1L).otherwise(0L)).as("neg_value"),
      (count(lit(1)) - countDistinct(col("event_id"))).as("dup_event_ids"))
    val orphans = li.select(col("l_orderkey"))
      .join(ord.select(col("o_orderkey")),
        col("l_orderkey") === col("o_orderkey"), "left_anti")
      .agg(count(lit(1)).as("fk_orphans"))
    colChecks.crossJoin(orphans)
  }

  /** First-order Markov transition matrix over event types: for each
    * (current, next) adjacent pair in a user's (ts, event_id)-ordered
    * stream, the transition count and P(next | current) — the behavioral
    * sequence model product analytics fits (and the bigram-LM shape,
    * applied to events instead of tokens). Counts are exact integers; one
    * divide; µs-total-order shared with the oracle.
    *
    * Scale: lead() rides one user_id exchange; the (cur, nxt) count is a
    * partial-aggregable groupBy on a bounded key space (|types|²); the
    * row-count denominator rides a window over the tiny counted table. */
  def seqTransitionMatrix(s: SparkSession, d: String): DataFrame = {
    val w = Window.partitionBy(col("user_id"))
      .orderBy(col("ts"), col("event_id"))
    val pairs = events(s, d)
      .select(col("user_id"), col("ts"), col("event_id"),
        col("event_type").as("cur"))
      .withColumn("nxt", lead(col("cur"), 1).over(w))
      .where(col("nxt").isNotNull)
    val counts = pairs.groupBy(col("cur"), col("nxt"))
      .agg(count(lit(1)).as("n_ab"))
    counts
      .withColumn("n_a", sum(col("n_ab")).over(Window.partitionBy(col("cur"))))
      .select(col("cur"), col("nxt"), col("n_ab"),
        round(col("n_ab").cast("double") / col("n_a").cast("double"), 6)
          .as("prob"))
      .orderBy(col("cur"), col("nxt"))
  }

  /** Top-20 session paths: the first 5 event types of every 30-min-gap
    * session concatenated into a path string, ranked by frequency — the
    * sequence-mining view of user behavior (what funnels can't show:
    * which ORDERS actually happen). The per-rank pivot (max-when over
    * rn ≤ 5) is deterministic; concat_ws skips the NULL tail identically
    * in both engines.
    *
    * Scale: sessionization + rank ride the shared user_id exchange
    * (Streaming.withSessionIdx); the path agg shuffles one short string
    * per session; top-20 is TakeOrderedAndProject. */
  def seqSessionPaths(s: SparkSession, d: String): DataFrame = {
    val w = Window.partitionBy(col("user_id"), col("session_idx"))
      .orderBy(col("ts"), col("event_id"))
    val ranked = Streaming.withSessionIdx(events(s, d), 1800)
      .withColumn("rn", row_number().over(w))
      .where(col("rn") <= 5)
    val paths = ranked
      .groupBy(col("user_id"), col("session_idx"))
      .agg(concat_ws(">",
        (1 to 5).map(k => max(when(col("rn") === k, col("event_type")))): _*)
        .as("path"))
    paths.groupBy(col("path")).agg(count(lit(1)).as("n_sessions"))
      .orderBy(col("n_sessions").desc, col("path"))
      .limit(20)
  }

  /** Per-user min-max normalization of event values to [0, 1] — the
    * feature-scaling pass before behavioral features feed a model.
    * min/max are order-insensitive (no FP accumulation at all), and the
    * normalize is two IEEE ops on identical inputs — the whole operator
    * is bit-portable by construction. Constant-valued users (max == min:
    * normalization undefined) are excluded.
    *
    * Scale: two whole-partition window aggregates on ONE user_id
    * exchange; high-cardinality key, no groupBy+join back. */
  /** Audience overlap between event-type segments: for each type pair,
    * the distinct-user intersection |A ∩ B|, both segment sizes, and the
    * overlap coefficient |A∩B| / min(|A|,|B|) — the segment-similarity
    * readout audience tooling reports (Szymkiewicz–Simpson, not Jaccard:
    * a niche segment nested inside a broad one should score 1). Exact
    * integer counts, one divide on rounded output.
    *
    * Scale: the raw stream collapses FIRST to distinct (user, type) —
    * one partial-aggregable shuffle bounded by users × types; pair
    * generation rides the bounded collect_set kernel (fan-out ≤ |types|
    * per user, never a self-join of the event stream); segment sizes are
    * a tiny broadcast. */
  def analyticsAudienceOverlap(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val ut = events(s, d)
      .select(col("user_id"), col("event_type")).distinct()
    val sizes = ut.groupBy(col("event_type")).agg(count(lit(1)).as("n"))
    val pairs = ut
      .groupBy(col("user_id")).agg(collect_set(col("event_type")).as("ts"))
      .select(col("ts")).as[Seq[String]]
      .flatMap { ts0 =>
        val ts = ts0.toArray.sorted
        for {
          i <- ts.indices.iterator
          j <- (i + 1 until ts.length).iterator
        } yield (ts(i), ts(j))
      }
      .toDF("type_a", "type_b")
      .groupBy(col("type_a"), col("type_b"))
      .agg(count(lit(1)).as("n_both"))
    pairs
      .join(broadcast(sizes.select(col("event_type").as("type_a"),
        col("n").as("n_a"))), Seq("type_a"))
      .join(broadcast(sizes.select(col("event_type").as("type_b"),
        col("n").as("n_b"))), Seq("type_b"))
      .select(col("type_a"), col("type_b"), col("n_a"), col("n_b"),
        col("n_both"),
        round(col("n_both").cast("double") /
          least(col("n_a"), col("n_b")).cast("double"), 6).as("overlap"))
      .orderBy(col("type_a"), col("type_b"))
  }

  /** A/B lift report — the experimentation readout every feed pipeline
    * ends in: users split into two arms by a deterministic id rule
    * (user_id parity stands in for the production bucket hash — the
    * assignment just has to be a pure function of the id on both
    * engines), conversion per event_type = "user did ≥15 such events"
    * (engagement-depth conversion — the ≥1 form is saturated in these
    * fixtures, every user touches every type), then per metric the arm
    * rates, absolute lift, and the two-proportion z statistic (pooled
    * p̂, identical operand order both engines; every input to the double
    * math is an exact integer count, so the formula is bit-deterministic
    * through sqrt).
    *
    * Scale: two partial-aggregable aggregates (distinct users; per
    * user×type counts) keyed by user — one shuffle each; the population
    * row is a one-row broadcast (whitelisted scalar-fold BNLJ). Output
    * is |event_types| rows. */
  def abTestLift(s: SparkSession, d: String): DataFrame = {
    val ev = Tables.events(s, d).select(col("user_id"), col("event_type"))
    val pop = ev.select(col("user_id")).distinct()
      .select((col("user_id") % 2).as("arm"))
      .agg(
        sum(when(col("arm") === 0, 1L).otherwise(0L)).as("n_a"),
        sum(when(col("arm") === 1, 1L).otherwise(0L)).as("n_b"))
    val conv = ev
      .groupBy(col("event_type"), col("user_id"))
      .agg(count(lit(1)).as("n_ev"))
      .where(col("n_ev") >= 15)
      .select(col("event_type"), (col("user_id") % 2).as("arm"))
      .groupBy(col("event_type"))
      .agg(
        sum(when(col("arm") === 0, 1L).otherwise(0L)).as("conv_a"),
        sum(when(col("arm") === 1, 1L).otherwise(0L)).as("conv_b"))
    val rateA = col("conv_a").cast("double") / col("n_a").cast("double")
    val rateB = col("conv_b").cast("double") / col("n_b").cast("double")
    val pHat = (col("conv_a") + col("conv_b")).cast("double") /
      (col("n_a") + col("n_b")).cast("double")
    val se = sqrt(pHat * (lit(1.0) - pHat) *
      (lit(1.0) / col("n_a").cast("double") +
        lit(1.0) / col("n_b").cast("double")))
    conv.crossJoin(broadcast(pop))
      .select(
        col("event_type"), col("n_a"), col("n_b"),
        col("conv_a"), col("conv_b"),
        round(rateA, 6).as("rate_a"),
        round(rateB, 6).as("rate_b"),
        round(rateB - rateA, 6).as("lift"),
        when(se === 0.0, 0.0)
          .otherwise(round((rateB - rateA) / se, 6)).as("z"))
      .orderBy(col("event_type"))
  }

  def featureMinmaxNorm(s: SparkSession, d: String): DataFrame = {
    val w = Window.partitionBy(col("user_id"))
    events(s, d)
      .select(col("event_id"), col("user_id"), col("value"))
      .withColumn("vmin", min(col("value")).over(w))
      .withColumn("vmax", max(col("value")).over(w))
      .where(col("vmax") > col("vmin"))
      .select(col("event_id"), col("user_id"),
        round((col("value") - col("vmin")) / (col("vmax") - col("vmin")), 4)
          .as("v_norm"))
      .orderBy(col("user_id"), col("event_id"))
  }

  /** HITS (hubs & authorities) power iteration over a directed edge set,
    * with the repo's bit-determinism recipe applied to an algorithm that
    * is normally float-order-dependent: scores live as LONG micro-units
    * (1e-6 grid), every per-node accumulation is an exact integer sum
    * (order-independent under any partitioning), the L2 norm squares sum
    * in DECIMAL(38,0) (h_raw ≤ 1e6·deg ⇒ h_raw² can pass 2^63 on hub
    * nodes; decimal keeps the reduction exact), and the re-projection
    * floor(raw·1e6/norm) is a deterministic function of those exact
    * inputs. Same engine-portability property as classifier IRLS /
    * HyperANF: a single-node replay reproduces the scores bit-for-bit.
    *
    * Scale shape = pagerank's: per half-round one join on the current
    * side's key + one keyed integer sum; the norm is a one-row broadcast
    * cross join (riding the same job, no extra action); each half-round
    * checkpoints so the next only ever reads materialized blocks. State
    * is two node-sized tables; edges pre-partitionable on either key.
    *
    * Oracle-exempt (iterative FP); Round11dSpec pins the distributed
    * loop against a driver-side replay of the SAME integer recipe on a
    * synthetic graph (exact equality), plus analytic star-graph values
    * and fixture norm/determinism invariants. */
  private[graft] def hits(edges: DataFrame, rounds: Int): DataFrame = {
    def pinnedRdd(df: DataFrame): Option[org.apache.spark.rdd.RDD[_]] =
      df.queryExecution.logical.collectFirst {
        case r: org.apache.spark.sql.execution.LogicalRDD => r.rdd
      }
    // STATIC NARROW LOOP COMPILE + keyed edge forms (r16, graft.LoopConf).
    // Under AQE, pre-partitioning the edge set measured 1.12× SLOWER
    // (AQE broadcasts the catalog-sized score side per half-round AND
    // Spark 4.1's localCheckpoint does not preserve outputPartitioning
    // through an adaptive plan — the coreness note); under the static
    // compile both properties hold, so the ALS r14 keyed-ratings move
    // works here: the edge list materializes once per join side,
    // partitioned AND sorted on its key, and each half-round streams it
    // with no exchange and no sort — only the catalog-sized score side
    // exchanges. Integer micro-unit sums keep scores bit-identical
    // under any width (the Round11dSpec replay pin).
    val s0 = edges.sparkSession
    // lazy + count (r17): the width count materializes the checkpoint in
    // its own job instead of paying a store job AND a re-read pass
    val e = edges.toDF("src", "dst").localCheckpoint(eager = false)
    val w0 = graft.LoopConf.width(e.count())
    graft.LoopConf.static(s0, w0) {
    val eByDst = e.repartition(w0, col("dst"))
      .sortWithinPartitions("dst").localCheckpoint(eager = false)
    val eBySrc = e.repartition(w0, col("src"))
      .sortWithinPartitions("src").localCheckpoint(eager = false)
    // distinct over eByDst's own partitioning key needs no new exchange
    val auths = eByDst.select(col("dst")).distinct()
    // scores in micro-units; init authorities uniform at 1.0 — the first
    // normalization rescales, so the starting constant only needs to be
    // identical everywhere
    var a = auths.select(col("dst"), lit(1000000L).as("am")).localCheckpoint()
    var h: DataFrame = null
    var lastA = a
    var lastH: DataFrame = null
    def renorm(raw: DataFrame, key: String, c: String): DataFrame = {
      // exact decimal sum of squares → one-row broadcast; floor projects
      // back onto the micro grid (norm > 0 whenever any score is > 0)
      // square in decimal: raw micro scores reach 1e6·deg, so a LONG
      // square overflows first on exactly the hub nodes that matter
      val n2 = raw.agg(sum(col(c).cast("decimal(18,0)") *
        col(c).cast("decimal(18,0)")).as("n2"))
      raw.crossJoin(broadcast(n2))
        .select(col(key),
          floor(col(c).cast("double") * lit(1e6) /
            sqrt(col("n2").cast("double"))).cast("long").as(c))
    }
    for (_ <- 0 until rounds) {
      // checkpoint h BEFORE deriving a from it: a's chain then reads the
      // materialized h blocks instead of replaying the h join — without
      // this the a-side checkpoint recomputes the h half-round a second
      // time (measured 1.7× on the fixture graph). The h checkpoint is
      // LAZY (r15): it still stores-once — the eager a-side job is the
      // first thing that computes it — so each round costs ONE driver
      // job instead of two at the same replay-free semantics (paired
      // A/B at sf0.1 measured neutral: the job saved is overlapped by
      // the a-job's longer chain at this scale; kept for the barrier
      // count, which is what a 1000-executor round pays).
      val hN = renorm(
        eByDst.join(a, "dst").groupBy(col("src")).agg(sum(col("am")).as("hm")),
        "src", "hm").localCheckpoint(eager = false)
      val aN = renorm(
        eBySrc.join(hN, "src").groupBy(col("dst")).agg(sum(col("hm")).as("am")),
        "dst", "am").localCheckpoint()
      if (lastH != null) pinnedRdd(lastH).foreach(_.unpersist(blocking = false))
      pinnedRdd(lastA).foreach(_.unpersist(blocking = false))
      lastH = hN; lastA = aN
      h = hN; a = aN
    }
    val out = h.select(lit("hub").as("kind"), col("src").as("id"),
        (col("hm").cast("double") / lit(1e6)).as("score"))
      .unionAll(a.select(lit("auth").as("kind"), col("dst").as("id"),
        (col("am").cast("double") / lit(1e6)).as("score")))
    Seq(e, eByDst, eBySrc)
      .foreach(df => pinnedRdd(df).foreach(_.unpersist(blocking = false)))
    out
    }
  }

  /** Random-walk corpus sampling over an undirected edge set — the
    * node2vec/DeepWalk data-generation primitive (the walks ARE the
    * training sentences of a graph-embedding pipeline) — with the
    * repo's no-RNG determinism recipe: the step-t choice of walk w at
    * node v is neighbor rank 1 + (xxhash64(v, t, w) mod deg(v)) against
    * the dst-sorted adjacency ranking, so the full walk set is a pure
    * function of (graph, seeds) — reproducible across runs, partitions,
    * and engines that share the hash.
    *
    * Scale: adjacency ranking + degrees stack on ONE src-keyed
    * exchange; each step is a broadcast join of the (tiny) frontier
    * against it that matches Σ deg(frontier) rows and keeps exactly one
    * per walk; frontiers localCheckpoint so step chains never deepen.
    * Walks are embarrassingly parallel — at 100 TB the frontier is
    * walk-count-sized, never graph-sized. */
  private[graft] def randomWalks(
      edges: DataFrame, seeds: DataFrame, walksPerSeed: Int,
      steps: Int): DataFrame = {
    def pinnedRdd(df: DataFrame): Option[org.apache.spark.rdd.RDD[_]] =
      df.queryExecution.logical.collectFirst {
        case r: org.apache.spark.sql.execution.LogicalRDD => r.rdd
      }
    // static narrow compile (r16, graft.LoopConf): the adjacency window
    // exchange sizes itself off the edge count instead of paying AQE
    // stage barriers per step; the step joins stay explicit broadcasts,
    // and walk choices are pure xxhash64 functions, so the walk set is
    // width-free
    val s0 = edges.sparkSession
    graft.LoopConf.static(s0, graft.LoopConf.width(edges.count())) {
    val adj = edges.toDF("src", "dst")
      .withColumn("r", row_number().over(
        Window.partitionBy(col("src")).orderBy(col("dst"))))
      .withColumn("deg", count(lit(1)).over(Window.partitionBy(col("src"))))
      .localCheckpoint()
    val walkIds = (0 until walksPerSeed).map(k => lit(k.toLong))
    var frontier = seeds.toDF("node")
      .select(col("node"), explode(array(walkIds: _*)).as("k"))
      .select((col("node") * walksPerSeed + col("k")).as("walk_id"),
        col("node"))
      .localCheckpoint()
    // every step's (walk-count-sized) checkpoint stays alive: the
    // returned union reads all of them — only the graph-sized adjacency
    // is dropped once the last frontier has materialized
    var out = frontier.select(col("walk_id"), lit(0).as("step"), col("node"))
    for (t <- 1 to steps) {
      // frontier is a checkpointed LogicalRDD — Catalyst has no stats
      // for it and will NOT auto-broadcast; without the explicit hint
      // every step re-shuffles the graph-sized adjacency (measured 8 s
      // of pure exchange at sf0.01). Intermediate checkpoints are LAZY
      // (each still truncates lineage and caches once); only the LAST
      // step is eager, which materializes the whole chain — every
      // earlier frontier is in its lineage — in ONE driver job instead
      // of one per step (r15, measured −10% paired on the key; the rest
      // of its time is the adjacency build), and leaves the adjacency
      // safe to free below because nothing remains lazy.
      frontier = broadcast(frontier).join(adj, frontier("node") === adj("src"))
        .where(col("r") === pmod(
          xxhash64(col("node"), lit(t.toLong), col("walk_id")),
          col("deg")) + 1)
        .select(col("walk_id"), col("dst").as("node"))
        .localCheckpoint(eager = t == steps)
      out = out.unionAll(
        frontier.select(col("walk_id"), lit(t).as("step"), col("node")))
    }
    pinnedRdd(adj).foreach(_.unpersist(blocking = false))
    out
    }
  }

  /** Query key `graph_random_walk_sample`: 2 deterministic 8-step walks
    * from each of the 64 smallest-id nodes of the co-order part graph.
    * Undirected ⇒ every reached node has at least the return edge, so
    * no walk dead-ends. Oracle-exempt (hash-driven); Round11dSpec pins
    * every consecutive pair onto the edge set, exact walk shape
    * (64·2 walks × steps 0..8), a driver XXH64 replay on a synthetic
    * graph, and determinism. */
  def graphRandomWalkSample(s: SparkSession, d: String): DataFrame = {
    // checkpoint before the symmetrizing union (r16): the distinct
    // pair build (un-thresholded, ~1.2M rows at sf0.1 — no memo tier)
    // otherwise executes once per union branch
    val pairs = coOrderPairs(s, d).distinct().localCheckpoint()
    val edges = pairs.union(pairs.select(col("p2"), col("p1"))).toDF("src", "dst")
    val seeds = edges.select(col("src").as("node")).distinct()
      .orderBy(col("node")).limit(64)
    randomWalks(edges, seeds, walksPerSeed = 2, steps = 8)
      .orderBy(col("walk_id"), col("step"))
  }

  /** Query key `graph_hits`: hubs & authorities over the DIRECTED
    * customer→part purchase graph (distinct (o_custkey, l_partkey) via
    * orders ⋈ lineitem) — the classic web-graph quality signal recast on
    * the fixture's bipartite buying graph: a hub is a customer whose
    * basket spans authoritative parts, an authority is a part bought by
    * strong hubs (for a training feed: source → document endorsement).
    * 4 full rounds: power iteration on AᵀA converges geometrically, and
    * a measured profile on the fixture graph has round 4 within 3
    * micro-units of round 6 (max |Δ| = 3 grid steps over 3.5k scores) —
    * more rounds buy jobs, not digits. Total order (kind, id). */
  def graphHits(s: SparkSession, d: String): DataFrame = {
    val edges = Tables.orders(s, d).select(col("o_orderkey"), col("o_custkey"))
      .join(Tables.lineitem(s, d).select(col("l_orderkey"), col("l_partkey")),
        col("o_orderkey") === col("l_orderkey"))
      .select(col("o_custkey").as("src"), col("l_partkey").as("dst"))
      .distinct()
    hits(edges, rounds = 4).orderBy(col("kind"), col("id"))
  }

  /** Approximate BETWEENNESS centrality on the cnt≥2 co-order part
    * graph — sampled Brandes: exact single-source shortest-path DAG
    * counting and backward dependency accumulation from K = 16
    * deterministically hash-ranked seed nodes (the 16 smallest
    * xxhash64(v), tie-broken by v), all seeds advanced TOGETHER on a
    * (seed, node) keyspace so one BFS level costs one edge join + one
    * keyed groupBy regardless of K. σ (shortest-path counts) stay
    * exact BIGINTs; each dependency contribution δp ← σp/σw·(1+δw)
    * snaps to the 1e-9 grid BEFORE the per-predecessor sum (longs —
    * order-independent under any partitioning), and each level's δ
    * re-enters the next as the exact grid value, so the whole backward
    * cascade is deterministic (the HITS/IRLS integer-ladder recipe).
    *
    * Scale: forward pass is frontier-sized joins against the
    * once-checkpointed edge list, with LAZY round checkpoints whose
    * emptiness count doubles as the materializer (the r12 coreness
    * shape — one job per level); per-level frames are checkpointed
    * (seed, node, σ) tables totalling K·|V| rows, never driver-side.
    * The backward pass walks the same level frames in reverse, one
    * join + groupBy per level. K is a budget knob independent of graph
    * size (Bader-style source sampling), so 100 TB costs K·O(m) per
    * level. Oracle-exempt (iterative multi-join fixpoint); Round12Spec
    * pins exact equality with a driver-side brute Brandes from the
    * same seeds on the same grid, plus the star-center sanity. */
  def graphBetweennessApprox(s: SparkSession, d: String): DataFrame = coLoopStatic(s, d) {
    val und = coUnd(s, d)
    val levels = bfsLevels(und, k = 16)
    // PRODUCER of the shared seed-BFS memo (r17, verdict task 5): the
    // four sampled-centrality keys each rebuilt the identical 16-seed
    // level frames (~0.5 s each at sf0.1); betweenness — the only
    // reader that also needs the sigma-carrying frames and the backward
    // pass — always builds them fresh and refreshes the flattened
    // (seed, v, dist) rows for the three distance-only readouts.
    graft.Memo.refresh("bfs_flat_16",
      graft.Memo.fingerprint(d, "lineitem.parquet"))(bfsFlatArr(levels.toSeq))
    betweennessFinish(und, levels.toSeq, k = 16)
  }

  /** The symmetric checkpointed co-order edge frame the seed-BFS keys
    * share. */
  private def coUnd(s: SparkSession, d: String): DataFrame = {
    val e = coEdges(s, d)
    e.select(col("p1").as("src"), col("p2").as("dst"))
      .union(e.select(col("p2").as("src"), col("p1").as("dst")))
      .localCheckpoint()
  }

  /** Gated driver-side flattening of the BFS level frames to (seed, v,
    * dist) rows — the `bfs_flat_16` memo value (K·|V| rows, data-sized,
    * so the collect rides the 1M-row broadcast-tier gate exactly like
    * coPairArr; None past the gate keeps every key on the distributed
    * build). Rows sort by (d, seed, v) so consumer input order is a
    * pure function of the data. */
  private def bfsFlatArr(
      levels: Seq[DataFrame]): Option[Array[(Long, Long, Long)]] = {
    val s = levels.head.sparkSession
    import s.implicits._
    val gate = 1000000
    val arr = bfsFlatOf(levels.zipWithIndex)
      .select(col("seed"), col("v"), col("d"))
      .as[(Long, Long, Long)]
      .mapPartitions(_.take(gate + 1)).collect()
    if (arr.length > gate) None
    else Some(arr.sortBy(t => (t._3, t._1, t._2)))
  }

  /** Memo-served flattened (seed, v, d) BFS rows for the distance-only
    * readouts; None on a memo miss-above-gate or fingerprint failure —
    * callers then run the distributed build. */
  private def bfsFlatMemo(s: SparkSession, d: String): Option[DataFrame] = {
    import s.implicits._
    graft.Memo.getOrCompute("bfs_flat_16",
      graft.Memo.fingerprint(d, "lineitem.parquet")) {
      bfsFlatArr(bfsLevels(coUnd(s, d), k = 16).toSeq)
    }.map(rows => s.createDataset(rows.toIndexedSeq).toDF("seed", "v", "d"))
  }

  /** Union the (seed, v) level frames with their BFS distance. */
  private def bfsFlatOf(levels: Seq[(DataFrame, Int)]): DataFrame =
    levels.map { case (df, dist) =>
      df.select(col("seed"), col("v")).withColumn("d", lit(dist.toLong))
    }.reduce(_ unionAll _)

  /** Approximate CLOSENESS centrality — the Eppstein–Wang companion of
    * [[graphBetweennessApprox]]: exact BFS distances from the SAME
    * K = 16 hash-ranked seeds (one edge join + one keyed groupBy per
    * level, all seeds together; by undirected symmetry d(s,v) =
    * d(v,s)), then per node the exact integer farness sample
    * Σ_seeds d(s,v) over the seeds that reach v. Everything emitted
    * derives from exact BIGINTs (dist_sum, n_reached) plus two IEEE
    * divisions, so the operator is bit-deterministic under any
    * partitioning with no grid needed; `closeness_est` =
    * n_reached/dist_sum (the inverse mean sampled distance), 1e-6
    * floor-rounded. Oracle-exempt (seed choice rides the engine's
    * xxhash64); Round12Spec pins exact equality with a driver BFS
    * replay from the same seeds. */
  def graphClosenessApprox(s: SparkSession, d: String): DataFrame = coLoopStatic(s, d) {
    bfsFlatMemo(s, d) match {
      case Some(flat) => closenessReadout(flat)
      case None => closenessFrom(coUnd(s, d), k = 16)
    }
  }

  /** Shared forward pass of the three sampled-seed BFS readouts
    * ([[closenessFrom]] / [[eccentricityFrom]] / [[betweennessFrom]]):
    * the k smallest-xxhash64 vertices (tie-broken by id) seed a joint
    * BFS on the (seed, node) keyspace — one edge join plus one keyed
    * groupBy per level regardless of k — carrying exact BIGINT
    * shortest-path counts `sigma` (the readouts that only need
    * distances drop the column; summing vs distinct is the same
    * shuffle shape). Returns the per-distance (seed, v, sigma) level
    * frames, index = BFS distance; each level lazily checkpointed with
    * the emptiness count as its materializer (one job per level). */
  private def bfsLevels(und: DataFrame, k: Int)
      : scala.collection.mutable.ArrayBuffer[DataFrame] = {
    val verts = und.select(col("src").as("v")).distinct()
    val seeds = verts
      .withColumn("h", xxhash64(col("v")))
      .orderBy(col("h"), col("v")).limit(k)
      .select(col("v").as("seed"))
      .localCheckpoint()
    var frontier = seeds
      .select(col("seed"), col("seed").as("v"), lit(1L).as("sigma"))
      .localCheckpoint()
    val levels = scala.collection.mutable.ArrayBuffer(frontier)
    var done = false
    var rounds = 0
    while (!done && rounds < 64) {
      val visited = levels.map(_.select(col("seed"), col("v")))
        .reduce(_ unionAll _)
      val next = frontier
        .join(und, frontier("v") === und("src"))
        .select(col("seed"), und("dst").as("v"), col("sigma"))
        .groupBy(col("seed"), col("v")).agg(sum(col("sigma")).as("sigma"))
        .join(visited, Seq("seed", "v"), "left_anti")
        .localCheckpoint(eager = false)
      if (next.count() == 0) done = true
      else { levels += next; frontier = next }
      rounds += 1
    }
    if (!done)
      throw new IllegalStateException(
        s"seed-BFS did not terminate in $rounds levels")
    levels
  }

  /** Sampled-closeness core over a symmetric (src, dst) edge list; see
    * [[graphClosenessApprox]]. */
  private[graft] def closenessFrom(und: DataFrame, k: Int): DataFrame =
    closenessReadout(bfsFlatOf(bfsLevels(und, k).zipWithIndex.toSeq))

  private def closenessReadout(flat: DataFrame): DataFrame =
    flat
      .where(col("v") =!= col("seed")) // own distance 0 carries no signal
      .groupBy(col("v"))
      .agg(sum(col("d")).as("dist_sum"),
        count(lit(1)).as("n_reached"))
      .select(col("v").as("part"), col("dist_sum"), col("n_reached"),
        (floor(col("n_reached").cast("double") /
          col("dist_sum").cast("double") * 1e6) / 1e6).as("closeness_est"))
      .orderBy(col("part"))

  /** Query key `graph_harmonic_centrality`: sampled HARMONIC centrality
    * — the fourth readout of the shared seed-BFS scaffolding
    * (closeness / eccentricity / betweenness ride the same
    * [[bfsLevels]] kernel): H(v) = Σ_seeds 1/d(seed, v), the
    * centrality closeness breaks on DISCONNECTED graphs (an
    * unreachable seed poisons a mean distance but contributes exactly
    * 0 to a reciprocal sum — the Boldi–Vigna argument for harmonic as
    * the right centrality under disconnection, and this co-order
    * graph IS disconnected). Determinism: each reciprocal enters as
    * the EXACT integer ⌊10⁹/d⌋ (d is a small exact BIGINT level, so
    * the double divide before the floor is exact), per-node sums are
    * order-free longs under any partitioning, one final descale.
    *
    * Scale: the bfsLevels story — K = 16 hash-ranked seeds, one edge
    * join + one keyed groupBy per level for ALL seeds jointly; the
    * readout is one keyed aggregate. K is a budget knob independent
    * of graph size. Oracle-exempt (seed choice rides the engine's
    * xxhash64); Round14Spec pins exact equality with a driver BFS
    * replay from the same seeds plus the all-seeds star identity. */
  def graphHarmonicCentrality(s: SparkSession, d: String): DataFrame = coLoopStatic(s, d) {
    bfsFlatMemo(s, d) match {
      case Some(flat) => harmonicReadout(flat)
      case None => harmonicFrom(coUnd(s, d), k = 16)
    }
  }

  private[graft] def harmonicFrom(und: DataFrame, k: Int): DataFrame = {
    val reached = bfsLevels(und, k).zipWithIndex
      // level 0 is the seeds themselves: no reciprocal to contribute,
      // and its LITERAL d = 0 would constant-fold into a plan-time
      // divide-by-zero under ANSI before any filter could drop it
      // (the memo path's d is a data column, so its d >= 1 filter has
      // no folding hazard)
      .drop(1)
    // Edgeless graph: every BFS stops at level 0, so the dropped seq is
    // empty and reduce would throw empty.reduce — degrade to an empty
    // (part, n_reached, harmonic_est) frame like closenessFrom does
    // (ADVICE round-14).
    if (reached.isEmpty)
      return und.select(col("src").as("part")).where(lit(false))
        .withColumn("n_reached", lit(0L))
        .withColumn("harmonic_est", lit(0.0))
    harmonicReadout(bfsFlatOf(reached.toSeq))
  }

  private def harmonicReadout(flat: DataFrame): DataFrame =
    flat
      .where(col("d") >= 1)
      .withColumn("r", floor(lit(1e9) / col("d")).cast("long"))
      .groupBy(col("v"))
      .agg(sum(col("r")).as("r_sum"), count(lit(1)).as("n_reached"))
      .select(col("v").as("part"), col("n_reached"),
        graft.Det.round(col("r_sum").cast("double") / lit(1e9), 6)
          .as("harmonic_est"))
      .orderBy(col("part"))

  /** Sampled ECCENTRICITY + diameter lower bound — the third readout of
    * the seed-BFS scaffolding: ecc(s) = max distance reached from seed
    * s (exact per seed), and max over seeds is the classic iFUB-style
    * LOWER bound on the graph diameter (a sampled BFS can miss the true
    * peripheral pair, never exceed it). One row per seed plus one
    * seed = −1 summary row carrying the bound; unreachable components don't
    * contribute (BFS never visits them). All values exact BIGINTs.
    * Oracle-exempt (xxhash64 seed choice); Round12Spec pins exact
    * equality with a driver BFS replay and the path-graph identity
    * (ecc of an endpoint seed = n−1). */
  def graphEccentricitySample(s: SparkSession, d: String): DataFrame = coLoopStatic(s, d) {
    bfsFlatMemo(s, d) match {
      case Some(flat) => eccentricityReadout(flat)
      case None => eccentricityFrom(coUnd(s, d), k = 16)
    }
  }

  /** Per-seed BFS eccentricities over a symmetric edge list; see
    * [[graphEccentricitySample]]. The seed = −1 summary row coalesces
    * the zero-row aggregate to 0 so an empty edge list yields (−1, 0,
    * 0) rather than a NULL ecc a Long reader would NPE on. */
  private[graft] def eccentricityFrom(und: DataFrame, k: Int): DataFrame =
    eccentricityReadout(bfsFlatOf(bfsLevels(und, k).zipWithIndex.toSeq))

  private def eccentricityReadout(flat: DataFrame): DataFrame = {
    val perSeed = flat
      .groupBy(col("seed"))
      .agg(max(col("d")).as("ecc"), count(lit(1)).as("n_reached"))
    perSeed
      .select(col("seed"), col("ecc"), col("n_reached"))
      .unionAll(perSeed
        .agg(coalesce(max(col("ecc")), lit(0L)).as("ecc"))
        .select(lit(-1L).as("seed"), col("ecc"), lit(0L).as("n_reached")))
      .orderBy(col("seed"))
  }

  // ---------------------------------------------------------------- ALS

  private[graft] val AlsK = 8
  private[graft] val AlsRounds = 4
  private[graft] val AlsLambda = 0.125 // dyadic ridge — exact in IEEE

  /** Deterministic factor init: entry f of id's factor vector is the
    * byteswap64 hash of (id·31 + f) reduced to the 1e-6 grid in [0, 1) —
    * reproducible on any engine, no RNG state. */
  private[graft] def alsInit(id: Long, f: Int): Double =
    math.floorMod(scala.util.hashing.byteswap64(id * 31L + f),
      1000000L).toDouble / 1e6

  /** Solve the SPD system (A + λI)x = b by Cholesky — plain double
    * arithmetic (divide + sqrt are correctly rounded, no libm), so the
    * result is bit-deterministic given bit-identical inputs. A is the
    * packed upper triangle (a(i)(j), i ≤ j). */
  private[graft] def solveSpd(
      a: Array[Array[Double]], b: Array[Double], lambda: Double)
      : Array[Double] = {
    val k = b.length
    val m = Array.tabulate(k, k)((i, j) =>
      (if (i <= j) a(i)(j) else a(j)(i)) + (if (i == j) lambda else 0.0))
    val l = Array.ofDim[Double](k, k)
    var i = 0
    while (i < k) {
      var j = 0
      while (j <= i) {
        var sum = m(i)(j)
        var t = 0
        while (t < j) { sum -= l(i)(t) * l(j)(t); t += 1 }
        if (i == j) l(i)(i) = math.sqrt(sum)
        else l(i)(j) = sum / l(j)(j)
        j += 1
      }
      i += 1
    }
    val y = new Array[Double](k)
    i = 0
    while (i < k) {
      var sum = b(i)
      var t = 0
      while (t < i) { sum -= l(i)(t) * y(t); t += 1 }
      y(i) = sum / l(i)(i)
      i += 1
    }
    val x = new Array[Double](k)
    i = k - 1
    while (i >= 0) {
      var sum = y(i)
      var t = i + 1
      while (t < k) { sum -= l(t)(i) * x(t); t += 1 }
      x(i) = sum / l(i)(i)
      i -= 1
    }
    x
  }

  /** The 44-long snapped normal-equation state of one ALS solve key:
    * k(k+1)/2 upper-triangle Gram sums then k moment sums (k = 8). */
  private[graft] case class AlsBuf(s: Array[Long])
  private[graft] case class AlsVec(x: Array[Double])

  /** Map-side-combinable normal-equation accumulation for one ALS
    * half-step (r13 verdict task 3 — the groupByKey.mapGroups form
    * shipped every joined (r, q) pair to its solve key; this typed
    * Aggregator collapses them to 44-long partials BEFORE the shuffle,
    * so the exchange carries factor-table-sized state, not
    * ratings-sized pairs). reduce() adds each rating's 1e-9-snapped
    * terms, merge() adds partials — exact integer addition is
    * associative and commutative, so the finished sums and the Cholesky
    * solve on them are BIT-IDENTICAL to the sequential fold under any
    * partitioning (the Round13Spec replay + invariance pins hold
    * unchanged).
    *
    * KEPT over a declarative 44-sum HashAggregate (r17 negative result,
    * measured): 44 separate `sum(floor(q[a]*q[b]*1e9))` aggregates
    * ballooned the generated code and the per-stage task binary to
    * ~2 MB ("Broadcasting large task binary" per half-step), adding
    * driver-side plan/codegen cost per round that cost more wall time
    * than the UDAF's per-row tuple deserialization — 7.3 s → 8.8 s at
    * sf0.1/32 cores. The typed Aggregator's one compact closure wins. */
  private object AlsNormalEq
      extends org.apache.spark.sql.expressions.Aggregator[
        (Long, Double, Array[Double]), AlsBuf, AlsVec] {
    private val k = AlsK
    private val tri = k * (k + 1) / 2
    def zero: AlsBuf = AlsBuf(new Array[Long](tri + k))
    def reduce(buf: AlsBuf, x: (Long, Double, Array[Double])): AlsBuf = {
      val st = buf.s
      val r = x._2
      val q = x._3
      var idx = 0
      var a = 0
      while (a < k) {
        var b = a
        while (b < k) {
          st(idx) += math.floor(q(a) * q(b) * 1e9).toLong
          idx += 1
          b += 1
        }
        st(tri + a) += math.floor(r * q(a) * 1e9).toLong
        a += 1
      }
      buf
    }
    def merge(x: AlsBuf, y: AlsBuf): AlsBuf = {
      var i = 0
      while (i < x.s.length) { x.s(i) += y.s(i); i += 1 }
      x
    }
    def finish(buf: AlsBuf): AlsVec = {
      val st = buf.s
      val aMat = Array.ofDim[Double](k, k)
      var idx = 0
      var a = 0
      while (a < k) {
        var b = a
        while (b < k) {
          aMat(a)(b) = st(idx).toDouble / 1e9
          idx += 1
          b += 1
        }
        a += 1
      }
      val bVec = Array.tabulate(k)(a => st(tri + a).toDouble / 1e9)
      AlsVec(solveSpd(aMat, bVec, AlsLambda)
        .map(v => math.floor(v * 1e6) / 1e6))
    }
    def bufferEncoder: org.apache.spark.sql.Encoder[AlsBuf] =
      org.apache.spark.sql.Encoders.product[AlsBuf]
    def outputEncoder: org.apache.spark.sql.Encoder[AlsVec] =
      org.apache.spark.sql.Encoders.product[AlsVec]
  }

  /** One ALS half-step: re-solve every `solveSide` factor from the fixed
    * `fixedSide` factors. Normal-equation terms (q qᵀ and r·q products)
    * snap to the 1e-9 grid BEFORE their per-key streaming sums — exact
    * longs, order-independent under any partitioning (the IRLS integer
    * ladder lifted to ALS) — and each solved coordinate floor-snaps to
    * 1e-6 so the next half-step starts from grid values on any engine.
    * Accumulation runs through [[AlsNormalEq]] (partial aggregation
    * map-side; the shuffle ships 44-long states, not rating pairs).
    *
    * `keyed` is a PRE-PARTITIONED (fid, sid, r) frame — hash-partitioned
    * by fid and localCheckpointed ONCE by the caller (r14 verdict task 1:
    * the prior form re-mapped and re-shuffled the full ratings table
    * inside every half-step; with the keyed forms materialized up front,
    * EnsureRequirements sees HashPartitioning(fid, N) already satisfied
    * and only the factor side exchanges — the ratings-side shuffle
    * vanishes from all 2·rounds half-steps). Integer-grid sums keep the
    * result bit-identical to any other partitioning.
    *
    * The aggregation stays RELATIONAL: [[AlsNormalEq]] rides
    * `functions.udaf` under a plain groupBy, so the per-row path is one
    * struct deserialization per rating instead of the groupByKey form's
    * full DeserializeToObject → key-function → re-serialize chain
    * (measured ~35% of the half-step CPU at sf0.1), and partial
    * aggregation (map-side 44-long combines) still applies. `fixed` is a
    * plain (id, q) frame for the same reason. */
  private def alsHalfStep(keyed: DataFrame, fixed: DataFrame): DataFrame = {
    val s = keyed.sparkSession
    import s.implicits._
    val eq = udaf(AlsNormalEq,
      implicitly[org.apache.spark.sql.Encoder[(Long, Double, Array[Double])]])
    keyed
      .join(fixed.select(col("id").as("fid"), col("q")), "fid")
      .groupBy(col("sid"))
      .agg(eq(col("sid"), col("r"), col("q")).as("v"))
      .select(col("sid").as("id"), col("v.x").as("q"))
  }

  /** Query key `recommend_als`: implicit-feedback matrix factorization
    * over the customer × part purchase matrix — the collaborative-
    * filtering capability the co-occurrence family (assoc_rules /
    * adamic_adar) gestures at but cannot express: rank-8 factors learned
    * by 4 rounds of ALTERNATING least squares (rating = purchase count;
    * ridge λ = 1/8, dyadic), then top-5 part recommendations per
    * customer over the 2-hop candidate set with already-bought parts
    * anti-joined away.
    *
    * Determinism (the IRLS/L-BFGS ladder applied to ALS): factor init is
    * a byteswap64 hash on the 1e-6 grid ([[alsInit]]); each half-step's
    * normal-equation sums are 1e-9-snapped longs keyed by the side being
    * solved (k(k+1)/2 + k = 44 longs of METADATA per key — order-free
    * under any partitioning); the per-key 8×8 Cholesky solve is pure
    * correctly-rounded double arithmetic on those exact sums; solved
    * coordinates re-enter the next half-step floor-snapped to 1e-6. So
    * the whole 4-round trajectory is bit-reproducible — Round13Spec pins
    * EXACT equality with a single-node replay, partitioning invariance,
    * and a monotonically decreasing regularized objective.
    *
    * Scale: ratings materialize ONCE per join side (hash-partitioned by
    * item and by user up front — r14 verdict task 1), so no half-step
    * re-exchanges the ratings table: each step shuffles only the
    * factor-side join input and the 44-long normal-equation partials
    * (map-side combined). Factor tables shuffle by id and are never
    * broadcast or collected (|C| and |P| both scale past memory); the
    * candidate join rides the thresholded co-order graph exactly like
    * graph_adamic_adar, so the readout is wedge-bounded, not |C|·|P|.
    * Measured at sf0.1 (contended host, r15): parity with the re-shuffle
    * form — at this SF the loop is task-overhead-bound, the win is the
    * 100× scale path where the ratings exchange dominates.
    * Oracle-exempt (iterative multi-join fixpoint). */
  def recommendAls(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    // The WHOLE factorization chain (ratings build, keyed forms, init, 8
    // half-steps) compiles with AQE OFF (restored before the readout
    // compiles): the loop's plan shapes are fixed and already
    // co-partitioned, so adaptive re-planning buys nothing here but
    // charges a query-stage materialization barrier per shuffle per
    // half-step — measured 23% of the key's warm time at sf0.1 (paired
    // windows, 7.00 s -> 5.42 s). Static compile keeps the identical
    // exchange structure (EnsureRequirements sees the same
    // HashPartitioning(fid) inputs); results are bit-identical (the
    // integer-grid sums are partitioning-free) — Round13Spec's replay
    // and invariance pins run unchanged. Safe to toggle session conf
    // here: the engine's execution surfaces (Verify, Bench, the test
    // suites in the forked JVM) run queries sequentially.
    val aqeKey = "spark.sql.adaptive.enabled"
    val aqePrev = s.conf.get(aqeKey, "true")
    val partKey = "spark.sql.shuffle.partitions"
    val shuffleN = s.conf.get(partKey).toInt
    // Readout inputs that do not depend on the factors, built before the
    // static region: the memo-tier co-order edges (the producer path runs
    // its own jobs — keep them under the caller's AQE setting).
    graft.functions.DotProduct.register(s)
    val co = coEdges(s, d)
    val coSym = co.union(co.select(col("p2"), col("p1"))).toDF("item", "cand")
    var userF: DataFrame = null
    var itemF: DataFrame = null
    var cands: DataFrame = null
    var candsJob: graft.Pools.SpawnedJob = null
    var ratings: org.apache.spark.sql.Dataset[(Long, Long, Double)] = null
    try {
      s.conf.set(aqeKey, "false")
      // LAZY checkpoint + count (r17): the count that derives the loop
      // width materializes the checkpoint inside its own job — the r16
      // eager form paid one job to store the blocks and a SECOND full
      // decode pass to count them (measured 4.4 s runMs of pure re-read).
      ratings = Tables.orders(s, d)
        .select(col("o_orderkey"), col("o_custkey"))
        .join(Tables.lineitem(s, d).select(col("l_orderkey"), col("l_partkey")),
          col("o_orderkey") === col("l_orderkey"))
        .groupBy(col("o_custkey").as("user"), col("l_partkey").as("item"))
        .agg(count(lit(1)).cast("double").as("r"))
        .as[(Long, Long, Double)]
        .localCheckpoint(eager = false)
      // SCALE-ADAPTIVE loop width (r16): with AQE compiled out of the
      // loop, every half-step exchange would otherwise run at the
      // session width (32 reduce tasks here) over factor tables that are
      // tiny at this scale — ~1000 near-empty tasks across the 8
      // half-steps, pure scheduler overhead (the AQE-coalescing job the
      // static compile gave up, done once by hand). The width derives
      // from the MATERIALIZED ratings count (~256k rows per partition),
      // so it is a function of the data, not of the local core count:
      // sf0.1 (~0.5M ratings) compiles the loop 2-wide, a 100 TB
      // ratings table gets thousands of partitions. Results are
      // width-independent by construction (1e-9-grid integer sums;
      // Round13Spec pins replay + partitioning invariance, and
      // Round16OptSpec re-runs the key under a different session width).
      // stride 64Ki rows (¼ of LoopConf's): the half-step UDAF is the
      // loop's real compute (44 fused grid terms per rating row), so ALS
      // wants more in-flight tasks per exchange than the join-shaped
      // graph loops — measured below as the knee of width vs task
      // overhead at this SF ladder
      val loopN = math.max(1L, math.min(1L << 20,
        (ratings.count() + 65535L) / 65536L)).toInt
      s.conf.set(partKey, loopN)
      // Materialize the two keyed ratings forms ONCE (fid = the fixed
      // side of each half-step), hash-partitioned to the loop width AND
      // sorted by fid within partitions: localCheckpoint preserves both
      // outputPartitioning and outputOrdering, so every half-step's
      // sort-merge join sees its ratings side already distributed and
      // SORTED — without the upfront sort each of the 8 half-steps
      // re-sorted the full ratings side inside the join (measured ~10 s
      // of the key's time at sf0.1 once the loop compiled narrow; the
      // 32-wide form paid the same sorts, hidden by parallelism). Only
      // the factor-table side exchanges + sorts per step. Both forms
      // are LAZY (r15): the first half-step's job stores each once.
      val rdf0 = ratings.toDF("user", "item", "r")
      val byItem = rdf0
        .select(col("item").as("fid"), col("user").as("sid"), col("r"))
        .repartition(loopN, col("fid")).sortWithinPartitions("fid")
        .localCheckpoint(eager = false)
      val byUser = rdf0
        .select(col("user").as("fid"), col("item").as("sid"), col("r"))
        .repartition(loopN, col("fid")).sortWithinPartitions("fid")
        .localCheckpoint(eager = false)
      // Item init rides byItem: distinct over its partitioning key needs
      // NO exchange (byItem is already hash-partitioned by fid), where
      // the prior ratings.map(_._2).distinct paid one (r15).
      val items0 = byItem.select(col("fid")).distinct().as[Long]
        .map(i => (i, Array.tabulate(AlsK)(f => alsInit(i, f))))
        .toDF("id", "q")
        .localCheckpoint(eager = false)
      // Candidate generation does not depend on the factors, so it runs
      // as an OVERLAPPED job while the half-step loop's narrow stages
      // leave executors idle (guide §2.6) — the plan is forced on THIS
      // thread (localCheckpoint(eager=false) plans eagerly), every
      // exchange in it is explicit at shuffleN, and the job is awaited
      // in the finally so no submitted work can outlive this call.
      // Shape (r17): per-user candidate SETS via collect_set +
      // array_except(cs, bought) — set-equal to the r16
      // distinct + anti-contains form (array_except dedups), but the
      // groupBys and the set join all reuse rdfU's one user-hash
      // exchange, where distinct() paid a (user, item) exchange plus a
      // user re-exchange.
      val rdfU = ratings.toDF("user", "item", "r")
        .select(col("user"), col("item"))
        .repartition(shuffleN, col("user"))
        .localCheckpoint(eager = false)
      // Overlap rdfU's materialization with the narrow half-step loop
      // (guide §2.6): the count triggers the lazy checkpoint's
      // repartition job on idle cores; the readout then reads stored
      // blocks. The count's plan is forced HERE so the background
      // thread never compiles against the session conf this method
      // mutates (the LoopConf thread-confinement invariant); it is
      // awaited in the finally — no job outlives this call.
      val rdfUCount = rdfU.groupBy().count()
      rdfUCount.queryExecution.executedPlan
      candsJob = graft.Pools.spawn("graft-als-cands") {
        s.sparkContext.setJobDescription("als: overlapped candidate input")
        rdfUCount.collect()
        ()
      }
      val bought = rdfU.groupBy(col("user"))
        .agg(collect_set(col("item")).as("bought"))
      cands = rdfU
        .join(coSym, "item")
        .groupBy(col("user")).agg(collect_set(col("cand")).as("cs"))
        .join(bought, "user")
        .select(col("user"),
          explode(array_except(col("cs"), col("bought"))).as("item"))
      // Lazy checkpoints: each half-step still truncates lineage (the
      // returned frame is a LogicalRDD either way), but materialization
      // folds into the NEXT half-step's job instead of paying a
      // dedicated eager count per step. The last userF/itemF materialize
      // inside the readout join.
      itemF = items0
      for (_ <- 1 to AlsRounds) {
        userF = alsHalfStep(byItem, itemF)
          .localCheckpoint(eager = false)
        itemF = alsHalfStep(byUser, userF)
          .localCheckpoint(eager = false)
      }
    } finally {
      s.conf.set(aqeKey, aqePrev)
      s.conf.set(partKey, shuffleN)
      // never-throwing await: the overlapped job must not outlive the
      // call even when the loop fails; its own failure surfaces below
      if (candsJob != null) candsJob.awaitDone()
    }
    if (candsJob != null) candsJob.await() // rethrow a background failure
    // Readout: the candidate table was built (and materialized) by the
    // overlapped job above; what remains is the factor joins, the
    // codegen'd graft_dot score (double branch — identical left-to-right
    // fold, so Round13Spec's bit-identity replay pin holds), and the
    // native top-k whose partial prunes to <= 5 rows per (user,
    // partition) before the final result-sized exchange.
    val scored = cands
      .join(userF.select(col("id").as("user"), col("q").as("p")), "user")
      .join(itemF.select(col("id").as("item"), col("q")), "item")
      .select(col("user"), col("item"),
        (floor(call_function("graft_dot", col("p"), col("q")) * 10000 + 0.5) /
          10000).as("score"))
    graft.plans.TopKPerGroup.topK(scored, "user", "score", "item", 5)
      .select(col("user").as("c_custkey"), col("rn"),
        col("item").as("l_partkey"), col("score"))
      .orderBy(col("c_custkey"), col("rn"))
  }

  /** Query key `recommend_item_knn`: item-item collaborative filtering
    * over the order × part incidence matrix — the MEMORY-BASED
    * recommender next to [[recommendAls]]'s model-based one (the classic
    * Amazon item-to-item shape: neighbors are precomputed per ITEM, so
    * serving a user is a lookup, not a factorization). Similarity is the
    * cosine of binary basket vectors: sim(a,b) = cooc(a,b)/√(n(a)·n(b))
    * over DISTINCT (order, part) incidences; top-5 neighbors per part,
    * ranked on the 4-dp-rounded grid with neighbor-id tiebreak (the
    * knn_cosine oracle recipe — rank after rounding, so the order both
    * engines sort is a grid value computed from exact BIGINTs with one
    * correctly-rounded √ and ÷ each).
    *
    * Scale: the co-occurrence self-join is wedge-bounded by basket size
    * (Σ_orders |basket|² — lineitem ≤ 7 lines/order, never |parts|²),
    * the n(·) table is an id-keyed partial aggregate joined back by id,
    * and the rank window partitions by part. Everything shuffles on part
    * ids; nothing is collected. Oracle = the identical SQL in DuckDB. */
  def recommendItemKnn(s: SparkSession, d: String): DataFrame = {
    val inc = Tables.lineitem(s, d)
      .select(col("l_orderkey"), col("l_partkey")).distinct()
    val cooc = inc.as("a").join(inc.as("b"),
        col("a.l_orderkey") === col("b.l_orderkey") &&
          col("a.l_partkey") =!= col("b.l_partkey"))
      .groupBy(col("a.l_partkey").as("part"),
        col("b.l_partkey").as("neighbor"))
      .agg(count(lit(1)).as("cooc"))
    val n = inc.groupBy(col("l_partkey")).agg(count(lit(1)).as("n"))
    val sim = cooc
      .join(n.select(col("l_partkey").as("part"), col("n").as("na")),
        Seq("part"))
      .join(n.select(col("l_partkey").as("neighbor"), col("n").as("nb")),
        Seq("neighbor"))
      .withColumn("sim", round(col("cooc").cast("double") /
        sqrt((col("na") * col("nb")).cast("double")), 4))
    // native top-k (r16): the window form shuffled EVERY sim row to its
    // part's reducer and sorted the full group to keep 5; TopKPerGroup
    // plans partial → exchange → final (identical (sim DESC, neighbor
    // ASC) rank, the operator's oracle-gated contract), so the exchange
    // carries ≤ 5 rows per (part, partition)
    graft.plans.TopKPerGroup.topK(sim, "part", "sim", "neighbor", 5)
      .select(col("part"), col("rn"), col("neighbor"), col("sim"),
        col("cooc"))
      .orderBy(col("part"), col("rn"))
  }

  /** The directed purchase-sequence part graph shared by [[graphScc]]
    * and [[graphCondensation]]: a → b when an order lists a before b,
    * every observed direction kept on pairs whose TOTAL co-order count
    * is ≥ 2 (the §2.25 graph_scc definition). */
  private[graft] def directedPartEdges(
      s: SparkSession, d: String): DataFrame = {
    val li = Tables.lineitem(s, d)
      .select(col("l_orderkey"), col("l_linenumber"), col("l_partkey"))
    // ONE keyed aggregate does all of it (r15, measured ~2× on the edge
    // build vs the groupBy-per-direction + pair-groupBy + semi-join
    // form): wedges key on the UNORDERED pair and carry the observed
    // orientation as a flag, so per pair the forward/reverse counts and
    // the ≥2 total threshold come out of the same shuffle; surviving
    // pairs then explode back into their observed direction(s) map-side.
    li.as("a").join(li.as("b"),
        col("a.l_orderkey") === col("b.l_orderkey") &&
          col("a.l_linenumber") < col("b.l_linenumber") &&
          col("a.l_partkey") =!= col("b.l_partkey"))
      .select(
        least(col("a.l_partkey"), col("b.l_partkey")).as("p1"),
        greatest(col("a.l_partkey"), col("b.l_partkey")).as("p2"),
        (col("a.l_partkey") < col("b.l_partkey")).cast("long").as("fwd"))
      .groupBy(col("p1"), col("p2"))
      .agg(sum(col("fwd")).as("nf"),
        (count(lit(1)) - sum(col("fwd"))).as("nr"))
      .where(col("nf") + col("nr") >= 2)
      .select(explode(concat(
        when(col("nf") > 0,
          array(struct(col("p1").as("src"), col("p2").as("dst"))))
          .otherwise(array().cast("array<struct<src:bigint,dst:bigint>>")),
        when(col("nr") > 0,
          array(struct(col("p2").as("src"), col("p1").as("dst"))))
          .otherwise(array().cast("array<struct<src:bigint,dst:bigint>>"))))
        .as("e"))
      .select(col("e.src"), col("e.dst"))
  }

  /** Query key `graph_scc`: STRONGLY connected components — the classic
    * directed decomposition the graph family lacked (PageRank and HITS
    * both run on directed edges SCC structures). Directed part graph:
    * a → b when some order lists part a at a smaller linenumber than
    * part b (the purchase-sequence edge), on pairs whose TOTAL co-order
    * count is ≥ 2 (the undirected family's threshold applied to the
    * pair, keeping every OBSERVED direction): a pair sequenced both
    * ways closes a 2-cycle, a pair always sequenced one way stays a
    * DAG edge — so the mutually-re-ordered core collapses into
    * nontrivial SCCs while one-way accessories stay singletons
    * (measured sf0.01: 415 SCCs, 74 nontrivial; a per-direction cnt ≥ 2
    * threshold yields all singletons and cnt ≥ 1 one complete SCC —
    * both degenerate).
    * Algorithm: TRIM + forward-coloring + backward extraction (the
    * Orzan / Slota shape — the standard distributed SCC):
    *  1. TRIM: a node with no in- or no out-edge in the live subgraph
    *     is its own SCC — peel to exhaustion (graphKcore's loop);
    *  2. COLOR: propagate min reachable-from id forward to fixpoint
    *     (the min-label CC loop on DIRECTED edges);
    *  3. EXTRACT: for each pivot c (color(c) = c), its SCC is exactly
    *     {v : color(v) = c ∧ v ⇝ c} — one backward BFS from ALL pivots
    *     together on the (color, node) keyspace, color-restricted;
    *  4. settle, drop, repeat on the remainder (capped, throws if not
    *     converged — never a silent partial answer).
    * Deterministic end-to-end: min-id colors, exhaustive BFS, no
    * sampling. Oracle-exempt (iterative multi-join fixpoint on a
    * self-join-derived graph); Round13Spec pins EXACT equality with a
    * driver-side Tarjan at sf0.01 plus cycle/DAG synthetic identities.
    *
    * Scale: every step is an equi join or keyed aggregate on node ids —
    * trim is the kcore peel, coloring is the CC loop, extraction is the
    * bfsLevels frontier join; localCheckpoint per round with the lazy
    * materialize-in-the-count convention, nothing graph-sized at the
    * driver. Round count tracks the SCC condensation's depth, not |V|:
    * the trim pass absorbs the DAG tails that would otherwise cost one
    * coloring round each (the Slota trim argument). */
  def graphScc(s: SparkSession, d: String): DataFrame = {
    sccLabelRows(s, d, producer = true)
      .withColumn("scc_size",
        count(lit(1)).over(Window.partitionBy(col("scc_id"))))
      .orderBy(col("part"))
  }

  /** The (part, scc_id) labeling shared by [[graphScc]] (producer —
    * ALWAYS recomputes and refreshes, the BPE TRAIN-always-trains rule,
    * so its benchmarked cost stays the labeling cost) and
    * [[graphCondensation]] (consumer — reads the memo, so the pair stops
    * double-running the trim + coloring + pivot-BFS fixpoint; r13
    * verdict task 2). The memoized value is the label ARRAY over the
    * part CATALOG — dimension-sized plain data, the same
    * fits-in-driver-memory adjudication as the Borůvka union-find —
    * keyed by the lineitem fingerprint so a same-path overwrite (tests,
    * ScaleStress replicas) invalidates. */
  private[graft] def sccLabelRows(
      s: SparkSession, d: String, producer: Boolean): DataFrame = {
    import s.implicits._
    s.createDataset(sccLabelArr(s, d, producer).toIndexedSeq)
      .toDF("part", "scc_id")
  }

  /** The (part, scc_id) label array itself — always dimension-sized
    * (part catalog), always driver-resident (the memo value); see
    * [[sccLabelRows]]. */
  private[graft] def sccLabelArr(
      s: SparkSession, d: String, producer: Boolean): Array[(Long, Long)] = {
    import s.implicits._
    val fp = graft.Memo.fingerprint(d, "lineitem.parquet")
    // Metadata-tier finisher at ROUND 0 (r16): the gated collect that
    // feeds the scc_edges memo has ALREADY moved the whole edge set to
    // the driver whenever it fits the broadcast tier (≤ 1M edges — the
    // same gate the in-loop Tarjan tail uses), so running the
    // distributed trim/color/extract fixpoint on a re-parallelized copy
    // of driver-resident rows bought ~60 near-empty driver jobs and
    // nothing else (measured 5.1 s of the key's 5.8 s close time at
    // sf0.1). Tarjan on the collected set IS the adjudicated hybrid
    // tail, applied before the first round instead of after it; labels
    // are identical by the shared min-member-id rule (Round13Spec pins
    // graphScc against a driver Tarjan at fixture scale, and
    // Round16OptSpec pins this path against the distributed sccFrom).
    // Above the gate the memo is skipped and the full distributed
    // fixpoint runs unchanged — the 100 TB path.
    lazy val fresh: Array[(Long, Long)] =
      sccEdgeArr(s, d, producer) match {
        case Some(arr) =>
          val nodes = arr.iterator
            .flatMap(t => Iterator(t._1, t._2)).toArray.distinct.sorted
          tarjanDriver(nodes, arr)
        case None =>
          sccFrom(directedPartEdges(s, d).toDF("src", "dst"))
            .select(col("part"), col("scc_id"))
            .as[(Long, Long)]
            .collect()
      }
    if (producer) graft.Memo.refresh("scc_labels", fp)(fresh)
    else graft.Memo.getOrCompute("scc_labels", fp)(fresh)
  }

  /** The directed (src, dst) edge set shared by the same producer/
    * consumer pair (r15): the wedge self-join that derives it is the
    * single largest phase of BOTH keys, and the result is the same
    * dimension-sized class as the label array (part-catalog wedge pairs
    * surviving the cnt ≥ 2 threshold — 4.2k rows at sf0.1), so it rides
    * the same memo: graph_scc always rebuilds and refreshes, the
    * condensation reads. */
  private[graft] def sccEdgeRows(
      s: SparkSession, d: String, producer: Boolean): DataFrame = {
    import s.implicits._
    sccEdgeArr(s, d, producer) match {
      case Some(rows) => s.createDataset(rows.toIndexedSeq).toDF("src", "dst")
      case None       => directedPartEdges(s, d).toDF("src", "dst")
    }
  }

  /** The gated driver-side form of the shared directed edge set — the
    * memo value itself (r16 split so [[sccLabelRows]] can finish
    * driver-side on the rows the memo already collected). */
  private[graft] def sccEdgeArr(
      s: SparkSession, d: String, producer: Boolean)
      : Option[Array[(Long, Long)]] = {
    import s.implicits._
    val fp = graft.Memo.fingerprint(d, "lineitem.parquet")
    // The memoized value is a driver-side array, so the collect rides the
    // same 1M-edge broadcast-tier gate as sccFrom's Tarjan tail (ADVICE
    // round-15: the wedge set grows toward catalog² with co-occurrence).
    // Per-partition take(gate+1) keeps the gate check inside the ONE
    // collect job — if the total lands ≤ gate no partition hit its cap,
    // so the set is exact; past the gate the memo is skipped and both
    // producer and consumer ride the un-memoized DataFrame path (driver
    // transfer bounded at numPartitions × gate in the degenerate case).
    val gate = 1000000
    lazy val fresh: Option[Array[(Long, Long)]] = {
      val arr = directedPartEdges(s, d).as[(Long, Long)]
        .mapPartitions(_.take(gate + 1)).collect()
      if (arr.length > gate) None else Some(arr)
    }
    if (producer) graft.Memo.refresh("scc_edges", fp)(fresh)
    else graft.Memo.getOrCompute("scc_edges", fp)(fresh)
  }

  /** Iterative driver-side Tarjan over a REMAINDER core that already
    * passed the broadcast-tier size gate — the finisher of [[sccFrom]]'s
    * hybrid tail (scc_id = smallest member id, the same semantics the
    * distributed extraction settles). Explicit stacks, no recursion. */
  private def tarjanDriver(
      nodes: Array[Long], edges: Array[(Long, Long)]): Array[(Long, Long)] = {
    val idx = nodes.zipWithIndex.toMap
    val n = nodes.length
    val adj = Array.fill(n)(List.empty[Int])
    edges.foreach { case (a, b) => adj(idx(a)) ::= idx(b) }
    val index = Array.fill(n)(-1)
    val low = new Array[Int](n)
    val onStack = new Array[Boolean](n)
    val stack = scala.collection.mutable.ArrayBuffer.empty[Int]
    val out = scala.collection.mutable.ArrayBuffer.empty[(Long, Long)]
    var counter = 0
    var v0 = 0
    while (v0 < n) {
      if (index(v0) == -1) {
        // explicit DFS: frames of (node, remaining-neighbor list)
        var frames = List((v0, adj(v0)))
        index(v0) = counter; low(v0) = counter; counter += 1
        stack += v0; onStack(v0) = true
        while (frames.nonEmpty) {
          val (v, rest) = frames.head
          rest match {
            case w :: tail =>
              frames = (v, tail) :: frames.tail
              if (index(w) == -1) {
                index(w) = counter; low(w) = counter; counter += 1
                stack += w; onStack(w) = true
                frames = (w, adj(w)) :: frames
              } else if (onStack(w)) low(v) = math.min(low(v), index(w))
            case Nil =>
              frames = frames.tail
              frames match {
                case (p, _) :: _ => low(p) = math.min(low(p), low(v))
                case Nil => ()
              }
              if (low(v) == index(v)) {
                val members = scala.collection.mutable.ArrayBuffer.empty[Int]
                var w = -1
                while (w != v) {
                  w = stack.remove(stack.length - 1)
                  onStack(w) = false
                  members += w
                }
                val sccId = members.map(nodes(_)).min
                members.foreach(m => out += ((nodes(m), sccId)))
              }
          }
        }
      }
      v0 += 1
    }
    out.toArray
  }

  /** SCC core over a directed (src, dst) edge list (distinct, no self
    * loops); returns (part, scc_id) with scc_id = the component's
    * smallest member id. See [[graphScc]].
    *
    * Hybrid tail (r15, measured): after the FIRST full distributed round
    * (trim + color + extract — the phases the pins and the benchmark
    * exercise), the unsettled remainder shrinks geometrically but each
    * further round still costs a diameter-bounded batch of driver jobs —
    * at sf0.1 the second round processed 27 nodes for ~25% of the key's
    * close time. A remainder that fits the broadcast/metadata tier
    * (≤ 16384 nodes AND ≤ 1M edges, both gated by counts already in
    * hand) finishes with one driver-side Tarjan instead — the r13
    * Borůvka union-find adjudication (dimension-sized state may ride the
    * driver; bit-identical labels by the shared min-member-id rule). A
    * remainder above the gate keeps looping distributed. */
  private[graft] def sccFrom(edges0: DataFrame): DataFrame = {
    var edges = edges0.localCheckpoint()
    var active = edges.select(col("src").as("v"))
      .union(edges.select(col("dst").as("v"))).distinct().localCheckpoint()
    val settled = scala.collection.mutable.ArrayBuffer.empty[DataFrame]
    var outer = 0
    var done = false
    while (!done && outer < 32) {
      // (a) trim to exhaustion: missing an in- OR out-edge ⇒ singleton
      var trims = 0
      var trimDone = false
      while (!trimDone && trims < 64) {
        // live-degree test in ONE keyed aggregate (r15, replacing two
        // distincts + two semi joins): bit 1 = has an out-edge, bit 2 =
        // has an in-edge; a node keeps only with both. Edges are already
        // restricted to `active`, so keep ⊆ active and an isolated
        // active node (no edges at all) correctly falls out as cut.
        val keep = edges.select(col("src").as("v"), lit(1L).as("m"))
          .unionAll(edges.select(col("dst").as("v"), lit(2L).as("m")))
          .groupBy(col("v")).agg(expr("bit_or(m)").as("deg"))
          .where(col("deg") === 3).select(col("v"))
          .localCheckpoint(eager = false)
        val cut = active.join(keep, Seq("v"), "left_anti")
          .localCheckpoint(eager = false)
        if (cut.count() == 0) trimDone = true
        else {
          // cut was just counted, so it is already materialized+truncated
          // — a projection over it needs no checkpoint of its own, and
          // keep/edges stay LAZY: the next round's count forces them
          // exactly once (r15: the eager per-round checkpoints here cost
          // 2 extra driver jobs per trim round, ~1/3 of the key's close
          // time across the ~70 fixpoint rounds at sf0.1)
          settled += cut.select(col("v").as("part"), col("v").as("scc_id"))
          active = keep
          edges = edges
            .join(active.select(col("v").as("src")), Seq("src"), "left_semi")
            .join(active.select(col("v").as("dst")), Seq("dst"), "left_semi")
            .localCheckpoint(eager = false)
        }
        trims += 1
      }
      if (!trimDone)
        throw new IllegalStateException(s"graphScc: trim ran $trims rounds")
      if (active.isEmpty) done = true
      else {
        // (b) forward min-id coloring to fixpoint on the trimmed core
        // (lazy: the first round's convergence count forces it)
        var color = active.select(col("v"), col("v").as("c"))
          .localCheckpoint(eager = false)
        var inner = 0
        var stable = false
        while (!stable && inner < 64) {
          val msgs = color.join(edges, color("v") === edges("src"))
            .select(edges("dst").as("v"), col("c"))
          // (measured r14: a pointer-jumping shortcut — unioning
          // c(c(v)) labels per round — is invariant-preserving here but
          // LOST 7.2s -> 10.8s at sf0.1: after trimming, the core's
          // label-propagation depth is already small, so the extra
          // color self-join per round is pure overhead)
          val next = color.select(col("v"), col("c")).unionAll(msgs)
            .groupBy(col("v")).agg(min(col("c")).as("c"))
            .localCheckpoint(eager = false)
          val changed = next
            .join(color.select(col("v"), col("c").as("c0")), Seq("v"))
            .where(col("c") =!= col("c0")).count()
          color = next
          if (changed == 0) stable = true
          inner += 1
        }
        if (!stable)
          throw new IllegalStateException(s"graphScc: coloring ran $inner rounds")
        // (c) backward BFS from every pivot at once, color-restricted:
        // SCC(c) = {v : color(v) = c and v reaches c}
        var scc = color.where(col("v") === col("c"))
          .select(col("c"), col("v")).localCheckpoint()
        var frontier = scc
        var back = 0
        var backDone = false
        while (!backDone && back < 64) {
          val next = frontier.join(edges, frontier("v") === edges("dst"))
            .select(col("c"), edges("src").as("v"))
            .distinct()
            .join(color.select(col("v"), col("c").as("vc")), Seq("v"))
            .where(col("c") === col("vc")).select(col("c"), col("v"))
            .join(scc, Seq("c", "v"), "left_anti")
            .localCheckpoint(eager = false)
          if (next.count() == 0) backDone = true
          else {
            // lazy: next round's anti-join count forces the union once
            scc = scc.unionAll(next).localCheckpoint(eager = false)
            frontier = next
          }
          back += 1
        }
        if (!backDone)
          throw new IllegalStateException(s"graphScc: backward BFS ran $back rounds")
        settled += scc.select(col("v").as("part"), col("c").as("scc_id"))
        active = active
          .join(scc.select(col("v")), Seq("v"), "left_anti")
          .localCheckpoint(eager = false)
        val liveLeft = active.count()
        if (liveLeft == 0) done = true
        else {
          edges = edges
            .join(active.select(col("v").as("src")), Seq("src"), "left_semi")
            .join(active.select(col("v").as("dst")), Seq("dst"), "left_semi")
            .localCheckpoint(eager = false)
          // hybrid tail: a broadcast-tier remainder finishes driver-side
          // (see the scaladoc); the edge gate is one extra count, paid at
          // most once per escape attempt
          if (liveLeft <= 16384L && edges.count() <= (1L << 20)) {
            val s = edges0.sparkSession
            val nodesArr = active.select(col("v"))
              .collect().map(_.getLong(0)).sorted
            val edgesArr = edges.select(col("src"), col("dst"))
              .collect().map(r => (r.getLong(0), r.getLong(1)))
            settled += s
              .createDataFrame(tarjanDriver(nodesArr, edgesArr).toIndexedSeq)
              .toDF("part", "scc_id")
            done = true
          }
        }
      }
      outer += 1
    }
    if (!done)
      throw new IllegalStateException(s"graphScc: no fixpoint in $outer rounds")
    settled.reduce(_ unionAll _)
  }

  /** Query key `graph_condensation`: the condensation DAG of
    * [[graphScc]] — one row per strongly connected component with the
    * structural metadata a pipeline reads off the directed decomposition
    * (what PageRank's convergence and any dependency-ordered processing
    * actually depend on): scc_size, in/out degree in the condensation
    * (distinct neighbor COMPONENTS, internal edges dropped), and depth =
    * the longest path from any source component — the level at which a
    * topological schedule would run this component, and the number of
    * sequential passes a dependency-ordered job needs.
    *
    * Algorithm: contract [[sccFrom]]'s coloring over the directed edge
    * list (two id-keyed joins + distinct), then longest-path by
    * Bellman-Ford-style relaxation on the COMPONENT graph — per round
    * one keyed aggregate (max over incoming depth+1), convergence count
    * materializes the lazy localCheckpoint, rounds bounded by the
    * condensation depth (the same quantity graph_scc's outer loop
    * tracks), capped and THROWING rather than emitting a partial answer
    * (a cycle surviving contraction — impossible by construction —
    * would otherwise relax forever). Nothing graph-sized at the driver.
    *
    * Pinned EXACT against a driver recompute from the Round13Spec
    * Tarjan (condensation edges + topological DP) at sf0.01. */
  def graphCondensation(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    // Metadata-tier finisher (r16, the sccLabelRows recipe): when the
    // shared edge set rode the gated collect (≤ 1M edges — it is then
    // driver-resident either way, memo-served or freshly collected), the
    // contraction, the longest-path DP, and the degree counts run as one
    // driver pass over those rows — Kahn topological order + DP, exactly
    // the recompute Round13Spec pins the distributed relaxation against —
    // instead of ~10 relaxation-round driver jobs over component-count-
    // sized frames. Above the gate the distributed Bellman-Ford path
    // below runs unchanged (the 100 TB shape).
    sccEdgeArr(s, d, producer = false) match {
      case Some(earr) =>
        val labels = sccLabelArr(s, d, producer = false)
        val comp = labels.toMap
        val sizes = labels.groupMapReduce(_._2)(_ => 1L)(_ + _)
        val ce = earr.iterator
          .map { case (a, b) => (comp(a), comp(b)) }
          .filter(t => t._1 != t._2).toArray.distinct
        val nodes = sizes.keys.toArray.sorted
        val indeg = scala.collection.mutable.Map.empty[Long, Int]
        val outAdj = scala.collection.mutable.Map
          .empty[Long, scala.collection.mutable.ArrayBuffer[Long]]
        ce.foreach { case (u, v) =>
          indeg(v) = indeg.getOrElse(v, 0) + 1
          outAdj.getOrElseUpdate(
            u, scala.collection.mutable.ArrayBuffer.empty) += v
        }
        val depth = scala.collection.mutable.Map.empty[Long, Long]
        val queue = scala.collection.mutable.Queue(
          nodes.filter(v => indeg.getOrElse(v, 0) == 0): _*)
        var processed = 0
        while (queue.nonEmpty) {
          val u = queue.dequeue()
          processed += 1
          outAdj.get(u).foreach(_.foreach { v =>
            val cand = depth.getOrElse(u, 0L) + 1L
            if (cand > depth.getOrElse(v, 0L)) depth(v) = cand
            indeg(v) -= 1
            if (indeg(v) == 0) queue += v
          })
        }
        if (processed != nodes.length) throw new IllegalStateException(
          "graphCondensation: contracted graph is not a DAG")
        val outDeg = ce.groupMapReduce(_._1)(_ => 1L)(_ + _)
        val inDeg = ce.groupMapReduce(_._2)(_ => 1L)(_ + _)
        s.createDataset(nodes.map(v => (v, sizes(v),
            depth.getOrElse(v, 0L), outDeg.getOrElse(v, 0L),
            inDeg.getOrElse(v, 0L))).toIndexedSeq)
          .toDF("scc_id", "scc_size", "depth", "out_deg", "in_deg")
          .orderBy(col("scc_id"))
      case None => condensationDistributed(s, d)
    }
  }

  /** The distributed condensation (contraction joins + Bellman-Ford
    * longest-path relaxation) — the above-gate path of
    * [[graphCondensation]], named so Round16OptSpec can pin the driver
    * DP against it on the fixture. */
  private[graft] def condensationDistributed(
      s: SparkSession, d: String): DataFrame = {
    // consumer of the shared labeling AND edge set: memo hit when
    // graph_scc (or an earlier condensation) already derived them for
    // this corpus in-session — a hit skips the wedge self-join entirely
    val e = sccEdgeRows(s, d, producer = false).localCheckpoint()
    val comp = sccLabelRows(s, d, producer = false)
    val sizes = comp.groupBy(col("scc_id")).agg(count(lit(1)).as("scc_size"))
    val ce = e
      .join(comp.select(col("part").as("src"), col("scc_id").as("csrc")),
        Seq("src"))
      .join(comp.select(col("part").as("dst"), col("scc_id").as("cdst")),
        Seq("dst"))
      .where(col("csrc") =!= col("cdst"))
      .select(col("csrc"), col("cdst")).distinct()
      .localCheckpoint()
    var depth = sizes.select(col("scc_id"), lit(0L).as("depth"))
      .localCheckpoint()
    var rounds = 0
    var stable = false
    while (!stable && rounds < 64) {
      val relaxed = depth.join(ce, depth("scc_id") === ce("csrc"))
        .select(col("cdst").as("scc_id"), (col("depth") + 1L).as("depth"))
      val next = depth.select(col("scc_id"), col("depth")).unionAll(relaxed)
        .groupBy(col("scc_id")).agg(max(col("depth")).as("depth"))
        .localCheckpoint(eager = false)
      val changed = next
        .join(depth.select(col("scc_id"), col("depth").as("d0")),
          Seq("scc_id"))
        .where(col("depth") =!= col("d0")).count()
      depth = next
      if (changed == 0) stable = true
      rounds += 1
    }
    if (!stable) throw new IllegalStateException(
      s"graphCondensation: longest-path relaxation ran $rounds rounds " +
        "without converging — the contracted graph is not a DAG")
    val outDeg = ce.groupBy(col("csrc").as("scc_id"))
      .agg(count(lit(1)).as("out_deg"))
    val inDeg = ce.groupBy(col("cdst").as("scc_id"))
      .agg(count(lit(1)).as("in_deg"))
    sizes
      .join(depth, Seq("scc_id"))
      .join(outDeg, Seq("scc_id"), "left")
      .join(inDeg, Seq("scc_id"), "left")
      .select(col("scc_id"), col("scc_size"), col("depth"),
        coalesce(col("out_deg"), lit(0L)).as("out_deg"),
        coalesce(col("in_deg"), lit(0L)).as("in_deg"))
      .orderBy(col("scc_id"))
  }

  /** 1e-4-grid mean of a double column (exact integer sums) — the
    * report's one-row readout helper. */
  private def meanOnGrid4(df: DataFrame, c: String): Double = {
    val r = df.agg(count(lit(1)).as("n"),
      sum(floor(col(c) * 1e4 + 0.5).cast("long")).as("g")).head()
    math.floor(r.getLong(1).toDouble / r.getLong(0).toDouble + 0.5) / 1e4
  }

  /** Query key `pipeline_graph_report`: the composed GRAPH-SAMPLING
    * decision table — the ann/tokenizer/smoothing-report recipe applied
    * to the DOULION family: one row per metric × {exact value, sampled
    * value, rel_err}, for the three exact/approx pairs the engine
    * carries (triangle count, mean clustering coefficient over the
    * deg ≥ 2 cohort, Adamic–Adar top-50 overlap). A graph team reads
    * ONE table to decide whether the thinned tiers are acceptable at
    * their density, as a feed team reads the smoothing report to pick a
    * forecaster — this is the measured answer to "what does 1-in-k edge
    * sampling cost me HERE", not a textbook error bound.
    *
    * Composes the unchanged kernels (inherits their determinism: the
    * adaptive rate sits at its floor k = 2 on the fixture, and the
    * xxhash64 edge draw is partition-free). Means run on the 1e-4 grid
    * (exact integer sums); the driver touches one-row aggregates and
    * the two top-50 pair sets — metadata, lint-whitelisted. Pins: every
    * cell equals an independent recompute from the kernels' own
    * outputs; determinism (Round13Spec). */
  def pipelineGraphReport(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    // The assembled 3-row table is memoized per corpus fingerprint
    // (graft.Memo; r13 verdict task 6): the report composes kernels that
    // are deterministic BY PIN, so serving a same-corpus re-run from the
    // session memo cannot change any cell — the first run in a session
    // still pays the full composition (that run is what the bench's
    // per-query samples record as the build cost).
    val fp = graft.Memo.fingerprint(d, "lineitem.parquet")
    val rows = graft.Memo.getOrCompute("pipeline_graph_report", fp) {
      val triEx = graphTriangleCount(s, d).head().getLong(2)
      val triAp = graphTriangleApprox(s, d).head().getLong(2)
      val ccEx = meanOnGrid4(graphClusteringCoeff(s, d), "coeff")
      val ccAp = meanOnGrid4(graphClusteringCoeffApprox(s, d), "coeff_est")
      val aaEx = Quant.graphAdamicAdar(s, d).select(col("a"), col("b"))
        .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
      val aaAp = Quant.graphAdamicAdarApprox(s, d).select(col("a"), col("b"))
        .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
      val hits = (aaEx & aaAp).size
      def rel(ex: Double, ap: Double): Double =
        if (ex == 0.0) 0.0
        else math.floor(math.abs(ap - ex) / ex * 10000.0 + 0.5) / 1e4
      Seq(
        ("adamic_top50_overlap", 50.0, hits.toDouble,
          rel(50.0, hits.toDouble)),
        ("avg_clustering", ccEx, ccAp, rel(ccEx, ccAp)),
        ("triangles", triEx.toDouble, triAp.toDouble,
          rel(triEx.toDouble, triAp.toDouble)))
    }
    rows
      .toDF("metric", "exact", "sampled", "rel_err")
      .orderBy(col("metric"))
  }

  /** Query key `graph_ktruss`: the 3-truss of the co-order part graph —
    * the EDGE-level cohesion decomposition completing the family
    * (graph_coreness/kcore peel VERTICES by degree; the truss peels
    * EDGES by triangle support, a strictly stronger notion: every
    * 3-truss edge sits in ≥ 1 triangle whose other edges also survive,
    * so the result is the graph's triangle-reinforced skeleton —
    * community cores without the resolution problems of plain CC, the
    * standard "cohesive subgraph" answer when k-core is too loose).
    * k = 3 is the fixture's informative rung: the co-order graph is
    * wedge-sparse (README's DOULION note) and its 4-truss is EMPTY —
    * measured, and the pin would degenerate to 0 == 0.
    *
    * Algorithm: iterate {per-edge support = common-neighbor count via
    * the wedge join restricted to SURVIVING edges (the triangle kernel's
    * shape: adjacency expand + least/greatest semi-join closure), drop
    * edges with support < 1} to fixpoint — rounds bounded by the peeling
    * depth, capped and THROWING rather than emitting a partial truss;
    * every step is a keyed join/aggregate, nothing graph-sized at the
    * driver. Same edge set as the triangle family (co-order cnt ≥ 2,
    * p1 < p2). The wedge join is the exact-anchor class (bench
    * exclusion adjudication as graph_triangle_count; the DOULION-thinned
    * tiers are the scale path for the support pass).
    *
    * Pins: EXACT driver peeling replay at sf0.01; synthetic K4 (support
    * 2 everywhere) AND a lone triangle (support 1) survive while
    * pendant edges peel away (Round13Spec). */
  def graphKtruss(s: SparkSession, d: String): DataFrame = {
    val e0 = coEdges(s, d)
      .localCheckpoint()
    ktrussFrom(e0)
  }

  /** 3-truss core over an undirected (p1 < p2) edge frame. */
  private[graft] def ktrussFrom(e0: DataFrame): DataFrame = {
    var e = e0
    var cur = e.count()
    var rounds = 0
    var result: DataFrame = null
    while (result == null && rounds < 32) {
      val sym = e.select(col("p1").as("x"), col("p2").as("y"))
        .unionAll(e.select(col("p2").as("x"), col("p1").as("y")))
      val wedges = e.join(sym.toDF("p1", "w"), Seq("p1"))
        .where(col("w") =!= col("p2"))
      val closed = wedges.join(e.toDF("q1", "q2"),
        least(col("p2"), col("w")) === col("q1") &&
          greatest(col("p2"), col("w")) === col("q2"),
        "left_semi")
      val supp = closed.groupBy(col("p1"), col("p2"))
        .agg(count(lit(1)).as("support"))
      val keep = e.join(supp, Seq("p1", "p2"), "left")
        .select(col("p1"), col("p2"),
          coalesce(col("support"), lit(0L)).as("support"))
        .where(col("support") >= 1)
        .localCheckpoint(eager = false)
      val kept = keep.count()
      if (kept == cur) result = keep
      else {
        e = keep.select(col("p1"), col("p2")).localCheckpoint()
        cur = kept
      }
      rounds += 1
    }
    if (result == null) throw new IllegalStateException(
      s"graphKtruss: peeling ran $rounds rounds without a fixpoint")
    result.orderBy(col("p1"), col("p2"))
  }

  /** Query key `graph_mst_boruvka`: maximum-similarity spanning forest
    * of the undirected co-order part graph by Borůvka rounds — the
    * single-linkage BACKBONE of the similarity graph (weight = co-order
    * count; maximizing it ≡ minimizing 1/cnt, the classic MST-on-
    * similarity): the ≤ n−1 strongest edges that keep every connected
    * part reachable — the skeleton hierarchical clustering and
    * graph-sparsification passes start from (cutting its weakest edges
    * IS single-linkage clustering).
    *
    * Distributed shape: the DATA-SIZED work — scoring every edge
    * against the current component cut and reducing to one best edge
    * per component under the STRICT total order (cnt desc, p1 asc,
    * p2 asc) — is one partially-aggregated reduceGroups job per round
    * over the edge set. The CONTRACTION state is over the part CATALOG
    * (a dimension, not a fact table), so it lives in a driver
    * union-find with the root map broadcast each round — the same
    * dim-fits-in-memory adjudication that lets knn_cosine broadcast the
    * reference matrix and cache_hot_dim pin a dimension; at a part
    * catalog beyond driver memory the contraction moves to distributed
    * label propagation ([[graft.ops.LlmPipeline.minLabelCc]]) at
    * diameter-many extra jobs per round. Component count at least
    * halves per round ⇒ ≤ log₂ n rounds, capped and throwing; the
    * chosen per-round edges are collected (≤ live components, halving —
    * ≤ 2(n−1) rows over the whole run, forest-sized).
    *
    * The strict total order makes the forest UNIQUE (all cut maxima are
    * strict), so Borůvka must equal a driver Kruskal under the same
    * order — the pin. A cycle among per-round chosen edges is
    * impossible under a strict order (the cycle's minimum edge is
    * nobody's cut maximum); the union step asserts it anyway.
    *
    * Pins: EXACT equality with driver Kruskal (union-find) at sf0.01,
    * forest identity |F| = n − #components (Round13Spec). */
  def graphMstBoruvka(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    // producer of the shared forest memo (the scc-label recipe): the key
    // that OWNS the build cost always recomputes and refreshes; only the
    // derived single-linkage cut reads it. Forest rows are <= n-1 over
    // the part CATALOG — dimension-sized, the union-find adjudication.
    val rows = graft.Memo.refresh("mst_forest",
      graft.Memo.fingerprint(d, "lineitem.parquet"))(boruvkaForest(s, d))
    rows.toSeq.toDF("p1", "p2", "cnt", "round")
      .orderBy(col("p1"), col("p2"))
  }

  /** The Borůvka rounds themselves; see [[graphMstBoruvka]] for the
    * algorithm/scale/determinism story. */
  private def boruvkaForest(
      s: SparkSession, d: String): Array[(Long, Long, Long, Int)] = {
    import s.implicits._
    val e0 = coOrderPairs(s, d)
      .groupBy(col("p1"), col("p2")).agg(count(lit(1)).as("cnt"))
      .as[(Long, Long, Long)]
      .localCheckpoint()
    val uf = new UnionFind
    // the part catalog (dim-sized): one job, fixes the union-find domain
    val ids = e0.flatMap(t => Iterator(t._1, t._2)).distinct().collect()
    ids.foreach(uf.find)
    val out = scala.collection.mutable.ArrayBuffer.empty[(Long, Long, Long, Int)]
    var round = 1
    var done = false
    // static narrow compile for the rounds (r16, graft.LoopConf): each
    // best-cut-edge job otherwise pays AQE stage barriers + a session-
    // width exchange of per-component partials; the reduce is a strict
    // total order, so the chosen forest is width-free (the Kruskal pin)
    graft.LoopConf.static(s, graft.LoopConf.width(e0.count())) {
    while (!done && round <= 34) {
      val bc = graft.Broadcasts.track(s.sparkContext.broadcast(uf.rootMap))
      // one job: per-component best cut edge, map-side partial reduce
      val best = e0.flatMap { case (a, b, c) =>
        val m = bc.value
        val ra = m(a); val rb = m(b)
        if (ra == rb) Iterator.empty
        else Iterator((ra, (c, a, b)), (rb, (c, a, b)))
      }
        .groupByKey(_._1)
        .reduceGroups { (x, y) =>
          val (_, (c1, a1, b1)) = x; val (_, (c2, a2, b2)) = y
          val keep = c1 > c2 || (c1 == c2 &&
            (a1 < a2 || (a1 == a2 && b1 <= b2)))
          if (keep) x else y
        }
        .map(_._2._2)
        .collect()
      if (best.isEmpty) done = true
      else {
        // dedup (both endpoints may pick the same edge), deterministic
        // insertion order for the asserted unions
        best.distinct.sortBy { case (c, a, b) => (-c, a, b) }
          .foreach { case (c, a, b) =>
            if (!uf.union(a, b)) throw new IllegalStateException(
              s"graphMstBoruvka: chosen edge ($a,$b) closes a cycle — " +
                "impossible under a strict total order")
            out += ((a, b, c, round))
          }
        round += 1
      }
    }
    }
    if (!done) throw new IllegalStateException(
      s"graphMstBoruvka: no fixpoint in $round rounds — component count " +
        "must at least halve per round, so this is a contraction bug")
    out.toArray
  }

  /** Query key `cluster_hierarchical_cut`: single-linkage clusters from
    * the Borůvka forest — the composition [[graphMstBoruvka]]'s doc
    * promises made executable ("cutting its weakest edges IS
    * single-linkage clustering"): drop every forest edge with co-order
    * weight < 3, the connected fragments of what remains ARE the
    * single-linkage clusters at that similarity threshold (the standard
    * MST⇄single-linkage equivalence: the max-spanning forest cut at t
    * partitions exactly like the FULL graph thresholded at t — the pin
    * below verifies that equivalence against an independent driver CC
    * of the full thresholded graph, not just a forest replay). The
    * forest carries every co-order edge weight (cnt ≥ 1), so t = 1
    * returns its own components unchanged; t = 3 is the informative
    * rung that actually fragments the fixture.
    *
    * Scale: composes the forest build (its scale story — one reduced
    * job per halving round; served from the shared forest memo when
    * graph_mst_boruvka already built this corpus in-session, rebuilt
    * fresh otherwise) + one filter + [[graft.ops.LlmPipeline
    * .minLabelCc]] over the KEPT fragments (diameter-bounded per
    * fragment, forest-sized input) + one label window; cluster ids are
    * min member ids (deterministic). Oracle-exempt (iterative
    * composition); Round14Spec pins the full-graph CC equivalence at
    * sf0.01 and a synthetic weak-link split. */
  def clusterHierarchicalCut(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    // consumer of the shared forest memo: a session that already built
    // graph_mst_boruvka's forest for this corpus reuses it (producer
    // always recomputes — the scc-label/BPE rule)
    val rows = graft.Memo.getOrCompute("mst_forest",
      graft.Memo.fingerprint(d, "lineitem.parquet"))(boruvkaForest(s, d))
    val forest = rows.toSeq
      .toDF("p1", "p2", "cnt", "round")
      .select(col("p1"), col("p2"), col("cnt")).localCheckpoint()
    // universe: the forest spans every non-isolated co-order node
    val nodes = forest.select(col("p1").as("v"))
      .unionByName(forest.select(col("p2").as("v"))).distinct()
    val kept = forest.where(col("cnt") >= 3)
      .select(col("p1"), col("p2"))
    val sym = kept.select(col("p1").as("src"), col("p2").as("dst"))
      .unionByName(kept.select(col("p2").as("src"), col("p1").as("dst")))
      .localCheckpoint()
    val labels = LlmPipeline.minLabelCc(
      nodes.select(col("v"), col("v").as("lbl")), sym)
    labels
      .withColumn("cluster_size",
        count(lit(1)).over(Window.partitionBy(col("lbl"))))
      .select(col("v").as("part"), col("lbl").as("cluster_id"),
        col("cluster_size"))
      .orderBy(col("part"))
  }

  /** Sampled-Brandes core over a symmetric (src, dst) edge list; see
    * [[graphBetweennessApprox]]. `dep_sum` is the raw accumulated
    * dependency Σ_seeds δ_seed(v) on the 1e-6 grid; `bc_est` rescales
    * by n/(2K) — the unbiased estimate of the classic undirected
    * betweenness (each unordered pair counted once). */
  private[graft] def betweennessFrom(und: DataFrame, k: Int): DataFrame =
    betweennessFinish(und, bfsLevels(und, k).toSeq, k)

  /** Backward dependency accumulation over already-built level frames
    * (split from [[betweennessFrom]] so the query key can refresh the
    * shared BFS memo from the levels it builds anyway). */
  private def betweennessFinish(
      und: DataFrame, levels: Seq[DataFrame], k: Int): DataFrame = {
    val maxD = levels.length - 1
    val nD = und.select(col("src")).distinct().count().toDouble
    // backward: at loop entry `deltas` is the FINAL (seed, v, sigma, dl)
    // frame for distance `lvl` — in a shortest-path DAG every
    // contribution into level lvl-1 comes from level lvl only
    var deltas = levels(maxD).withColumn("dl", lit(0L))
    val finals = scala.collection.mutable.ArrayBuffer(deltas)
    for (lvl <- maxD to 1 by -1) {
      val w = deltas
      val contribs = w.join(und, w("v") === und("dst"))
        .select(col("seed"), und("src").as("p"),
          col("sigma").as("sw"), col("dl"))
        .join(levels(lvl - 1).select(col("seed"), col("v").as("p"),
          col("sigma").as("sp")), Seq("seed", "p"))
        .select(col("seed"), col("p"),
          floor((col("sp").cast("double") / col("sw").cast("double")) *
            (lit(1.0) + col("dl").cast("double") / 1e9) * 1e9)
            .cast("long").as("c"))
        .groupBy(col("seed"), col("p")).agg(sum(col("c")).as("dl"))
      deltas = levels(lvl - 1)
        .join(contribs.withColumnRenamed("p", "v"), Seq("seed", "v"), "left")
        .select(col("seed"), col("v"), col("sigma"),
          coalesce(col("dl"), lit(0L)).as("dl"))
        .localCheckpoint()
      finals += deltas
    }
    finals.reduce(_ unionAll _)
      .where(col("v") =!= col("seed")) // a seed never routes through itself
      .groupBy(col("v")).agg(sum(col("dl")).as("dls"))
      .select(col("v").as("part"),
        (floor(col("dls").cast("double") / 1e9 * 1e6 + 0.5) / 1e6)
          .as("dep_sum"),
        (floor(col("dls").cast("double") / 1e9 * lit(nD / (2.0 * k)) * 1e6
          + 0.5) / 1e6).as("bc_est"))
      .orderBy(col("part"))
  }
}
