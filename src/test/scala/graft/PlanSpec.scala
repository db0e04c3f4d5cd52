package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.QueryExecution
import graft.ops.{LlmPipeline, Relational}

/** Physical-plan assertions (the 100 TB story, SURVEY.md §4): these pin
  * the plan SHAPE — pushdown reached the scan, small dims broadcast, the
  * global top-k never runs a full sort, codegen fused the hot path. A
  * regression here is a silent 100× at scale even while answers stay
  * correct, so it's tested like correctness. */
class PlanSpec extends SparkSpec {

  private def physical(df: DataFrame): String =
    df.queryExecution.executedPlan.toString

  private def formatted(df: DataFrame): String = {
    val qe: QueryExecution = df.queryExecution
    qe.explainString(org.apache.spark.sql.execution.ExplainMode.fromString("formatted"))
  }

  test("scan_pruned pushes the shipdate filter and prunes to 3 columns") {
    val plan = formatted(Relational.scanPruned(spark, sf001))
    assert(plan.contains("PushedFilters:") &&
      plan.matches("(?s).*PushedFilters: \\[IsNotNull\\(l_shipdate\\), GreaterThanOrEqual\\(l_shipdate.*"),
      s"no pushed filter in:\n$plan")
    val readSchema = plan.linesIterator.find(_.trim.startsWith("ReadSchema")).get
    assert(readSchema.contains("l_orderkey") && readSchema.contains("l_quantity")
      && !readSchema.contains("l_extendedprice"),
      s"column pruning failed: $readSchema")
  }

  test("join_dpp_pruned: the fact scan carries a dynamic-pruning partition filter") {
    val df = graft.io.Formats.joinDppPruned(spark, sf001)
    df.collect() // DPP decorates the scan at planning; force the run too
    val plan = physical(df).toLowerCase
    assert(plan.contains("dynamicpruning"),
      s"no DynamicPruningSubquery on the partitioned fact scan:\n${physical(df)}")
  }

  test("SQL join hints are obeyed: BROADCAST -> BHJ, MERGE -> SMJ on the identical query") {
    val bhj = physical(graft.ops.SqlApi.sqlJoinHints(spark, sf001))
    assert(bhj.contains("BroadcastHashJoin"), s"BROADCAST hint ignored:\n$bhj")
    val smj = physical(graft.ops.SqlApi.sqlJoinHintsMerge(spark, sf001))
    assert(smj.contains("SortMergeJoin"),
      s"MERGE hint ignored (planner still chose broadcast):\n$smj")
    // and the hint is result-invisible
    assert(graft.ops.SqlApi.sqlJoinHints(spark, sf001).collect().toSeq ==
      graft.ops.SqlApi.sqlJoinHintsMerge(spark, sf001).collect().toSeq)
  }

  test("cache_hot_dim: both readers scan the InMemoryRelation") {
    val df = Relational.cacheHotDim(spark, sf001)
    df.collect()
    val plan = physical(df)
    assert(plan.contains("InMemoryTableScan") || plan.contains("Scan In-memory"),
      s"cached dim not read from memory:\n$plan")
  }

  test("join_broadcast plans BroadcastHashJoin for both dims, no shuffle of the fact side") {
    val plan = physical(Relational.joinBroadcast(spark, sf001))
    assert(plan.contains("BroadcastHashJoin"), plan)
    assert(!plan.contains("SortMergeJoin"), s"dim join degraded to SMJ:\n$plan")
  }

  test("sql_tpch_q3 (SQL front door) plans like the DataFrame form") {
    val df = graft.ops.SqlApi.sqlTpchQ3(spark, sf001)
    df.collect() // finalize AQE so runtime join selection is visible
    val plan = physical(df)
    assert(plan.contains("PushedFilters: [IsNotNull(c_mktsegment), EqualTo(c_mktsegment,BUILDING)"),
      s"segment filter not pushed:\n$plan")
    assert(plan.contains("BroadcastHashJoin"), s"no broadcast join:\n$plan")
    assert(plan.contains("TakeOrderedAndProject"), s"top-10 ran a global sort:\n$plan")
  }

  test("sql_tpch_q5: region filter pushed, dims broadcast, no nested loop") {
    val df = graft.ops.SqlApi.sqlTpchQ5(spark, sf001)
    df.collect() // finalize AQE so runtime join selection is visible
    val plan = physical(df)
    assert(plan.contains("PushedFilters: [IsNotNull(r_name), EqualTo(r_name,ASIA)"),
      s"region filter not pushed:\n$plan")
    assert(plan.contains("PushedFilters: [IsNotNull(o_orderdate), GreaterThanOrEqual(o_orderdate,"),
      s"orderdate range not pushed:\n$plan")
    assert(plan.contains("BroadcastHashJoin"), s"no broadcast join:\n$plan")
    assert(!plan.contains("BroadcastNestedLoopJoin") &&
      !plan.contains("CartesianProduct"),
      s"6-table composite degraded to a nested loop:\n$plan")
  }

  test("sql_tpch_q18: HAVING subquery plans as a semi join, no nested loop") {
    val df = graft.ops.SqlApi.sqlTpchQ18(spark, sf001)
    df.collect()
    val plan = physical(df)
    assert(plan.contains("LeftSemi"),
      s"IN-subquery did not decorrelate to a semi join:\n$plan")
    assert(!plan.contains("BroadcastNestedLoopJoin") &&
      !plan.contains("CartesianProduct"),
      s"q18 degraded to a nested loop:\n$plan")
  }

  test("join_shuffledhash honors the SHUFFLE_HASH hint") {
    val plan = physical(Relational.joinShuffledhash(spark, sf001))
    assert(plan.contains("ShuffledHashJoin"), plan)
  }

  test("ts_gapfill / pipeline_feature_snapshot / cdc_upsert_latest round via Det (FLOOR), not builtin round") {
    // graft.Det.round is an explicit import that shadows functions.round
    // (the builtin rounds HALF_UP on the shortest decimal string and
    // disagrees with the oracle's floor(x*100+0.5)/100 at .xx5 boundaries,
    // Det.scala:8-14). ADVICE round-3 flagged these three call sites as
    // builtin-round; this pins the shadowing so it can never regress.
    // analyzed (not optimized) plan: caching substitution can fold the
    // rounding into an aggregate's resultExpressions where toString hides
    // it; the analyzed tree always prints the full expression
    for ((name, df) <- Seq(
        "ts_gapfill" -> graft.ops.Windows.tsGapfill(spark, sf001),
        "pipeline_feature_snapshot" -> LlmPipeline.pipelineFeatureSnapshot(spark, sf001),
        "cdc_upsert_latest" -> Relational.cdcUpsertLatest(spark, sf001))) {
      val plan = df.queryExecution.analyzed.toString
      assert(plan.toUpperCase.contains("FLOOR"),
        s"$name: Det.round (FLOOR formula) missing from plan:\n$plan")
      assert(!plan.matches("(?s).*\\bround\\(.*"),
        s"$name: builtin round() leaked into plan:\n$plan")
    }
  }

  test("join_bucketed_colocated joins from bucket layout with no exchange on either side") {
    val df = graft.ops.Analytics.joinBucketedColocated(spark, sf001)
    df.collect() // finalize AQE; the bucketed scan decision is runtime-visible
    val plan = physical(df)
    assert(plan.contains("Bucketed: true"), s"scan not bucket-aware:\n$plan")
    assert(!plan.contains("Exchange hashpartitioning(c_custkey")
      && !plan.contains("Exchange hashpartitioning(o_custkey"),
      s"bucketed join still shuffles a side:\n$plan")
  }

  test("assoc_pairs self-join never shuffles lineitem twice for the join") {
    val df = graft.ops.Analytics.assocPairs(spark, sf001)
    df.collect()
    val plan = physical(df)
    // legal shapes: AQE broadcasts one side (zero join shuffles — the
    // sf0.001 outcome), or at scale both sides hash on the same orderkey
    // projection and Spark reuses ONE exchange; two independent full
    // shuffles of lineitem is the regression being pinned
    val joinShuffles = "Exchange hashpartitioning\\(ok".r.findAllIn(plan).size
    assert(joinShuffles <= 1 || plan.contains("ReusedExchange"),
      s"self-join shuffled lineitem twice:\n$plan")
  }

  test("dedup_substring_kgram re-attach adds no third gram exchange") {
    val df = graft.ops.LlmPipeline.dedupSubstringKgram(spark, sf001)
    df.collect()
    val plan = physical(df)
    // legal shapes: AQE broadcasts the aggregated counts side (one gram
    // exchange — the groupBy's), or at scale the join consumes the
    // aggregate's existing gram partitioning and only the raw gram
    // stream shuffles once more (two total). Three gram exchanges means
    // the join stopped riding the aggregate's partitioning.
    val gramShuffles = "Exchange hashpartitioning\\(gram".r.findAllIn(plan).size
    assert(gramShuffles <= 2,
      s"gram stream shuffled $gramShuffles times for the re-attach:\n$plan")
  }

  test("attribution_last_touch runs in ONE user_id shuffle (no self-join, no per-purchase subquery)") {
    val plan = physical(graft.ops.Analytics.attributionLastTouch(spark, sf001))
    val exchanges = "Exchange hashpartitioning".r.findAllIn(plan).size
    assert(exchanges == 1, s"expected exactly 1 hash exchange, got $exchanges:\n$plan")
    assert(!plan.contains("Join"), s"attribution degraded to a join:\n$plan")
  }

  test("funnel_ordered and ts_gapfill scan events ONCE (chained windows / derived grid)") {
    // funnel: three chained conditional window minima stack on one
    // user_id exchange — a join-per-stage funnel would scan 3×
    val funnel = physical(graft.ops.Analytics.funnelOrdered(spark, sf001))
    assert("FileScan parquet".r.findAllIn(funnel).size == 1,
      s"funnel_ordered scans events more than once:\n$funnel")
    // gapfill: the bucket aggregate is persisted and feeds all three
    // consumers (bounds, types, fill join) through the cache — without it
    // column pruning specializes each reference into its own events scan
    val gap = physical(graft.ops.Windows.tsGapfill(spark, sf001))
    assert("InMemoryTableScan".r.findAllIn(gap).size >= 3,
      s"ts_gapfill consumers bypass the persisted buckets:\n$gap")
  }

  test("topk_global uses TakeOrderedAndProject (no global sort)") {
    val plan = physical(Relational.topkGlobal(spark, sf001))
    assert(plan.contains("TakeOrderedAndProject"), plan)
  }

  test("join_theta_range keeps the user_id equi-conjunct as the join key (hash, not NL)") {
    val plan = physical(Relational.joinThetaRange(spark, sf001))
    assert(plan.contains("SortMergeJoin") || plan.contains("ShuffledHashJoin")
      || plan.contains("BroadcastHashJoin"),
      s"range join fell back to nested loop:\n$plan")
    assert(!plan.contains("BroadcastNestedLoopJoin"),
      s"range join fell back to nested loop:\n$plan")
  }

  test("agg_pricing_summary runs inside WholeStageCodegen with partial aggregation") {
    val pre = physical(Relational.aggPricingSummary(spark, sf001))
    // partial + final: two HashAggregate nodes around the key exchange
    assert("HashAggregate".r.findAllIn(pre).length >= 2, pre)
    assert(pre.contains("partial_sum"), pre)
    // codegen spans print as "*(n)" stage markers in treeString; AQE only
    // renders them in the final plan, so execute first.
    val df = Relational.aggPricingSummary(spark, sf001)
    df.collect()
    val post = df.queryExecution.executedPlan.toString
    assert("\\*\\(\\d+\\)".r.findFirstIn(post).isDefined,
      s"no WholeStageCodegen stage markers in:\n$post")
  }

  test("join_semi / join_anti plan as semi/anti joins, not row-multiplying inner joins") {
    assert(physical(Relational.joinSemi(spark, sf001)).contains("LeftSemi"))
    assert(physical(Relational.joinAnti(spark, sf001)).contains("LeftAnti"))
  }

  test("corpus-shaping windows all partition on a stratum key (no global single-partition window)") {
    import org.apache.spark.sql.execution.window.WindowExec
    for ((name, df) <- Seq(
        "pack_sequences" -> LlmPipeline.packSequences(spark, sf001),
        "sample_stratified" -> LlmPipeline.sampleStratified(spark, sf001),
        "text_tfidf_topterms" -> LlmPipeline.textTfidfTopterms(spark, sf001))) {
      // sparkPlan, not executedPlan: the AQE root doesn't expose children
      // to collect() before execution
      val windows = df.queryExecution.sparkPlan.collect { case w: WindowExec => w }
      assert(windows.nonEmpty, s"$name: expected a WindowExec")
      windows.foreach { w =>
        assert(w.partitionSpec.nonEmpty,
          s"$name has a window with empty partitionBy — a single-partition " +
            s"global window is a 100 TB bottleneck:\n$w")
      }
    }
  }

  test("text_tfidf_topterms folds corpus size in as a broadcast one-row join, not a driver action") {
    val plan = physical(LlmPipeline.textTfidfTopterms(spark, sf001))
    assert(plan.contains("BroadcastNestedLoopJoin"),
      s"expected the 1-row corpus-size broadcast join:\n$plan")
  }

  test("dedup_exact_sha shuffles digests, not documents (pre-shuffle partial agg)") {
    val plan = physical(LlmPipeline.dedupExactSha(spark, sf001))
    // partial HashAggregate before the exchange keyed on the digest
    assert(plan.contains("HashAggregate"), plan)
    assert(plan.contains("Exchange hashpartitioning(digest"), plan)
    assert(!plan.contains("Exchange hashpartitioning(text"), plan)
  }

  test("agg_unpivot plans one scan + Expand, not a union of per-measure self-scans") {
    val plan = physical(Relational.aggUnpivot(spark, sf001))
    assert(plan.contains("Expand"), s"no Expand generator in:\n$plan")
    assert(!plan.contains("Union"), s"melt degraded to a self-scan union:\n$plan")
    // one lineitem scan only
    assert("FileScan parquet".r.findAllIn(plan).length == 1, plan)
  }

  test("pipeline_corpus_curate: quality gate runs before the dedup shuffle, keyed on the digest") {
    val plan = physical(LlmPipeline.pipelineCorpusCurate(spark, sf001))
    // the digest alias collapses to _groupingexpression in the plan; the
    // load-bearing facts are: sha2 is computed pre-shuffle and the
    // exchange never keys on the raw text column
    assert(plan.contains("sha2(cast(text"), plan)
    assert(!plan.contains("Exchange hashpartitioning(text"), plan)
    // the size()-based quality filter sits below the first exchange: the
    // Filter node must appear AFTER the last Exchange in the bottom-up
    // plan string (executedPlan prints top-down, so filter index > first
    // exchange index means filter is deeper = earlier in execution)
    val firstExchange = plan.indexOf("Exchange")
    val gateFilter = plan.lastIndexOf("Filter")
    assert(firstExchange >= 0 && gateFilter > firstExchange,
      s"quality gate not below the shuffle:\n$plan")
  }

  test("AQE coalesces shuffle partitions at runtime on small data") {
    import org.apache.spark.sql.functions.col
    // 4 configured shuffle partitions, a few KB of data: the runtime
    // re-plan must read the shuffle as fewer, fused partitions — the
    // mechanism that keeps a 100 TB job from drowning in tiny tasks when
    // a filter collapses the data early.
    val df = graft.io.Tables.events(spark, sf001)
      .groupBy(col("event_type")).count()
    df.collect()
    val plan = df.queryExecution.executedPlan.toString
    assert(plan.contains("AQEShuffleRead") && plan.contains("coalesced"),
      s"no runtime coalesce in:\n$plan")
  }

  test("AQE splits a skewed join partition at runtime (skew join)") {
    import spark.implicits._
    import org.apache.spark.sql.functions.{col, length, sum}
    val conf = spark.conf
    val keys = Seq(
      "spark.sql.autoBroadcastJoinThreshold",
      "spark.sql.adaptive.skewJoin.skewedPartitionFactor",
      "spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes",
      "spark.sql.adaptive.advisoryPartitionSizeInBytes")
    val saved = keys.map(k => k -> conf.getOption(k))
    try {
      // thresholds scaled down so the synthetic hot key qualifies; the
      // production defaults differ only in magnitude, not mechanism
      conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
      conf.set("spark.sql.adaptive.skewJoin.skewedPartitionFactor", "1.0")
      conf.set("spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes", "256KB")
      conf.set("spark.sql.adaptive.advisoryPartitionSizeInBytes", "256KB")
      // one hot key carrying ~90% of the rows (the salted-join fixture
      // shape, but here AQE must handle it WITHOUT manual salting); the
      // pad is per-row distinct so compressed map-output sizes — what the
      // skew detector actually reads — stay above the threshold
      val seeded = new scala.util.Random(7)
      val left = (1 to 100000)
        .map(i => (if (i % 10 == 0) (i % 100).toLong else 0L,
          seeded.nextLong().toHexString * 4))
        .toDF("k", "pad")
      val right = (0L to 99L).map(k => (k, k * 2)).toDF("k", "v")
      // sum over pad so column pruning cannot strip the wide column from
      // the shuffle (count() alone reduces the map output to bare keys
      // and nothing is skewed enough to split)
      val agg = left.join(right, "k").agg(sum(length(col("pad"))))
      agg.collect()
      val plan = agg.queryExecution.executedPlan.toString
      assert(plan.contains("skew=true"),
        s"no runtime skew split in:\n$plan")
    } finally saved.foreach {
      case (k, Some(v)) => conf.set(k, v)
      case (k, None) => conf.unset(k)
    }
  }

  test("knn_sharded plans ZERO broadcast — the beyond-broadcast claim, mechanically") {
    val df = LlmPipeline.knnSharded(spark, sf001)
    df.collect() // finalize AQE so runtime join selection is visible
    val plan = physical(df)
    assert(!plan.contains("BroadcastExchange") &&
      !plan.contains("BroadcastHashJoin") &&
      !plan.contains("BroadcastNestedLoopJoin"),
      s"knn_sharded must never build a driver/executor broadcast:\n$plan")
    assert(!plan.contains("CartesianProduct"), s"cartesian in:\n$plan")
  }

  test("AQE skew split fires on join_sortmerge's real path under a hot key; feature_snapshot is skew-immune by pre-agg") {
    import org.apache.spark.sql.functions.{col, explode, lit, sequence, when}
    val conf = spark.conf
    val keys = Seq(
      "spark.sql.autoBroadcastJoinThreshold",
      "spark.sql.adaptive.skewJoin.skewedPartitionFactor",
      "spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes",
      "spark.sql.adaptive.advisoryPartitionSizeInBytes")
    val saved = keys.map(k => k -> conf.getOption(k))
    try {
      conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
      conf.set("spark.sql.adaptive.skewJoin.skewedPartitionFactor", "1.0")
      conf.set("spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes", "8KB")
      conf.set("spark.sql.adaptive.advisoryPartitionSizeInBytes", "8KB")
      // A 256×-replicated sf0.001 with ONE hot key owning ~half the rows —
      // the production-skew fixture, but run through the REAL SparkEntry
      // query paths, not a synthetic frame. The price jitter de-dups the
      // replicated doubles so compressed SHUFFLE sizes — what the skew
      // detector reads — reflect genuine row volume.
      val dir = tempDir("graft-skewop")
      val rep = explode(sequence(lit(1), lit(256))).as("rep")
      val li = spark.read.parquet(s"$sf001/lineitem.parquet")
      val hotOk = spark.read.parquet(s"$sf001/orders.parquet")
        .selectExpr("min(o_orderkey)").head().getLong(0)
      li.select(rep, col("*"))
        .withColumn("l_orderkey",
          when(col("l_orderkey") % 2 === 0, lit(hotOk))
            .otherwise(col("l_orderkey")))
        .withColumn("l_extendedprice",
          col("l_extendedprice") + col("rep") * lit(1e-6))
        // many input splits ⇒ many mappers: a skewed reduce partition is
        // split at MAP granularity, so a single-mapper shuffle is
        // unsplittable no matter how skewed
        .drop("rep").repartition(8).write.parquet(s"$dir/lineitem.parquet")
      spark.read.parquet(s"$sf001/orders.parquet")
        .write.parquet(s"$dir/orders.parquet")
      val ev = spark.read.parquet(s"$sf001/events.parquet")
      val hotUser = ev.selectExpr("min(user_id)").head().getLong(0)
      ev.select(rep, col("*"))
        .withColumn("user_id",
          when(col("user_id") % 2 === 0, lit(hotUser))
            .otherwise(col("user_id")))
        .withColumn("event_id",
          col("event_id") + col("rep").cast("long") * 100000000L)
        .withColumn("value", col("value") + col("rep") * lit(1e-6))
        .drop("rep").repartition(8).write.parquet(s"$dir/events.parquet")
      // join_sortmerge: the hot orderkey partition must be runtime-split
      val smj = graft.ops.Relational.joinSortmerge(spark, dir)
      smj.collect()
      assert(physical(smj).contains("skew=true"),
        s"no runtime skew split on join_sortmerge:\n${physical(smj)}")
      // feature_snapshot: the SAME hot user never reaches a join as raw
      // rows — every join input is pre-aggregated to one row per user,
      // so AQE finds nothing to split. That absence IS the design.
      val fs = LlmPipeline.pipelineFeatureSnapshot(spark, dir)
      fs.collect()
      assert(!physical(fs).contains("skew=true"),
        "feature_snapshot joined raw skewed rows — pre-agg shield lost:\n" +
          physical(fs))
    } finally saved.foreach {
      case (k, Some(v)) => conf.set(k, v)
      case (k, None) => conf.unset(k)
    }
  }

  test("source_kinesis_envelope decode path has no UDFs and aggregates after a single scan") {
    val plan = physical(graft.io.Formats.sourceKinesisEnvelope(spark, sf001))
    assert(!plan.contains("BatchEvalPython") && !plan.contains("ScalaUDF"),
      s"UDF in the decode path:\n$plan")
    assert("FileScan parquet".r.findAllIn(plan).length == 1, plan)
    assert(plan.contains("from_json"), plan)
  }

  test("decontamination screens the train slice in one scan (no join, no text exchange)") {
    // both keys are a per-document filter against a broadcast eval set:
    // the plan must hold no join at all, and no Exchange may carry the
    // raw text column (only the output sort's exchange may remain)
    for ((key, df) <- Seq(
        "decontaminate_ngram" -> LlmPipeline.decontaminateNgram(spark, sf01),
        "decontaminate_bloom" -> LlmPipeline.decontaminateBloom(spark, sf01))) {
      df.collect()
      val nodes = org.apache.spark.sql.GraftBridge.deepPlanNodes(
        df.queryExecution.executedPlan)
      val joins = nodes.filter(_.nodeName.contains("Join"))
      assert(joins.isEmpty, s"$key plans a join:\n${physical(df)}")
      val textExchanges = nodes.filter(n =>
        n.nodeName.contains("Exchange") && n.output.exists(_.name == "text"))
      assert(textExchanges.isEmpty,
        s"$key exchanges the train text:\n${physical(df)}")
    }
  }

  test("join_interval_overlap: banding keeps the overlap an equi-join (no nested loop)") {
    val plan = physical(graft.ops.Analytics.joinIntervalOverlap(spark, sf01))
    // the session×incident overlap must be a hash join on the banded hour;
    // the only tolerated nested loop is the deliberate ONE-ROW broadcast
    // fold-in of the average (the tf-idf corpus-size pattern), which sits
    // under the BroadcastExchange building the incident table
    assert(plan.contains("BroadcastHashJoin [h#"),
      s"overlap didn't plan as a hash join on the banded hour:\n$plan")
    assert(!plan.contains("CartesianProduct"),
      s"cartesian product in interval overlap:\n$plan")
    assert("BroadcastNestedLoopJoin".r.findAllIn(plan).length <= 1,
      s"unexpected nested-loop join beyond the one-row avg fold-in:\n$plan")
  }

  test("embedding_quantize is map-only up to the output sort (one scan, no joins/aggregates)") {
    val plan = physical(LlmPipeline.embeddingQuantize(spark, sf01))
    assert("FileScan parquet".r.findAllIn(plan).length == 1, plan)
    assert(!plan.contains("Join") && !plan.contains("HashAggregate"),
      s"quantization should be a pure projection:\n$plan")
  }

  test("text_pii_redact and text_ttr are map-only up to the output sort") {
    Seq(LlmPipeline.textPiiRedact(spark, sf01),
        LlmPipeline.textTtr(spark, sf01)).foreach { df =>
      val plan = physical(df)
      assert("FileScan parquet".r.findAllIn(plan).length == 1, plan)
      assert(!plan.contains("Join") && !plan.contains("HashAggregate"),
        s"should be a pure projection:\n$plan")
    }
  }

  test("ts_ewma: eight lags + row_number ride ONE user_id hash exchange") {
    val plan = physical(graft.ops.Analytics.tsEwma(spark, sf01))
    // one hash exchange for the window partition + the output range sort
    assert("hashpartitioning\\(user_id".r.findAllIn(plan).length == 1,
      s"stacked lags re-shuffled:\n$plan")
    assert(!plan.contains("Join"), s"unexpected join:\n$plan")
  }

  test("anomaly_zscore / feature_minmax_norm: window stats stack on one user_id exchange, no join-back") {
    Seq(graft.ops.Analytics.anomalyZscore(spark, sf01),
        graft.ops.Analytics.featureMinmaxNorm(spark, sf01)).foreach { df =>
      val plan = physical(df)
      assert("hashpartitioning\\(user_id".r.findAllIn(plan).length == 1,
        s"per-user stats paid more than one user_id exchange:\n$plan")
      assert(!plan.contains("Join"),
        s"stats joined back instead of riding the window:\n$plan")
    }
  }

  test("corpus_interleave: top-200 schedule is TakeOrderedAndProject, not a global sort") {
    val plan = physical(LlmPipeline.corpusInterleave(spark, sf01))
    assert(plan.contains("TakeOrderedAndProject"),
      s"limit+order degraded to a global sort:\n$plan")
  }

  test("embedding_centroid: partial aggregation collapses the explode before the exchange") {
    val plan = physical(LlmPipeline.embeddingCentroid(spark, sf01))
    // partial (map-side) HashAggregate must appear under the exchange —
    // without it the shuffle carries rows × dims instead of codebook state
    val lower = plan.linesIterator.dropWhile(!_.contains("Exchange")).mkString("\n")
    assert(lower.contains("HashAggregate") && lower.contains("Generate"),
      s"no map-side partial aggregate below the exchange:\n$plan")
  }

  test("sql_lateral_topn decorrelates to a ranked join, not a per-row nested loop") {
    val plan = physical(graft.ops.SqlApi.sqlLateralTopn(spark, sf01))
    assert(!plan.contains("CartesianProduct") &&
      !plan.contains("BroadcastNestedLoopJoin"),
      s"lateral degraded to a nested loop:\n$plan")
    assert(plan.contains("Window"),
      s"no window rank in the decorrelated lateral:\n$plan")
  }

  test("ts_cusum: running sum, index, and totals stack on ONE user_id exchange") {
    val plan = physical(graft.ops.Quant.tsCusum(spark, sf01))
    assert("hashpartitioning\\(user_id".r.findAllIn(plan).length == 1,
      s"cusum paid more than one user_id exchange:\n$plan")
    assert(!plan.contains("Join"), s"cusum joined back:\n$plan")
  }

  test("round-6c per-user scalers/outliers ride ONE user_id exchange, no join-back") {
    Seq(graft.ops.Quant.featureZscoreNorm(spark, sf01),
        graft.ops.Quant.featureRobustScale(spark, sf01),
        graft.ops.Quant.tsAnomalyMad(spark, sf01),
        graft.ops.Quant.winPctChange(spark, sf01)).foreach { df =>
      val plan = physical(df)
      assert("hashpartitioning\\(user_id".r.findAllIn(plan).length == 1,
        s"per-user stats paid more than one user_id exchange:\n$plan")
      assert(!plan.contains("Join"),
        s"stats joined back instead of riding the window:\n$plan")
    }
  }

  test("agg_gini: rank window and aggregate share one lang exchange") {
    val plan = physical(graft.ops.Quant.aggGini(spark, sf01))
    assert("hashpartitioning\\(lang".r.findAllIn(plan).length == 1,
      s"gini paid more than one lang exchange:\n$plan")
  }

  test("embedding_dim_stats: partial agg collapses the explode before the exchange") {
    val plan = physical(graft.ops.Quant.embeddingDimStats(spark, sf01))
    val lower = plan.linesIterator.dropWhile(!_.contains("Exchange")).mkString("\n")
    assert(lower.contains("HashAggregate") && lower.contains("Generate"),
      s"no map-side partial aggregate below the exchange:\n$plan")
  }

  test("join_existence: EXISTS flag plans as an ExistenceJoin, not a join+distinct") {
    val plan = physical(graft.ops.Quant.joinExistence(spark, sf01))
    assert(plan.contains("ExistenceJoin"),
      s"EXISTS column did not plan as ExistenceJoin:\n$plan")
    assert(!plan.contains("CartesianProduct") &&
      !plan.contains("BroadcastNestedLoopJoin"),
      s"correlated EXISTS fell back to a nested-loop plan:\n$plan")
  }

  test("agg_distinct_multi: multi-distinct rewrites to one Expand, not N scans") {
    val plan = physical(graft.ops.Quant.aggDistinctMulti(spark, sf01))
    assert(plan.contains("Expand"),
      s"multi-distinct did not use the Expand rewrite:\n$plan")
    assert("Scan parquet".r.findAllIn(plan).length == 1,
      s"multi-distinct re-scanned the source:\n$plan")
  }

  test("sql_tpch_q21: EXISTS/NOT EXISTS decorrelate to semi + anti joins, never nested-loop") {
    val plan = physical(graft.ops.SqlApi.sqlTpchQ21(spark, sf01))
    assert(plan.contains("LeftSemi"),
      s"EXISTS did not decorrelate to a semi join:\n$plan")
    assert(plan.contains("LeftAnti"),
      s"NOT EXISTS did not decorrelate to an anti join:\n$plan")
    assert(!plan.contains("CartesianProduct") &&
      !plan.contains("BroadcastNestedLoopJoin"),
      s"double-correlated subqueries fell back to a nested loop:\n$plan")
  }

  test("sql_tpch_q2: correlated min over the cost CTE decorrelates — keyed joins only") {
    // The min-cost-supplier correlation must plan as ONE min aggregate
    // over the region-filtered cost relation keyed on partkey joined
    // back to the probe — a per-part re-scan would surface as a nested
    // loop; every dim hop (supplier/nation/region, BOTH sides of the
    // correlation) broadcasts at this SF.
    val plan = physical(graft.ops.SqlApi.sqlTpchQ2(spark, sf01))
    assert(!plan.contains("CartesianProduct") &&
      !plan.contains("BroadcastNestedLoopJoin"),
      s"correlated min fell back to a nested loop:\n$plan")
    assert(plan.contains("TakeOrderedAndProject"),
      s"top-100 planned a full sort instead of TakeOrdered:\n$plan")
  }

  test("sql_tpch_q16: NOT IN plans as an anti join and the distinct count is two-phase") {
    val plan = physical(graft.ops.SqlApi.sqlTpchQ16(spark, sf01))
    assert(plan.contains("LeftAnti"),
      s"supplier NOT IN did not plan as an anti join:\n$plan")
    assert(!plan.contains("CartesianProduct") &&
      !plan.contains("BroadcastNestedLoopJoin"),
      s"NOT IN fell back to a nested loop:\n$plan")
    // count(DISTINCT suppkey) = dedup aggregate below the counting one
    assert("HashAggregate".r.findAllIn(plan).length >= 2,
      s"distinct count did not plan the two-phase aggregate:\n$plan")
  }

  test("sql_tpch_q20: correlated HAVING decorrelates to a per-part aggregate; outer IN is a semi join") {
    val plan = physical(graft.ops.SqlApi.sqlTpchQ20(spark, sf01))
    assert(plan.contains("LeftSemi"),
      s"the IN chains did not plan as semi joins:\n$plan")
    assert(!plan.contains("CartesianProduct") &&
      !plan.contains("BroadcastNestedLoopJoin"),
      s"correlated-HAVING threshold fell back to a nested loop:\n$plan")
  }

  test("sql_tpch_q9/q11/q12: LIKE-filtered profit, scalar-threshold HAVING, and lateness split all stay keyed") {
    for ((name, df) <- Seq(
      "q9" -> graft.ops.SqlApi.sqlTpchQ9(spark, sf01),
      "q11" -> graft.ops.SqlApi.sqlTpchQ11(spark, sf01),
      "q12" -> graft.ops.SqlApi.sqlTpchQ12(spark, sf01))) {
      val plan = physical(df)
      assert(!plan.contains("CartesianProduct") &&
        !plan.contains("BroadcastNestedLoopJoin"),
        s"sql_tpch_$name planned a nested loop:\n$plan")
    }
  }

  test("sql_tpch_q17: correlated scalar avg decorrelates to ONE partkey aggregate, no re-scan per row") {
    // Assert the decorrelation SIGNATURE on the node tree (the r8 pin
    // substring-matched "avg(", which a renamed function or a
    // per-reference re-plan could satisfy/defeat on string luck):
    // exactly one logical Average aggregate grouped on l_partkey —
    // ≤ 2 physical HashAggregateExec nodes (partial + final) — sitting
    // UNDER a join (the joined-back decorrelated subquery), and no
    // nested loop anywhere.
    import org.apache.spark.sql.execution.aggregate.HashAggregateExec
    import org.apache.spark.sql.catalyst.expressions.aggregate.Average
    val df = graft.ops.SqlApi.sqlTpchQ17(spark, sf01)
    df.count() // materialize so AQE finalizes its stages
    val nodes = org.apache.spark.sql.GraftBridge
      .deepPlanNodes(df.queryExecution.executedPlan)
    val pkAvgAggs = nodes.collect {
      case h: HashAggregateExec
          if h.groupingExpressions.exists(_.references.exists(
            _.name == "l_partkey")) &&
            h.aggregateExpressions.exists(
              _.aggregateFunction.isInstanceOf[Average]) => h
    }
    assert(pkAvgAggs.nonEmpty,
      "no avg aggregate grouped on l_partkey — subquery not decorrelated")
    assert(pkAvgAggs.size <= 2, // one logical agg = partial + final pair
      s"${pkAvgAggs.size} partkey avg aggregates — subquery re-planned per reference")
    val joins = nodes.filter(n =>
      n.nodeName.contains("Join") && org.apache.spark.sql.GraftBridge
        .deepPlanNodes(n).exists(c => pkAvgAggs.exists(_ eq c)))
    assert(joins.nonEmpty,
      "decorrelated partkey aggregate does not feed a join")
    val plan = df.queryExecution.executedPlan.toString
    assert(!plan.contains("CartesianProduct") &&
      !plan.contains("BroadcastNestedLoopJoin"),
      s"correlated scalar subquery fell back to a nested loop:\n$plan")
  }

  test("sql_tpch_q6: the predicate trio reaches the parquet scan; no join, no exchange beyond the global agg") {
    // formatted explain prints the FULL PushedFilters list (the plan
    // toString elides it past ~100 chars)
    val plan = formatted(graft.ops.SqlApi.sqlTpchQ6(spark, sf01))
    assert(plan.contains("PushedFilters:") &&
      plan.contains("GreaterThanOrEqual(l_shipdate") &&
      plan.contains("GreaterThanOrEqual(l_discount,0.05)") &&
      plan.contains("LessThan(l_quantity,24.0)"),
      s"Q6's predicate trio did not push to the scan:\n$plan")
    assert(!plan.contains("Join"), s"single-table Q6 planned a join:\n$plan")
  }

  test("sql_tpch_q8: both nation hops and every dim broadcast; the only shuffles key the fact chain") {
    val df = graft.ops.SqlApi.sqlTpchQ8(spark, sf01)
    df.count() // finalize AQE
    val nodes = org.apache.spark.sql.GraftBridge
      .deepPlanNodes(df.queryExecution.executedPlan)
    val bhj = nodes.count(_.nodeName.contains("BroadcastHashJoin"))
    assert(bhj >= 5,
      s"Q8 should broadcast its dim chain (nation x2, region, supplier, part); saw $bhj BHJs")
    val plan = df.queryExecution.executedPlan.toString
    assert(!plan.contains("CartesianProduct") &&
      !plan.contains("BroadcastNestedLoopJoin"),
      s"Q8 fell back to a nested loop:\n$plan")
  }

  test("sql_tpch_q4/q22: outer-expression EXISTS and date-scoped NOT EXISTS both stay keyed joins") {
    val q4 = physical(graft.ops.SqlApi.sqlTpchQ4(spark, sf01))
    assert(q4.contains("LeftSemi") && !q4.contains("CartesianProduct") &&
      !q4.contains("BroadcastNestedLoopJoin"),
      s"q4 EXISTS with outer-expression residual lost its equi key:\n$q4")
    val q22 = physical(graft.ops.SqlApi.sqlTpchQ22(spark, sf01))
    assert(q22.contains("LeftAnti") && !q22.contains("CartesianProduct"),
      s"q22 NOT EXISTS fell out of the anti-join shape:\n$q22")
  }

  test("sql_subquery_not_in: nullable NOT IN plans null-aware, not nested-loop") {
    val plan = physical(graft.ops.SqlApi.sqlSubqueryNotIn(spark, sf01))
    assert(plan.contains("LeftAnti"),
      s"NOT IN did not decorrelate to an anti join:\n$plan")
    assert(!plan.contains("CartesianProduct") &&
      !plan.contains("BroadcastNestedLoopJoin"),
      s"null-aware NOT IN fell back to a nested-loop plan:\n$plan")
  }

  test("funnel_time_to_convert: three stage anchors stack on ONE exchange") {
    val plan = physical(graft.ops.Analytics.funnelTimeToConvert(spark, sf01))
    val shuffles = "Exchange hashpartitioning".r.findAllIn(plan).length
    assert(shuffles == 1,
      s"funnel chain should shuffle once on user_id, saw $shuffles:\n$plan")
  }

  test("sql_window_range_interval: both frame functions stack on ONE user_id exchange") {
    val plan = physical(graft.ops.SqlApi.sqlWindowRangeInterval(spark, sf01))
    // the count and the cent sum share the interval RANGE frame, so the
    // planner must evaluate both in one Window over one exchange — a
    // second hashpartitioning would mean the frames didn't merge
    val shuffles = "Exchange hashpartitioning".r.findAllIn(plan).length
    assert(shuffles == 1,
      s"interval-range window should shuffle once on user_id, saw $shuffles:\n$plan")
  }

  test("join_null_safe: <=> stays a hash-joinable equi key, not nested-loop") {
    val plan = physical(graft.ops.Relational.joinNullSafe(spark, sf01))
    assert(plan.contains("SortMergeJoin") || plan.contains("BroadcastHashJoin") ||
      plan.contains("ShuffledHashJoin"),
      s"null-safe join did not plan as a hash/merge join:\n$plan")
    assert(!plan.contains("CartesianProduct") &&
      !plan.contains("BroadcastNestedLoopJoin"),
      s"null-safe equality fell back to a nested-loop plan:\n$plan")
  }

  test("analytics_dau: WAU is an exploded equi-aggregate, never a nested-loop range join") {
    val df = graft.ops.Quant.analyticsDau(spark, sf01)
    val plan = physical(df)
    // the distinct (day, user) collapse must sit below the WAU stage —
    // raw events must never feed the anchor-day explode
    assert(plan.contains("InMemoryTableScan") || plan.contains("HashAggregate"),
      s"no pair-table collapse before the WAU aggregate:\n$plan")
    // the 7-day trailing window is the 7-offset anchor explode + hash
    // aggregate — a day-range theta join would plan a nested loop here
    assert(!plan.contains("BroadcastNestedLoopJoin") &&
      !plan.contains("CartesianProduct"),
      s"WAU fell back to a nested-loop day-range join:\n$plan")
  }

  test("multimodal_phash_dedup: the signature is the native graft_dhash inside codegen, not the HOF") {
    val plan = physical(graft.ops.LlmPipeline.multimodalPhashDedup(spark, sf001))
    assert(plan.contains("graft_dhash"),
      s"native dhash expression missing from the signature stage:\n$plan")
    assert(!plan.contains("aggregate(sequence"),
      s"interpreted HOF form crept back into the hot path:\n$plan")
    // executedPlan.toString marks codegen stages with "*(n)" — the
    // dhash projection must carry one (a fallen-out expression renders
    // an unstarred Project)
    assert(plan.linesIterator.exists(l =>
      l.contains("graft_dhash") && l.contains("*(")),
      s"signature stage fell out of codegen:\n$plan")
  }

  test("join_bloom_prefilter: probe-side prefilter is the native might_contain expression, not a UDF") {
    val plan = physical(Relational.joinBloomPrefilter(spark, sf001))
    assert(plan.contains("might_contain"),
      s"native BloomFilterMightContain missing from the probe filter:\n$plan")
    assert(!plan.contains("UDF"),
      s"bloom prefilter still evaluates through a row-at-a-time UDF:\n$plan")
  }

  test("NO query in the whole surface plans a partition-less Window (global funnel sweep)") {
    // The one plan shape that silently serializes at scale: WindowExec
    // with an empty partition spec moves ALL rows to one task. Round 7
    // removed the last three (pareto rank, kl_balance running sum,
    // quality_funnel lag); this sweep pins the whole surface so no new
    // operator re-introduces one.
    import org.apache.spark.sql.execution.window.WindowExec
    // DECLARED exceptions: partition-less windows whose input is
    // BOUNDED BY CONSTRUCTION, not row-count — the r11b PSI pair runs
    // its prefix windows on the cents-value HISTOGRAM (≤ 49 001 rows at
    // ANY corpus size, FIXTURES.md value domain), so the single task
    // sees a fixed-size table forever. Every other global funnel stays
    // banned; a new entry here needs the same bounded-input argument.
    // pipeline_drift_report COMPOSES drift_psi, so it inherits the
    // declared bounded-histogram window
    val allowedGlobalWindow =
      Set("drift_psi", "stream_drift_psi", "pipeline_drift_report")
    val offenders = SparkEntry.queries.toSeq.sortBy(_._1).flatMap {
      case (name, fn) =>
        try {
          // deepPlanNodes: AQE wraps shuffled plans in a LEAF node, so a
          // plain plan.collect inspects nothing — the sweep must unwrap
          val plan = fn(spark, sf001).queryExecution.executedPlan
          val bad = org.apache.spark.sql.GraftBridge.deepPlanNodes(plan)
            .collect {
              case w: WindowExec if w.partitionSpec.isEmpty => w
            }
          Broadcasts.destroyAll()
          spark.catalog.clearCache()
          if (bad.nonEmpty && !allowedGlobalWindow.contains(name)) Some(name)
          else None
        } catch {
          case _: Throwable =>
            Broadcasts.destroyAll()
            spark.catalog.clearCache()
            None // construction failures belong to the correctness gate
        }
    }
    assert(offenders.isEmpty,
      s"partition-less Window planned by: ${offenders.mkString(", ")}")
  }

  test("NO query plans a CartesianProduct, and nested-loop joins appear only at one-row broadcast sites") {
    // Companion to the Window sweep: the other silent scale-killer is a
    // row-multiplying non-equi join. A BroadcastNestedLoopJoin is
    // legitimate ONLY as `crossJoin(broadcast(<one-row aggregate>))` —
    // the fold-a-scalar-back idiom — so the sweep pins the exact set of
    // queries allowed to contain one; anything new joining non-equi must
    // either band/bucketize into an equi join or justify itself here.
    import org.apache.spark.sql.execution.joins.{BroadcastNestedLoopJoinExec, CartesianProductExec}
    val allowedBnlj = Set(
      // one-row broadcast crossJoins (scalar fold-back) — each verified
      // to broadcast a single-row aggregate, bounded by construction
      "agg_gini", "analytics_pareto", "analytics_rfm", "corpus_budget_select",
      "corpus_quality_filter",
      "corpus_kl_balance", "corpus_mixture_sample", "dq_profile",
      "pipeline_mixture_weights", "text_bm25_topterms", "text_keyword_logodds",
      "text_lm_score", "text_ngram_freq", "text_quality_score",
      "text_tfidf_topterms", "ts_gapfill", "ts_interpolate_linear",
      "ts_seasonal_residual", "win_dist",
      // sites below surfaced when the sweep learned to see through the
      // AQE wrapper (deepPlanNodes — the plain collect saw nothing inside
      // AdaptiveSparkPlanExec, so any wrapped plan silently passed); each
      // re-audited this round: one-row scalar folds all
      "ab_test_lift",            // (n_a, n_b) population row
      "analytics_pareto_approx", // approx decile-boundary row
      "assoc_rules",             // total-order-count row
      "graph_assortativity",     // exact-moment row
      "graph_modularity",        // two scalar rows: W and Σd²/m
      "graph_triangle_count",    // global triangle-count fold
      "graph_triangle_approx",   // sampled-count + edge-count folds
      "join_interval_overlap",   // avg-errors threshold row (join is banded)
      "pack_length_buckets",     // nine-decile boundary row
      "pack_bpe_budget",         // same boundary row over BPE counts
      "seq_pmi_bigrams",         // total-bigram-count row
      "corpus_dsir_weights",     // model-totals row (nt, ns, v)
      "corpus_dsir_resample",    // same fold under the selection step
      // fixture-bounded all-pairs baseline, documented (scale path =
      // minhash/containment)
      "dedup_ngram_jaccard",
      // 10-row broadcast interval-bin table against the stream — the
      // static side of the streaming PSI monitor, bounded by construction
      "stream_drift_psi",
      // r11b one-row scalar folds: grand-total row (chi2/js), |bigram
      // types| row (kneser-ney); the composed report inherits chi2/js's
      "drift_chi2", "drift_js", "text_lm_kneser_ney",
      "pipeline_drift_report",
      // composed dedup report inherits dedup_ngram_jaccard's documented
      // fixture-bounded pair scan (scale path = minhash/containment)
      "pipeline_dedup_report",
      // r11d one-row scalar folds: HITS broadcasts the L2-norm row each
      // half-round; layout stats broadcasts the global min/max range row
      "graph_hits", "layout_pruning_stats",
      // r13: the LOO encoder folds the one-row global-prior aggregate
      // back with crossJoin(broadcast(...)) — ts_seasonal_residual's
      // class; the per-type sums join by key (BHJ), only the prior is
      // a one-row BNLJ
      "feature_target_encode",
      // r13: the correlogram crosses daily rows with the 7-row lag
      // table — stream_drift_psi's bounded-broadcast-table class; the
      // lag self-join itself is day-keyed (BHJ/SMJ)
      "ts_acf_correlogram",
      // t-closeness crosses each QI class with the GLOBAL band
      // histogram — a band-domain-bounded (≤ 11-row) broadcast table,
      // stream_drift_psi's class; the composed report inherits it
      "privacy_t_closeness", "pipeline_privacy_report",
      // one-row p10 boundary fold (analytics_pareto's recipe)
      "embedding_outlier_knn",
      // r16: the reshard assignment folds the one-row (min, max)
      // epoch-second bounds back over the feed — the scalar fold-back
      // idiom; shard/era routing itself is pure column arithmetic
      "stream_reshard_replay",
      // r16: two one-row folds (corpus total, temperature normalizer Z)
      // over the |langs|-row aggregate — corpus_kl_balance's class
      "corpus_temperature_sample")
    val found = scala.collection.mutable.Map.empty[String, String]
    SparkEntry.queries.toSeq.sortBy(_._1).foreach { case (name, fn) =>
      try {
        val nodes = org.apache.spark.sql.GraftBridge.deepPlanNodes(
          fn(spark, sf001).queryExecution.executedPlan)
        val cart = nodes.collect { case c: CartesianProductExec => c }
        val bnlj = nodes.collect { case b: BroadcastNestedLoopJoinExec => b }
        if (cart.nonEmpty) found(name) = "cartesian"
        else if (bnlj.nonEmpty && !allowedBnlj.contains(name)) found(name) = "bnlj"
      } catch { case _: Throwable => () }
      Broadcasts.destroyAll()
      spark.catalog.clearCache()
    }
    assert(found.isEmpty,
      s"unexpected nested-loop plans: ${found.toSeq.sorted.mkString(", ")}")
  }

  test("text_blocklist_filter: the term table joins as a BroadcastHashJoin, never SMJ") {
    // the whole point of the exploded-token + term-table shape is a
    // map-side hash probe per word; a sort-merge join would shuffle the
    // token stream on the word — the O(tokens·log) disaster the op
    // exists to avoid at 10⁵-term blocklists
    val df = graft.ops.Corpus.textBlocklistFilter(spark, sf001)
    df.collect() // finalize AQE so runtime join selection is visible
    val plan = physical(df)
    assert(plan.contains("BroadcastHashJoin"), s"no broadcast term probe:\n$plan")
    assert(!plan.contains("SortMergeJoin"),
      s"token stream shuffled on the word:\n$plan")
  }

  test("analytics_pareto: decile bucketing broadcasts boundaries — no window anywhere in the plan") {
    val plan = physical(graft.ops.Quant.analyticsPareto(spark, sf01))
    // the old shape ranked every user through ONE partition-less window;
    // the scale-safe shape is a broadcast percentile row + comparison
    // bucketing, with even the 10-row prefix sums done in array land
    assert(!plan.contains("Window"),
      s"pareto still plans a Window (global rank funnel at scale):\n$plan")
    assert(plan.contains("BroadcastExchange") ||
      plan.contains("BroadcastNestedLoopJoin"),
      s"no broadcast of the decile-boundary row:\n$plan")
  }
}
