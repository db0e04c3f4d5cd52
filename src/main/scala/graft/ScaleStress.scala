package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Scale-stress harness: replicate sf0.1 N× with id offsets (new users /
  * docs / vectors — horizontal growth, per-key history unchanged, which is
  * how a production corpus actually grows) and time the operators whose
  * complexity class is in question. A healthy operator scales ~linearly in
  * rows; anything super-linear here would be a 100 TB landmine.
  *
  * Usage: runMain graft.ScaleStress [N] [outDir]   (default N=10)
  * Prints one JSON line: per-query seconds at 1× and N×, and the ratio.
  */
object ScaleStress {

  /** Queries with nontrivial complexity stories (candidate-pair growth,
    * bucket occupancy, window state). dedup_ngram_jaccard (quadratic by
    * design, fixture-bounded) is excluded — its scale answer is the
    * minhash path. knn_cosine IS included, expected ~quadratic: its ratio
    * against knn_lsh_bucketed/knn_ivf at N× is the brute→ANN crossover
    * this harness exists to demonstrate. */
  private val targets = Seq(
    "dedup_exact_sha", "dedup_near_minhash", "dedup_simhash",
    "dedup_simhash_pairs",
    "knn_cosine", "knn_lsh_bucketed", "knn_lsh_joined", "knn_ivf",
    "sim_threshold",
    "dedup_embedding_cosine", "dedup_embedding_lsh",
    "dedup_cluster_cc", "pipeline_corpus_curate", "ts_gapfill",
    "join_theta_range", "join_range_bucketed", "join_asof_native",
    "text_tfidf_topterms", "text_bm25_topterms", "text_tokenize_wordcount",
    "stream_session_30m", "agg_pricing_summary",
    "win_topk_per_group", "win_topk_native",
    // r4: pair-emitting self-join (pairs grow with co-occurrence counts,
    // not row²), chained funnel joins, window attribution, cohort distinct
    "assoc_pairs", "funnel_ordered", "attribution_last_touch",
    "cohort_retention", "ts_resample_ohlc", "graph_pagerank",
    "corpus_mixture_sample", "agg_tdigest",
    "decontaminate_ngram", "embedding_quantize", "agg_entropy",
    "join_interval_overlap",
    // r6b: whole-partition window stats, stacked-lag smoothing, pair-graph
    // closure (wedge growth is the question), exact-sum moments, regex
    // map pass, per-source window + global top-k
    "anomaly_zscore", "ts_ewma", "graph_triangle_count", "agg_skew_kurt",
    "agg_corr_exact", "win_streak", "text_pii_redact", "text_ttr",
    "corpus_interleave",
    // r6c: percentile/moment windows per user, pair-graph degrees and
    // Jaccard (wedge growth), bounded-pair DAU range join, grid
    // interpolation (row-independent), decorrelated lateral rank,
    // running cusum, Lorenz decile split
    "ts_anomaly_mad", "feature_zscore_norm", "feature_robust_scale",
    "graph_degree_stats", "graph_edge_jaccard", "analytics_dau",
    "ts_interpolate_linear", "sql_lateral_topn", "ts_cusum",
    "analytics_pareto", "seq_pmi_bigrams",
    // r6b second wave: custom bitmap agg, rule mining, corpus-level
    // keyword stats, budget selection, DQ scan+anti-join.
    // sql_recursive_cte is EXCLUDED like dedup_ngram_jaccard: UNION ALL
    // recursion enumerates WALKS (Spark has no UNION-dedup recursion
    // yet), so a densified graph blows the recursion row limit by design
    // — measured: RECURSION_ROW_LIMIT_EXCEEDED on the 10× stress set.
    // Its scale answer is the iterative min-label loop (dedup_cluster_cc
    // / graph_pagerank), both stress-tested here.
    "agg_bitmap_distinct", "assoc_rules",
    "text_keyword_logodds", "corpus_budget_select", "dq_profile",
    "join_asof_tolerance", "embedding_centroid", "feature_minmax_norm",
    // r7: inverted-index containment + staged cascade (candidate volume
    // tracks true near-dup density — output-bound on the replicated
    // stress set like the other pair emitters), quantized-rescore ANN
    // (same broadcast-matrix boundary as knn_cosine), segment-overlap
    // pair kernel, outer stream-stream joins, shingle-stat rebuilds
    "dedup_containment", "pipeline_dedup_cascade", "knn_quantized",
    "analytics_audience_overlap", "stream_stream_left", "stream_stream_full",
    "text_boilerplate_ratio",
    // r8: sharded exact kNN (quadratic compute by design — its ratio vs
    // the ANN tiers is the same crossover story as knn_cosine, but the
    // memory-per-task stays matrixBytes/P at any scale), index-join
    // incremental containment, approx pareto
    "knn_sharded", "dedup_containment_incremental", "analytics_pareto_approx",
    // r8 second wave: iterative peeling (rounds × shrinking edge set),
    // single-pass moment PCA (row-count-independent driver payload)
    "graph_kcore", "embedding_pca_project",
    // r8 third wave: corner-credited triangles + exact-moment scalar
    // (both wedge-bound like triangle_count), broadcast-model sequence
    // scoring, per-key constant-state folds, decimal partial aggs, and
    // the wide-group TPC-H composites
    "graph_clustering_coeff", "graph_assortativity",
    "seq_markov_perplexity", "ts_holt_linear", "stream_anomaly_welford",
    "stream_holt_forecast", "cdc_scd2_incremental", "agg_decimal_exact",
    "sql_tpch_q10", "sql_tpch_q7",
    // r8 fourth wave: fixed-panel fused retrieval (linear iff the panel
    // stays fixed), cell-representative semantic dedup (one bucket-keyed
    // shuffle + linear per-cell pass), chained double aggregation, the
    // decorrelated EXISTS/NOT EXISTS composites
    "search_hybrid_rrf", "dedup_semantic", "stream_chained_agg",
    "sql_tpch_q21", "sql_tpch_q4",
    // wedge-bound like triangle_count (Σ deg² through the pivot node)
    "graph_adamic_adar",
    // the sampled tiers: wedge work ÷ k² at the ADAPTIVE k on the same
    // densified set — these must hold a near-linear ratio where their
    // exact twins measure ~15× per 10×
    "graph_triangle_approx",
    "graph_adamic_adar_approx", "graph_clustering_coeff_approx",
    // r9 arrival-shaped ops: index joins whose cost tracks batch size ×
    // collision density; the curate composition gates before the band
    // join. knn_filtered re-enters after the cogroup rewrite — its
    // stratum shard count must grow with the replicated label strata.
    "dedup_minhash_incremental", "pipeline_incremental_curate",
    "knn_filtered", "dedup_embedding_incremental",
    // r9 SQL front-door composites: the scan trio (q6), the 8-table
    // market share (q8), the LEFT-join distribution (q13) and the
    // twice-referenced CTE (q15) each have distinct plan-shape stakes
    "sql_tpch_q1", "sql_tpch_q6", "sql_tpch_q8", "sql_tpch_q13",
    "sql_tpch_q14", "sql_tpch_q15",
    // r9 continuation: the suite-completing TPC-H shapes — q2's
    // twice-referenced cost CTE + correlated min, q9's LIKE-filtered
    // profit chain, q11's scoped-CTE scalar thresholds, q16's distinct
    // count + NOT IN, q20's correlated-HAVING nest (q12's one join+agg
    // rides q13's class) — plus the k-row-metadata Lloyd rounds, the
    // exploded-bigram DSIR pair, hash-rank reservoir, and the Zipf fit
    "sql_tpch_q2", "sql_tpch_q9", "sql_tpch_q11", "sql_tpch_q12",
    "sql_tpch_q16", "sql_tpch_q20",
    "cluster_kmeans", "corpus_dsir_weights", "corpus_dsir_resample",
    "sample_reservoir_pergroup", "text_zipf_slope",
    "multimodal_phash_dedup", "graph_louvain", "corpus_bpe_train",
    "dedup_phash_incremental",
    // r11c: the ANF ball iteration (ball-table growth is THE complexity
    // question — disjoint replicated copies must scale linearly), the
    // 12-round Newton trainer (d²-sum aggregate per round, row-linear),
    // and its map-side scoring pass
    "graph_neighborhood", "classifier_quality_train",
    "classifier_quality_score",
    // r11c batch C: the sparse-Newton hashed trainer (bucket-pair
    // self-join growth is the question), the CCNet bucket split, and
    // the composed four-method dedup report
    "classifier_hashed_train", "corpus_perplexity_buckets",
    "pipeline_dedup_report",
    // the HLL register iteration: state Theta(|V|*64) by construction
    "graph_neighborhood_hll")

  def replicate(spark: SparkSession, src: String, out: String, n: Int): Unit = {
    val offsets = Seq(
      // (table, id columns to offset)
      ("events", Seq("event_id", "user_id")),
      ("documents", Seq("doc_id")),
      ("embeddings", Seq("vec_id")),
      ("lineitem", Seq("l_orderkey")),
      ("orders", Seq("o_orderkey", "o_custkey")),
      ("customer", Seq("c_custkey")))
    offsets.foreach { case (t, idCols) =>
      val base = spark.read.parquet(s"$src/$t.parquet")
      val copies = (0 until n).map { i =>
        idCols.foldLeft(base) { (df, c) =>
          df.withColumn(c, col(c) + lit(i.toLong * 100000000L))
        }
      }
      copies.reduce(_ unionByName _)
        .write.mode("overwrite").parquet(s"$out/$t.parquet")
    }
    // small dims unchanged
    Seq("region", "nation", "supplier", "part").foreach { t =>
      spark.read.parquet(s"$src/$t.parquet")
        .write.mode("overwrite").parquet(s"$out/$t.parquet")
    }
  }

  private def time(fn: => DataFrame): Double = {
    val t0 = System.nanoTime()
    fn.count()
    (System.nanoTime() - t0) / 1e9
  }

  def main(args: Array[String]): Unit = {
    val n = args.headOption.map(_.toInt).getOrElse(10)
    val out = args.lift(1).getOrElse("/tmp/graft-scale")
    val src = "/root/testdata/sf0.1"
    val spark = Session.local(
      sys.env.getOrElse("SPARK_GRAFT_CPUS", "32").toInt).getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    // Reuse an already-built stress set: the replication phase (six
    // multi-million-row union writes) leaves the JVM with GC pressure that
    // contaminates the measurements that follow — build once, then
    // re-invoke in a fresh JVM to measure (observed: same query 10 s in a
    // clean JVM vs 300+ s right after replication in the same heap).
    val marker = new java.io.File(s"$out/events.parquet/_SUCCESS")
    if (!marker.exists()) {
      replicate(spark, src, out, n)
      println(s"""{"metric":"scale_stress_built","n":$n,"out":"$out"}""")
      spark.stop()
      return
    }
    // warmup (shuffle machinery + codegen)
    spark.read.parquet(s"$out/documents.parquet")
      .groupBy(col("lang")).count().count()
    // Optional filter for focused runs (e.g. the ANN crossover at 30×):
    // SPARK_GRAFT_ONLY=knn_cosine,knn_lsh_bucketed,knn_ivf
    val only = sys.env.get("SPARK_GRAFT_ONLY").map(_.split(",").toSet)
    // One blown query must record an error, not kill the whole
    // measurement — the harness EXISTS to find scale blowups, so a blowup
    // is a result, not an abort (sql_recursive_cte's recursion-row-limit
    // hit on the densified stress graph is exactly such a finding).
    val results = targets.filter(t => only.forall(_.contains(t))).map { name =>
      val fn = SparkEntry.queries(name)
      try {
        val t1 = time(fn(spark, src))
        Broadcasts.destroyAll() // 1×-run broadcasts must not skew N×
        val tn = time(fn(spark, out))
        Broadcasts.destroyAll()
        Right((name, t1, tn, tn / t1))
      } catch {
        case e: Throwable =>
          Broadcasts.destroyAll()
          Left((name, e.getClass.getSimpleName + ": " +
            Option(e.getMessage).getOrElse("").takeWhile(_ != '\n').take(160)))
      }
    }
    val qs = results.collect { case Right((k, t1, tn, r)) =>
      f""""$k":{"t1":$t1%.2f,"tN":$tn%.2f,"ratio":$r%.2f}"""
    }.mkString("{", ",", "}")
    // JSON-safe error text: backslashes first, then quotes, then drop any
    // remaining control chars — an exception message with a tab or a
    // Windows path must not invalidate the whole output line.
    val errs = results.collect { case Left((k, msg)) =>
      val safe = msg.replace("\\", "/").replace('"', '\'')
        .filter(c => c >= ' ' && c != 0x7f)
      s""""$k":"$safe""""
    }.mkString("{", ",", "}")
    println(s"""{"metric":"scale_stress","n":$n,"queries":$qs,"errors":$errs}""")
    spark.stop()
  }
}
