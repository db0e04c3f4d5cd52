package graft.ops

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.Det.round
import graft.io.Tables

/** Round-6c quantitative/statistics operators (SURVEY.md §2.17): the
  * distribution-shape, normalization, and sequence-statistics layer a
  * training-data pipeline reads off its corpus and event feeds —
  * inequality measures, robust outliers, standard scaling, returns,
  * interpolation, PMI, graph degrees, CDC deletes.
  *
  * All oracle-gated (OracleSql twins). Determinism contract as §5.3:
  * exact-integer accumulation wherever a sum exists (cents snapping /
  * native int columns / DECIMAL(38,0) ≡ HUGEINT headroom), the floating
  * algebra applied ONCE to identical integers on both sides, Det.round
  * on every emitted double, total row order with unique tiebreakers.
  */
object Quant {

  private def events(s: SparkSession, d: String): DataFrame =
    Tables.events(s, d)

  private def dec(c: Column): Column = c.cast("decimal(38,0)")

  /** Per-language Gini coefficient of document lengths — the corpus-
    * balance diagnostic (how unequally is text volume distributed across
    * docs of a language?) that mixture re-weighting decisions read.
    * With lengths ranked ascending, G = (2·Σi·xᵢ − (n+1)·Σxᵢ) / (n·Σxᵢ):
    * every sum is exact integer arithmetic (n_chars is int64; the rank
    * product rides DECIMAL(38,0) on the Spark side, HUGEINT in DuckDB),
    * so the single double divide sees identical operands in both engines.
    *
    * Scale: the rank is a per-lang window (one lang exchange, same
    * exchange the aggregate reuses); the agg collapses partial map-side.
    * Ranks must be unique for the formula — (n_chars, doc_id) total
    * order. */
  def aggGini(s: SparkSession, d: String): DataFrame = {
    val w = Window.partitionBy(col("lang"))
      .orderBy(col("n_chars"), col("doc_id"))
    val ranked = Tables.documents(s, d)
      .select(col("lang"), col("doc_id"), col("n_chars"))
      .withColumn("i", row_number().over(w))
    val g = ranked.groupBy(col("lang"))
      .agg(count(lit(1)).as("n"),
        sum(dec(col("n_chars"))).as("sx"),
        sum(dec(col("i") * col("n_chars"))).as("six"))
    g.select(col("lang"), col("n"),
        round((lit(2) * col("six") - (col("n") + lit(1)) * col("sx"))
            .cast("double") /
          (dec(col("n")) * col("sx")).cast("double"), 6).as("gini"))
      .orderBy(col("lang"))
  }

  /** Query key `feature_target_encode`: leave-one-out target encoding of
    * the event_type categorical against the value target — the fourth
    * member of the feature-engineering family (minmax / zscore / robust
    * scale all transform NUMERIC columns; this is the standard encoder
    * for a CATEGORICAL column feeding a linear/tree model, with the two
    * classic leakage guards built in: the row's OWN target leaves its
    * group statistic — LOO — and an m = 16 smoothing prior pulls rare
    * categories toward the global mean instead of memorizing them).
    * enc_i = ((Σ_type − xᵢ) + 16·prior) / (n_type − 1 + 16), prior =
    * the global cent mean; all sums exact BIGINT cents, the encode is
    * three correctly-rounded double ops.
    *
    * Scale: NO per-category window over the fact table (a hot category
    * would funnel through one task) — per-type sums are a partial
    * aggregate joined back broadcast, the global prior is a one-row
    * cross join, the encode is map-side. Oracle = identical SQL. */
  def featureTargetEncode(s: SparkSession, d: String): DataFrame = {
    val ev = events(s, d)
      .select(col("event_id"), col("event_type"),
        floor(col("value") * 100 + 0.5).cast("long").as("c"))
    val byType = ev.groupBy(col("event_type"))
      .agg(count(lit(1)).as("nt"), sum(col("c")).as("st"))
    val glob = ev.agg(count(lit(1)).as("ng"), sum(col("c")).as("sg"))
    ev.join(broadcast(byType), Seq("event_type"))
      .crossJoin(broadcast(glob))
      .select(col("event_id"), col("event_type"),
        round(((col("st") - col("c")).cast("double") +
          lit(16.0) * (col("sg").cast("double") / col("ng").cast("double"))) /
          (col("nt") - 1 + 16).cast("double") / lit(1e2), 6)
          .as("target_enc"))
      .orderBy(col("event_id"))
  }

  /** Per-user z-score standardization of event values (the standard-
    * scaler counterpart of feature_minmax_norm): mean and sample std are
    * derived from EXACT cent sums — Σx and Σx² accumulate as integers
    * (DECIMAL(38,0) ≡ HUGEINT headroom for the squares), then
    * z = (x − S₁/n) / √((n·S₂ − S₁²)/(n(n−1))) runs the same IEEE chain
    * on identical integers in both engines. Users with < 2 events or
    * zero variance (the integer numerator n·S₂ − S₁² = 0 — an EXACT
    * test, no epsilon) are excluded.
    *
    * Scale: three whole-partition window aggregates stack on ONE
    * user_id hash exchange — no groupBy + join-back, no second shuffle
    * at any event volume. */
  def featureZscoreNorm(s: SparkSession, d: String): DataFrame = {
    val w = Window.partitionBy(col("user_id"))
    val num = dec(col("n")) * col("s2") - col("s1") * col("s1")
    val den = col("n") * (col("n") - lit(1L))
    val mu = col("s1").cast("double") / col("n").cast("double")
    val sd = sqrt(num.cast("double") / den.cast("double"))
    events(s, d)
      .select(col("event_id"), col("user_id"),
        floor(col("value") * 100 + 0.5).as("xc"))
      .withColumn("n", count(lit(1)).over(w))
      .withColumn("s1", sum(dec(col("xc"))).over(w))
      .withColumn("s2", sum(dec(col("xc") * col("xc"))).over(w))
      .where(col("n") >= 2 && num > 0)
      .select(col("event_id"), col("user_id"),
        round((col("xc").cast("double") - mu) / sd, 4).as("z_norm"))
      .orderBy(col("user_id"), col("event_id"))
  }

  /** Robust per-user outlier flags via the modified z-score
    * (Iglewicz–Hoaglin): |x − median| / (1.4826·MAD) ≥ 3.5 — the
    * median/MAD counterpart of anomaly_zscore that heavy tails can't
    * drag. On cent integers both medians are EXACT: the 0.5-interpolation
    * between two int64s is exact IEEE (a + (b−a)·0.5, every term
    * representable), deviations land on a half-cent grid, and the MAD —
    * a median of those — is exact again. The one inexact product
    * (1.4826·MAD) feeds a Det-rounded score compared AFTER rounding on
    * both sides, so the flag set is engine-portable. Users with < 12
    * events or MAD = 0 are excluded.
    *
    * Scale: two stacked whole-partition windows (median, then MAD over
    * the derived deviations) on ONE user_id exchange. Exact medians
    * don't partial-aggregate — that's inherent to the statistic; at
    * 100 TB the per-user partition is still one node's work, and the
    * approx_percentile swap is the documented sketch path. */
  def tsAnomalyMad(s: SparkSession, d: String): DataFrame = {
    val w = Window.partitionBy(col("user_id"))
    events(s, d)
      .select(col("event_id"), col("user_id"),
        floor(col("value") * 100 + 0.5).as("xc"))
      .withColumn("n", count(lit(1)).over(w))
      .withColumn("med", percentile(col("xc"), lit(0.5)).over(w))
      .withColumn("dev", abs(col("xc").cast("double") - col("med")))
      .withColumn("mad", percentile(col("dev"), lit(0.5)).over(w))
      .where(col("n") >= 12 && col("mad") > 0)
      .withColumn("z_mad", round(col("dev") / (lit(1.4826) * col("mad")), 4))
      .where(col("z_mad") >= 3.5)
      .select(col("event_id"), col("user_id"), col("z_mad"))
      .orderBy(col("user_id"), col("event_id"))
  }

  /** Pointwise mutual information of adjacent event-type bigrams —
    * which transitions happen MORE than independence predicts (the
    * sequence-association signal the raw transition matrix doesn't
    * normalize for). All four counts are exact integers off one lead();
    * PMI = ln(N·n_ab / (n_a·n_b)) is one integer-product divide + one
    * ln, Det-rounded; rank on the rounded score. Pairs with n_ab < 5
    * are noise-floored out.
    *
    * Scale: one user_id exchange for the lead, one (cur,nxt) partial
    * agg; the margins ride windows over the |types|²-row count table
    * (tiny at any data volume), N joins back as a one-row broadcast. */
  /** Per-user sequence perplexity under the corpus bigram LM — the
    * sequence-level twin of text_lm_score's document scoring, and the
    * perplexity-filter signal corpus curation ranks sessions by: each
    * user's event-type chain is scored by avg −ln P(next|cur) where the
    * transition matrix comes from ALL transitions.
    *
    * Scale: the model is |types|² rows — broadcast; scoring is one lag
    * window (the shuffle the sequence build already needs) + a map-side
    * join + one user groupBy. Each transition's −ln p is snapped to a
    * 1e-6 integer grid BEFORE the per-user sum, so accumulation is
    * exact integer addition — merge order (and any last-ulp libm ln
    * disagreement between engines) provably cannot flip the 4-dp round,
    * the same trick as the exact-cents session sums. */
  def seqMarkovPerplexity(s: SparkSession, d: String): DataFrame = {
    val wo = Window.partitionBy(col("user_id"))
      .orderBy(col("ts"), col("event_id"))
    val pairs = events(s, d)
      .select(col("user_id"), col("ts"), col("event_id"),
        col("event_type").as("a"))
      .withColumn("b", lead(col("a"), 1).over(wo))
      .where(col("b").isNotNull)
    val trans = pairs.groupBy(col("a"), col("b"))
      .agg(count(lit(1)).as("n_ab"))
    val model = trans
      .withColumn("n_a", sum(col("n_ab")).over(Window.partitionBy(col("a"))))
      .select(col("a"), col("b"),
        floor(-log(col("n_ab").cast("double") / col("n_a").cast("double"))
          * lit(1000000L) + lit(0.5)).cast("long").as("nll_u"))
    pairs
      .join(broadcast(model), Seq("a", "b"))
      .groupBy(col("user_id"))
      .agg(count(lit(1)).as("n_transitions"), sum(col("nll_u")).as("snll"))
      .select(col("user_id"), col("n_transitions"),
        round(col("snll").cast("double") / lit(1000000.0) /
          col("n_transitions").cast("double"), 4).as("avg_nll"))
      .orderBy(col("user_id"))
  }

  def seqPmiBigrams(s: SparkSession, d: String): DataFrame = {
    val wo = Window.partitionBy(col("user_id"))
      .orderBy(col("ts"), col("event_id"))
    val pairs = events(s, d)
      .select(col("user_id"), col("ts"), col("event_id"),
        col("event_type").as("cur"))
      .withColumn("nxt", lead(col("cur"), 1).over(wo))
      .where(col("nxt").isNotNull)
    val counts = pairs.groupBy(col("cur"), col("nxt"))
      .agg(count(lit(1)).as("n_ab"))
    counts
      .withColumn("n_a", sum(col("n_ab")).over(Window.partitionBy(col("cur"))))
      .withColumn("n_b", sum(col("n_ab")).over(Window.partitionBy(col("nxt"))))
      .crossJoin(broadcast(counts.agg(sum(col("n_ab")).as("n_tot"))))
      .where(col("n_ab") >= 5)
      .select(col("cur"), col("nxt"), col("n_ab"),
        round(log((dec(col("n_tot")) * col("n_ab")).cast("double") /
          (dec(col("n_a")) * col("n_b")).cast("double")), 4).as("pmi"))
      .orderBy(col("pmi").desc, col("cur"), col("nxt"))
  }

  /** Degree distribution of the part co-occurrence graph (assoc_pairs
    * edges: pairs co-ordered in ≥ 2 orders) — the connectivity profile
    * that sizes graph passes (triangle count, connected components)
    * before they run. Pure integer counts end to end.
    *
    * Scale: edges reuse the bounded coOrderPairs kernel; degrees are one
    * partial-aggregable groupBy over 2·|E| key rows; the histogram
    * collapses to ≤ max-degree rows. */
  /** Adamic–Adar link prediction over the co-order graph — the
    * "customers also bought" recommendation primitive: for every
    * NON-edge pair (a, b) reachable through a common neighbor w, score
    * Σ_w 1/ln(deg(w)) (rare shared neighbors weigh more than hubs); the
    * top-50 highest-scoring absent edges are the link candidates.
    * Per-wedge contributions snap to a 1e-6 integer grid BEFORE the sum
    * (seq_markov_perplexity's trick), so accumulation is exact integer
    * addition in any merge order; a common neighbor always has degree
    * ≥ 2, so ln never sees 1.
    *
    * Scale: the wedge join is Σ deg² work keyed on the pivot node — the
    * same class as graph_triangle_count, with the same degree-capping
    * mitigation at hub skew; existing edges leave via a keyed anti join;
    * broadcast degree decoration; top-50 is TakeOrdered, not a sort. */
  def graphAdamicAdar(s: SparkSession, d: String): DataFrame =
    adamicAdarScored(s, d, sampled = false)
      .orderBy(col("aa_score").desc, col("a"), col("b"))
      .limit(50)

  /** DOULION-sampled Adamic–Adar — the scale tier for the SCORED
    * wedge-bound class (the r8 stress harness measured exact AA at ~15×
    * per 10× rows on densified co-occurrence; the count-only sampled
    * tier, graph_triangle_approx, does not help a link-prediction user
    * who needs per-pair scores). Edges are thinned 1-in-k by the shared
    * deterministic xxhash64 draw; a wedge a–w–b survives iff BOTH its
    * edges survive (probability 1/k²), so per-pair score and
    * common-neighbor count rescale by k². Three things stay EXACT:
    * degrees (the 1/ln(deg w) weight uses the full O(m) degree table),
    * the existing-edge anti join (a sampled-away edge must not
    * resurface as a "predicted" link), and the 1e-6 integer grid (the
    * k² multiply happens on the grid sum BEFORE the one float divide).
    * Wedge work drops ~k²; per-pair relative error ~√(k²/n_common), so
    * the dense pairs that dominate the top-50 are estimated tightest.
    * k is ADAPTIVE (Analytics.adaptiveK: √(Σdeg²/(8·m)), floor 2) so
    * the thinned wedge join stays linear-in-m however co-occurrence
    * densifies — a fixed k only shifts the constant on a graph whose
    * wedge count grows 15× per 10× edges (the r8 stress measure).
    * Oracle-exempt (sampling); Round9Spec pins total-mass agreement
    * with the exact scores and determinism. */
  def graphAdamicAdarApprox(s: SparkSession, d: String): DataFrame =
    adamicAdarScored(s, d, sampled = true)
      .orderBy(col("aa_score").desc, col("a"), col("b"))
      .limit(50)

  /** Shared Adamic–Adar wedge-scoring kernel: full (a, b, n_common,
    * aa_score) over absent edges — exact, or the k²-rescaled DOULION
    * estimate at the adaptive rate when `sampled`. The edge set and the
    * sampled neighbor list are persisted — edges feed the neighbor
    * build (×2), the anti join, and the degree table, and Spark's
    * exchange reuse does not collapse the alias-renamed subtrees
    * (coOrderTriangles' documented multi-reference pattern), so without
    * the pin the whole coOrderPairs pipeline re-executes ~5×. */
  private[graft] def adamicAdarScored(
      s: SparkSession, d: String, sampled: Boolean): DataFrame = {
    val edges = Analytics.coEdges(s, d).persist()
    // TRUE degrees from the full edge set — cheap (O(m) aggregate) and
    // required for an unbiased 1/ln(deg) weight under edge sampling
    val nbrs = edges.select(col("p1").as("u"), col("p2").as("v"))
      .union(edges.select(col("p2").as("u"), col("p1").as("v")))
    val deg = nbrs.groupBy(col("u")).agg(count(lit(1)).as("deg"))
      .withColumnRenamed("u", "w")
      .persist()
    // only the WEDGE JOIN runs on the thinned graph — that is the
    // quadratic-in-degree stage the sample exists to bound; the rate
    // adapts to the measured wedge density so the join is linear-in-m
    val k = if (!sampled) 1L else Analytics.adaptiveK(deg, edges.count())
    val nbrsW = if (!sampled) nbrs else {
      val kept = edges
        .where(pmod(xxhash64(col("p1"), col("p2")), lit(k)) === 0)
      kept.select(col("p1").as("u"), col("p2").as("v"))
        .union(kept.select(col("p2").as("u"), col("p1").as("v")))
        .persist()
    }
    val wedges = nbrsW.select(col("v").as("a"), col("u").as("w"))
      .join(nbrsW.select(col("u").as("w"), col("v").as("b")), Seq("w"))
      .where(col("a") < col("b"))
    val graded = wedges
      .join(edges, wedges("a") === edges("p1") && wedges("b") === edges("p2"),
        "left_anti")
      .join(broadcast(deg), Seq("w"))
      .select(col("a"), col("b"),
        floor(lit(1e6) / log(col("deg").cast("double")) + 0.5)
          .cast("long").as("aa_grid"))
      .groupBy(col("a"), col("b"))
    if (!sampled)
      // exact path spelled EXACTLY as before the refactor — the DuckDB
      // oracle hashes these doubles
      graded.agg(count(lit(1)).as("n_common"),
        (sum(col("aa_grid")).cast("double") / 1e6).as("aa_score"))
    else {
      val k2 = k * k
      graded.agg((count(lit(1)) * lit(k2)).as("n_common"),
        ((sum(col("aa_grid")) * lit(k2)).cast("double") / 1e6)
          .as("aa_score"))
    }
  }

  def graphDegreeStats(s: SparkSession, d: String): DataFrame = {
    val edges = Analytics.coEdges(s, d)
    // ONE reference to the pair subtree: a union of two aliased selects
    // re-executes the collect_set pair kernel twice (alias-renamed copies
    // defeat exchange reuse — measured on triangle_count in r6); the
    // explode keeps one execution and the same row multiset
    val deg = edges
      .select(explode(array(col("p1"), col("p2"))).as("p"))
      .groupBy(col("p")).agg(count(lit(1)).as("degree"))
    deg.groupBy(col("degree")).agg(count(lit(1)).as("n_parts"))
      .orderBy(col("degree"))
  }

  /** CDC apply with DELETE tombstones — the missing third of the CDC
    * family (scd2 keeps history, upsert_latest keeps latest state; this
    * one RETIRES keys): per (user, event_type) key the LATEST change
    * decides survival, and a tombstone as latest change removes the key
    * from the materialized state. Fixtures carry no op column, so ops
    * derive deterministically (event_id % 10 = 0 → 'D') identically in
    * both engines — the plumbing (latest-wins + tombstone drop) is what's
    * under test.
    *
    * Scale: one row_number on one (user, type) exchange, rn = 1 filter —
    * the same single-shuffle shape as upsert_latest; no join, no state. */
  def cdcDeletes(s: SparkSession, d: String): DataFrame = {
    val wo = Window.partitionBy(col("user_id"), col("event_type"))
      .orderBy(col("ts").desc, col("event_id").desc)
    events(s, d)
      .withColumn("op",
        when(col("event_id") % 10 === 0, lit("D")).otherwise(lit("U")))
      .withColumn("rn", row_number().over(wo))
      .where(col("rn") === 1 && col("op") === "U")
      .select(col("user_id"), col("event_type"), col("event_id"),
        round(col("value"), 2).as("value"), col("ts"))
      .orderBy(col("user_id"), col("event_type"))
  }

  /** Time-series LINEAR interpolation over the dense hourly grid — the
    * upgrade of ts_gapfill's forward fill for signals where holding the
    * last value is wrong (rates, gauges): each empty bucket takes
    * prev + (next − prev)·frac between its bracketing observed buckets.
    * Bucket sums are exact cent integers; frac is a ratio of exact µs
    * deltas; the interpolation is the same three IEEE ops on identical
    * operands in both engines, and observed buckets short-circuit to
    * their exact sum. Leading/trailing unbracketed buckets are excluded
    * (no extrapolation).
    *
    * Scale: same shape as ts_gapfill — the event volume only flows
    * through the partial-aggregated bucket groupBy; the grid is
    * hours × types (tiny at any scale) and the bracketing lookups are
    * two ignore-nulls windows per direction on the per-type sort. */
  def tsInterpolateLinear(s: SparkSession, d: String): DataFrame = {
    val ev = events(s, d)
      .select(date_trunc("hour", col("ts")).as("h"), col("event_type"),
        floor(col("value") * 100 + 0.5).as("xc"))
    // persisted for its two readers (grid build + join-back); the bench
    // harness owns the cache — it clears the SQL cache between queries —
    // so the op does not unpersist (unpersisting the OUTPUT would be a
    // no-op anyway: this internal frame holds the entry).
    val agg = ev.groupBy(col("h"), col("event_type"))
      .agg(sum(col("xc")).as("cents")).persist()
    val hours = agg.agg(min(col("h")).as("lo"), max(col("h")).as("hi"))
      .select(explode(sequence(col("lo"), col("hi"),
        expr("interval 1 hour"))).as("h"))
    val grid = hours.crossJoin(agg.select(col("event_type")).distinct())
    val ord = Window.partitionBy(col("event_type")).orderBy(col("h"))
    val wb = ord.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val wf = ord.rowsBetween(Window.currentRow, Window.unboundedFollowing)
    val frac = (unix_micros(col("h")) - unix_micros(col("ph"))).cast("double") /
      (unix_micros(col("nh")) - unix_micros(col("ph"))).cast("double")
    val interp = col("pv").cast("double") +
      (col("nv") - col("pv")).cast("double") * frac
    grid.join(agg, Seq("h", "event_type"), "left_outer")
      .withColumn("kh", when(col("cents").isNotNull, col("h")))
      .withColumn("ph", last(col("kh"), ignoreNulls = true).over(wb))
      .withColumn("pv", last(col("cents"), ignoreNulls = true).over(wb))
      .withColumn("nh", first(col("kh"), ignoreNulls = true).over(wf))
      .withColumn("nv", first(col("cents"), ignoreNulls = true).over(wf))
      .where(col("ph").isNotNull && col("nh").isNotNull)
      .select(col("h"), col("event_type"),
        col("cents").isNull.cast("int").as("interpolated"),
        round(when(col("cents").isNotNull, col("cents").cast("double"))
          .otherwise(interp) / lit(1e2), 4).as("value"))
      .orderBy(col("h"), col("event_type"))
  }

  /** Flesch-style readability score per document — the classic
    * surface-level quality feature corpus filters threshold on (alongside
    * text_quality_score's ratio battery): 206.835 − 1.015·(W/S) −
    * 84.6·(Y/W) with words = space-split tokens, sentences = [.!?]+ runs
    * (floored at 1), syllables proxied by vowel-group runs — all exact
    * integer counts from the same regexes in both engines, one affine
    * double chain, Det-rounded.
    *
    * Scale: map-only codegen'd string expressions, no shuffle but the
    * output sort. */
  /** Zipf-law fit over the corpus vocabulary — the classic corpus
    * health check (natural text follows freq ∝ rank^s with s ≈ −1;
    * boilerplate-heavy or synthetic corpora bend the curve): OLS slope
    * of ln(freq) on ln(rank) across the top-1000 words.
    *
    * Rank WITHOUT a global window (a partition-less Window is the
    * banned whole-corpus serialization): the top-1000 (freq desc, word)
    * rows come out of TakeOrdered — bounded metadata — then collapse to
    * ONE collect_list row whose sort_array order is the rank, and
    * posexplode hands back rank = pos + 1. ln(rank)/ln(freq) snap to
    * the 1e-6 grid as longs; the OLS moments (Σx, Σy, Σxy, Σx²) then
    * aggregate in DECIMAL(38,0) — n·Σxy overflows BIGINT at these
    * magnitudes, and HUGEINT/decimal is exact in both engines — so the
    * slope is one double divide of two exact integers, Det-rounded.
    *
    * Scale: the word-count aggregate is the only real work (one keyed
    * shuffle, partial-agg); everything after operates on ≤ 1000 rows. */
  def textZipfSlope(s: SparkSession, d: String): DataFrame = {
    val freq = Tables.documents(s, d)
      .select(explode(split(col("text"), " ")).as("w"))
      .where(col("w") =!= "")
      .groupBy(col("w")).agg(count(lit(1)).as("n"))
      .orderBy(col("n").desc, col("w"))
      .limit(1000)
    val ranked = freq
      .agg(sort_array(collect_list(struct((-col("n")).as("negn"), col("w"))))
        .as("top"))
      .select(posexplode(col("top")).as(Seq("pos", "t")))
      .select((col("pos") + 1).cast("long").as("rank"),
        (-col("t.negn")).as("n"))
    val dec = "decimal(38,0)"
    ranked
      .select(
        floor(log(col("rank").cast("double")) * 1e6 + 0.5)
          .cast("long").cast(dec).as("x"),
        floor(log(col("n").cast("double")) * 1e6 + 0.5)
          .cast("long").cast(dec).as("y"))
      .agg(count(lit(1)).cast(dec).as("cnt"), sum(col("x")).as("sx"),
        sum(col("y")).as("sy"), sum(col("x") * col("y")).as("sxy"),
        sum(col("x") * col("x")).as("sxx"))
      .select(col("cnt").cast("long").as("n_terms"),
        round((col("cnt") * col("sxy") - col("sx") * col("sy")).cast("double") /
          (col("cnt") * col("sxx") - col("sx") * col("sx")).cast("double"), 6)
          .as("zipf_slope"))
  }

  def textReadability(s: SparkSession, d: String): DataFrame = {
    val docs = Tables.documents(s, d)
    val words = size(split(col("text"), " ")).cast("long")
    val sents = greatest(lit(1L),
      size(regexp_extract_all(col("text"), lit("[.!?]+"), lit(0))).cast("long"))
    val syll =
      size(regexp_extract_all(lower(col("text")), lit("[aeiouy]+"), lit(0)))
        .cast("long")
    docs.select(col("doc_id"), col("lang"), words.as("n_words"),
        sents.as("n_sents"), syll.as("n_syll"))
      .select(col("doc_id"), col("lang"), col("n_words"), col("n_sents"),
        col("n_syll"),
        round(lit(206.835) -
          lit(1.015) * (col("n_words").cast("double") /
            col("n_sents").cast("double")) -
          lit(84.6) * (col("n_syll").cast("double") /
            col("n_words").cast("double")), 4).as("flesch"))
      .orderBy(col("doc_id"))
  }

  /** Curriculum phase assignment: within each language, docs rank by
    * lexical diversity (the rounded type-token ratio — rank on the
    * ROUNDED score, raw-double order is not engine-portable) and split
    * into 4 curriculum phases, easy (repetitive) → hard (diverse) — the
    * ordering stage a curriculum-learning data loader consumes. Phase =
    * ⌊(rank−1)·4/n⌋+1 is a double division of small exact integers whose
    * floor is engine-exact (an integer quotient is correctly rounded to
    * itself).
    *
    * Scale: TTR is map-only; the rank + count ride ONE lang exchange
    * (per-stratum window, the corpus_budget_select shape — a shard key
    * extends the partition when one language outgrows a node). */
  def corpusCurriculum(s: SparkSession, d: String): DataFrame = {
    val w = Window.partitionBy(col("lang"))
    val ttr = Tables.documents(s, d)
      .select(col("doc_id"), col("lang"), split(col("text"), " ").as("ws"))
      .select(col("doc_id"), col("lang"),
        round(size(array_distinct(col("ws"))).cast("double") /
          size(col("ws")).cast("double"), 4).as("ttr"))
    ttr
      .withColumn("rn",
        row_number().over(w.orderBy(col("ttr"), col("doc_id"))))
      .withColumn("n", count(lit(1)).over(w))
      .select(col("lang"), col("doc_id"), col("ttr"),
        (floor((col("rn") - 1).cast("double") * lit(4.0) /
          col("n").cast("double")).cast("int") + 1).as("phase"))
      .orderBy(col("lang"), col("ttr"), col("doc_id"))
  }

  /** Per-dimension distribution stats over the embedding corpus — the
    * feature-drift / normalization profile a vector store monitors
    * (collapsed dims, scale outliers). Elements snap to the 1e-6 grid
    * (float32 values are exact in double, the snap is the same integer
    * in both engines), sums are exact BIGINTs, min/max have no
    * accumulation order at all.
    *
    * Scale: posexplode fans out map-side; partial aggregation collapses
    * to 64 dims × partials before the exchange — codebook-sized state,
    * the embedding_centroid shape without the label key. */
  def embeddingDimStats(s: SparkSession, d: String): DataFrame =
    Tables.embeddings(s, d)
      .select(posexplode(col("embedding")))
      .select((col("pos") + 1).as("pos"),
        floor(col("col").cast("double") * 1e6 + 0.5).as("vi"))
      .groupBy(col("pos"))
      .agg(count(lit(1)).as("n"), sum(col("vi")).as("sv"),
        min(col("vi")).as("mn"), max(col("vi")).as("mx"))
      .select(col("pos"), col("n"),
        round(col("sv").cast("double") / col("n").cast("double") / 1e6, 6)
          .as("mean_v"),
        round(col("mn").cast("double") / 1e6, 6).as("min_v"),
        round(col("mx").cast("double") / 1e6, 6).as("max_v"))
      .orderBy(col("pos"))

  /** Per-user lag-1 autocorrelation of event values — the temporal-
    * persistence statistic (is a user's next value predicted by their
    * last?). Pearson over (xₜ₋₁, xₜ) pairs from EXACT cent sums — the
    * agg_corr_exact recipe applied to a lagged self-pairing: one lag(),
    * then Σx, Σy, Σx², Σy², Σxy as integers (DECIMAL(38,0) ≡ HUGEINT),
    * the textbook formula once on identical operands. Users with < 13
    * events or zero variance on either margin (exact integer tests) are
    * excluded.
    *
    * Scale: one user_id exchange for the lag; the moment agg partial-
    * collapses map-side to 6 numbers per user. */
  def tsAutocorrLag1(s: SparkSession, d: String): DataFrame = {
    val wo = Window.partitionBy(col("user_id"))
      .orderBy(col("ts"), col("event_id"))
    val pairs = events(s, d)
      .select(col("user_id"), col("ts"), col("event_id"),
        floor(col("value") * 100 + 0.5).as("y"))
      .withColumn("x", lag(col("y"), 1).over(wo))
      .where(col("x").isNotNull)
    val g = pairs.groupBy(col("user_id"))
      .agg(count(lit(1)).as("n"),
        sum(dec(col("x"))).as("sx"), sum(dec(col("y"))).as("sy"),
        sum(dec(col("x") * col("x"))).as("sx2"),
        sum(dec(col("y") * col("y"))).as("sy2"),
        sum(dec(col("x") * col("y"))).as("sxy"))
    val vx = dec(col("n")) * col("sx2") - col("sx") * col("sx")
    val vy = dec(col("n")) * col("sy2") - col("sy") * col("sy")
    val n = col("n").cast("double")
    g.where(col("n") >= 12 && vx > 0 && vy > 0)
      .select(col("user_id"), col("n"),
        round((n * col("sxy").cast("double") -
            col("sx").cast("double") * col("sy").cast("double")) /
          sqrt((n * col("sx2").cast("double") -
              col("sx").cast("double") * col("sx").cast("double")) *
            (n * col("sy2").cast("double") -
              col("sy").cast("double") * col("sy").cast("double"))), 6)
          .as("acf1"))
      .orderBy(col("user_id"))
  }

  /** Five-point quantile summary (p10/p25/p50/p75/p90) of event values
    * per type — the distribution-band profile dashboards and drift
    * monitors read. Exact `percentile` (both engines interpolate with the
    * same textbook pos = q·(n−1) formula — parity established by
    * agg_percentile); approx_percentile/t-digest are the declared sketch
    * paths at 100 TB (agg_approx_percentile, agg_tdigest).
    *
    * Scale: exact percentiles buffer per group — inherent to the exact
    * statistic; group cardinality is |event_type| (tiny). */
  def aggQuantileBands(s: SparkSession, d: String): DataFrame = {
    val bands = Seq(10, 25, 50, 75, 90)
    events(s, d)
      .groupBy(col("event_type"))
      .agg(count(lit(1)).as("n"),
        bands.map(p => round(percentile(col("value"), lit(p / 100.0)), 4)
          .as(s"p$p")): _*)
      .orderBy(col("event_type"))
  }

  /** Per-user robust scaling (x − median)/IQR — the outlier-insensitive
    * cousin of feature_zscore_norm (a scaler heavy tails can't drag). On
    * cent integers the median and both quartiles are exact IEEE: the
    * interpolation fractions (.25/.5/.75) are dyadic, so a + (b−a)·f is
    * exact for int64 cents, and the IQR > 0 gate compares exact values.
    *
    * Scale: three stacked whole-partition percentile windows on ONE
    * user_id exchange, same shape as ts_anomaly_mad. */
  def featureRobustScale(s: SparkSession, d: String): DataFrame = {
    val w = Window.partitionBy(col("user_id"))
    events(s, d)
      .select(col("event_id"), col("user_id"),
        floor(col("value") * 100 + 0.5).as("xc"))
      .withColumn("n", count(lit(1)).over(w))
      .withColumn("med", percentile(col("xc"), lit(0.5)).over(w))
      .withColumn("q1", percentile(col("xc"), lit(0.25)).over(w))
      .withColumn("q3", percentile(col("xc"), lit(0.75)).over(w))
      .where(col("n") >= 2 && col("q3") > col("q1"))
      .select(col("event_id"), col("user_id"),
        round((col("xc").cast("double") - col("med")) /
          (col("q3") - col("q1")), 4).as("v_robust"))
      .orderBy(col("user_id"), col("event_id"))
  }

  /** Engagement rollup: daily active users, trailing-7-day actives, and
    * the DAU/MAU stickiness ratio per day — the activity health metrics
    * every event platform reports. All counts are exact distincts; the
    * one ratio divides exact integers.
    *
    * Scale: the raw stream collapses FIRST to distinct (day, user) pairs
    * (one partial-aggregable shuffle bounded by days × users, not
    * events); the trailing-7-day count then EXPLODES each pair into its
    * 7 covered anchor days (the stream_sliding aligned-bucket trick) and
    * hash-aggregates on the anchor — a plain equi shape, never a
    * day-range nested-loop join — and the month distinct reuses the same
    * pairs. The pair table is persisted for its three readers; the bench
    * harness owns the cache (it clears the SQL cache between queries),
    * so the op does not unpersist. */
  def analyticsDau(s: SparkSession, d: String): DataFrame = {
    // month is functionally dependent on day — keep it OUT of the
    // distinct key (smaller shuffle rows) and derive it by projection
    val pairs = events(s, d)
      .select(date_trunc("day", col("ts")).as("day"), col("user_id"))
      .distinct()
      .persist()
    // pairs is already (day, user)-distinct: DAU is a plain count — no
    // second distinct expansion
    val dau = pairs.groupBy(col("day"))
      .agg(count(lit(1)).as("dau"))
      .withColumn("month", date_trunc("month", col("day")))
    val mau = pairs
      .groupBy(date_trunc("month", col("day")).as("month"))
      .agg(countDistinct(col("user_id")).as("mau"))
    // a pair active on `day` is inside the trailing-7-day window of
    // anchors day .. day+6; anchors past the data edge drop out in the
    // inner join with dau below
    val wau = pairs
      .select(col("day"), col("user_id"),
        explode(sequence(lit(0), lit(6))).as("off"))
      .select(expr("timestampadd(DAY, off, day)").as("d0"), col("user_id"))
      .groupBy(col("d0"))
      .agg(countDistinct(col("user_id")).as("wau7"))
    dau.join(mau, Seq("month"))
      .join(wau, dau("day") === wau("d0"))
      .select(col("day"), col("dau"), col("wau7"), col("mau"),
        round(col("dau").cast("double") / col("mau").cast("double"), 4)
          .as("stickiness"))
      .orderBy(col("day"))
  }

  /** Jaccard similarity of co-order neighborhoods per part pair — the
    * set-overlap normalization of assoc_pairs' raw support (dedup-style
    * scoring on the basket graph): |A∩B| / |A∪B| = n_ab/(n_a + n_b − n_ab)
    * over the orders containing each part. Exact integer counts, one
    * divide, rank on the rounded score.
    *
    * Scale: pair counts reuse the bounded coOrderPairs kernel; the
    * per-part order counts are a small table broadcast into both pair
    * sides (the assoc_rules shape). */
  def graphEdgeJaccard(s: SparkSession, d: String): DataFrame = {
    val dl = Tables.lineitem(s, d)
      .select(col("l_orderkey"), col("l_partkey")).distinct()
    // persisted: broadcast into BOTH pair sides — two aliased references
    // would otherwise re-run the lineitem scan + distinct twice
    val perPart = dl.groupBy(col("l_partkey")).agg(count(lit(1)).as("n_p"))
      .persist()
    val pairs = Analytics.coPairCounts(s, d)
      .select(col("p1"), col("p2"), col("cnt").as("n_ab"))
    pairs
      .join(broadcast(perPart.select(col("l_partkey").as("p1"),
        col("n_p").as("n_a"))), Seq("p1"))
      .join(broadcast(perPart.select(col("l_partkey").as("p2"),
        col("n_p").as("n_b"))), Seq("p2"))
      .select(col("p1"), col("p2"), col("n_ab"),
        round(col("n_ab").cast("double") /
          (col("n_a") + col("n_b") - col("n_ab")).cast("double"), 6)
          .as("jaccard"))
      .orderBy(col("jaccard").desc, col("p1"), col("p2"))
  }

  /** Predicate-aggregate family over the event stream — conditional
    * counts and universal/existential tests per type (count_if /
    * bool_and / bool_or), the data-quality assertions rollups are built
    * from. Booleans emit as ints for the scalar comparator; everything
    * is exact.
    *
    * Scale: one partial-aggregable groupBy on a tiny key. */
  def fnAggBool(s: SparkSession, d: String): DataFrame =
    events(s, d)
      .groupBy(col("event_type"))
      .agg(
        count_if(col("value") > 100).as("n_over_100"),
        count_if(col("value") > 400).as("n_over_400"),
        bool_and(col("value") > 0).cast("int").as("all_positive"),
        bool_or(col("value") > 480).cast("int").as("any_near_max"))
      .orderBy(col("event_type"))

  /** Weekday seasonality profile: event count and exact mean value per
    * (event_type, weekday) — the day-of-week demand curve capacity and
    * anomaly baselines read. Weekday is Monday-based 0–6 in both engines
    * (Spark weekday(); DuckDB isodow − 1); the mean divides exact cent
    * sums once.
    *
    * Scale: one partial-aggregable groupBy on a |types|×7 key. */
  def tsWeekdayProfile(s: SparkSession, d: String): DataFrame =
    events(s, d)
      .groupBy(col("event_type"), weekday(col("ts")).as("wd"))
      .agg(count(lit(1)).as("n"),
        sum(floor(col("value") * 100 + 0.5)).as("cents"))
      .select(col("event_type"), col("wd"), col("n"),
        round(col("cents").cast("double") / col("n").cast("double") / 1e2, 4)
          .as("mean_value"))
      .orderBy(col("event_type"), col("wd"))

  /** URL decomposition (scheme/host/path/query param) — the log- and
    * crawl-processing staple. Fixture tables carry no URL column, so a
    * deterministic URL derives from (source, doc_id, lang) in BOTH
    * engines — the extraction regexes provably fire on all rows (the
    * text_pii_redact convention) and stay inside the shared
    * Java-regex ∩ RE2 dialect.
    *
    * Scale: map-only codegen'd string expressions, no shuffle but the
    * output sort. */
  def fnUrlParse(s: SparkSession, d: String): DataFrame = {
    val url = concat(lit("https://"), col("source"),
      lit(".example.com/docs/"), col("doc_id").cast("string"),
      lit("?lang="), col("lang"))
    Tables.documents(s, d)
      .select(col("doc_id"), url.as("url"))
      .select(col("doc_id"), col("url"),
        regexp_extract(col("url"), "^([a-z]+)://", 1).as("scheme"),
        regexp_extract(col("url"), "^[a-z]+://([^/]+)", 1).as("host"),
        regexp_extract(col("url"), "^[a-z]+://[^/]+(/[^?]*)", 1).as("path"),
        regexp_extract(col("url"), "[?&]lang=([^&]*)", 1).as("lang_param"))
      .orderBy(col("doc_id"))
  }

  /** CUSUM drift statistic per user: the running sum of deviations from
    * the user's mean, Sᵢ − i·μ — where a level shift in the stream shows
    * up as a ramp long before any single point trips an outlier test.
    * The running sum and row index are exact integers on the (ts,
    * event_id) total order; μ = S/n divides exact integers once, and the
    * one multiply-subtract chain is spelled identically in the twin.
    *
    * Scale: the running window, the row index, and the two
    * whole-partition aggregates all stack on ONE user_id exchange. */
  /** Holt double exponential smoothing (level + trend) per user — the
    * short-horizon feed forecaster. α = 1/2, β = 1/4 (exact binary
    * fractions: the per-step products introduce no representation error
    * of their own, so the recurrence is the same double arithmetic on
    * both engines as long as it runs in the same ORDER — the whole
    * correctness question for a sequential fold).
    *
    * One event shuffle keyed by user, then a typed in-partition fold
    * (the recurrence l_i = αx + (1−α)(l+b), b_i = β(l_i−l) + (1−β)b is
    * inherently sequential — state is 2 doubles, rows stream through);
    * the oracle replays the identical recurrence as a recursive CTE
    * stepping row_number order. Emits only the per-user tail (n, level,
    * trend, one-step forecast), so output is |users| not |events|. */
  /** Query key `ts_ewma_timedecay`: EWMA under IRREGULAR event spacing —
    * the per-user smoother a real event stream needs (row-based EWMA
    * treats a 1-second and a 3-day gap identically; time-decay weights
    * the old state by a = e^(−Δt/τ), τ = 1 h, so state half-lives in
    * wall time). Sequential recurrence, oracle-gated by the
    * ts_holt_linear recipe: identical double arithmetic in identical
    * order in a DuckDB recursive CTE — with one extra guard, the decay
    * factor SNAPS to the 1e-6 grid before entering the recurrence
    * (exp() is the one libm call the two engines could round apart by
    * an ulp; the snap absorbs it, drift_js's ln treatment).
    *
    * Scale: SECONDARY SORT, not a per-user buffer — the user-keyed
    * exchange is followed by an in-partition (user, ts, id) sort and a
    * streaming fold whose state is O(1) doubles per OPEN user, so one
    * bot user with 10⁸ events costs sort spill (disk-backed, fine), not
    * task heap. The r11 form's groupByKey.mapGroups{it.toArray.sortBy}
    * buffered whole user histories on the heap — bounded by
    * events-per-user, which at 100 TB nothing bounds. Round12Spec pins
    * the hot-user layout (one user owning ~16× the events) against a
    * driver replay; the oracle hash is unchanged (same total order,
    * same arithmetic). */
  def tsEwmaTimedecay(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    def us(t: java.sql.Timestamp): Long =
      t.toInstant.getEpochSecond * 1000000L + t.toInstant.getNano / 1000L
    events(s, d)
      .select(col("user_id"), col("ts"), col("event_id"), col("value"))
      .as[(Long, java.sql.Timestamp, Long, Double)]
      .repartition(col("user_id"))
      .sortWithinPartitions(col("user_id"), col("ts"), col("event_id"))
      .mapPartitions { it =>
        val rows = it.buffered
        new Iterator[(Long, Long, Double)] {
          def hasNext: Boolean = rows.hasNext
          def next(): (Long, Long, Double) = {
            val (u, ts0, _, v0) = rows.next()
            var sm = v0
            var prev = us(ts0)
            var n = 1L
            while (rows.hasNext && rows.head._1 == u) {
              val (_, ts, _, v) = rows.next()
              val tu = us(ts)
              val a = math.floor(
                math.exp(-((tu - prev).toDouble / 3.6e9)) * 1e6) / 1e6
              sm = a * sm + (1.0 - a) * v
              prev = tu
              n += 1
            }
            def r4(x: Double): Double =
              math.floor(x * 10000.0 + 0.5) / 10000.0
            (u, n, r4(sm))
          }
        }
      }
      .toDF("user_id", "n_obs", "ewma_last")
      .orderBy(col("user_id"))
  }

  def tsHoltLinear(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    // same secondary-sort streaming fold as [[tsEwmaTimedecay]]: O(1)
    // state (level, trend) per open user, never a per-user heap buffer
    events(s, d)
      .select(col("user_id"), col("ts"), col("event_id"), col("value"))
      .as[(Long, java.sql.Timestamp, Long, Double)]
      .repartition(col("user_id"))
      .sortWithinPartitions(col("user_id"), col("ts"), col("event_id"))
      .mapPartitions { it =>
        val rows = it.buffered
        new Iterator[(Long, Long, Double, Double, Double)] {
          def hasNext: Boolean = rows.hasNext
          def next(): (Long, Long, Double, Double, Double) = {
            val (u, _, _, v0) = rows.next()
            var l = v0
            var b = 0.0
            var n = 1L
            while (rows.hasNext && rows.head._1 == u) {
              val (_, _, _, v) = rows.next()
              val l2 = 0.5 * v + 0.5 * (l + b)
              b = 0.25 * (l2 - l) + 0.75 * b
              l = l2
              n += 1
            }
            def r4(x: Double): Double =
              math.floor(x * 10000.0 + 0.5) / 10000.0
            (u, n, r4(l), r4(b), r4(l + b))
          }
        }
      }
      .toDF("user_id", "n_obs", "level", "trend", "forecast_next")
      .orderBy(col("user_id"))
  }

  /** Per-user 1-D KALMAN filter (local-level model) over the event
    * value series — the optimal-gain generalization of the fixed-α
    * EWMA family: x̂ᵢ = x̂ᵢ₋₁ + K·(zᵢ − x̂ᵢ₋₁) where the gain
    * K = P⁻/(P⁻+R) adapts as the error variance P converges to its
    * steady state (so early observations move the estimate more than
    * late ones — exactly what the constant-α EWMA cannot express).
    * Process noise Q = 0.25, observation noise R = 1.0 — DYADIC
    * constants, so every operand is exact in both engines and the
    * recurrence is pure add/multiply/divide (IEEE-identical everywhere,
    * no libm, no snap needed until the final 1e-4 rounding); the DuckDB
    * twin spells the identical arithmetic in a recursive CTE
    * (ts_holt_linear's recipe).
    *
    * Scale: the r12 secondary-sort streaming fold — user-keyed
    * exchange, in-partition (user, ts, id) sort, O(1) doubles of state
    * per open user; a bot user with 10⁸ events lands in disk-backed
    * sort spill, never on a task heap. */
  def tsKalman1d(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    events(s, d)
      .select(col("user_id"), col("ts"), col("event_id"), col("value"))
      .as[(Long, java.sql.Timestamp, Long, Double)]
      .repartition(col("user_id"))
      .sortWithinPartitions(col("user_id"), col("ts"), col("event_id"))
      .mapPartitions { it =>
        val rows = it.buffered
        new Iterator[(Long, Long, Double, Double)] {
          def hasNext: Boolean = rows.hasNext
          def next(): (Long, Long, Double, Double) = {
            val (u, _, _, v0) = rows.next()
            var xs = v0
            var p = 1.0
            var n = 1L
            while (rows.hasNext && rows.head._1 == u) {
              val (_, _, _, v) = rows.next()
              val pp = p + 0.25
              val k = pp / (pp + 1.0)
              xs = xs + k * (v - xs)
              p = (1.0 - k) * pp
              n += 1
            }
            def r4(x: Double): Double =
              math.floor(x * 10000.0 + 0.5) / 10000.0
            (u, n, r4(xs), r4(p))
          }
        }
      }
      .toDF("user_id", "n_obs", "estimate", "err_var")
      .orderBy(col("user_id"))
  }

  /** Query key `ts_holt_winters`: additive TRIPLE exponential smoothing
    * (Holt–Winters) with weekly seasonality — the top of the smoothing
    * ladder (EWMA → time-decay → Holt → Kalman → this): an events feed
    * has a demonstrated weekday cycle ([[tsWeekdayProfile]] /
    * tsSeasonalResidual) that level+trend smoothers chase instead of
    * learn. Daily series per user: the per-day cent sums are EXACT
    * integer aggregates (order-independent under any partitioning), so
    * the sequential recurrence starts from bit-identical inputs on both
    * engines. α = 1/2, β = 1/4, γ = 1/4 — dyadic, so every step is pure
    * IEEE add/multiply and the DuckDB recursive-CTE twin (seasonal
    * state as 7 explicit columns, Monday-based `weekday` slots ≡
    * isodow−1) replays the fold bit-for-bit, no snap needed until the
    * final 1e-4 rounding. Init: l₀ = x₀, b₀ = 0, s ≡ 0 — the seasonal
    * offsets are LEARNED through γ over the observed cycles, not
    * pre-fit, keeping the recurrence uniform (the ts_holt_linear
    * convention). Forecast = l + b + s[next day's slot].
    *
    * Scale: one partial-aggregable (user, day) groupBy bounds the fold
    * input to ≤ |users|·|days| rows — a bot user with 10⁸ events enters
    * the fold as ≤ 366 daily rows — then the r12 secondary-sort
    * streaming fold: user-keyed exchange, in-partition (user, day)
    * sort, O(1) state (level, trend, 7 slots) per OPEN user. */
  def tsHoltWinters(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    events(s, d)
      .select(col("user_id"), to_date(col("ts")).as("day"),
        floor(col("value") * 100 + 0.5).cast("long").as("c"))
      .groupBy(col("user_id"), col("day"))
      .agg(sum(col("c")).as("cents"))
      .select(col("user_id"), col("day"), weekday(col("day")).as("wd"),
        (col("cents").cast("double") / lit(1e2)).as("v"))
      .as[(Long, java.sql.Date, Int, Double)]
      .repartition(col("user_id"))
      .sortWithinPartitions(col("user_id"), col("day"))
      .mapPartitions { it =>
        val rows = it.buffered
        new Iterator[(Long, Long, Double, Double, Double, Double)] {
          def hasNext: Boolean = rows.hasNext
          def next(): (Long, Long, Double, Double, Double, Double) = {
            val (u, _, wd0, v0) = rows.next()
            var l = v0
            var b = 0.0
            var n = 1L
            val sa = new Array[Double](7)
            var lastWd = wd0
            while (rows.hasNext && rows.head._1 == u) {
              val (_, _, wd, v) = rows.next()
              val sc = sa(wd)
              val l2 = 0.5 * (v - sc) + 0.5 * (l + b)
              b = 0.25 * (l2 - l) + 0.75 * b
              sa(wd) = 0.25 * (v - l2) + 0.75 * sc
              l = l2
              lastWd = wd
              n += 1
            }
            def r4(x: Double): Double =
              math.floor(x * 10000.0 + 0.5) / 10000.0
            val sNext = sa((lastWd + 1) % 7)
            (u, n, r4(l), r4(b), r4(sNext), r4(l + b + sNext))
          }
        }
      }
      .toDF("user_id", "n_days", "level", "trend", "season_next",
        "forecast_next")
      .orderBy(col("user_id"))
  }

  def tsCusum(s: SparkSession, d: String): DataFrame = {
    val wp = Window.partitionBy(col("user_id"))
    val wo = wp.orderBy(col("ts"), col("event_id"))
    val wr = wo.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    events(s, d)
      .select(col("event_id"), col("user_id"), col("ts"),
        floor(col("value") * 100 + 0.5).as("xc"))
      .withColumn("si", sum(col("xc")).over(wr))
      .withColumn("i", row_number().over(wo))
      .withColumn("n", count(lit(1)).over(wp))
      .withColumn("st", sum(col("xc")).over(wp))
      .select(col("event_id"), col("user_id"),
        round((col("si").cast("double") - col("i").cast("double") *
          (col("st").cast("double") / col("n").cast("double"))) / 1e2, 4)
          .as("cusum"))
      .orderBy(col("user_id"), col("event_id"))
  }

  /** Lorenz-curve deciles of user spend (the Pareto "top 10% drive X%"
    * rollup) — the per-user companion of agg_gini's per-doc inequality:
    * users split into 10 spend bands by the nine exact decile boundaries
    * of total cents (decile 1 = top spenders, cents ≥ q₀.₉), and each
    * band reports its exact share plus the running cumulative share.
    * Shares divide exact integers; both engines interpolate percentiles
    * identically (pinned by agg_percentile / agg_quantile_bands), so the
    * band assignment `cents < boundary` compares identical doubles.
    *
    * Scale: one user_id partial agg, ONE nine-value exact-percentile row
    * broadcast back for bucketing (the analytics_rfm recipe — never a
    * global rank window funneling every user through one task; approx
    * percentile is the drop-in at extreme user cardinality). The ≤10
    * decile rows collapse to a single sorted array for the prefix sums,
    * so no stage anywhere — not even a bounded one — plans a
    * partition-less WindowExec. */
  def analyticsPareto(s: SparkSession, d: String): DataFrame =
    paretoCore(s, d,
      "percentile(cents, array(0.9D,0.8D,0.7D,0.6D,0.5D,0.4D,0.3D,0.2D,0.1D))")

  /** [[analyticsPareto]] with approx_percentile boundaries — the drop-in
    * the exact form's scale note promises for extreme user cardinality:
    * the KLL-style sketch merges map-side in O(1/ε) state instead of
    * funneling every distinct cents value through the exact percentile's
    * single-reduce array build. Identical recipe otherwise (one-row
    * boundary broadcast, comparison bucketing, prefix sums in array
    * land). Oracle-exempt: sketch boundaries are engine-specific;
    * Round8Spec pins decile mass within ε of the exact form and total
    * user count equal (accuracy 10000 ⇒ boundary rank error ≤ n/10000,
    * so band populations drift by at most that many users per edge). */
  def analyticsParetoApprox(s: SparkSession, d: String): DataFrame =
    paretoCore(s, d,
      "approx_percentile(cents, " +
        "array(0.9D,0.8D,0.7D,0.6D,0.5D,0.4D,0.3D,0.2D,0.1D), 10000)")

  private def paretoCore(
      s: SparkSession, d: String, boundaryExpr: String): DataFrame = {
    val perUser = events(s, d)
      .groupBy(col("user_id"))
      .agg(sum(floor(col("value") * 100 + 0.5)).as("cents"))
    val bounds = perUser.agg(expr(boundaryExpr).as("qs"))
    val deciles = perUser
      .crossJoin(broadcast(bounds))
      .withColumn("decile",
        size(filter(col("qs"), b => col("cents") < b)) + 1)
      .groupBy(col("decile"))
      .agg(count(lit(1)).as("n_users"), sum(col("cents")).as("dc"))
    deciles
      .agg(sort_array(collect_list(
        struct(col("decile"), col("n_users"), col("dc")))).as("a"))
      .select(col("a"), posexplode(col("a")))
      .select(col("col.decile").as("decile"), col("col.n_users").as("n_users"),
        round(col("col.dc").cast("double") /
          aggregate(col("a"), lit(0L), (acc, x) => acc + x.getField("dc"))
            .cast("double"), 6).as("share"),
        round(aggregate(slice(col("a"), lit(1), col("pos") + 1), lit(0L),
          (acc, x) => acc + x.getField("dc")).cast("double") /
          aggregate(col("a"), lit(0L), (acc, x) => acc + x.getField("dc"))
            .cast("double"), 6).as("cum_share"))
      .orderBy(col("decile"))
  }

  /** ROLLUP with the GROUPING_ID surface — the subtotal-level marker
    * downstream consumers key on (which rows are grand totals vs
    * per-flag subtotals). Bit order (first column = MSB) is the SQL
    * standard in both engines; NULL group keys coalesce to a sentinel so
    * the output is scalar-clean.
    *
    * Scale: same partial-aggregable Expand as agg_rollup. */
  def aggGroupingId(s: SparkSession, d: String): DataFrame =
    Tables.lineitem(s, d)
      .rollup(col("l_returnflag"), col("l_linestatus"))
      .agg(grouping_id().as("gid"), count(lit(1)).as("n"),
        sum(floor(col("l_extendedprice") * 100 + 0.5)).as("cents"))
      .select(coalesce(col("l_returnflag"), lit("ALL")).as("flag"),
        coalesce(col("l_linestatus"), lit("ALL")).as("status"),
        col("gid"), col("n"), col("cents"))
      .orderBy(col("gid"), col("flag"), col("status"))

  /** Boilerplate contamination per document — the C4-style repeated-
    * template signal: the fraction of a doc's distinct 3-gram shingles
    * that occur in ≥ 5 distinct documents. Exact integer counts plus one
    * divide; docs shorter than the shingle window are excluded on both
    * sides.
    *
    * Scale: shingles are hashed to 8-byte longs map-side by the typed
    * [[LlmPipeline.docShingleHashes]] kernel, the corpus-frequency count
    * is one partial-aggregable (shingle hash) shuffle, and the
    * doc-frequency table joins back. */
  def textBoilerplateRatio(s: SparkSession, d: String): DataFrame = {
    // persisted: the frame feeds both the df count and the join-back
    val sh = LlmPipeline.docShingleHashes(Tables.documents(s, d), 3).persist()
    // rows are (doc, shingle)-distinct already — plain count IS the
    // document frequency, no second distinct expansion
    val df = sh.groupBy(col("h"))
      .agg(count(lit(1)).as("nd"))
    sh.join(df, Seq("h"))
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_shingles"),
        count_if(col("nd") >= 5).as("n_boiler"))
      .select(col("doc_id"), col("n_shingles"), col("n_boiler"),
        round(col("n_boiler").cast("double") /
          col("n_shingles").cast("double"), 6).as("boiler_ratio"))
      .orderBy(col("doc_id"))
  }

  /** Language-balance divergence of the corpus: KL(observed lang mix ‖
    * uniform) — the one-number skew alarm a mixture re-weighting stage
    * watches. The five per-lang terms p·ln(5p) are inexact doubles, so
    * they accumulate LEFT-TO-RIGHT IN LANG ORDER (deterministic
    * accumulation both engines — groupBy partial-agg merge order is not;
    * the stream/batch FP-parity rule): the |langs| per-lang terms
    * collapse to one sorted array and fold in a single `aggregate`, the
    * same IEEE addition sequence as the oracle's running window, with no
    * partition-less WindowExec anywhere in the plan.
    *
    * Scale: |langs| rows after one partial-aggregable count — the array
    * holds a handful of entries whatever the corpus size. */
  def corpusKlBalance(s: SparkSession, d: String): DataFrame = {
    val counts = Tables.documents(s, d)
      .groupBy(col("lang")).agg(count(lit(1)).as("n_l"))
      .crossJoin(broadcast(Tables.documents(s, d)
        .agg(count(lit(1)).as("n"), countDistinct(col("lang")).as("k"))))
    val p = col("n_l").cast("double") / col("n").cast("double")
    val term = p * log(col("k").cast("double") * p)
    counts
      .withColumn("term", term)
      .agg(max(col("k")).as("n_langs"),
        sort_array(collect_list(struct(col("lang"), col("term")))).as("a"))
      .select(col("n_langs"),
        round(aggregate(col("a"), lit(0.0),
          (acc, x) => acc + x.getField("term")), 6).as("kl_uniform"))
  }

  /** Query key `corpus_temperature_sample`: temperature-weighted
    * multilingual sampling — the standard low-resource upweighting
    * formula of multilingual LM training (q_l ∝ p_l^α with α = 0.3; the
    * mT5/XLM-R recipe): high-resource languages are downsampled
    * sub-linearly so the tail survives without exploding its epoch
    * count. Output per language: observed share p, temperature share q,
    * the integer per-10k-documents sampling quota, and the boost factor
    * q/p (> 1 = upweighted). The normalizer Z = Σ p^α is an inexact
    * double sum, so it accumulates LEFT-TO-RIGHT IN LANG ORDER through
    * one sorted-array `aggregate` fold ([[corpusKlBalance]]'s recipe —
    * the same IEEE addition sequence as the oracle's running window);
    * the quota floors the 6-dp-rounded q so both engines floor the same
    * double.
    *
    * Scale: |langs| rows after one partial-aggregable count; the two
    * one-row folds (total, Z) ride broadcast crossJoins — nothing about
    * the corpus size reaches the driver. */
  def corpusTemperatureSample(s: SparkSession, d: String): DataFrame = {
    val alpha = 0.3
    val counts = Tables.documents(s, d)
      .groupBy(col("lang")).agg(count(lit(1)).as("n_docs"))
      .crossJoin(broadcast(
        Tables.documents(s, d).agg(count(lit(1)).as("n"))))
      .withColumn("p", col("n_docs").cast("double") / col("n").cast("double"))
      .withColumn("pa", pow(col("p"), lit(alpha)))
    val z = counts
      .agg(sort_array(collect_list(struct(col("lang"), col("pa")))).as("a"))
      .select(aggregate(col("a"), lit(0.0),
        (acc, x) => acc + x.getField("pa")).as("z"))
    counts.crossJoin(broadcast(z))
      .select(col("lang"), col("n_docs"),
        round(col("p"), 6).as("p"),
        round(col("pa") / col("z"), 6).as("q"),
        floor(round(col("pa") / col("z"), 6) * 1e4).cast("long").as("per_10k"),
        round(col("pa") / col("z") / col("p"), 4).as("boost"))
      .orderBy(col("lang"))
  }

  /** Query key `ts_stl_decompose`: STL-lite seasonal/trend decomposition
    * of the per-event-type daily series — the DECOMPOSITION companion of
    * the smoothing ladder (Holt–Winters FORECASTS through learned
    * seasonality; this EXPLAINS a series into trend + weekly seasonal +
    * residual, the first plot an analyst draws on a feed). Classic
    * moving-average STL skeleton: trend = centered 7-row moving average
    * over the observed daily sequence (rows with a full 7-observed-day
    * window only — edge days carry no trend row, the standard MA
    * convention), detrended = value − trend, seasonal(wd) = per-weekday
    * mean of the detrended values, residual = detrended − seasonal.
    *
    * Determinism: the 7-day moving SUM is over exact BIGINT cent sums
    * (order-free regardless of either engine's window-aggregation tree),
    * one division makes the trend double; the per-weekday seasonal mean
    * would be an order-dependent double sum, so each detrended value
    * snaps to the 1e-6 grid FIRST (identical doubles ⇒ identical longs)
    * and the slot mean divides exact integer sums — the
    * seq_markov_perplexity recipe. day is emitted as midnight TIMESTAMP
    * (the DATE-rendering gotcha).
    *
    * Scale: the (type, day) pre-aggregate bounds everything downstream
    * to ≤ |types|·|days| rows — the window partitions by event_type over
    * daily rows (a bounded-histogram-shaped input, same adjudication as
    * the drift sites), never over raw events. */
  def tsStlDecompose(s: SparkSession, d: String): DataFrame =
    stlCore(s, d)
      .select(col("event_type"), col("day").cast("timestamp").as("day"),
        round(col("v"), 4).as("value"), round(col("trend"), 4).as("trend"),
        round(col("seasonal"), 4).as("seasonal"),
        round(col("det") - col("seasonal"), 4).as("residual"))
      .orderBy(col("event_type"), col("day"))

  /** Query key `pipeline_smoothing_report`: the composed SMOOTHING
    * decision table — pipeline_ann_report's recipe applied to the
    * now-complete smoothing ladder (naive / EWMA / Holt / Kalman /
    * Holt–Winters): one row per rung × {n_users in the shared cohort,
    * one-step-ahead MAE on a per-user last-day holdout, state doubles
    * per key, beats_naive}. A feed team reads ONE table to pick a
    * forecaster, as they read the ANN report to pick an index rung and
    * the tokenizer report to pick a vocabulary.
    *
    * Protocol: every rung folds the SAME per-user daily cent series
    * (exact integer pre-aggregate) over days 1..n−1 with its standard
    * dyadic params (α = 1/2; Holt β = 1/4; Kalman Q = 0.25, R = 1;
    * HW γ = 1/4, 7 slots) and forecasts day n; users need n ≥ 9 days so
    * the cohort is IDENTICAL across rungs (a rung must not look better
    * by being measurable on easier users). Per-user absolute errors
    * snap to the 1e-4 grid (identical doubles ⇒ identical longs), MAE
    * divides exact integer sums. ONE fold pass computes all five rungs
    * (the states ride together), one tiny aggregate comes back — the
    * report rows are method-count metadata assembled on the driver.
    *
    * Pins: each rung's MAE equals an independent driver recompute,
    * shared cohort, determinism (Round13Spec). */
  def pipelineSmoothingReport(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    // 5-row (method, count, error-sum) readout memoized per corpus
    // fingerprint (graft.Memo; r13 verdict task 6) — the shared fold is
    // deterministic by pin, the first run in a session still pays it
    val errs = graft.Memo.getOrCompute("pipeline_smoothing_report",
      graft.Memo.fingerprint(d, "events.parquet")) {
      smoothingErrs(s, d)
        .collect()
        .map(r => (r.getString(0), r.getLong(1), r.getLong(2)))
    }
    // metadata-sized assembly: 5 rows, beats_naive needs the cross-row
    // naive anchor
    val mae = errs.map { case (m, nu, sa0) =>
      m -> (nu, math.floor(sa0.toDouble / nu.toDouble + 0.5) / 1e4)
    }.toMap
    // name the cohort requirement instead of surfacing an opaque
    // NoSuchElementException on sparse data (ADVICE r13)
    if (mae.isEmpty) throw new IllegalStateException(
      "pipeline_smoothing_report: no user has the required n >= 9 " +
        "distinct event days at this scale — the shared holdout cohort " +
        "is empty, so no rung is measurable")
    val naiveMae = mae("naive")._2
    val stateDoubles = Map("naive" -> 1, "ewma" -> 1, "holt" -> 2,
      "kalman" -> 2, "holt_winters" -> 9)
    Seq("naive", "ewma", "holt", "kalman", "holt_winters")
      .map { m =>
        val (nu, e) = mae(m)
        (m, nu, e, stateDoubles(m), if (e < naiveMae) 1 else 0)
      }
      .toDF("method", "n_users", "mae", "state_doubles", "beats_naive")
      .orderBy(col("method"))
  }

  /** The distributed half of [[pipelineSmoothingReport]]: one secondary-
    * sort fold computing every rung's holdout error, aggregated to the
    * 5-row (method, n_users, error-sum) frame. */
  private def smoothingErrs(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    events(s, d)
      .select(col("user_id"), to_date(col("ts")).as("day"),
        floor(col("value") * 100 + 0.5).cast("long").as("c"))
      .groupBy(col("user_id"), col("day"))
      .agg(sum(col("c")).as("cents"))
      .select(col("user_id"), col("day"), weekday(col("day")).as("wd"),
        (col("cents").cast("double") / lit(1e2)).as("v"))
      .as[(Long, java.sql.Date, Int, Double)]
      .repartition(col("user_id"))
      .sortWithinPartitions(col("user_id"), col("day"))
      .mapPartitions { it =>
        val rows = it.buffered
        new Iterator[Seq[(String, Long)]] {
          def hasNext: Boolean = rows.hasNext
          def next(): Seq[(String, Long)] = {
            val u = rows.head._1
            val buf = scala.collection.mutable.ArrayBuffer.empty[(Int, Double)]
            while (rows.hasNext && rows.head._1 == u) {
              val (_, _, wd, v) = rows.next()
              buf += ((wd, v))
            }
            if (buf.length < 9) Seq.empty
            else {
              val train = buf.view.slice(0, buf.length - 1)
              val (lastWd, actual) = buf.last
              // fold all rungs together over the training days
              var naive = 0.0
              var ew = 0.0
              var hl = 0.0; var hb = 0.0
              var kx = 0.0; var kp = 1.0
              var wl = 0.0; var wb = 0.0
              val sa = new Array[Double](7)
              var n = 0
              train.foreach { case (wd, v) =>
                if (n == 0) { naive = v; ew = v; hl = v; kx = v; wl = v }
                else {
                  naive = v
                  ew = 0.5 * v + 0.5 * ew
                  val hl2 = 0.5 * v + 0.5 * (hl + hb)
                  hb = 0.25 * (hl2 - hl) + 0.75 * hb
                  hl = hl2
                  val pp = kp + 0.25
                  val k = pp / (pp + 1.0)
                  kx = kx + k * (v - kx)
                  kp = (1.0 - k) * pp
                  val sc = sa(wd)
                  val wl2 = 0.5 * (v - sc) + 0.5 * (wl + wb)
                  wb = 0.25 * (wl2 - wl) + 0.75 * wb
                  sa(wd) = 0.25 * (v - wl2) + 0.75 * sc
                  wl = wl2
                }
                n += 1
              }
              def g(x: Double): Long =
                math.floor(math.abs(x - actual) * 10000.0 + 0.5).toLong
              Seq(
                ("naive", g(naive)), ("ewma", g(ew)),
                ("holt", g(hl + hb)), ("kalman", g(kx)),
                ("holt_winters", g(wl + wb + sa(lastWd))))
            }
          }
        }
      }
      .flatMap(identity)
      .toDF("method", "ae")
      .groupBy(col("method"))
      .agg(count(lit(1)).as("n_users"), sum(col("ae")).as("sae"))
  }

  /** Query key `ts_acf_correlogram`: the autocorrelation function at
    * calendar lags 1..7 per event_type — the CORRELOGRAM an analyst
    * reads before picking a seasonal model (ts_autocorr_lag1 gives one
    * point; the weekly cycle shows as the lag-7 spike, and this table
    * is the evidence for Holt–Winters' 7-slot choice). Lags are
    * CALENDAR days (join on day + k), not row offsets, so gaps in the
    * observed series cannot misalign the pairs.
    *
    * Determinism: mean from exact cent sums; each centered product
    * (v_t−μ)(v_{t+k}−μ) and each squared deviation snaps to the 1e-6
    * grid BEFORE its sum (identical doubles ⇒ identical longs), so
    * acf(k) = Σ_pairs / Σ_den divides exact integers. Scale: the
    * (type, day) pre-aggregate bounds everything; the lag join is
    * day-keyed over daily rows × 7 lags. Oracle = identical SQL. */
  def tsAcfCorrelogram(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val daily = events(s, d)
      .select(col("event_type"), to_date(col("ts")).as("day"),
        floor(col("value") * 100 + 0.5).cast("long").as("c"))
      .groupBy(col("event_type"), col("day"))
      .agg(sum(col("c")).as("cents"))
    val m = daily.groupBy(col("event_type"))
      .agg(count(lit(1)).as("n"), sum(col("cents")).as("s1"))
      .select(col("event_type"),
        (col("s1").cast("double") / col("n").cast("double") / lit(1e2))
          .as("mean"))
    val dv = daily.join(m, Seq("event_type"))
      .withColumn("v", col("cents").cast("double") / lit(1e2))
    val den = dv
      .withColumn("dd",
        floor((col("v") - col("mean")) * (col("v") - col("mean")) * 1e6
          + 0.5).cast("long"))
      .groupBy(col("event_type")).agg(sum(col("dd")).as("dg"))
    val lags = (1 to 7).toDF("lag")
    val bSide = dv.select(col("event_type"), col("day"), col("v"))
      .toDF("event_type", "day2", "v2")
      .localCheckpoint(eager = false)
    val num = dv.crossJoin(broadcast(lags))
      .withColumn("day2", date_add(col("day"), col("lag")))
      .join(bSide, Seq("event_type", "day2"))
      .withColumn("pg",
        floor((col("v") - col("mean")) * (col("v2") - col("mean")) * 1e6
          + 0.5).cast("long"))
      .groupBy(col("event_type"), col("lag"))
      .agg(count(lit(1)).as("n_pairs"), sum(col("pg")).as("ng"))
    num.join(den, Seq("event_type"))
      .select(col("event_type"), col("lag"), col("n_pairs"),
        round(col("ng").cast("double") / col("dg").cast("double"), 4)
          .as("acf"))
      .orderBy(col("event_type"), col("lag"))
  }

  /** Query key `ts_sax_symbolize`: SAX (Symbolic Aggregate approXimation)
    * of the per-user daily series — the symbolic representation motif
    * mining, similarity search and sequence-model features build on
    * (Lin/Keogh's recipe: z-normalize, Piecewise Aggregate Approximation,
    * then Gaussian-breakpoint binning to a small alphabet): 7-observed-
    * day PAA windows (full windows only), alphabet 4 with the standard
    * N(0,1) quartile breakpoints ±0.6745 and 0. One row per (user,
    * window) keeps the output scalar — the SAX "word" is a trivial
    * downstream pivot.
    *
    * Determinism: per-user mean/σ from EXACT BIGINT cent moments
    * (n·Σc² − (Σc)², the ts_anomaly_stl recipe), and the PAA mean's
    * numerator is an exact 7-day cent SUM — z_paa = (Σc/7e2 − mean)/σ
    * touches doubles only in correctly-rounded single operations, so the
    * breakpoint comparisons bin identical doubles in both engines.
    * Scale: the (user, day) pre-aggregate bounds everything; the
    * row-number window partitions by user over daily rows. */
  def tsSaxSymbolize(s: SparkSession, d: String): DataFrame = {
    val daily = events(s, d)
      .select(col("user_id"), to_date(col("ts")).as("day"),
        floor(col("value") * 100 + 0.5).cast("long").as("c"))
      .groupBy(col("user_id"), col("day"))
      .agg(sum(col("c")).as("cents"))
    val mo = daily.groupBy(col("user_id").as("u"))
      .agg(count(lit(1)).as("n"), sum(col("cents")).as("s1"),
        sum(col("cents") * col("cents")).as("s2"))
      .withColumn("mean", col("s1").cast("double") /
        col("n").cast("double") / lit(1e2))
      .withColumn("sigma",
        sqrt((col("n") * col("s2") - col("s1") * col("s1")).cast("double") /
          (col("n") * col("n")).cast("double") / lit(1e4)))
      .where(col("sigma") > 0)
      .select(col("u"), col("mean"), col("sigma"))
    val wo = Window.partitionBy(col("user_id")).orderBy(col("day"))
    val win = daily
      .withColumn("i", row_number().over(wo))
      .withColumn("win_idx", ((col("i") - 1) / 7).cast("int"))
      .groupBy(col("user_id"), col("win_idx"))
      .agg(count(lit(1)).as("nw"), sum(col("cents")).as("wc"),
        min(col("day")).as("start_day"))
      .where(col("nw") === 7)
    val z = col("wc").cast("double") / lit(7e2) - col("mean")
    win.join(mo, win("user_id") === mo("u"))
      .select(col("user_id"), col("win_idx"),
        col("start_day").cast("timestamp").as("start_day"),
        round(z / col("sigma"), 4).as("z_paa"),
        when(z / col("sigma") < -0.6745, "a")
          .when(z / col("sigma") < 0, "b")
          .when(z / col("sigma") < 0.6745, "c")
          .otherwise("d").as("symbol"))
      .orderBy(col("user_id"), col("win_idx"))
  }

  /** Shared STL-lite frame for [[tsStlDecompose]] / [[tsAnomalyStl]]:
    * (event_type, day, wd, v, trend, det, seasonal), full-window rows
    * only — see tsStlDecompose's determinism notes. */
  private def stlCore(s: SparkSession, d: String): DataFrame = {
    val daily = events(s, d)
      .select(col("event_type"), to_date(col("ts")).as("day"),
        floor(col("value") * 100 + 0.5).cast("long").as("c"))
      .groupBy(col("event_type"), col("day"))
      .agg(sum(col("c")).as("cents"))
    val w = Window.partitionBy(col("event_type")).orderBy(col("day"))
      .rowsBetween(-3, 3)
    val t = daily
      .withColumn("n7", count(lit(1)).over(w))
      .withColumn("s7", sum(col("cents")).over(w))
      .where(col("n7") === 7)
      .withColumn("trend", col("s7").cast("double") / lit(7e2))
      .withColumn("v", col("cents").cast("double") / lit(1e2))
      .withColumn("det", col("v") - col("trend"))
      .withColumn("wd", weekday(col("day")))
      .withColumn("g", floor(col("det") * 1e6 + 0.5).cast("long"))
    val seas = t.groupBy(col("event_type"), col("wd"))
      .agg(sum(col("g")).as("sg"), count(lit(1)).as("sn"))
      .withColumn("seasonal",
        col("sg").cast("double") / col("sn").cast("double") / lit(1e6))
    t.join(seas.select(col("event_type"), col("wd"), col("seasonal")),
      Seq("event_type", "wd"))
  }

  /** Query key `ts_anomaly_stl`: anomaly detection on the STL RESIDUAL —
    * the decomposition put to work (the reason an analyst runs STL at
    * all): a spike that is merely "Saturday" is absorbed by the seasonal
    * component, so z-scoring the residual flags what the raw-value
    * z-score (anomaly_zscore) and MAD (ts_anomaly_mad) families would
    * either miss or double-flag. Per event_type: σ from EXACT integer
    * moments of the cent-grid residual (g = floor(res·1e2+0.5) BIGINT;
    * n·Σg² − (Σg)² is exact in BIGINT at any fixture scale, ONE double
    * divide + √ descaled by the grid²), z = res/σ rounded 4-dp,
    * anomaly ⇔ |z| > 3.
    *
    * Scale: rides [[stlCore]]'s (type, day)-bounded frame; the moment
    * aggregate is per-type metadata. Oracle = identical SQL in DuckDB. */
  def tsAnomalyStl(s: SparkSession, d: String): DataFrame = {
    val t = stlCore(s, d)
      .withColumn("res", col("det") - col("seasonal"))
      .withColumn("g2", floor(col("res") * 1e2 + 0.5).cast("long"))
    val mo = t.groupBy(col("event_type").as("et"))
      .agg(count(lit(1)).as("n"), sum(col("g2")).as("s1"),
        sum(col("g2") * col("g2")).as("s2"))
      .withColumn("sigma",
        sqrt((col("n") * col("s2") - col("s1") * col("s1")).cast("double") /
          (col("n") * col("n")).cast("double") / lit(1e4)))
      .select(col("et"), col("sigma"))
    t.join(mo, t("event_type") === mo("et"))
      .where(col("sigma") > 0)
      .select(col("event_type"), col("day").cast("timestamp").as("day"),
        round(col("res"), 4).as("residual"),
        round(col("sigma"), 4).as("sigma"),
        round(col("res") / col("sigma"), 4).as("z"),
        when(abs(col("res") / col("sigma")) > 3, 1).otherwise(0)
          .cast("int").as("is_anomaly"))
      .orderBy(col("event_type"), col("day"))
  }

  /** Two-way seasonal residual per event: value minus the additive
    * weekday + hour-of-day baseline (wd_mean + hod_mean − grand_mean) —
    * what's left after calendar seasonality, the input a drift/anomaly
    * stage actually wants. All three baselines divide exact cent sums
    * once; the residual is one affine chain on identical operands.
    *
    * Scale: three partial-aggregable groupBys over tiny keys (7 / 24 /
    * 1 rows) broadcast back onto the stream — raw events shuffle
    * nowhere. */
  def tsSeasonalResidual(s: SparkSession, d: String): DataFrame = {
    val ev = events(s, d)
      .select(col("event_id"), col("ts"),
        floor(col("value") * 100 + 0.5).as("xc"))
      .withColumn("wd", weekday(col("ts")))
      .withColumn("hod", hour(col("ts")))
    def meanOf(df: DataFrame, key: Seq[String], n: String, c: String): DataFrame =
      if (key.isEmpty) df.agg(count(lit(1)).as(n), sum(col("xc")).as(c))
      else df.groupBy(key.map(col): _*)
        .agg(count(lit(1)).as(n), sum(col("xc")).as(c))
    val byWd = meanOf(ev, Seq("wd"), "wn", "wc")
    val byHod = meanOf(ev, Seq("hod"), "hn", "hc")
    val global = meanOf(ev, Seq.empty, "gn", "gc")
    val wdm = col("wc").cast("double") / col("wn").cast("double") / 1e2
    val hm = col("hc").cast("double") / col("hn").cast("double") / 1e2
    val gm = col("gc").cast("double") / col("gn").cast("double") / 1e2
    ev.join(broadcast(byWd), Seq("wd"))
      .join(broadcast(byHod), Seq("hod"))
      .crossJoin(broadcast(global))
      .select(col("event_id"),
        round(col("xc").cast("double") / 1e2 - (wdm + hm - gm), 4)
          .as("residual"))
      .orderBy(col("event_id"))
  }

  /** The Spark 4 VARIANT surface over the schemaless event payload:
    * parse_json once, then typed path extraction (variant_get) — the
    * open-schema ingestion pattern that replaces per-field from_json
    * casts when payloads drift. The twin extracts the same paths with
    * DuckDB's JSON operators; values are small ints so every cast is
    * exact.
    *
    * Scale: map-only; variant parse + getter are codegen'd expressions,
    * no shuffle but the output sort. */
  def fnVariantJson(s: SparkSession, d: String): DataFrame =
    events(s, d)
      .select(col("event_id"), parse_json(col("props")).as("v"))
      .select(col("event_id"),
        variant_get(col("v"), "$.k", "int").as("k_int"),
        variant_get(col("v"), "$.k", "string").as("k_str"),
        (variant_get(col("v"), "$.k", "int") * 2).as("k_doubled"))
      .orderBy(col("event_id"))

  /** Rolling 20-event z-score per user — the windowed version of
    * feature_zscore_norm an online monitor actually computes (global
    * moments drift; the trailing window adapts). Rolling Σx and Σx² are
    * exact integer sums over a fixed 20-row frame, so the same exact-
    * moment algebra applies frame by frame; rows before the 20th and
    * zero-variance frames (exact integer test) are excluded.
    *
    * Scale: the rolling sums, row index, and the lag ride ONE user_id
    * exchange; state per row is O(frame), no whole-history buffering. */
  def tsRollingZscore(s: SparkSession, d: String): DataFrame = {
    val wo = Window.partitionBy(col("user_id"))
      .orderBy(col("ts"), col("event_id"))
    val wr = wo.rowsBetween(-19, 0)
    val num = lit(20) * col("s2") - col("s1") * col("s1")
    val mu = col("s1").cast("double") / lit(2e1)
    val sd = sqrt(num.cast("double") / lit(380.0))
    events(s, d)
      .select(col("event_id"), col("user_id"), col("ts"),
        floor(col("value") * 100 + 0.5).as("xc"))
      .withColumn("rn", row_number().over(wo))
      .withColumn("s1", sum(dec(col("xc"))).over(wr))
      .withColumn("s2", sum(dec(col("xc") * col("xc"))).over(wr))
      .where(col("rn") >= 20 && num > 0)
      .select(col("event_id"), col("user_id"),
        round((col("xc").cast("double") - mu) / sd, 4).as("z_roll"))
      .orderBy(col("user_id"), col("event_id"))
  }

  /** Cluster-size histogram of the near-duplicate components
    * (dedup_cluster_cc's output distribution) — the shape diagnostic
    * that tells a dedup pass whether it found scattered pairs or a
    * giant component. Exact integer counts end to end.
    *
    * Scale: two partial-aggregable groupBys over the (bounded) label
    * table the CC loop already produced. */
  def graphCcSizes(s: SparkSession, d: String): DataFrame =
    LlmPipeline.dedupClusterCc(s, d)
      .groupBy(col("cluster_id")).agg(count(lit(1)).as("csize"))
      .groupBy(col("csize")).agg(count(lit(1)).as("n_clusters"))
      .orderBy(col("csize"))

  /** Novelty ratio per document — the fraction of a doc's distinct
    * 3-gram shingles FIRST seen in this doc (owner = min doc_id over the
    * corpus), the incremental-ingest signal ("how much new text does
    * this doc add?") that complements text_boilerplate_ratio's
    * corpus-frequency view. Exact integer counts plus one divide.
    *
    * Scale: same typed shingle-hash kernel as boilerplate — longs hashed
    * map-side, one partial-aggregable (shingle hash → min doc_id)
    * shuffle. */
  def textNgramNovelty(s: SparkSession, d: String): DataFrame = {
    // persisted for its two readers
    val sh = LlmPipeline.docShingleHashes(Tables.documents(s, d), 3).persist()
    val owner = sh.groupBy(col("h")).agg(min(col("doc_id")).as("first_doc"))
    sh.join(owner, Seq("h"))
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_shingles"),
        count_if(col("first_doc") === col("doc_id")).as("n_novel"))
      .select(col("doc_id"), col("n_shingles"), col("n_novel"),
        round(col("n_novel").cast("double") /
          col("n_shingles").cast("double"), 6).as("novelty"))
      .orderBy(col("doc_id"))
  }

  /** Quantity-weighted mean price per return flag — the weighted-
    * statistics surface (plain means mislead when line sizes vary).
    * Σ(qty·price_cents) and Σqty are exact integers (DECIMAL(38,0) ≡
    * HUGEINT headroom on the product sum), one divide at the end.
    *
    * Scale: one partial-aggregable groupBy on a tiny key. */
  def aggWeightedMean(s: SparkSession, d: String): DataFrame = {
    val q = col("l_quantity").cast("long")
    val pc = floor(col("l_extendedprice") * 100 + 0.5)
    Tables.lineitem(s, d)
      .select(col("l_returnflag"), q.as("q"), pc.as("pc"))
      .groupBy(col("l_returnflag"))
      .agg(sum(dec(col("q"))).as("sq"),
        sum(dec(col("q") * col("pc"))).as("sqp"))
      .select(col("l_returnflag"),
        round(col("sqp").cast("double") / col("sq").cast("double") / 1e2, 4)
          .as("wavg_price"))
      .orderBy(col("l_returnflag"))
  }

  /** Inter-arrival profile per user: count, exact mean gap, and max gap
    * in whole seconds between consecutive events — the cadence signal
    * sessionization thresholds (the 30-min gap) are tuned from. Gaps are
    * exact µs-derived second integers off one lag; the mean divides two
    * exact integers.
    *
    * Scale: one lag + one partial-aggregable groupBy on the same
    * user_id exchange. */
  def tsInterarrivalStats(s: SparkSession, d: String): DataFrame = {
    val wo = Window.partitionBy(col("user_id"))
      .orderBy(col("ts"), col("event_id"))
    val gaps = events(s, d)
      .select(col("user_id"), col("ts"), col("event_id"))
      .withColumn("prev", lag(col("ts"), 1).over(wo))
      .where(col("prev").isNotNull)
      .select(col("user_id"),
        (unix_timestamp(col("ts")) - unix_timestamp(col("prev"))).as("gap_s"))
    gaps.groupBy(col("user_id"))
      .agg(count(lit(1)).as("n_gaps"), sum(col("gap_s")).as("sg"),
        max(col("gap_s")).as("max_gap_s"))
      .select(col("user_id"), col("n_gaps"),
        round(col("sg").cast("double") / col("n_gaps").cast("double"), 4)
          .as("mean_gap_s"),
        col("max_gap_s"))
      .orderBy(col("user_id"))
  }

  /** Quality-gate attrition funnel — the observability report every
    * corpus filter chain ships with: docs surviving each CUMULATIVE
    * stage (length ≥ 20 tokens → TTR ≥ 0.5 → sentence punctuation
    * present), with per-stage drop counts. One row per stage, exact
    * counts from conditional aggregation over ONE scan (no per-stage
    * re-filtering).
    *
    * Scale: a single partial-aggregable global aggregate — the funnel
    * is conditional counters, not a chain of jobs. */
  def pipelineQualityFunnel(s: SparkSession, d: String): DataFrame = {
    val ws = split(col("text"), " ")
    val g1 = size(ws) >= 20
    val g2 = g1 && (size(array_distinct(ws)).cast("double") /
      size(ws).cast("double")) >= 0.5
    val g3 = g2 && col("text").rlike("[.!?]")
    val agg = Tables.documents(s, d).agg(
      count(lit(1)).as("n0"), count_if(g1).as("n1"),
      count_if(g2).as("n2"), count_if(g3).as("n3"))
    // per-stage drops come straight off the one-row aggregate inside the
    // stack — no lag window (even a 4-row partition-less WindowExec is a
    // plan smell worth zero)
    agg.select(expr(
      "stack(4, 0, 'ingest', n0, CAST(0 AS BIGINT), " +
        "1, 'min_length_20', n1, n0 - n1, " +
        "2, 'ttr_0.5', n2, n1 - n2, " +
        "3, 'has_sentence_punct', n3, n2 - n3) " +
        "AS (stage, gate, n_docs, n_dropped)"))
      .orderBy(col("stage"))
  }

  /** Multi-grain time rollup in ONE pass: hour/day/month buckets of the
    * event feed via GROUPING SETS over the three truncations — the
    * dashboard-tile fan-out every metrics store materializes, planned as
    * a single scan + Expand instead of three scans. Exact counts and
    * cent sums; the grain label derives from which key survived.
    *
    * Scale: the same partial-aggregable Expand as agg_rollup — 3× rows
    * pre-shuffle, collapsed map-side to (grain, bucket) cardinality. */
  def aggTimeRollup(s: SparkSession, d: String): DataFrame = {
    val ev = events(s, d).select(
      date_trunc("hour", col("ts")).as("h"),
      date_trunc("day", col("ts")).as("dy"),
      date_trunc("month", col("ts")).as("mo"),
      floor(col("value") * 100 + 0.5).as("cents"))
    ev.groupingSets(Seq(Seq(col("h")), Seq(col("dy")), Seq(col("mo"))),
        col("h"), col("dy"), col("mo"))
      .agg(count(lit(1)).as("n"), sum(col("cents")).as("cents"))
      .select(
        when(col("h").isNotNull, lit("hour"))
          .when(col("dy").isNotNull, lit("day"))
          .otherwise(lit("month")).as("grain"),
        coalesce(col("h"), col("dy"), col("mo")).as("bucket"),
        col("n"), col("cents"))
      .orderBy(col("grain"), col("bucket"))
  }

  /** Several COUNT(DISTINCT ...) over different keys in ONE aggregate —
    * the multi-distinct planning surface (Catalyst rewrites it into one
    * Expand + two-phase aggregate, not one scan per distinct). Exact
    * counts.
    *
    * Scale: the Expand triples the pre-shuffle rows but partial
    * aggregation collapses each replica to its distinct keys before the
    * exchange — still one scan, one shuffle. */
  def aggDistinctMulti(s: SparkSession, d: String): DataFrame =
    events(s, d)
      .groupBy(col("event_type"))
      .agg(countDistinct(col("user_id")).as("d_users"),
        countDistinct(date_trunc("day", col("ts"))).as("d_days"),
        countDistinct(col("user_id"), date_trunc("day", col("ts")))
          .as("d_user_days"),
        count(lit(1)).as("n"))
      .orderBy(col("event_type"))

  /** EXISTS as a COLUMN (existence join): every customer with a flag for
    * "has an urgent high-value order" — the feature-flag form of
    * join_semi (keep all rows, mark the matches). Catalyst plans the
    * correlated EXISTS expression as an ExistenceJoin — a join type the
    * semi/anti pair doesn't exercise.
    *
    * Scale: same hash join as a semi join, the flag rides the join
    * output; no row multiplication. */
  def joinExistence(s: SparkSession, d: String): DataFrame = {
    Tables.customer(s, d).createOrReplaceTempView("graft_cust_ex")
    Tables.orders(s, d).createOrReplaceTempView("graft_ord_ex")
    s.sql("""
      SELECT c_custkey,
             (EXISTS (SELECT 1 FROM graft_ord_ex o
                      WHERE o.o_custkey = c.c_custkey
                        AND o.o_orderpriority = '1-URGENT'
                        AND o.o_totalprice > 100000.0))::INT AS has_urgent
      FROM graft_cust_ex c
      ORDER BY c_custkey
    """)
  }

  /** Per-user percent change of event value vs the previous event (the
    * "returns" transform every event-stream feature set carries). Values
    * snap to cents on both sides, so Δ/prev is one double divide of
    * identical integers; first events (no predecessor) and zero
    * predecessors are excluded.
    *
    * Scale: one lag() on one user_id exchange; map-only otherwise. */
  def winPctChange(s: SparkSession, d: String): DataFrame = {
    val wo = Window.partitionBy(col("user_id"))
      .orderBy(col("ts"), col("event_id"))
    events(s, d)
      .select(col("event_id"), col("user_id"), col("ts"),
        floor(col("value") * 100 + 0.5).as("xc"))
      .withColumn("prev", lag(col("xc"), 1).over(wo))
      .where(col("prev").isNotNull && col("prev") =!= 0)
      .select(col("event_id"), col("user_id"),
        round((col("xc") - col("prev")).cast("double") /
          col("prev").cast("double"), 6).as("pct_change"))
      .orderBy(col("user_id"), col("event_id"))
  }

  /** Single change-point detection per event_type (binary-segmentation
    * step / CUSUM-argmax formalized): over the type's OBSERVED hourly
    * cent-sum sequence, find the split t* maximizing |n·S_t − t·S_n| —
    * the scaled gap between the prefix sum and its homogeneous
    * expectation — and report the level before/after. The argmax search
    * runs entirely on exact integers (smallest t on ties), so both
    * engines agree bit-for-bit; the two mean divides land at the end.
    *
    * Scale: the raw stream collapses to (type, hour) sums first (one
    * partial-aggregable shuffle, ≤ 720 rows per type at any volume);
    * the prefix/argmax windows run on that bounded hourly table. */
  def tsChangepoint(s: SparkSession, d: String): DataFrame = {
    val wOrd = Window.partitionBy(col("event_type")).orderBy(col("h"))
    val wCum = wOrd.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val wAll = Window.partitionBy(col("event_type"))
    val g = when(col("i") < col("n"),
      abs(col("n") * col("cum") - col("i") * col("sn")))
    events(s, d)
      .groupBy(col("event_type"),
        expr("unix_timestamp(ts) div 3600").as("h"))
      .agg(sum(floor(col("value") * 100 + 0.5)).as("sx"))
      .withColumn("i", row_number().over(wOrd).cast("bigint"))
      .withColumn("cum", sum(col("sx")).over(wCum))
      .withColumn("n", count(lit(1)).over(wAll))
      .withColumn("sn", sum(col("sx")).over(wAll))
      .where(col("n") >= 2)
      .withColumn("g", g)
      .withColumn("mx", max(col("g")).over(wAll))
      .withColumn("ti", min(when(col("g") === col("mx"), col("i"))).over(wAll))
      .where(col("i") === col("ti"))
      .select(col("event_type"), col("n").as("n_hours"),
        col("i").as("split_t"), col("h").as("split_hour_epoch"),
        round(col("cum").cast("double") / col("i").cast("double") /
          lit(100.0), 4).as("mean_before"),
        round((col("sn") - col("cum")).cast("double") /
          (col("n") - col("i")).cast("double") / lit(100.0), 4)
          .as("mean_after"))
      .orderBy(col("event_type"))
  }

  /** Periodogram of the hourly event rate — DFT power at harmonics
    * k = 1..8 of the 30-day fixture span (N = 720 hours; k = 30 would
    * be the daily cycle, k = 1..8 the multi-day structure a seasonality
    * detector scans). An oracle-gated DFT: each term x_t·cos(2πkt/N)
    * snaps to a 1e-4 integer grid BEFORE summing (the
    * seq_markov_perplexity trick), so the accumulation is
    * order-independent exact integer arithmetic in both engines and the
    * one floating divide chain runs on identical sums. Missing hours
    * contribute x_t = 0 — exactly what the absent histogram row does,
    * so no gap-fill pass is needed.
    *
    * Scale: one (hour → count) aggregate (≤ 720 rows at any volume),
    * an 8× constant fan-out, one 8-row reduce. The full-resolution
    * spectrum at production scale is the same shape with k up to N/2 —
    * fan-out × harmonics, still histogram-bounded. */
  def tsPeriodogram(s: SparkSession, d: String): DataFrame = {
    val n = 720
    val w = 2 * math.Pi / n
    events(s, d)
      .groupBy(expr("unix_timestamp(ts) div 3600 - 473352").as("t"))
      .agg(count(lit(1)).as("x"))
      .select(col("t"), col("x"),
        explode(sequence(lit(1), lit(8))).as("k"))
      .select(col("k"),
        floor(col("x") * cos(lit(w) * col("k") * col("t")) * 1e4 + 0.5)
          .as("cq"),
        floor(col("x") * sin(lit(w) * col("k") * col("t")) * 1e4 + 0.5)
          .as("sq"))
      .groupBy(col("k"))
      .agg(sum(col("cq")).as("sc"), sum(col("sq")).as("ss"))
      .select(col("k"),
        round(((col("sc").cast("double") / lit(1e4)) *
          (col("sc").cast("double") / lit(1e4)) +
          (col("ss").cast("double") / lit(1e4)) *
          (col("ss").cast("double") / lit(1e4))) /
          lit(n.toDouble * n), 6).as("power"))
      .orderBy(col("k"))
  }
}
