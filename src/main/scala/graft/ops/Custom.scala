package graft.ops

import org.apache.spark.sql.{DataFrame, Encoder, Encoders, SparkSession}
import org.apache.spark.sql.expressions.Aggregator
import org.apache.spark.sql.functions._
import graft.Det.round
import graft.functions.{BitmapDistinct, HllRegisters, HllSketch, TDigestQuantile}
import graft.io.Tables

/** Custom typed-aggregation surface (SURVEY.md §2.4 agg_custom_typed /
  * §2.11 udaf_typed): a Welford mean+variance `Aggregator[IN, BUF, OUT]`
  * registered via `functions.udaf` — the idiomatic Spark path for custom
  * aggregation (mergeable buffer ⇒ partial aggregation + single shuffle of
  * constant-size state; the same property HLL/minhash sketches rely on at
  * 100 TB).
  */
object Custom {

  case class WelfordBuf(n: Long, mean: Double, m2: Double)

  /** Numerically-stable streaming mean/M2 with Chan's parallel merge. */
  object WelfordAgg extends Aggregator[Double, WelfordBuf, WelfordBuf] {
    def zero: WelfordBuf = WelfordBuf(0L, 0.0, 0.0)
    def reduce(b: WelfordBuf, x: Double): WelfordBuf = {
      val n = b.n + 1
      val delta = x - b.mean
      val mean = b.mean + delta / n
      WelfordBuf(n, mean, b.m2 + delta * (x - mean))
    }
    def merge(a: WelfordBuf, b: WelfordBuf): WelfordBuf = {
      if (a.n == 0) b
      else if (b.n == 0) a
      else {
        val n = a.n + b.n
        val delta = b.mean - a.mean
        WelfordBuf(
          n,
          a.mean + delta * b.n / n,
          a.m2 + b.m2 + delta * delta * a.n * b.n / n)
      }
    }
    def finish(r: WelfordBuf): WelfordBuf = r
    def bufferEncoder: Encoder[WelfordBuf] = Encoders.product[WelfordBuf]
    def outputEncoder: Encoder[WelfordBuf] = Encoders.product[WelfordBuf]
  }

  /** Custom HLL sketch (TypedImperativeAggregate) per event_type —
    * oracle-exempt (sketch); ScalaTest asserts ±5% of exact. */
  def aggHllCustom(s: SparkSession, d: String): DataFrame = {
    Tables.events(s, d)
      .groupBy(col("event_type"))
      .agg(HllSketch.col(col("user_id")).as("hll_users"))
      .orderBy(col("event_type"))
  }

  /** Audience overlap from HLL sketch ALGEBRA — the scale tier of
    * analytics_audience_overlap: one scan builds a register sketch per
    * event type (graft_hll_regs, mergeable partial aggregation), then
    * every pairwise overlap falls out of register-max unions on the
    * DRIVER via inclusion–exclusion (|A∩B| ≈ |A|+|B|−|A∪B|) — T tiny
    * sketches answer T² audience questions with no second scan and no
    * per-user pair expansion at all, which is the 100 TB shape when the
    * exact pair kernel's per-user type-set work is already too much.
    * Oracle-exempt (sketch); CustomSurfaceSpec pins every estimated
    * overlap coefficient within ±0.05 of the exact kernel's. */
  def audienceOverlapHll(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val sketches = Tables.events(s, d)
      .groupBy(col("event_type"))
      .agg(HllRegisters.col(col("user_id")).as("regs"))
      .as[(String, Array[Byte])].collect().sortBy(_._1)
    val H = HllSketch
    val rows = for {
      i <- sketches.indices
      j <- (i + 1) until sketches.length
    } yield {
      val (ta, ra) = sketches(i)
      val (tb, rb) = sketches(j)
      val ea = H.estimate(ra)
      val eb = H.estimate(rb)
      val eu = H.estimate(H.union(ra, rb))
      val inter = math.max(0L, ea + eb - eu)
      (ta, tb, ea, eb, eu,
        math.floor(inter.toDouble / math.min(ea, eb).toDouble * 1e6 + 0.5) / 1e6)
    }
    rows.toDF("type_a", "type_b", "est_a", "est_b", "est_union",
      "est_overlap")
      .orderBy(col("type_a"), col("type_b"))
  }

  /** The HLL sketch under ROLLUP — the property that makes sketches the
    * 100 TB distinct-count answer is MERGEABILITY, and grouping sets are
    * its sharpest test: every subtotal level re-merges the same partial
    * sketch states (per-type, then the grand total) without a second
    * scan. Oracle-exempt like the flat HLL; CustomSurfaceSpec pins every
    * level's estimate within ±5% of the exact distinct AND the plan to
    * one Expand (no per-level re-scan). */
  def aggHllRollup(s: SparkSession, d: String): DataFrame = {
    Tables.events(s, d)
      .rollup(col("event_type"))
      .agg(HllSketch.col(col("user_id")).as("hll_users"))
      .select(coalesce(col("event_type"), lit("ALL")).as("event_type"),
        col("hll_users"))
      .orderBy(col("event_type"))
  }

  /** Custom EXACT-distinct bitmap aggregate per event_type — unlike the
    * HLL/t-digest sketches this one is oracle-GATED: bitmap-OR is exact,
    * so the result hash-matches DuckDB count(DISTINCT). Demonstrates a
    * custom TypedImperativeAggregate living under the same correctness
    * gate as the built-ins. */
  def aggBitmapDistinct(s: SparkSession, d: String): DataFrame = {
    Tables.events(s, d)
      .groupBy(col("event_type"))
      .agg(BitmapDistinct.col(col("user_id")).as("n_users"))
      .orderBy(col("event_type"))
  }

  /** Custom t-digest quantile sketch (TypedImperativeAggregate) per
    * event_type: median and p95 from mergeable bounded-size centroid
    * state — oracle-exempt (merge order shifts centroid boundaries, as
    * with any t-digest); CustomSurfaceSpec bounds both quantiles against
    * exact percentile. */
  def aggTdigest(s: SparkSession, d: String): DataFrame = {
    Tables.events(s, d)
      .groupBy(col("event_type"))
      .agg(
        TDigestQuantile.col(col("value"), lit(0.5)).as("p50_approx"),
        TDigestQuantile.col(col("value"), lit(0.95)).as("p95_approx"))
      .orderBy(col("event_type"))
  }

  /** KMV (k-minimum-values / theta) sketch state: the K smallest
    * DISTINCT non-negative hash values seen, sorted ascending. Constant
    * size, fully mergeable — the partial-aggregation property every
    * 100 TB sketch needs. */
  case class KmvBuf(vs: Array[Long])

  // K = 64 ⇒ ~12.5% standard error — small enough to pin at ±25%, small
  // enough that the ESTIMATING path (not just the <K exact degenerate)
  // actually exercises on the sf0.01 fixture's ~150 distinct users.
  private[graft] val KmvK = 64

  /** KMV sketch aggregator. Unlike HLL, a KMV sketch keeps an actual
    * uniform SAMPLE of the hashed key space below its theta, which is
    * what makes direct INTERSECTION estimation possible (HLL can only
    * do unions + inclusion–exclusion, whose error explodes for small
    * overlaps). reduce is a binary search + bounded copy (O(K) worst
    * case); merge is one sorted-merge of two ≤K arrays. */
  object KmvAgg extends Aggregator[Long, KmvBuf, KmvBuf] {
    def zero: KmvBuf = KmvBuf(Array.emptyLongArray)
    def reduce(b: KmvBuf, x: Long): KmvBuf = {
      val a = b.vs
      val i = java.util.Arrays.binarySearch(a, x)
      if (i >= 0) b // already present
      else {
        val ins = -i - 1
        if (a.length < KmvK) {
          val n = new Array[Long](a.length + 1)
          System.arraycopy(a, 0, n, 0, ins)
          n(ins) = x
          System.arraycopy(a, ins, n, ins + 1, a.length - ins)
          KmvBuf(n)
        } else if (x < a(a.length - 1)) {
          val n = new Array[Long](KmvK)
          System.arraycopy(a, 0, n, 0, ins)
          n(ins) = x
          System.arraycopy(a, ins, n, ins + 1, KmvK - ins - 1)
          KmvBuf(n)
        } else b
      }
    }
    def merge(a: KmvBuf, b: KmvBuf): KmvBuf = {
      if (a.vs.isEmpty) b
      else if (b.vs.isEmpty) a
      else {
        // each side is internally distinct, so cross-dedup is exactly
        // the equal-heads branch of a plain sorted merge
        val out = new Array[Long](math.min(KmvK, a.vs.length + b.vs.length))
        var i = 0; var j = 0; var k = 0
        while (k < out.length && (i < a.vs.length || j < b.vs.length)) {
          val v =
            if (j >= b.vs.length) { i += 1; a.vs(i - 1) }
            else if (i >= a.vs.length) { j += 1; b.vs(j - 1) }
            else if (a.vs(i) < b.vs(j)) { i += 1; a.vs(i - 1) }
            else if (b.vs(j) < a.vs(i)) { j += 1; b.vs(j - 1) }
            else { i += 1; j += 1; a.vs(i - 1) }
          out(k) = v; k += 1
        }
        KmvBuf(if (k == out.length) out else java.util.Arrays.copyOf(out, k))
      }
    }
    def finish(r: KmvBuf): KmvBuf = r
    def bufferEncoder: Encoder[KmvBuf] = Encoders.product[KmvBuf]
    def outputEncoder: Encoder[KmvBuf] = Encoders.product[KmvBuf]
  }

  /** Query key `agg_kmv_intersect`: DIRECT audience-intersection
    * estimate from KMV/theta sketches — the set operation the HLL
    * family structurally cannot answer well. One scan builds a K=64
    * sketch of distinct click users and purchase users (hashes =
    * xxhash64 >>> 1, i.e. uniform on [0, 2^63)); the combine is pure
    * in-plan array algebra on the TWO sketch rows: theta = min of the
    * per-side K-th minima, the intersection sample = common hashes
    * below theta, estimate = |sample|·2⁶³/theta. Sides with fewer than
    * K distinct members degrade to EXACT (theta = 2⁶³). Per-side
    * estimates use the classic (K−1)·2⁶³/theta_k.
    *
    * Scale: the shuffle carries two ≤2 KB buffers; the pairwise algebra
    * never touches the data again — T types answer T² intersection
    * questions from T sketches. Oracle-exempt (sketch); Round11dSpec
    * pins both per-side estimates and the intersection against exact
    * distinct counts, plus exact-mode equality on a small fixture. */
  /** 2^63 as double — the hash-space size the KMV theta fraction is
    * measured against. */
  private[graft] val KmvM = 9.223372036854775807e18

  /** Distinct-count estimate from a KMV value array: exact when the
    * sketch holds the whole set (< K values), else (K−1)·2⁶³/θ_K.
    * Shared by the batch intersect op and the streaming readout. */
  private[graft] def kmvEstCol(c: org.apache.spark.sql.Column)
      : org.apache.spark.sql.Column =
    when(size(c) < KmvK, size(c).cast("double"))
      .otherwise(floor(lit((KmvK - 1).toDouble) * lit(KmvM) /
        element_at(c, KmvK).cast("double") + 0.5))

  def aggKmvIntersect(s: SparkSession, d: String): DataFrame = {
    val kmv = udaf(KmvAgg)
    val M = KmvM
    val sk = Tables.events(s, d)
      .where(col("event_type").isin("click", "purchase"))
      .groupBy(col("event_type"))
      .agg(kmv(expr("shiftrightunsigned(xxhash64(user_id), 1)")).as("sk"))
      .select(col("event_type"), col("sk.vs").as("vs"))
    val one = sk.agg(
      min_by(col("vs"), col("event_type")).as("va"), // 'click'
      max_by(col("vs"), col("event_type")).as("vb")) // 'purchase'
    def theta(c: org.apache.spark.sql.Column) =
      when(size(c) < KmvK, lit(M))
        .otherwise(element_at(c, KmvK).cast("double"))
    one.select(
        lit(KmvK).as("k"),
        size(col("va")).as("n_a"), size(col("vb")).as("n_b"),
        kmvEstCol(col("va")).as("est_click"),
        kmvEstCol(col("vb")).as("est_purchase"),
        least(theta(col("va")), theta(col("vb"))).as("th"),
        array_intersect(col("va"), col("vb")).as("both"))
      .select(col("k"), col("n_a"), col("n_b"),
        col("est_click"), col("est_purchase"),
        size(filter(col("both"), x => x.cast("double") < col("th")))
          .as("n_common_sample"),
        floor(size(filter(col("both"), x => x.cast("double") < col("th")))
          .cast("double") * lit(M) / col("th") + 0.5).cast("double")
          .as("est_intersect"))
  }

  /** Per-user Welford mean + sample variance over event values. The
    * oracle pairs it with avg/var_samp — mathematically identical;
    * floating summation order differs, absorbed by 4 dp rounding. */
  def aggCustomTyped(s: SparkSession, d: String): DataFrame = {
    val welford = udaf(WelfordAgg)
    Tables.events(s, d)
      .groupBy(col("user_id"))
      .agg(welford(col("value")).as("w"))
      .select(
        col("user_id"),
        col("w.n").as("n"),
        round(col("w.mean"), 4).as("mean_value"),
        round(when(col("w.n") > 1, col("w.m2") / (col("w.n") - 1))
          .otherwise(lit(null)), 4).as("var_value"))
      .orderBy(col("user_id"))
  }
}
