package graft.ops

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.Det.round
import graft.functions.{DotProduct, HilbertCode, MortonCode}
import graft.io.Tables

/** Scalar-function families (SURVEY.md §2.8): one query per family, each a
  * single SELECT exercising the whole family so the oracle hash pins every
  * function at once. All built-in `org.apache.spark.sql.functions` — fully
  * codegen'd Catalyst expressions, no UDFs, so each query stays inside one
  * WholeStageCodegen span over the scan.
  */
object Functions {

  /** String family on part names. */
  def fnString(s: SparkSession, d: String): DataFrame =
    Tables.part(s, d)
      .select(
        col("p_partkey"),
        lower(col("p_name")).as("lo"),
        upper(col("p_brand")).as("up"),
        trim(concat(lit("  "), col("p_type"), lit("  "))).as("trimmed"),
        substring(col("p_name"), 1, 5).as("sub5"),
        concat_ws("|", col("p_brand"), col("p_type")).as("joined"),
        length(col("p_name")).as("len"),
        element_at(split(col("p_type"), " "), 1).as("first_word"),
        regexp_extract(col("p_brand"), "([0-9]+)", 1).as("brand_num"),
        regexp_replace(col("p_name"), "[aeiou]", "_").as("devoweled"),
        lpad(col("p_partkey").cast("string"), 8, "0").as("padded"),
        levenshtein(col("p_brand"), col("p_type")).as("lev"),
        initcap(lower(col("p_name"))).as("title"))
      .orderBy(col("p_partkey"))

  /** Date/time family on orders + lineitem dates (UTC pinned). */
  def fnDate(s: SparkSession, d: String): DataFrame =
    Tables.orders(s, d)
      .select(
        col("o_orderkey"),
        year(col("o_orderdate")).as("y"),
        month(col("o_orderdate")).as("m"),
        dayofmonth(col("o_orderdate")).as("dom"),
        dayofweek(col("o_orderdate")).as("dow"),
        date_trunc("month", col("o_orderdate")).as("month_start"),
        datediff(lit("2002-01-01").cast("date"), col("o_orderdate").cast("date")).as("days_to_2002"),
        // DATE-typed outputs are normalized to TIMESTAMP: parquet date32 vs
        // DuckDB DATE compare unreliably across readers; midnight
        // timestamps carry identical information.
        date_add(col("o_orderdate").cast("date"), 30).cast("timestamp").as("plus30"),
        unix_timestamp(col("o_orderdate")).as("epoch"),
        to_date(col("o_orderdate")).cast("timestamp").as("as_date"),
        quarter(col("o_orderdate")).as("q"),
        last_day(col("o_orderdate")).cast("timestamp").as("eom"))
      .orderBy(col("o_orderkey"))

  /** Math family on lineitem numerics. */
  def fnMath(s: SparkSession, d: String): DataFrame =
    Tables.lineitem(s, d)
      .select(
        col("l_orderkey"), col("l_linenumber"),
        round(col("l_extendedprice"), 1).as("r1"),
        abs(col("l_quantity") - lit(25.0)).as("absdev"),
        ceil(col("l_discount") * 100).as("disc_pct_ceil"),
        floor(col("l_tax") * 100).as("tax_pct_floor"),
        round(pow(col("l_quantity"), 2), 2).as("qty_sq"),
        round(sqrt(col("l_extendedprice")), 4).as("sqrt_price"),
        round(exp(col("l_discount")), 4).as("exp_disc"),
        round(log(col("l_extendedprice")), 4).as("ln_price"),
        round(log10(col("l_extendedprice")), 4).as("log10_price"),
        signum(col("l_quantity") - lit(25.0)).as("sign_dev"),
        round(greatest(col("l_quantity"), col("l_discount") * 100), 2).as("gr"),
        round(least(col("l_quantity"), col("l_tax") * 100), 2).as("le"),
        pmod(col("l_orderkey"), lit(7)).as("pm"))
      .orderBy(col("l_orderkey"), col("l_linenumber"))

  /** Conditional family: CASE ladders, coalesce, nullif, nvl. */
  def fnCond(s: SparkSession, d: String): DataFrame =
    Tables.orders(s, d)
      .select(
        col("o_orderkey"),
        when(col("o_totalprice") > 150000.0, "big")
          .when(col("o_totalprice") > 50000.0, "mid")
          .otherwise("small").as("bucket"),
        coalesce(nullif(col("o_orderstatus"), lit("P")), lit("PENDING")).as("status_or_pending"),
        when(col("o_orderpriority").startsWith("1"), 1)
          .when(col("o_orderpriority").startsWith("2"), 2)
          .otherwise(9).as("prio_class"),
        nvl(nullif(col("o_orderstatus"), lit("O")), lit("-")).as("nvl_demo"))
      .orderBy(col("o_orderkey"))

  /** Array family incl. higher-order functions on embedding + split text.
    * HOFs (transform/filter/aggregate/zip_with) are Catalyst lambda
    * expressions — no UDF, evaluated per-row without serialization. */
  def fnArray(s: SparkSession, d: String): DataFrame =
    Tables.embeddings(s, d)
      .select(
        col("vec_id"),
        size(col("embedding")).as("dims"),
        round(element_at(col("embedding"), 1).cast("double"), 4).as("first"),
        round(
          aggregate(col("embedding"), lit(0.0),
            (acc, x) => acc + x.cast("double") * x.cast("double")),
          4).as("norm_sq"),
        round(
          aggregate(transform(col("embedding"), x => abs(x.cast("double"))),
            lit(0.0), (acc, x) => acc + x),
          4).as("l1"),
        size(filter(col("embedding"), x => x > 0f)).as("n_pos"),
        round(
          aggregate(
            zip_with(col("embedding"), reverse(col("embedding")),
              (a, b) => a.cast("double") * b.cast("double")),
            lit(0.0), (acc, x) => acc + x),
          4).as("dot_rev"),
        // sort_array output unpacked into scalar columns: raw array columns
        // crash the driver's pandas row-sort comparator, and the 4-slice is
        // fixed-width so positional columns carry identical information.
        round(element_at(sort_array(slice(col("embedding"), 1, 4)), 1).cast("double"), 4).as("s4_1"),
        round(element_at(sort_array(slice(col("embedding"), 1, 4)), 2).cast("double"), 4).as("s4_2"),
        round(element_at(sort_array(slice(col("embedding"), 1, 4)), 3).cast("double"), 4).as("s4_3"),
        round(element_at(sort_array(slice(col("embedding"), 1, 4)), 4).cast("double"), 4).as("s4_4"))
      .orderBy(col("vec_id"))

  /** Map/JSON family over events.props (always `{"k": <int>}`, FIXTURES.md). */
  def fnMapJson(s: SparkSession, d: String): DataFrame =
    Tables.events(s, d)
      .select(
        col("event_id"),
        from_json(col("props"), org.apache.spark.sql.types.StructType.fromDDL("k INT"))
          .getField("k").as("k_struct"),
        get_json_object(col("props"), "$.k").cast("int").as("k_path"),
        // map_keys/map_values joined to strings: scalar-typed oracle output
        // (raw arrays crash the driver comparator), same map semantics.
        concat_ws(",",
          map_keys(map(lit("k"), get_json_object(col("props"), "$.k").cast("int"))))
          .as("mkeys"),
        concat_ws(",",
          map_values(map(lit("k"), get_json_object(col("props"), "$.k").cast("int")))
            .cast("array<string>"))
          .as("mvals"),
        element_at(map(lit("k"), get_json_object(col("props"), "$.k").cast("int")), "k")
          .as("k_map"))
      .orderBy(col("event_id"))

  /** Hash family on document text (dedup keys for §2.10) — the
    * oracle-matched half: sha256/md5 are algorithm-identical in DuckDB. */
  def fnHash(s: SparkSession, d: String): DataFrame =
    Tables.documents(s, d)
      .select(
        col("doc_id"),
        sha2(col("text"), 256).as("sha256"),
        md5(col("text")).as("md5"))
      .orderBy(col("doc_id"))

  /** Seeded/engine-specific hashes (xxhash64, crc32): DuckDB has no
    * equivalent, so this entry is oracle-exempt; ScalaTest pins literal
    * golden values instead (SURVEY.md §2.8 fn_hash note). */
  def fnHashSeeded(s: SparkSession, d: String): DataFrame =
    Tables.documents(s, d)
      .select(
        col("doc_id"),
        xxhash64(col("text")).as("xx64"),
        crc32(col("text")).as("crc"))
      .orderBy(col("doc_id"))

  /** Bitwise family: AND/OR/XOR, shifts, popcount — the key-packing tool
    * kit (LSH bucket ids, salts, bloom-ish probes all pack bits). */
  def fnBitwise(s: SparkSession, d: String): DataFrame =
    Tables.events(s, d)
      .select(
        col("event_id"),
        col("event_id").bitwiseAND(lit(255L)).as("band"),
        col("event_id").bitwiseOR(lit(4096L)).as("bor"),
        col("event_id").bitwiseXOR(col("user_id")).as("bxor"),
        shiftleft(col("event_id"), 3).as("shl"),
        shiftright(col("event_id"), 2).as("shr"),
        bit_count(col("event_id")).as("popcount"))
      .orderBy(col("event_id"))

  /** Scala UDF surface (§2.11): effective price. Registered + used; kept
    * deliberately tiny — everything else in the engine is codegen'd
    * built-ins, a UDF is the escape hatch, not the default. */
  def udfScalar(s: SparkSession, d: String): DataFrame = {
    val eff = udf((price: Double, disc: Double) => price * (1.0 - disc))
    s.udf.register("effective_price", eff)
    Tables.lineitem(s, d)
      .select(col("l_orderkey"), col("l_linenumber"),
        round(eff(col("l_extendedprice"), col("l_discount")), 2).as("eff_price"))
      .orderBy(col("l_orderkey"), col("l_linenumber"))
  }

  /** Native-Expression surface: the same vector math as fn_array's
    * norm_sq/dot_rev but through [[graft.functions.DotProduct]] — a
    * codegen'd Catalyst expression (SQL name graft_dot), demonstrating the
    * custom-operator rung above UDFs. Oracle-gated: identical fold order
    * to DuckDB list_sum. */
  def fnVectorNative(s: SparkSession, d: String): DataFrame = {
    Tables.embeddings(s, d)
      .select(
        col("vec_id"),
        round(DotProduct.col(col("embedding"), col("embedding")), 4)
          .as("norm_sq"),
        round(DotProduct.col(col("embedding"), reverse(col("embedding"))), 4)
          .as("dot_rev"))
      .orderBy(col("vec_id"))
  }

  /** Z-order (Morton) layout key through the native codegen'd
    * [[graft.functions.MortonCode]] expression: sorting a table by the
    * interleaved (orderkey, partkey) bits makes every output file cover a
    * small RECTANGLE in both dimensions, so min/max file skipping prunes
    * on either column — the multi-column data-layout operator behind
    * lakehouse Z-ORDER BY. Keys are bounded to 16 bits here so the DuckDB
    * oracle's bit arithmetic stays in signed-64 range; the expression
    * itself interleaves 32+32. */
  def layoutZorder(s: SparkSession, d: String): DataFrame = {
    Tables.lineitem(s, d)
      .select(col("l_orderkey"), col("l_linenumber"), col("l_partkey"),
        MortonCode.col(
          pmod(col("l_orderkey"), lit(65536L)),
          pmod(col("l_partkey"), lit(65536L))).as("zkey"))
      .orderBy(col("zkey"), col("l_orderkey"), col("l_linenumber"))
  }

  /** Hilbert-curve layout key over the same (orderkey, partkey) pair as
    * [[layoutZorder]] — the locality-superior clustering sort: Hilbert
    * never takes Z-order's quadrant-boundary diagonal jumps, so
    * per-file min/max bounding boxes are tighter and range predicates
    * skip more files (see graft.functions.HilbertCode for the 100 TB
    * rationale). Same codegen'd-expression rung as graft_morton; the
    * DuckDB twin replays the identical 16-step quadrant fold as a
    * recursive CTE, so the whole curve is oracle-gated. */
  def layoutHilbert(s: SparkSession, d: String): DataFrame = {
    Tables.lineitem(s, d)
      .select(col("l_orderkey"), col("l_linenumber"), col("l_partkey"),
        HilbertCode.col(
          pmod(col("l_orderkey"), lit(65536L)),
          pmod(col("l_partkey"), lit(65536L))).as("hkey"))
      .orderBy(col("hkey"), col("l_orderkey"), col("l_linenumber"))
  }

  /** Query key `layout_pruning_stats`: MEASURES what the layout_* family
    * only claims — how tightly each clustering key boxes the data per
    * output file, i.e. how much min/max file skipping each layout buys.
    * The same (orderkey, partkey) projection is cut into 16 "files"
    * (equal-width ranges of the clustering key) three ways — linear
    * (single-column sort by orderkey, what everyone does first), Z-order
    * (graft_morton), Hilbert (graft_hilbert) — and for each layout and
    * each dimension the
    * per-file extent (max−min) is summed EXACTLY as integers, then
    * normalized once by files × observed global range: avg_extent is
    * the expected fraction of files a point predicate on that dimension
    * cannot skip. Linear gives ~1/16 on orderkey but ~1.0 on partkey
    * (a partkey predicate scans everything); the space-filling curves
    * trade a little orderkey tightness for ~4× smaller partkey boxes —
    * and Hilbert ≤ Z-order because it never takes the quadrant-boundary
    * diagonal jump. That asymmetry IS the 100 TB pruning argument, here
    * as a measured table instead of doc prose.
    *
    * In production the 16 key-range cells are the parquet files of a
    * range-partitioned sorted write; arithmetic cell ids stand in for
    * input_file_name() so the measurement needs no filesystem
    * round-trip and is bit-deterministic. Oracle-exempt (cell
    * assignment is layout-, not SQL-, semantics); Round11dSpec pins the
    * ordering claims (hilbert_pk < 0.6·linear_pk, linear_ok minimal,
    * every extent in (0,1]) and determinism. */
  def layoutPruningStats(s: SparkSession, d: String): DataFrame = {
    val raw = Tables.lineitem(s, d).select(
      pmod(col("l_orderkey"), lit(65536L)).as("ok"),
      pmod(col("l_partkey"), lit(65536L)).as("pk"))
    val g = raw.agg(
      min(col("ok")).as("g_ok_lo"), max(col("ok")).as("g_ok_hi"),
      min(col("pk")).as("g_pk_lo"), max(col("pk")).as("g_pk_hi"))
    // affine-scale each dimension to the full 16-bit curve range first:
    // the fixture's partkey domain is ~30× narrower than orderkey's, and
    // interleaving raw bits would hand the curve an anisotropic space in
    // which every box is pk-wide regardless of layout — exactly the
    // normalization a production Z-ORDER/CLUSTER BY implementation does
    val base = raw.crossJoin(broadcast(g)).select(
      col("ok"), col("pk"),
      ((col("ok") - col("g_ok_lo")) * lit(65535L) /
        (col("g_ok_hi") - col("g_ok_lo"))).cast("long").as("oks"),
      ((col("pk") - col("g_pk_lo")) * lit(65535L) /
        (col("g_pk_hi") - col("g_pk_lo"))).cast("long").as("pks"))
    // 16 EQUAL-WIDTH key-range cells stand in for the files of a
    // range-partitioned sorted write. (Not repartitionByRange: its
    // boundary sampling seeds on the RDD id, so two runs in one JVM cut
    // different boundaries — arithmetic cells are deterministic, need no
    // shuffle beyond the tiny groupBy, and measure the same geometry.)
    def boxes(layout: String, fileId: Column): DataFrame =
      base.withColumn("f", fileId)
        .groupBy(col("f"))
        .agg(min(col("ok")).as("ok_lo"), max(col("ok")).as("ok_hi"),
          min(col("pk")).as("pk_lo"), max(col("pk")).as("pk_hi"))
        .agg(count(lit(1)).as("n_files"),
          sum(col("ok_hi") - col("ok_lo")).as("ok_ext"),
          sum(col("pk_hi") - col("pk_lo")).as("pk_ext"))
        .crossJoin(broadcast(g))
        .select(lit(layout).as("layout"), col("n_files"),
          (floor(col("ok_ext").cast("double") /
            ((col("g_ok_hi") - col("g_ok_lo")) * col("n_files"))
              .cast("double") * 1e6 + 0.5) / 1e6).as("avg_extent_ok"),
          (floor(col("pk_ext").cast("double") /
            ((col("g_pk_hi") - col("g_pk_lo")) * col("n_files"))
              .cast("double") * 1e6 + 0.5) / 1e6).as("avg_extent_pk"))
    // linear: 16 slices of the (scaled) orderkey; curves: 16 slices of
    // the 32-bit curve position — both via exact integer division
    def curveFile(curve: Column): Column =
      call_function("div", curve, lit(268435456))
    boxes("1_linear", expr("oks * 16 div 65536"))
      .unionAll(boxes("2_zorder",
        curveFile(MortonCode.col(col("oks"), col("pks")))))
      .unionAll(boxes("3_hilbert",
        curveFile(HilbertCode.col(col("oks"), col("pks")))))
      .orderBy(col("layout"))
  }

  /** Generator/UDTF surface (§2.11): explode a computed array — one input
    * row → N rows (words of the doc text). */
  def udtfExplode(s: SparkSession, d: String): DataFrame =
    Tables.documents(s, d)
      .where(col("doc_id") < 50)
      .select(col("doc_id"), posexplode(split(col("text"), " ")))
      .toDF("doc_id", "pos", "word")
      .orderBy(col("doc_id"), col("pos"))
}
