package graft

import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import graft.io.Tables

/** Source/sink format coverage beyond parquet (SURVEY.md §2.1): the engine
  * reads whatever the lake serves — CSV and JSON with explicit schemas
  * (schema-on-read, never inference in production paths), ORC as the
  * columnar alternative. Each round-trips the events table and must
  * reproduce it exactly; ORC must also push filters like parquet does. */
class SourcesSpec extends SparkSpec {

  private lazy val events = Tables.events(spark, sf001)
    .select(col("event_id"), col("ts"), col("user_id"),
      col("event_type"), col("value"))

  private val schema = StructType(Seq(
    StructField("event_id", LongType),
    StructField("ts", TimestampType),
    StructField("user_id", LongType),
    StructField("event_type", StringType),
    StructField("value", DoubleType)))

  private def tmp(tag: String) = tempDir(s"graft-src-$tag")

  test("csv round-trip with explicit schema and timestamp format") {
    val dir = tmp("csv")
    events.write.mode("overwrite")
      .option("header", "true")
      .option("timestampFormat", "yyyy-MM-dd HH:mm:ss.SSSSSS")
      .csv(dir)
    val back = spark.read.schema(schema)
      .option("header", "true")
      .option("timestampFormat", "yyyy-MM-dd HH:mm:ss.SSSSSS")
      .csv(dir)
    assertSameRows(back.orderBy(col("event_id")),
      events.orderBy(col("event_id")), "csv-roundtrip")
  }

  test("json lines round-trip with explicit schema") {
    val dir = tmp("json")
    events.write.mode("overwrite")
      .option("timestampFormat", "yyyy-MM-dd'T'HH:mm:ss.SSSSSSXXX")
      .json(dir)
    val back = spark.read.schema(schema)
      .option("timestampFormat", "yyyy-MM-dd'T'HH:mm:ss.SSSSSSXXX")
      .json(dir)
    assertSameRows(back.orderBy(col("event_id")),
      events.orderBy(col("event_id")), "json-roundtrip")
  }

  test("orc round-trip and predicate pushdown") {
    val dir = tmp("orc")
    events.write.mode("overwrite").orc(dir)
    val back = spark.read.orc(dir)
    assertSameRows(back.orderBy(col("event_id")),
      events.orderBy(col("event_id")), "orc-roundtrip")
    val filtered = back.where(col("event_type") === "purchase")
      .select(col("event_id"), col("value"))
    val plan = filtered.queryExecution.executedPlan.toString
    assert(plan.contains("PushedFilters: [IsNotNull(event_type), EqualTo(event_type,purchase)"),
      s"ORC scan did not push the filter:\n$plan")
  }

  test("parquet schema evolution: mergeSchema unions old and new columns") {
    // a corpus written over months gains columns; the reader must serve
    // old files (missing column -> null) and new files through one schema
    val dir = tmp("evolve")
    events.select(col("event_id"), col("user_id"))
      .where(col("event_id") % 2 === 0)
      .write.parquet(s"$dir/v1")
    events.select(col("event_id"), col("user_id"), col("event_type"))
      .where(col("event_id") % 2 === 1)
      .write.parquet(s"$dir/v2")
    val merged = spark.read.option("mergeSchema", "true")
      .option("recursiveFileLookup", "true").parquet(dir)
    assert(merged.columns.sorted.toSeq == Seq("event_id", "event_type", "user_id"))
    assert(merged.count() == events.count())
    // old files surface null for the later column, new files carry it
    assert(merged.where(col("event_id") % 2 === 0)
      .where(col("event_type").isNotNull).count() == 0)
    assert(merged.where(col("event_id") % 2 === 1)
      .where(col("event_type").isNull).count() == 0)
  }

  test("partitioned csv source prunes partitions like parquet") {
    val dir = tmp("csvpart")
    events.withColumn("etype", col("event_type"))
      .write.mode("overwrite").partitionBy("etype")
      .option("header", "true").csv(dir)
    val one = spark.read
      .schema(schema.add(StructField("etype", StringType)))
      .option("header", "true").csv(dir)
      .where(col("etype") === "click")
    val plan = one.queryExecution.executedPlan.toString
    assert(plan.contains("PartitionFilters: [isnotnull(etype"),
      s"no partition pruning on csv source:\n$plan")
  }

  test("layout_compaction: 64 splinter files rewritten to 4, data byte-identical") {
    def parquetFiles(p: String) = {
      val f = new java.io.File(p)
      if (f.exists()) f.listFiles().count(_.getName.endsWith(".parquet")) else 0
    }
    // run the query key (it writes both stages as a side effect)
    val out = graft.io.Formats.layoutCompaction(spark, sf001)
    val rows = out.collect()
    assert(rows.length == 5, s"expected 5 event types, got ${rows.length}")
    // locate the scratch dirs the same way the operator does
    val tmp = sys.props("java.io.tmpdir")
    val frag = new java.io.File(tmp).listFiles()
      .filter(_.getName.contains("_compact_frag_")).maxBy(_.lastModified())
    val compacted = new java.io.File(tmp).listFiles()
      .filter(_.getName.contains("_compact_out_")).maxBy(_.lastModified())
    assert(parquetFiles(frag.getPath) == 64,
      s"fragmented stage should be 64 files, got ${parquetFiles(frag.getPath)}")
    assert(parquetFiles(compacted.getPath) == 4,
      s"compacted stage should be 4 files, got ${parquetFiles(compacted.getPath)}")
    // losslessness: compacted aggregate equals the direct aggregate
    val direct = Tables.events(spark, sf001)
      .groupBy(col("event_type"))
      .agg(count(lit(1)).as("n"), max(col("event_id")).as("max_id"))
      .collect().map(r => (r.getString(0), (r.getLong(1), r.getLong(2)))).toMap
    rows.foreach { r =>
      // (event_type, n, sum_value, min_id, max_id) — compare n and max_id
      assert(direct(r.getString(0)) == ((r.getLong(1), r.getLong(4))),
        s"compacted data diverged for ${r.getString(0)}")
    }
  }

  test("dynamic partition overwrite replaces ONLY the restated partition's files") {
    val ev = Tables.events(spark, sf001)
    val dir = tmp("dynpart-test")
    ev.write.mode("overwrite").partitionBy("event_type").parquet(dir)
    def files(part: String) = {
      val f = new java.io.File(s"$dir/event_type=$part")
      f.listFiles().filter(_.getName.endsWith(".parquet")).map(_.getName).toSet
    }
    val clickBefore = files("click")
    val purchaseBefore = files("purchase")
    ev.where(col("event_type") === "purchase")
      .withColumn("value", col("value") * 2)
      .write.mode("overwrite")
      .option("partitionOverwriteMode", "dynamic")
      .partitionBy("event_type").parquet(dir)
    // untouched partition keeps its exact files; restated partition doesn't
    assert(files("click") == clickBefore,
      "dynamic overwrite rewrote an untouched partition — static-mode truncation behavior")
    assert(files("purchase") != purchaseBefore,
      "restated partition was not replaced")
    // and the restated data is actually the corrected batch
    val doubled = spark.read.parquet(dir)
      .where(col("event_type") === "purchase")
      .agg(sum(col("value"))).head().getDouble(0)
    val original = ev.where(col("event_type") === "purchase")
      .agg(sum(col("value") * 2)).head().getDouble(0)
    assert(math.abs(doubled - original) < 1e-6, s"$doubled vs $original")
  }
}
