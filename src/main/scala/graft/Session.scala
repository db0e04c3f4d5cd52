package graft

import org.apache.spark.sql.SparkSession

/** The local SparkSession recipe shared by the mains and the test suite;
  * callers add their own settings to the returned builder. */
object Session {
  def local(cpus: Int): SparkSession.Builder =
    SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus.toString)
      .config("spark.sql.session.timeZone", "UTC")
      // events.parquet has shipped as TIMESTAMP(NANOS); Spark 4 errors on
      // it unless read as raw long nanos (converted in Tables.events).
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.ui.enabled", "false")
      // static conf, must be set before the first session in this JVM:
      // the default 100-entry codegen class cache thrashes across the
      // surface's distinct query plans (~3-5 generated classes each), so
      // every run of a key pays Janino recompilation — sub-second keys
      // read ~50-100 ms high. 8192 entries hold the whole surface's
      // generated classes.
      .config("spark.sql.codegen.cache.maxEntries", "8192")
}
