package graft

import org.apache.spark.SparkContext
import org.apache.spark.sql.SparkSession

/** The local SparkSession recipe shared by the mains and the test suite
  * (callers add their own settings to the returned builder), and the
  * listener-bus drain their job counters read through. */
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

  /** Blocks until every event posted so far has reached the listeners.
    * The listener bus is async, so a job or stage counter read (or reset)
    * without this misses the tail of the work just run, or counts it in
    * the next. `listenerBus` is private[spark], which is public in
    * bytecode, so plain reflection reaches it. There is no fallback: a
    * counter read without the drain would undercount silently, so a
    * failed reflection throws. */
  private[graft] def drainListenerBus(sc: SparkContext): Unit = {
    val bus = sc.getClass.getMethod("listenerBus").invoke(sc)
    bus.getClass.getMethods
      .find(m => m.getName == "waitUntilEmpty" && m.getParameterCount == 0)
      .get.invoke(bus)
  }
}
