package graft.perfbench

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.streaming.{StreamingQueryListener, StreamingQueryProgress}
import org.apache.spark.sql.util.QueryExecutionListener

/** One recorded interval. Times are epoch milliseconds; `parent` is the
  * id of the span that caused it (-1 for a root). */
final case class Span(id: Int, parent: Int, op: Int, name: String,
    start: Double, end: Double, attrs: Map[String, Double])

/** Records spans and counts at the layer boundaries of the benchmark's
  * own calls, through Spark's public listener interfaces only: a
  * SparkListener (jobs, stages, tasks), a QueryExecutionListener (each
  * query's planning tracker) and a StreamingQueryListener (micro-batch
  * progress). Events are kept in memory; [[spans]] assembles the tree
  * once, after the traced window. */
final class Tracer(spark: SparkSession) {
  import Tracer._


  private val jobs = mutable.ArrayBuffer.empty[Job]
  private val stages = mutable.LinkedHashMap.empty[Int, StageAcc]
  private val qes = mutable.ArrayBuffer.empty[Qe]
  private val progress = mutable.ArrayBuffer.empty[StreamingQueryProgress]
  private val ops = mutable.ArrayBuffer.empty[Op]

  private def stage(id: Int): StageAcc = stages.getOrElseUpdate(id, new StageAcc(id))

  private val sparkListener = new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
      jobs += Job(e.jobId, e.time.toDouble, Double.NaN, e.stageIds)
    }
    override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
      jobs.find(_.id == e.jobId).foreach(_.end = e.time.toDouble)
    }
    override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit = synchronized {
      e.stageInfo.submissionTime.foreach(t => stage(e.stageInfo.stageId).submit = t.toDouble)
    }
    override def onStageCompleted(e: SparkListenerStageCompleted): Unit = synchronized {
      val s = stage(e.stageInfo.stageId)
      e.stageInfo.submissionTime.foreach(t => if (s.submit.isNaN) s.submit = t.toDouble)
      e.stageInfo.completionTime.foreach(t => s.done = t.toDouble)
    }
    override def onTaskStart(e: SparkListenerTaskStart): Unit = synchronized {
      val s = stage(e.stageId)
      s.firstLaunch = math.min(s.firstLaunch, e.taskInfo.launchTime.toDouble)
    }
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
      val s = stage(e.stageId)
      s.add("tasks", 1)
      val t = e.taskMetrics
      if (t != null) {
        s.add("run_ms", t.executorRunTime.toDouble)
        s.add("cpu_ms", t.executorCpuTime / 1e6)
        s.add("deser_ms", t.executorDeserializeTime.toDouble)
        s.add("gc_ms", t.jvmGCTime.toDouble)
        s.m("peak_mem_bytes") = math.max(s.m.getOrElse("peak_mem_bytes", 0.0),
          t.peakExecutionMemory.toDouble)
        s.add("result_bytes", t.resultSize.toDouble)
        s.add("scan_bytes", t.inputMetrics.bytesRead.toDouble)
        s.add("scan_rows", t.inputMetrics.recordsRead.toDouble)
        s.add("shuffle_write_bytes", t.shuffleWriteMetrics.bytesWritten.toDouble)
        s.add("shuffle_read_bytes", t.shuffleReadMetrics.totalBytesRead.toDouble)
        s.add("fetch_wait_ms", t.shuffleReadMetrics.fetchWaitTime.toDouble)
        s.add("spill_bytes", (t.memoryBytesSpilled + t.diskBytesSpilled).toDouble)
      }
    }
  }

  private val qeListener = new QueryExecutionListener {
    override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
      record(qe)
    override def onFailure(funcName: String, qe: QueryExecution, ex: Exception): Unit =
      record(qe)
    private def record(qe: QueryExecution): Unit = {
      phases(qe).foreach(p => Tracer.this.synchronized { qes += p })
    }
  }

  private def phases(qe: QueryExecution): Option[Qe] = {
    val p = qe.tracker.phases.map { case (k, v) =>
      k -> ((v.startTimeMs.toDouble, v.endTimeMs.toDouble))
    }
    if (p.nonEmpty) Some(Qe(p)) else None
  }

  private val streamListener = new StreamingQueryListener {
    override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
    override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit =
      Tracer.this.synchronized { progress += e.progress }
    override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
  }

  private val codegen = org.apache.spark.metrics.source.CodegenMetrics.METRIC_COMPILATION_TIME
  private var codegen0 = (0L, 0.0)
  private def codegenNow(): (Long, Double) = (codegen.getCount, codegen.getSnapshot.getMean)

  def install(): Unit = {
    drain()
    spark.sparkContext.addSparkListener(sparkListener)
    spark.listenerManager.register(qeListener)
    spark.streams.addListener(streamListener)
    codegen0 = codegenNow()
  }

  /** Waits for the async listener bus to deliver every posted event. */
  def drain(): Unit = {
    val bus = spark.sparkContext.getClass.getMethod("listenerBus").invoke(spark.sparkContext)
    bus.getClass.getMethods
      .find(m => m.getName == "waitUntilEmpty" && m.getParameterCount == 0)
      .foreach(_.invoke(bus))
  }

  /** Stops recording; returns (classes compiled, estimated compile ms) in
    * the window. The codegen histogram keeps a decaying sample, so the
    * time is the count times the sampled mean. */
  def uninstall(): (Long, Double) = {
    drain()
    spark.sparkContext.removeSparkListener(sparkListener)
    spark.listenerManager.unregister(qeListener)
    spark.streams.removeListener(streamListener)
    val (n1, mean) = codegenNow()
    (n1 - codegen0._1, (n1 - codegen0._1) * mean)
  }

  /** Marks one timed operation: started at t0, built `df` by tb (its
    * planning tracker holds the eager analysis done while building),
    * finished at t1 (epoch ms). */
  def op(name: String, df: org.apache.spark.sql.DataFrame,
      t0: Double, tb: Double, t1: Double): Unit = synchronized {
    ops += Op(ops.size, name, t0, tb, t1, phases(df.queryExecution))
  }

  /** The span tree: per operation `query` > (`build`, `analysis`,
    * `optimize`, `physical`, `execute`), jobs under the build or execute
    * span they started in, stages under their job. Micro-batches become
    * `batch` spans (with their durationMs phases as attributes) that own
    * the jobs started inside them. */
  def spans(): Seq[Span] = synchronized {
    val out = mutable.ArrayBuffer.empty[Span]
    def add(parent: Int, op: Int, name: String, s: Double, e: Double,
        attrs: Map[String, Double] = Map.empty): Int = {
      out += Span(out.size, parent, op, name, s, e, attrs); out.size - 1
    }
    val phaseName = Map("analysis" -> "analysis", "optimization" -> "optimize",
      "planning" -> "physical")
    def addJobs(parent: Int, op: Int, js: Seq[Job]): Unit = js.foreach { j =>
      val jid = add(parent, op, "job", j.start, j.end, Map("job_id" -> j.id.toDouble))
      j.stages.flatMap(stages.get).filterNot(_.submit.isNaN).foreach { s =>
        val attrs = s.m.toMap + ("stage_id" -> s.stageId.toDouble) +
          ("delay_ms" -> (if (s.firstLaunch.isInfinite) 0.0
                          else math.max(0.0, s.firstLaunch - s.submit)))
        add(jid, op, "stage", s.submit, if (s.done.isNaN) j.end else s.done, attrs)
      }
    }
    val doneJobs = jobs.filterNot(_.end.isNaN).toSeq
    ops.foreach { o =>
      val q = add(-1, o.id, "query", o.t0, o.t1, Map.empty)
      val b = add(q, o.id, "build", o.t0, o.tb)
      val inOp = qes.filter(x => x.phases.values.map(_._1).min >= o.t0 - 1 &&
        x.phases.values.map(_._2).max <= o.t1 + 1)
      val (inBuild, inAction) = inOp.partition(_.phases.values.map(_._2).max <= o.tb)
      (o.built.toSeq ++ inBuild).foreach(x => x.phases.foreach { case (k, (s, e)) =>
        add(b, o.id, phaseName.getOrElse(k, k), s, e) })
      val main = inAction.sortBy(_.phases.values.map(_._1).min).headOption
      main.foreach(x => x.phases.foreach { case (k, (s, e)) =>
        add(q, o.id, phaseName.getOrElse(k, k), s, e) })
      val execStart = main.map(_.phases.values.map(_._2).max).getOrElse(o.tb)
        .max(o.tb).min(o.t1)
      val ex = add(q, o.id, "execute", execStart, o.t1)
      val mine = doneJobs.filter(j => j.start >= o.t0 - 1 && j.start <= o.t1)
      addJobs(b, o.id, mine.filter(_.start < o.tb))
      addJobs(ex, o.id, mine.filter(j => j.start >= execStart))
      addJobs(q, o.id, mine.filter(j => j.start >= o.tb && j.start < execStart))
    }
    progress.filter(_.durationMs.containsKey("triggerExecution"))
      .zipWithIndex.foreach { case (p, i) =>
      val s = java.time.Instant.parse(p.timestamp).toEpochMilli.toDouble
      val e = s + p.durationMs.get("triggerExecution").doubleValue
      val op = ops.size + i
      val st = p.stateOperators.toSeq
      val attrs = p.durationMs.asScala.map { case (k, v) => s"ms.$k" -> v.doubleValue }.toMap ++
        Map("batch_id" -> p.batchId.toDouble, "input_rows" -> p.numInputRows.toDouble,
          "state_rows" -> st.map(_.numRowsTotal.toDouble).sum,
          "state_mem_bytes" -> st.map(_.memoryUsedBytes.toDouble).sum,
          "state_commit_ms" -> st.map(_.commitTimeMs.toDouble).sum,
          "late_dropped_rows" -> st.map(_.numRowsDroppedByWatermark.toDouble).sum)
      val bid = add(-1, op, "batch", s, e, attrs)
      addJobs(bid, op, doneJobs.filter(j => j.start >= s && j.start <= e))
    }
    out.toSeq
  }
}

object Tracer {
  private final class StageAcc(val stageId: Int) {
    var submit = Double.NaN
    var done = Double.NaN
    var firstLaunch = Double.PositiveInfinity
    val m = mutable.LinkedHashMap.empty[String, Double]
    def add(k: String, v: Double): Unit = m(k) = m.getOrElse(k, 0.0) + v
  }
  private final case class Job(id: Int, start: Double, var end: Double, stages: Seq[Int])
  private final case class Qe(phases: Map[String, (Double, Double)])
  private final case class Op(id: Int, name: String, t0: Double, tb: Double, t1: Double,
      built: Option[Qe])

  def json(s: Span): String = {
    val attrs = s.attrs.toSeq.sortBy(_._1)
      .map { case (k, v) => s""""$k":${Json.num(v)}""" }.mkString(",")
    s"""{"id":${s.id},"parent":${s.parent},"op":${s.op},"name":"${s.name}",""" +
      s""""start":${Json.num(s.start)},"end":${Json.num(s.end)},"attrs":{$attrs}}"""
  }
}
