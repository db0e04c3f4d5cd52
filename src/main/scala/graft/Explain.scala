package graft
import java.nio.file.{Files, Paths}

/** Plan/measurement dump for the optimization rounds: for each named
  * query writes `<outDir>/<key>_<tag>.txt` containing the formatted
  * physical plan (post-execution, so AQE-final shapes are visible)
  * plus a one-line execution profile — wall seconds (noop-style full
  * materialization via count), driver job count, stage count, task
  * count — so a plan claim in OPTIMIZATION_r*.md is checkable against
  * a committed artifact.
  *
  * Usage: runMain graft.Explain <sfDir> <outDir> <tag> <key>[,key...]
  */
object Explain {
  def main(args: Array[String]): Unit = {
    val Array(sfDir, outDir, tag, keysCsv) = args.take(4)
    val keys = keysCsv.split(",").map(_.trim).filter(_.nonEmpty)
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    val spark = Session.local(cpus.toInt).getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    Files.createDirectories(Paths.get(outDir))
    @volatile var jobs = 0
    @volatile var stages = 0
    @volatile var tasks = 0
    val listener = new org.apache.spark.scheduler.SparkListener {
      override def onJobStart(
          j: org.apache.spark.scheduler.SparkListenerJobStart): Unit =
        jobs += 1
      override def onStageCompleted(
          s: org.apache.spark.scheduler.SparkListenerStageCompleted): Unit = {
        stages += 1
        tasks += s.stageInfo.numTasks
        if (sys.env.contains("GRAFT_STAGE_PROF")) {
          val m = s.stageInfo.taskMetrics
          println(f"[stage] id=${s.stageInfo.stageId}%-5d tasks=${s.stageInfo.numTasks}%-4d runMs=${m.executorRunTime}%-7d cpuMs=${m.executorCpuTime / 1000000}%-7d shRead=${m.shuffleReadMetrics.totalBytesRead}%-10d shWrite=${m.shuffleWriteMetrics.bytesWritten}%-10d ${s.stageInfo.name.take(80)}")
        }
      }
    }
    spark.sparkContext.addSparkListener(listener)
    keys.foreach { name =>
      SparkEntry.queries.get(name) match {
        case None => System.err.println(s"[explain] unknown key: $name")
        case Some(fn) =>
          spark.sparkContext.setJobDescription(s"explain:$name")
          // warm run: JIT + one-time shuffle/codegen init lands here
          fn(spark, sfDir).count()
          Broadcasts.destroyAll(); Caches.unpersistAll()
          spark.catalog.clearCache()
          // drain before resetting, or the warm run's tail events bleed
          // into the timed run's job/stage counts (ADVICE r16)
          Session.drainListenerBus(spark.sparkContext)
          jobs = 0; stages = 0; tasks = 0
          // time plan construction + execution together: several loop
          // operators run driver actions while BUILDING the frame (the
          // bench's once() has the same boundary)
          val t0 = System.nanoTime()
          val df = fn(spark, sfDir)
          df.count()
          val sec = (System.nanoTime() - t0) / 1e9
          Session.drainListenerBus(spark.sparkContext)
          // post-execution explain shows AQE final plans where present
          val plan = df.queryExecution.explainString(
            org.apache.spark.sql.execution.ExplainMode.fromString("formatted"))
          val prof = f"== Profile ==%nwall_sec=$sec%.3f jobs=$jobs stages=$stages tasks=$tasks sf=$sfDir cpus=$cpus%n%n"
          Files.writeString(Paths.get(s"$outDir/${name}_$tag.txt"),
            prof + plan)
          println(f"[explain] $name%-34s $sec%7.3f s  jobs=$jobs%-4d stages=$stages%-4d tasks=$tasks")
          Broadcasts.destroyAll(); Caches.unpersistAll()
          spark.catalog.clearCache()
      }
    }
    spark.stop()
  }
}
