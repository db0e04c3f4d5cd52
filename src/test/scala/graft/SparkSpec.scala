package graft

import scala.collection.concurrent.TrieMap

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart,
  SparkListenerTaskEnd}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

/** Shared local SparkSession for all suites (one JVM; sessions are cheap
  * to reuse, expensive to churn). sf0.001 keeps unit suites fast. */
trait SparkSpec extends AnyFunSuite with BeforeAndAfterAll {

  val sf001 = "/root/testdata/sf0.001"
  val sf01 = "/root/testdata/sf0.01"

  lazy val spark: SparkSession = SparkSpec.session

  /** Row-for-row equality after sorting columns by name (the driver's
    * compare shape). */
  def assertSameRows(a: DataFrame, b: DataFrame, hint: String = ""): Unit = {
    val cols = a.columns.sorted
    assert(cols.toSeq == b.columns.sorted.toSeq, s"$hint column sets differ")
    val ra = a.select(cols.map(a(_)): _*).collect().map(_.toSeq)
    val rb = b.select(cols.map(b(_)): _*).collect().map(_.toSeq)
    assert(ra.length == rb.length, s"$hint row counts: ${ra.length} vs ${rb.length}")
    ra.zip(rb).zipWithIndex.foreach { case ((x, y), i) =>
      assert(x == y, s"$hint row $i differs: $x vs $y")
    }
  }

  private val group = "graft-spec-jobs-during"

  private def inGroup(e: SparkListenerJobStart): Boolean =
    Option(e.properties).exists(_.getProperty("spark.jobGroup.id") == group)

  /** Runs `body` in this spec's job group with `listener` added, and
    * drains the listener bus before removing it. */
  private def listening(listener: SparkListener)(body: => Unit): Unit = {
    val sc = spark.sparkContext
    sc.addSparkListener(listener)
    sc.setJobGroup(group, "jobsDuring")
    try {
      body
      Session.drainListenerBus(sc)
    } finally {
      sc.clearJobGroup()
      sc.removeSparkListener(listener)
    }
  }

  /** Spark jobs started from this thread while `body` runs. */
  def jobsDuring(body: => Unit): Int = {
    val n = new java.util.concurrent.atomic.AtomicInteger(0)
    listening(new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        if (inGroup(e)) n.incrementAndGet()
    })(body)
    n.get
  }

  /** Per job started from this thread while `body` runs, in start order:
    * the serialized bytes its result tasks sent to the driver. */
  def resultBytesByJob(body: => Unit): Seq[Long] = {
    val jobOfStage = TrieMap.empty[Int, Int]
    val bytes = TrieMap.empty[Int, Long]
    listening(new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        if (inGroup(e)) {
          bytes(e.jobId) = 0L
          e.stageIds.foreach(jobOfStage(_) = e.jobId)
        }
      override def onTaskEnd(e: SparkListenerTaskEnd): Unit =
        if (e.taskType == "ResultTask")
          for (j <- jobOfStage.get(e.stageId); m <- Option(e.taskMetrics))
            bytes(j) += m.resultSize
    })(body)
    bytes.toSeq.sortBy(_._1).map(_._2)
  }

  override def afterAll(): Unit = {
    // keep the shared session alive, but assert no overlapped-job pool
    // thread outlived its call (r16 driver-test abort: an orphaned index
    // write raced a session teardown) — Pools.runAll awaits termination,
    // so anything still alive here is a leak.
    val live = Pools.liveWorkerNames()
    assert(live.isEmpty, s"graft pool threads outlived their call: $live")
  }
}

object SparkSpec {
  lazy val session: SparkSession = {
    val s = Session.local(4).appName("graft-test").getOrCreate()
    s.sparkContext.setLogLevel("ERROR")
    s
  }
}
