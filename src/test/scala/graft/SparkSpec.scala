package graft

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
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

  /** Spark jobs started from this thread while `body` runs. */
  def jobsDuring(body: => Unit): Int = {
    val group = "graft-spec-jobs-during"
    val n = new java.util.concurrent.atomic.AtomicInteger(0)
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        if (Option(e.properties)
            .exists(_.getProperty("spark.jobGroup.id") == group))
          n.incrementAndGet()
    }
    val sc = spark.sparkContext
    sc.addSparkListener(listener)
    sc.setJobGroup(group, "jobsDuring")
    try {
      body
      // the listener bus is async; private[spark] is public in bytecode
      val bus = sc.getClass.getMethod("listenerBus").invoke(sc)
      bus.getClass.getMethods
        .find(m => m.getName == "waitUntilEmpty" && m.getParameterCount == 0)
        .get.invoke(bus)
      n.get
    } finally {
      sc.clearJobGroup()
      sc.removeSparkListener(listener)
    }
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
