package graft

import java.util.concurrent.{Executors, ThreadFactory, TimeUnit}
import java.util.concurrent.atomic.AtomicInteger

/** Bounded-overlap job submission (guide §2.6: independent Spark jobs
  * submitted from a small driver pool so the next job's tasks back-fill
  * executors freed by the current job's tail).
  *
  * Invariants every caller gets for free:
  *  - NO submitted work outlives the call: every task runs to completion
  *    (success or failure) before the method returns, and the pool is
  *    shut down AND awaited — an orphaned Spark job racing a session
  *    teardown aborts the whole JVM with "Task rejected from
  *    ThreadPoolExecutor[Terminated]" (the r16 driver-test failure).
  *  - The FIRST failure (by task order) rethrows after all siblings have
  *    finished, so error behaviour matches the sequential form.
  *  - Threads are named `<name>-N` and daemonized, so a test suite can
  *    assert at teardown that none are left alive.
  */
object Pools {
  /** Names its threads and keeps them: a terminated pool can still have
    * a worker thread finishing its exit, so [[runAll]] joins them. */
  private final class Factory(name: String) extends ThreadFactory {
    private val n = new AtomicInteger(0)
    val threads = new java.util.concurrent.ConcurrentLinkedQueue[Thread]()
    def newThread(r: Runnable): Thread = {
      val t = new Thread(r, s"$name-${n.incrementAndGet()}")
      t.setDaemon(true)
      threads.add(t)
      t
    }
  }

  /** True when any live thread's name starts with a graft pool prefix —
    * the teardown assertion hook for the test suites. */
  def liveWorkerNames(): Seq[String] = {
    val root = {
      var g = Thread.currentThread().getThreadGroup
      while (g.getParent != null) g = g.getParent
      g
    }
    val buf = new Array[Thread](root.activeCount() + 16)
    val n = root.enumerate(buf, true)
    buf.take(n).filter(t => t != null && t.isAlive)
      .map(_.getName).filter(_.startsWith("graft-")).toSeq
  }

  /** Run `tasks` with at most `width` in flight; return when EVERY task
    * has completed; rethrow the first (by task order) failure. */
  def runAll(name: String, width: Int, tasks: Seq[() => Unit]): Unit = {
    if (tasks.isEmpty) return
    if (tasks.size == 1) { tasks.head(); return }
    val factory = new Factory(name)
    val pool = Executors.newFixedThreadPool(
      math.min(width, tasks.size), factory)
    try {
      val futures = tasks.map(t => pool.submit(new Runnable {
        def run(): Unit = t()
      }))
      // get() every future — collecting, not short-circuiting — so the
      // method never returns (or throws) with a sibling still running
      var firstErr: Throwable = null
      futures.foreach { f =>
        try f.get()
        catch {
          case e: java.util.concurrent.ExecutionException =>
            if (firstErr == null) firstErr = e.getCause
          case e: Throwable => if (firstErr == null) firstErr = e
        }
      }
      if (firstErr != null) throw firstErr
    } finally {
      pool.shutdown()
      if (pool.awaitTermination(300, TimeUnit.SECONDS))
        factory.threads.forEach(_.join())
    }
  }

  /** A single overlapped background job (guide §2.6). The CALLER is
    * responsible for awaiting it before its enclosing operator returns —
    * [[awaitDone]] in cleanup paths (never throws, so it cannot mask a
    * primary failure), [[await]] on the success path (rethrows the job's
    * failure). */
  final class SpawnedJob private[Pools] (
      t: Thread,
      err: java.util.concurrent.atomic.AtomicReference[Throwable]) {
    def awaitDone(): Unit = t.join()
    def await(): Unit = {
      t.join()
      val e = err.get()
      if (e != null) throw e
    }
  }

  /** Run `body` on a named daemon thread so an independent Spark job
    * overlaps the caller's jobs (§2.6: tasks back-fill executors freed
    * by the concurrent job's tail). */
  def spawn(name: String)(body: => Unit): SpawnedJob = {
    val err = new java.util.concurrent.atomic.AtomicReference[Throwable]()
    val t = new Thread(
      () => try body catch { case e: Throwable => err.set(e) },
      s"$name-1")
    t.setDaemon(true)
    t.start()
    new SpawnedJob(t, err)
  }

  /** Two independent tasks with results of different types, run as one
    * overlapped [[runAll]] round. */
  def both[A, B](name: String)(a: () => A, b: () => B): (A, B) = {
    val Seq(x, y) = mapAll[Any](name, 2, Seq(a, b))
    (x.asInstanceOf[A], y.asInstanceOf[B])
  }

  /** [[runAll]] for tasks with results, preserving task order. */
  def mapAll[T](name: String, width: Int, tasks: Seq[() => T]): Seq[T] = {
    val out = new Array[Any](tasks.size)
    runAll(name, width,
      tasks.zipWithIndex.map { case (t, i) => () => out(i) = t() })
    out.toSeq.map(_.asInstanceOf[T])
  }
}
