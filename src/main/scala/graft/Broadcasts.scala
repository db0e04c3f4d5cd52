package graft

import scala.collection.mutable

import org.apache.spark.broadcast.Broadcast

/** Registry of broadcasts built by the broadcast-kernel operators
  * (knn_cosine, sim_threshold, knn_ivf, knn_lsh_bucketed,
  * decontaminate_ngram, decontaminate_bloom).
  *
  * A long-lived session running many queries back-to-back (Bench, Verify)
  * must release one query's broadcast before timing the next: the r01
  * bench showed 5–20× per-query inflation from accumulated executor
  * memory/GC pressure landing on whichever queries ran late. Operators
  * register through [[track]]; the harness calls [[destroyAll]] between
  * queries. Destroying after the query's action has completed is safe —
  * a rebuilt plan re-broadcasts.
  */
object Broadcasts {
  // Weak references: in a JVM that never calls destroyAll (the ScalaTest
  // suite, the external verify driver) an unreferenced broadcast must stay
  // collectible so Spark's ContextCleaner can unpersist it — a strong
  // registry would pin every kernel's vector table for the JVM lifetime.
  private val live =
    mutable.ListBuffer.empty[java.lang.ref.WeakReference[Broadcast[_]]]

  def track[T](bc: Broadcast[T]): Broadcast[T] = synchronized {
    live += new java.lang.ref.WeakReference[Broadcast[_]](bc)
    bc
  }

  def destroyAll(): Unit = synchronized {
    live.foreach { ref =>
      val b = ref.get()
      if (b != null) try b.destroy() catch { case _: Exception => () }
    }
    live.clear()
  }
}

/** Registry of DataFrames persisted INSIDE an operator whose returned
  * plan is still lazy (the phash band index, the DSIR bigram stream):
  * the op itself has no post-consumption point at which to unpersist,
  * so the blocks would otherwise live for the session. The harnesses
  * (Bench, Verify) already sweep these via `spark.catalog.clearCache()`
  * between queries; [[unpersistAll]] is the equivalent single release
  * point for a library user embedding an op in a long-lived session —
  * call it (with [[Broadcasts.destroyAll]]) once the query's action has
  * completed. Weak references for the same reason as [[Broadcasts]]. */
object Caches {
  private val live = scala.collection.mutable.ListBuffer
    .empty[java.lang.ref.WeakReference[org.apache.spark.sql.Dataset[_]]]

  def track[T](ds: org.apache.spark.sql.Dataset[T]): org.apache.spark.sql.Dataset[T] =
    synchronized {
      live += new java.lang.ref.WeakReference[org.apache.spark.sql.Dataset[_]](ds)
      ds
    }

  def unpersistAll(): Unit = synchronized {
    live.foreach { ref =>
      val d = ref.get()
      if (d != null) try d.unpersist(blocking = false)
      catch { case _: Exception => () }
    }
    live.clear()
  }
}
