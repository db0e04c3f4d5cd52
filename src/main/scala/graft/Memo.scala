package graft

/** In-process memo for DIMENSION/metadata-sized derived results, keyed by
  * (kernel name, corpus-file fingerprint) — the BPE merge-table precedent
  * (ops/LlmPipeline.scala's two-layer tokenizer cache) generalized. This
  * is layer 1 only — no cross-process staging, because unlike a
  * tokenizer's merges file none of these results is a production
  * artifact that ships on its own.
  *
  * Contract (the TRAIN-always-trains rule, ADVICE round-10): the op that
  * OWNS a kernel's benchmarked cost always computes fresh and refreshes
  * the memo; only DERIVED consumers (the condensation over the scc
  * labeling, the composed pipeline reports) read it. A kernel function
  * shared by both sides states which one it is with
  * `owned(kernel, fp, producer)`; code that is only ever one side calls
  * `refresh` or `getOrCompute` directly. Stored values must be
  * session-free plain JVM data and at most dimension-sized — the same
  * fits-in-memory adjudication as the broadcast-join tier (data-sized
  * values come through [[Gated.collect]]).
  *
  * Fingerprints hash the table's file listing (relative path, size,
  * mtime), so a same-path overwrite (mode overwrite in tests, the
  * ScaleStress replicas) invalidates instead of silently serving results
  * derived from the old data; a fingerprinting failure on a local path
  * disables the memo entirely, because a path-only key cannot see a
  * same-path overwrite (ADVICE rounds 9–10). */
object Memo {
  import scala.jdk.CollectionConverters._

  // Values are CompletableFutures so the compute itself runs OUTSIDE the
  // ConcurrentHashMap bin lock (ADVICE round-15): computeIfAbsent only
  // installs the (cheap) future, then the installer completes it after
  // the map call returns. A nested getOrCompute from inside a compute —
  // sccLabelRows' consumer path re-entering for "scc_edges" — is then an
  // ordinary map lookup, never a CHM "Recursive update", and concurrent
  // callers on a shared bin never block behind a running Spark job.
  private val cache = new java.util.concurrent.ConcurrentHashMap[
    String, java.util.concurrent.CompletableFuture[AnyRef]]()

  // Kernels SERVED from cache since the last drain — the bench reads this
  // per timed run to mark memo-served keys in BENCH_FULL.json, so a
  // ~100× "speedup" on a consumer key is self-describing in the artifact
  // (ADVICE round-14) instead of needing VERDICT prose.
  private val served =
    java.util.concurrent.ConcurrentHashMap.newKeySet[String]()

  /** Kernel names served from cache since the last call; clears the set. */
  private[graft] def drainServed(): Set[String] = {
    val s = served.asScala.toSet
    served.clear()
    s
  }

  /** Corpus identity for `dir/table`: SHA-256 over the sorted (relative
    * path, size, mtime) listing for local paths; a shared-store URI
    * (hdfs://, s3a://) falls back to the raw path string — path-keyed
    * with no mtime invalidation, the documented trade-off (those stores
    * version by path convention anyway). */
  def fingerprint(dir: String, table: String): Option[String] = {
    def hash(lines: Seq[String]): String = {
      val md = java.security.MessageDigest.getInstance("SHA-256")
      md.update((dir + "/" + table + "\n" + lines.mkString("\n"))
        .getBytes("UTF-8"))
      md.digest().take(12).map(b => f"$b%02x").mkString
    }
    val scheme =
      try new java.net.URI(dir).getScheme
      catch { case _: Exception => null }
    if (scheme != null && scheme != "file" && scheme.length > 1)
      return Some(hash(Seq(s"path:$dir"))) // remote store: path-versioned
    try {
      val root = java.nio.file.Paths.get(
        if (scheme == "file") new java.net.URI(dir).getPath else dir, table)
      val lines =
        if (!java.nio.file.Files.exists(root)) Seq(s"absent:$dir")
        else {
          val st = java.nio.file.Files.walk(root)
          try st.iterator().asScala
            .filter(java.nio.file.Files.isRegularFile(_))
            .map(p => s"${root.relativize(p)}|${java.nio.file.Files.size(p)}|" +
              java.nio.file.Files.getLastModifiedTime(p).toMillis)
            .toSeq.sorted
          finally st.close()
        }
      Some(hash(lines))
    } catch { case _: Exception => None } // local walk failed: never cache
  }

  /** Consumer side: the cached value when the fingerprint is fresh, else
    * compute (and store, so sibling consumers share one computation).
    * Exactly ONE caller per (kernel, fingerprint) installs a future and
    * runs the compute — outside the map's bin lock; everyone else awaits
    * that future. A failed compute removes its future so a later call
    * retries instead of caching the exception forever. */
  def getOrCompute[T <: AnyRef](kernel: String, fp: Option[String])(
      compute: => T): T =
    fp match {
      case Some(f) =>
        val key = kernel + ":" + f
        var mine: java.util.concurrent.CompletableFuture[AnyRef] = null
        val fut = cache.computeIfAbsent(key, _ => {
          mine = new java.util.concurrent.CompletableFuture[AnyRef]()
          mine
        })
        if (mine ne null) {
          try mine.complete(compute)
          catch {
            case e: Throwable =>
              cache.remove(key, mine); mine.completeExceptionally(e); throw e
          }
          mine.join().asInstanceOf[T]
        } else {
          served.add(kernel)
          try fut.join().asInstanceOf[T]
          catch { // unwrap the installer's failure for a clean rethrow
            case e: java.util.concurrent.CompletionException
                if e.getCause != null => throw e.getCause
          }
        }
      case None => compute
    }

  /** Producer side: ALWAYS computes — the op owns this cost and must
    * never serve a benchmark from its own cache — then refreshes. */
  def refresh[T <: AnyRef](kernel: String, fp: Option[String])(
      compute: => T): T = {
    val v = compute
    fp.foreach(f => cache.put(kernel + ":" + f,
      java.util.concurrent.CompletableFuture.completedFuture(v: AnyRef)))
    v
  }

  /** The memo side of the op that calls it: the producer (the op that
    * owns the kernel's cost) always computes and refreshes, every other
    * caller reads through [[getOrCompute]]. */
  def owned[T <: AnyRef](kernel: String, fp: Option[String], producer: Boolean)(
      compute: => T): T =
    if (producer) refresh(kernel, fp)(compute)
    else getOrCompute(kernel, fp)(compute)

  /** Test hook: the stored value, without marking it served. */
  private[graft] def stored(kernel: String, fp: Option[String]): Option[AnyRef] =
    fp.flatMap(f => Option(cache.get(kernel + ":" + f)))
      .filter(_.isDone).map(_.join())

  /** Test hook: drop everything (state isolation between specs). */
  private[graft] def clear(): Unit = cache.clear()
}
