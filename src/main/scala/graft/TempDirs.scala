package graft

import java.nio.file.{Files, Path}

import org.apache.spark.sql.DataFrame

/** Temporary directories the engine writes: the index-restart keys'
  * (`knn_index_restart`, `dedup_index_restart`, `pipeline_curate_restart`),
  * which write an index and answer from the reloaded files on every call,
  * and the multimodal keys' staged PNG corpus.
  *
  * [[withDir]] is the lifetime rule for a per-call directory: one that the
  * returned frame no longer reads (its rows are local) is deleted before
  * the call returns; one that the frame still reads lazily is deleted
  * recursively at JVM shutdown ([[deleteAtExit]]), since a later action on
  * the frame may scan it. */
object TempDirs {

  private val atExit = java.util.concurrent.ConcurrentHashMap.newKeySet[Path]()

  private lazy val hook: Unit = {
    sys.addShutdownHook(atExit.forEach(p => delete(p)))
    ()
  }

  /** Runs `body` on a fresh directory named after `prefix` and applies
    * the lifetime rule to it; on an exception the directory is deleted
    * at once. */
  def withDir(prefix: String)(body: String => DataFrame): DataFrame = {
    val dir = Files.createTempDirectory(prefix)
    var out: DataFrame = null
    try {
      out = body(dir.toString)
      out
    } finally {
      if (out != null && out.inputFiles.exists(f =>
          new org.apache.hadoop.fs.Path(f).toUri.getPath
            .startsWith(dir.toString + "/"))) deleteAtExit(dir)
      else delete(dir)
    }
  }

  /** Deletes `dir` and everything under it when the JVM shuts down. */
  def deleteAtExit(dir: Path): Unit = {
    hook
    atExit.add(dir)
  }

  /** Whether `dir` waits for [[deleteAtExit]] — the test seam. */
  private[graft] def pendingAtExit(dir: Path): Boolean = atExit.contains(dir)

  /** Deletes `dir` and everything under it; a missing path is a no-op. */
  private def delete(dir: Path): Unit =
    if (Files.exists(dir)) {
      val paths = Files.walk(dir)
      try {
        paths.sorted(java.util.Comparator.reverseOrder[Path]())
          .forEach(p => Files.deleteIfExists(p))
      } finally paths.close()
    }
}
