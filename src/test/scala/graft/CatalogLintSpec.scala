package graft

import org.scalatest.funsuite.AnyFunSuite

/** Source lint: what a session can resolve by name, and which strategies
  * and rules it plans with, is decided in one file,
  * `graft/functions/Catalog.scala`. Operators build the native
  * expressions as Columns; a registry write, an extension hook or a
  * by-name graft_* call anywhere else in the main sources fails here. */
class CatalogLintSpec extends AnyFunSuite {

  private val catalogFile = "Catalog.scala"

  private val tokens = Seq(
    "createOrReplaceTempFunction", "registerFunction", "injectFunction",
    "extraStrategies", "extraOptimizations",
    "call_function(\"graft_", "expr(\"graft_")

  test("registry writes, extension hooks and by-name graft_* calls live only in the catalog") {
    val files = {
      def walk(dir: java.io.File): Seq[java.io.File] =
        Option(dir.listFiles).toSeq.flatten.flatMap { f =>
          if (f.isDirectory) walk(f)
          else if (f.getName.endsWith(".scala")) Seq(f) else Nil
        }
      walk(new java.io.File("src/main/scala"))
    }
    val hits = files.flatMap { f =>
      val lines = scala.io.Source.fromFile(f, "UTF-8").getLines().toVector
      lines.zipWithIndex.flatMap { case (line, i) =>
        tokens.filter(line.contains).map(t => (f.getName, i + 1, t))
      }
    }
    // not vacuous: the catalog itself holds the hooks
    val inCatalog = hits.filter(_._1 == catalogFile).map(_._3).toSet
    assert(Set("registerFunction", "injectFunction", "extraStrategies",
      "extraOptimizations").subsetOf(inCatalog),
      s"source tree or catalog not found — lint is vacuous: $inCatalog")
    val outside = hits.filterNot(_._1 == catalogFile)
    assert(outside.isEmpty,
      "function registration or by-name graft_* calls outside " +
        s"graft/functions/$catalogFile:\n  ${outside.mkString("\n  ")}")
  }
}
