package graft

import org.scalatest.funsuite.AnyFunSuite

/** Source lint: `.collect()` in the operator library is a DRIVER
  * funnel, and so is every call of `Gated.collect` (the gated
  * broadcast-tier collect) — legitimate only for broadcast-kernel tiers (which declare a
  * beyond-broadcast twin), bounded index METADATA (√n centroid tables,
  * int8 grids), or row-count-independent summaries. Round 9 moved the
  * ANN index builds executor-side; this pin keeps the property: a new
  * operator that sneaks a data-sized collect fails CI until it is
  * declared here WITH its scale justification. */
class CollectLintSpec extends AnyFunSuite {

  /** (file basename, enclosing def) → why the driver round-trip is
    * scale-safe. Keep justifications honest: every entry must be either
    * O(small) by construction or a declared broadcast tier. */
  private val whitelist: Map[(String, String), String] = Map(
    ("Custom.scala", "audienceOverlapHll") ->
      "|event_types| register sketches (KB each), pairwise union algebra",
    ("Analytics.scala", "adaptiveK") ->
      "one-row aggregate (wedge count) sizing the DOULION rate",
    ("LlmPipeline.scala", "ivfCentroids") ->
      "sqrt(n)-row index metadata: seeds + Lloyd-step means, built on executors",
    ("LlmPipeline.scala", "probeKnnIvfIndex") ->
      ("restart reload of the SAME sqrt(n)-row centroid metadata " +
        "ivfCentroids built; the cell assignment (ids only, one row per " +
        "vector) is read behind limit(gate + 1), at most 4097 id pairs, " +
        "and only after ivfDriverVecs has found at most " +
        "IvfDriverRows (4096) vectors, past which it stays a parquet join"),
    ("LlmPipeline.scala", "minhashDriverDocs") ->
      ("minhash driver tier: first about gate + 1 byte lengths behind " +
        "a limit (MinhashDriverDocs = 8192 ints), then the texts only when there " +
        "are at most gate documents holding at most MinhashDriverBytes " +
        "(32 MB) in all, both behind a limit; past either bound the " +
        "band buckets and the verification run on executors"),
    ("LlmPipeline.scala", "ivfDriverVecs") ->
      ("IVF driver tier: at most gate + 1 vectors (IvfDriverRows = 4096, " +
        "~1 MB of 64-d floats; the n^1.5 probe sets the bound), a " +
        "limit, not a per-partition take; past it the index builds and " +
        "probes on executors"),
    ("LlmPipeline.scala", "knnQuantized") ->
      "4x-smaller int8 grid quantized on executors; fp32 rescore is a join",
    ("LlmPipeline.scala", "knnBinaryHamming") ->
      "32x-smaller 1-bit sign matrix encoded on executors; fp32 rescore is a join",
    ("LlmPipeline.scala", "trainUnigramFresh") ->
      ("vocabulary-bounded tokenizer metadata: <= 200-piece seed table, " +
        "alphabet rows, and one <= |V| usage/NLL readout per EM round"),
    ("LlmPipeline.scala", "embeddingMatryoshkaEval") ->
      "DECLARED broadcast-matrix tier (knnCosine's); knn_sharded is the scale twin",
    ("LlmPipeline.scala", "knnPq") ->
      ("the 32x-smaller PQ code matrix, built on executors (codebook " +
        "training lives in pqCodebook); fp32 rescore is a join"),
    ("LlmPipeline.scala", "pqCodebook") ->
      ("k seed rows + the m*k*subLen grid-snapped Lloyd sums — codebook " +
        "METADATA shared by knnPq and knnIvfPq, trained on executors"),
    ("LlmPipeline.scala", "knnCosine") ->
      "DECLARED broadcast-matrix tier; knn_sharded is the beyond-broadcast twin",
    ("LlmPipeline.scala", "simPairsBuild") ->
      "DECLARED broadcast-matrix tier; LSH pair path is the scale twin",
    ("LlmPipeline.scala", "simPairArr") ->
      ("the thresholded cosine pair set memoized for the sim-graph " +
        "consumers (pagerank/dbscan/cluster_cc) behind the Gated gate; " +
        "sim_threshold is the producer and always rebuilds"),
    ("LlmPipeline.scala", "dedupEmbeddingCosine") ->
      "broadcast-matrix verdict kernel; dedup_embedding_lsh is the scale twin",
    ("LlmPipeline.scala", "dedupEmbeddingLsh") ->
      "broadcast tier of the LSH verdict; cell shuffle carries ids only",
    ("LlmPipeline.scala", "knnLshBucketed") ->
      "DECLARED broadcast tier; knn_lsh_joined is the no-broadcast twin",
    ("LlmPipeline.scala", "embeddingPcaProject") ->
      "mergeable moment partials: P*2145 doubles, row-count-independent",
    ("LlmPipeline.scala", "searchHybridRrf") ->
      "fixed-size query panel (ids < 2500), not corpus-sized",
    ("LlmPipeline.scala", "kmeansCentroids") ->
      ("k-row (k=8) grid-summed centroid table per Lloyd round — " +
        "row-count-independent metadata"),
    ("Govern.scala", "newtonReadout") ->
      ("P·(d(d+1)/2 + d + 3) snapped-integer long accumulators per IRLS " +
        "round (d = 6) — dimension-bounded, row-count-independent " +
        "metadata; the dense twin of hessianScoreReadout"),
    ("Govern.scala", "hessianScoreReadout") ->
      ("P·(d² + d) snapped-integer long accumulators per Newton round " +
        "(d = 65; P·d with the Hessian loop off for the L-BFGS tier) — " +
        "dimension-bounded, row-count-independent metadata"),
    ("Govern.scala", "gradReadout") ->
      ("the L-BFGS one-time diagonal preconditioner: P·d longs — " +
        "dimension-bounded, row-count-independent metadata; no pair " +
        "frame exists"),
    ("Govern.scala", "lossAccReadout") ->
      "two longs per partition (final loss/accuracy fold)",
    ("Quant.scala", "pipelineSmoothingReport") ->
      ("5-row (method, count, error-sum) aggregate — the report table " +
        "is method-count metadata; the per-user folds stay distributed"),
    ("LlmPipeline.scala", "hnswSearchAll") ->
      ("DECLARED broadcast tier (the knnCosine reference matrix) + the " +
        "M0*n link-id adjacency — index METADATA, the ivfCentroids " +
        "adjudication; knn_sharded is the beyond-broadcast twin"),
    ("Analytics.scala", "sccLabelArr") ->
      ("the (part, scc_id) label array — part-CATALOG (dimension) sized, " +
        "the Boruvka union-find adjudication; memoized so condensation " +
        "stops double-running the SCC fixpoint"),
    ("Analytics.scala", "sccEdgeArr") ->
      ("the thresholded directed wedge-pair edge set shared by the same " +
        "producer/consumer pair — the same dimension-sized class as the " +
        "label array (4.2k rows at sf0.1) behind the Gated gate; " +
        "graph_scc always rebuilds and refreshes, only the condensation " +
        "reads"),
    ("Analytics.scala", "recommendAls") ->
      ("the overlapped candidate-input job's ONE-ROW count readout " +
        "(pre-planned on the main thread, awaited in the finally) — " +
        "row-count metadata, never data"),
    ("Analytics.scala", "bfsFlatArr") ->
      ("the flattened 16-seed BFS (seed, v, dist) rows (K·|V| bounded, " +
        "~56k at sf0.1) memoized for the three distance-only centrality " +
        "readouts behind the Gated gate; graph_betweenness_approx is the " +
        "producer and always rebuilds"),
    ("Analytics.scala", "coPairArr") ->
      ("the canonical thresholded co-order pair-count kernel (3.6k rows " +
        "at sf0.1), memoized for the whole graph family behind the " +
        "Gated gate; assoc_pairs is the producer and always rebuilds"),
    ("Analytics.scala", "sccFrom") ->
      ("the hybrid tail's remainder core — collected ONLY behind the " +
        "size gate (<= 16384 nodes and <= 1M edges, both counted first), " +
        "after the first full distributed round; the Boruvka driver " +
        "union-find adjudication applied to the SCC finisher"),
    ("Analytics.scala", "pipelineGraphReport") ->
      ("one-row aggregates + the two top-50 Adamic-Adar pair sets — " +
        "the report table is metric-count metadata; the kernels stay " +
        "distributed"),
    ("Analytics.scala", "boruvkaForest") ->
      ("part-CATALOG union-find (dimension-sized, the knn_cosine " +
        "broadcast adjudication): node ids once, then per-round best " +
        "cut edges — <= live components, halving, <= 2(n-1) rows total " +
        "(forest-sized); the edge-scoring work stays distributed"),
    ("Components.scala", "of") ->
      ("the connected-components driver tier: the (id, id) pair list " +
        "behind the Gated gate (1M pairs, 16 MB), labelled by a " +
        "union-find holding one Long per node; past the gate the " +
        "min-label loop runs on executors"),
    ("Gated.scala", "collect") ->
      ("the broadcast-tier gate itself: one job, at most Rows + 1 rows " +
        "reach the driver (per-partition caps meet in one task behind a " +
        "shuffle), None past Rows; each caller is declared above"))

  test("collect() appears only in declared broadcast-tier / metadata functions") {
    val defRe = """\s*(?:override\s+)?(?:private(?:\[\w+\])?\s+)?def (\w+)""".r
    val files = {
      def walk(dir: java.io.File): Seq[java.io.File] =
        Option(dir.listFiles).toSeq.flatten.flatMap { f =>
          if (f.isDirectory) walk(f)
          else if (f.getName.endsWith(".scala")) Seq(f) else Nil
        }
      walk(new java.io.File("src/main/scala/graft"))
    }
    assert(files.nonEmpty, "source tree not found — lint is vacuous")
    val offenders = files.flatMap { f =>
      val lines = scala.io.Source.fromFile(f, "UTF-8").getLines().toVector
      lines.zipWithIndex.collect {
        case (line, i)
            if line.contains(".collect()") || line.contains("Gated.collect(") =>
          val enclosing = (i to 0 by -1).iterator
            .map(j => defRe.findPrefixMatchOf(lines(j)))
            .collectFirst { case Some(m) => m.group(1) }
            .getOrElse("<top-level>")
          (f.getName, enclosing, i + 1)
      }
    }
    val undeclared = offenders.filterNot { case (file, fn, _) =>
      whitelist.contains((file, fn))
    }
    assert(undeclared.isEmpty,
      "collect() or Gated.collect outside the declared broadcast/metadata whitelist — " +
        "either remove the driver funnel or declare it WITH a scale " +
        s"justification:\n  ${undeclared.mkString("\n  ")}")
    // and the whitelist must not rot: every entry still has a live site
    val live = offenders.map { case (file, fn, _) => (file, fn) }.toSet
    val stale = whitelist.keySet.diff(live)
    assert(stale.isEmpty, s"whitelist entries with no remaining collect(): $stale")
  }
}
