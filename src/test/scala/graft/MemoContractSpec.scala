package graft

import org.apache.spark.sql.DataFrame

/** The `graft.Memo` producer/consumer contract for every memoized kernel
  * pair, at sf0.01: a cold consumer builds the value and memoizes it; the
  * producer runs jobs and replaces the stored value even when the memo is
  * warm (its benchmarked cost is never served from its own cache); the
  * consumer right after is served, builds without a job, and gives the
  * cold consumer's rows. */
class MemoContractSpec extends SparkSpec {

  private case class MemoPair(
      producer: String, consumer: String, kernels: Seq[String], table: String)

  private val pairs = Seq(
    MemoPair("sim_threshold", "dedup_cluster_cc", Seq("sim_pairs"),
      "embeddings.parquet"),
    MemoPair("assoc_pairs", "graph_edge_jaccard", Seq("co_edges_w"),
      "lineitem.parquet"),
    MemoPair("graph_scc", "graph_condensation", Seq("scc_edges", "scc_labels"),
      "lineitem.parquet"),
    MemoPair("graph_betweenness_approx", "graph_closeness_approx",
      Seq("bfs_flat_16"), "lineitem.parquet"),
    MemoPair("corpus_unigram_train", "corpus_unigram_tokenize",
      Seq("unigram_pieces"), "documents.parquet"))

  /** A stored value's content: arrays (at any depth) as sorted Seqs, so
    * two collects of the same rows compare equal in any order. */
  private def content(v: Any): Any = v match {
    case a: Array[_] => a.toSeq.map(content).sortBy(_.toString)
    case p: Product  => p.productIterator.map(content).toSeq
    case x           => x
  }

  test("memo producers always recompute, consumers are served") {
    val q = SparkEntry.queries
    pairs.foreach { p =>
      val row = s"${p.producer} -> ${p.consumer}:"
      val fp = Memo.fingerprint(sf01, p.table)
      def stored(): Seq[AnyRef] = p.kernels.map(k =>
        Memo.stored(k, fp).getOrElse(fail(s"$row $k is not memoized")))
      Memo.clear()
      Memo.drainServed()

      var cold: DataFrame = null
      assert(jobsDuring { cold = q(p.consumer)(spark, sf01) } > 0,
        s"$row a cold consumer must build the value")
      val before = stored()
      Memo.drainServed()

      assert(jobsDuring(q(p.producer)(spark, sf01)) > 0,
        s"$row the producer must recompute with a warm memo")
      assert(Memo.drainServed().intersect(p.kernels.toSet).isEmpty, row)
      stored().zip(before).zip(p.kernels).foreach { case ((now, was), k) =>
        assert(now ne was, s"$row the producer did not refresh $k")
        assert(content(now) == content(was), s"$row $k changed content")
      }

      var warm: DataFrame = null
      assert(jobsDuring { warm = q(p.consumer)(spark, sf01) } == 0,
        s"$row a served consumer must run no job while it builds")
      assert(p.kernels.toSet.subsetOf(Memo.drainServed()),
        s"$row the consumer after the producer was not served")
      assertSameRows(warm, cold, s"$row served vs cold:")
    }
  }
}
