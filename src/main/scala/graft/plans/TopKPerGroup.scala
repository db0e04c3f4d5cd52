package graft.plans

import org.apache.spark.rdd.RDD
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{
  Ascending, Attribute, AttributeReference, BindReferences, Descending,
  Expression, GenericInternalRow, JoinedRow, SortOrder, UnsafeProjection}
import org.apache.spark.sql.catalyst.plans.logical.{LogicalPlan, UnaryNode}
import org.apache.spark.sql.catalyst.plans.physical.{
  ClusteredDistribution, Distribution, Partitioning}
import org.apache.spark.sql.execution.{SparkPlan, SparkStrategy, UnaryExecNode}
import org.apache.spark.sql.types.IntegerType

/** Native top-k-per-group — the second whole-operator rung next to
  * [[AsOfJoin]], built for the one thing the window form cannot do:
  * reduce BEFORE the shuffle. `row_number().over(partitionBy(g)
  * .orderBy(o)) <= k` shuffles EVERY input row to its group's reducer and
  * sorts the full group just to throw away all but k rows. This operator
  * plans as partial → exchange → final, exactly like a hash aggregate:
  *
  *  - [[TopKPartialExec]] (map side, below the exchange): one bounded
  *    top-k buffer per group per input partition; emits ≤ k rows per
  *    (group, partition). The global top-k of a group is a subset of the
  *    union of its per-partition top-ks, so this discards rows, never
  *    answers. Memory ∝ groups-in-partition × k (the hash-aggregate
  *    shape; production adds spilling the same way HashAggregate does).
  *  - [[TopKFinalExec]] (reduce side): requires clustering on the group
  *    and (group asc, order desc, tie asc) ordering — a streaming
  *    group-boundary pass with O(1) state that assigns ranks 1..k.
  *
  * At 100 TB the shuffle carries k × groups × partitions rows instead of
  * every row — for top-3-per-user over billions of events, orders of
  * magnitude less network.
  *
  * Type contract (fixture-shaped, checked defensively): group and tie
  * evaluate to Long, order to Double; rank by (order DESC, tie ASC).
  * Null semantics MATCH the window row_number form this operator is
  * oracle-gated against: a null group is its own group (partitionBy
  * keeps null partitions), null order ranks last (Spark's Descending
  * default is NullsLast), null tie ranks first among equal orders
  * (Ascending default is NullsFirst). Nothing is dropped — a group with
  * fewer than k non-null-order rows still ranks its null-order rows,
  * exactly as the window form does.
  */
case class TopKPerGroup(
    group: Attribute,
    order: Attribute,
    tie: Attribute,
    k: Int,
    rnAttr: Attribute,
    child: LogicalPlan)
  extends UnaryNode {

  override def output: Seq[Attribute] = child.output :+ rnAttr

  // rn is generated by this operator, not consumed from the child —
  // without this CheckAnalysis reports it as a missing input attribute
  override def producedAttributes: org.apache.spark.sql.catalyst.expressions.AttributeSet =
    org.apache.spark.sql.catalyst.expressions.AttributeSet(rnAttr :: Nil)

  override protected def withNewChildInternal(newChild: LogicalPlan): TopKPerGroup =
    copy(child = newChild)
}

/** Shared bounded-buffer insertion: keep the k best by
  * (order DESC NULLS LAST, tie ASC NULLS FIRST) — the window form's
  * default null ordering for `.desc` / `.asc`. */
private[plans] object TopKBuffer {
  final class Buf(k: Int) {
    val ord = new Array[Double](k)
    val tie = new Array[Long](k)
    val ordNull = new Array[Boolean](k)
    val tieNull = new Array[Boolean](k)
    val row = new Array[InternalRow](k)
    var filled = 0

    /** Is buffered entry i strictly worse than the candidate? */
    private def worse(i: Int, o: Double, oN: Boolean, t: Long, tN: Boolean): Boolean =
      if (ordNull(i) != oN) ordNull(i) // null order ranks last
      else if (!oN && ord(i) != o) ord(i) < o // order DESC
      else if (tieNull(i) != tN) !tieNull(i) // null tie ranks first
      else if (!tN) tie(i) > t // tie ASC
      else false // fully tied (needs a non-unique tie; fixtures are unique)

    def offer(o: Double, oN: Boolean, t: Long, tN: Boolean, r: => InternalRow): Unit = {
      var pos = filled
      while (pos > 0 && worse(pos - 1, o, oN, t, tN)) pos -= 1
      if (pos < k) {
        var j = math.min(filled, k - 1)
        while (j > pos) {
          ord(j) = ord(j - 1); tie(j) = tie(j - 1)
          ordNull(j) = ordNull(j - 1); tieNull(j) = tieNull(j - 1)
          row(j) = row(j - 1)
          j -= 1
        }
        ord(pos) = o; tie(pos) = t; ordNull(pos) = oN; tieNull(pos) = tN; row(pos) = r
        if (filled < k) filled += 1
      }
    }
  }
}

case class TopKPartialExec(
    group: Attribute,
    order: Attribute,
    tie: Attribute,
    k: Int,
    child: SparkPlan)
  extends UnaryExecNode {

  override def output: Seq[Attribute] = child.output
  override def outputPartitioning: Partitioning = child.outputPartitioning

  override protected def doExecute(): RDD[InternalRow] = {
    val g = BindReferences.bindReference(group: Expression, child.output)
    val o = BindReferences.bindReference(order: Expression, child.output)
    val t = BindReferences.bindReference(tie: Expression, child.output)
    val kk = k
    child.execute().mapPartitions({ it =>
      // java.lang.Long key: a null group is a real group (HashMap allows
      // one null key), mirroring window partitionBy semantics
      val bufs = new java.util.HashMap[java.lang.Long, TopKBuffer.Buf]()
      it.foreach { r =>
        val gv = g.eval(r).asInstanceOf[java.lang.Long]
        val ov = o.eval(r); val tv = t.eval(r)
        var buf = bufs.get(gv)
        if (buf == null) {
          buf = new TopKBuffer.Buf(kk)
          bufs.put(gv, buf)
        }
        val oN = ov == null; val tN = tv == null
        // rows are reused by the scan — copy only when actually kept
        buf.offer(
          if (oN) 0.0 else ov.asInstanceOf[Double], oN,
          if (tN) 0L else tv.asInstanceOf[Long], tN, r.copy())
      }
      import scala.jdk.CollectionConverters._
      bufs.values().iterator().asScala.flatMap { b =>
        (0 until b.filled).iterator.map(b.row)
      }
    }, preservesPartitioning = true)
  }

  override protected def withNewChildInternal(newChild: SparkPlan): TopKPartialExec =
    copy(child = newChild)
}

case class TopKFinalExec(
    group: Attribute,
    order: Attribute,
    tie: Attribute,
    k: Int,
    rnAttr: Attribute,
    child: SparkPlan)
  extends UnaryExecNode {

  override def output: Seq[Attribute] = child.output :+ rnAttr

  override def producedAttributes: org.apache.spark.sql.catalyst.expressions.AttributeSet =
    org.apache.spark.sql.catalyst.expressions.AttributeSet(rnAttr :: Nil)

  override def requiredChildDistribution: Seq[Distribution] =
    ClusteredDistribution(Seq(group)) :: Nil

  override def requiredChildOrdering: Seq[Seq[SortOrder]] = Seq(Seq(
    SortOrder(group, Ascending),
    SortOrder(order, Descending),
    SortOrder(tie, Ascending)))

  override def outputPartitioning: Partitioning = child.outputPartitioning

  override protected def doExecute(): RDD[InternalRow] = {
    val g = BindReferences.bindReference(group: Expression, child.output)
    val outputAttrs = output
    val childAttrs = child.output
    val rn = rnAttr
    val kk = k
    child.execute().mapPartitions({ it =>
      val proj = UnsafeProjection.create(outputAttrs, childAttrs :+ rn)
      val joined = new JoinedRow
      val rnRow = new GenericInternalRow(1)
      // boxed so a null group is a rankable group of its own (the sort
      // clusters it: Ascending defaults to NullsFirst)
      var curGroup: java.lang.Long = null
      var haveGroup = false
      var rank = 0
      it.flatMap { r =>
        val gv = g.eval(r).asInstanceOf[java.lang.Long]
        if (!haveGroup || !java.util.Objects.equals(gv, curGroup)) {
          haveGroup = true; curGroup = gv; rank = 0
        }
        rank += 1
        if (rank <= kk) {
          rnRow.setInt(0, rank)
          Some(proj(joined(r, rnRow)))
        } else None
      }
    }, preservesPartitioning = true)
  }

  override protected def withNewChildInternal(newChild: SparkPlan): TopKFinalExec =
    copy(child = newChild)
}

object TopKStrategy extends SparkStrategy {
  override def apply(plan: LogicalPlan): Seq[SparkPlan] = plan match {
    case TopKPerGroup(g, o, t, k, rn, child) =>
      TopKFinalExec(g, o, t, k, rn,
        TopKPartialExec(g, o, t, k, planLater(child))) :: Nil
    case _ => Nil
  }
}

object TopKPerGroup {

  /** DataFrame-level API: keep the top `k` rows per `group`, ranked by
    * (`order` DESC, `tie` ASC), with the rank appended as column "rn". */
  def topK(df: DataFrame, group: String, order: String, tie: String, k: Int): DataFrame = {
    val spark = df.sparkSession
    graft.functions.Catalog.install(spark)
    val lp = df.queryExecution.analyzed
    def attr(n: String): Attribute =
      lp.output.find(_.name == n).getOrElse(
        throw new IllegalArgumentException(
          s"topK: no column '$n' in [${lp.output.map(_.name).mkString(", ")}]"))
    val (g, o, t) = (attr(group), attr(order), attr(tie))
    // the execs evaluate these as Long/Double/Long — fail here with a clear
    // message instead of an executor-side ClassCastException mid-job
    def expect(a: Attribute, dt: org.apache.spark.sql.types.DataType): Unit =
      require(a.dataType == dt,
        s"topK: column '${a.name}' must be $dt, found ${a.dataType}")
    expect(g, org.apache.spark.sql.types.LongType)
    expect(o, org.apache.spark.sql.types.DoubleType)
    expect(t, org.apache.spark.sql.types.LongType)
    require(k > 0, s"topK: k must be positive, got $k")
    val rnAttr = AttributeReference("rn", IntegerType, nullable = false)()
    val node = TopKPerGroup(g, o, t, k, rnAttr, lp)
    org.apache.spark.sql.GraftBridge.ofRows(spark, node)
  }
}
