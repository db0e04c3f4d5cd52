package graft.plans

import org.apache.spark.rdd.RDD
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{
  Ascending, Attribute, BindReferences, Expression, JoinedRow, SortOrder,
  UnsafeProjection}
import org.apache.spark.sql.catalyst.plans.logical.{BinaryNode, LogicalPlan}
import org.apache.spark.sql.catalyst.plans.physical.{
  ClusteredDistribution, Distribution, Partitioning}
import org.apache.spark.sql.execution.{BinaryExecNode, SparkPlan, SparkStrategy}

/** Native as-of join — the (c) rung of the custom-operator ladder
  * (SURVEY.md §7.4 revisited): a whole-operator `LogicalPlan` +
  * `Strategy` + `SparkPlan`, because Spark 4.1 has no as-of join and the
  * composed form (equi-join + time filter + row_number = 1) MATERIALIZES
  * every (left row × earlier right row) candidate before the window
  * discards all but one — per-key fan-out that grows with history depth.
  *
  * This operator instead requires both children clustered on the `by` key
  * and sorted by (by, on, tie); each partition then runs a single O(n+m)
  * forward merge holding exactly ONE buffered right row. At 100 TB:
  * one shuffle per side, zero candidate blow-up, state = one row.
  *
  * Semantics (matching the declared `join_asof` query): INNER as-of —
  * for each left row, the single right row of the same `by` key with the
  * greatest (on, tie) such that right.on <= left.on; lefts without a
  * match are dropped. `by`/`on`/`tie` must be non-null integral/temporal
  * (evaluated as Long); the fixture schema guarantees this and nulls are
  * skipped defensively.
  */
case class AsOfJoin(
    left: LogicalPlan,
    right: LogicalPlan,
    leftBy: Expression,
    rightBy: Expression,
    leftOn: Expression,
    rightOn: Expression,
    leftTie: Expression,
    rightTie: Expression)
  extends BinaryNode {

  override def output: Seq[Attribute] = left.output ++ right.output

  override protected def withNewChildrenInternal(
      newLeft: LogicalPlan, newRight: LogicalPlan): AsOfJoin =
    copy(left = newLeft, right = newRight)
}

case class AsOfJoinExec(
    leftBy: Expression,
    rightBy: Expression,
    leftOn: Expression,
    rightOn: Expression,
    leftTie: Expression,
    rightTie: Expression,
    left: SparkPlan,
    right: SparkPlan)
  extends BinaryExecNode {

  override def output: Seq[Attribute] = left.output ++ right.output

  /** Same contract as ShuffledJoin: cluster each child on its `by` key;
    * EnsureRequirements makes the two hash partitionings compatible, so
    * partition i of the left sees exactly the keys of partition i of the
    * right. */
  override def requiredChildDistribution: Seq[Distribution] =
    ClusteredDistribution(Seq(leftBy)) :: ClusteredDistribution(Seq(rightBy)) :: Nil

  /** (by, on, tie) ascending on both sides — the merge's only precondition.
    * The last right row advanced past is therefore the max-(on, tie) match. */
  override def requiredChildOrdering: Seq[Seq[SortOrder]] = Seq(
    Seq(SortOrder(leftBy, Ascending), SortOrder(leftOn, Ascending),
      SortOrder(leftTie, Ascending)),
    Seq(SortOrder(rightBy, Ascending), SortOrder(rightOn, Ascending),
      SortOrder(rightTie, Ascending)))

  /** One matched output row per left row, left rows untouched — the left
    * child's partitioning survives, so a downstream groupBy(by) needs no
    * new exchange. */
  override def outputPartitioning: Partitioning = left.outputPartitioning

  override protected def doExecute(): RDD[InternalRow] = {
    val lBy = BindReferences.bindReference(leftBy, left.output)
    val lOn = BindReferences.bindReference(leftOn, left.output)
    val rBy = BindReferences.bindReference(rightBy, right.output)
    val rOn = BindReferences.bindReference(rightOn, right.output)
    val outputAttrs = output
    val leftAttrs = left.output
    val rightAttrs = right.output
    left.execute().zipPartitions(right.execute()) { (lIter, rIter) =>
      val proj = UnsafeProjection.create(outputAttrs, leftAttrs ++ rightAttrs)
      val joined = new JoinedRow
      // Forward merge. `cand` is the newest right row already known to be
      // <= some frontier; it stays valid for subsequent left rows of the
      // same key because left.on is non-decreasing within the key.
      var rHead: InternalRow = null // lookahead (copied: UnsafeRow is reused)
      var rHeadBy = 0L; var rHeadOn = 0L
      var cand: InternalRow = null
      var candBy = 0L
      def advanceRight(): Unit = {
        rHead = null
        while (rHead == null && rIter.hasNext) {
          val r = rIter.next()
          val by = rBy.eval(r); val on = rOn.eval(r)
          if (by != null && on != null) {
            rHead = r.copy()
            rHeadBy = by.asInstanceOf[Long]
            rHeadOn = on.asInstanceOf[Long]
          }
        }
      }
      advanceRight()
      lIter.flatMap { l =>
        val byAny = lBy.eval(l); val onAny = lOn.eval(l)
        if (byAny == null || onAny == null) None
        else {
          val by = byAny.asInstanceOf[Long]
          val on = onAny.asInstanceOf[Long]
          // consume right rows that are now at-or-before the left frontier
          while (rHead != null &&
            (rHeadBy < by || (rHeadBy == by && rHeadOn <= on))) {
            if (rHeadBy == by) { cand = rHead; candBy = by }
            advanceRight()
          }
          if (cand != null && candBy == by) Some(proj(joined(l, cand)))
          else None
        }
      }
    }
  }

  override protected def withNewChildrenInternal(
      newLeft: SparkPlan, newRight: SparkPlan): AsOfJoinExec =
    copy(left = newLeft, right = newRight)
}

object AsOfJoinStrategy extends SparkStrategy {
  override def apply(plan: LogicalPlan): Seq[SparkPlan] = plan match {
    case AsOfJoin(l, r, lb, rb, lo, ro, lt, rt) =>
      AsOfJoinExec(lb, rb, lo, ro, lt, rt, planLater(l), planLater(r)) :: Nil
    case _ => Nil
  }
}

object AsOfJoin {

  /** DataFrame-level API: as-of join `left` to `right`, matching each left
    * row to the latest right row with `right.on <= left.on` within the same
    * `by` group; ties on `on` broken by the greatest `tie`. Column names
    * must be unambiguous across the two sides (alias beforehand). */
  def asof(
      leftDf: DataFrame, rightDf: DataFrame,
      by: (String, String), on: (String, String), tie: (String, String)): DataFrame = {
    val spark = leftDf.sparkSession
    graft.functions.Catalog.install(spark)
    val lp = leftDf.queryExecution.analyzed
    val rp = rightDf.queryExecution.analyzed
    def attr(p: LogicalPlan, n: String): Attribute =
      p.output.find(_.name == n).getOrElse(
        throw new IllegalArgumentException(
          s"asof: no column '$n' in [${p.output.map(_.name).mkString(", ")}]"))
    val node = AsOfJoin(lp, rp,
      attr(lp, by._1), attr(rp, by._2),
      attr(lp, on._1), attr(rp, on._2),
      attr(lp, tie._1), attr(rp, tie._2))
    org.apache.spark.sql.GraftBridge.ofRows(spark, node)
  }
}
