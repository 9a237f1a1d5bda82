package org.apache.spark.sql.graft

import org.apache.spark.rdd.RDD
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{Ascending, Attribute, Expression, GenericInternalRow, JoinedRow, RowOrdering, SortOrder, UnsafeProjection}
import org.apache.spark.sql.catalyst.plans.logical.{BinaryNode, LogicalPlan}
import org.apache.spark.sql.catalyst.plans.physical.{ClusteredDistribution, Distribution, Partitioning}
import org.apache.spark.sql.execution.{BinaryExecNode, SparkPlan, SparkStrategy}

/** AS-OF JOIN as a first-class operator (SURVEY.md §4 tier (c): custom
  * LogicalPlan + SparkStrategy + SparkPlan) — the canonical "operator
  * Spark lacks". For each left row, attach the LATEST right row whose
  * time is ≤ the left row's time within the same key (LEFT OUTER
  * semantics: unmatched left rows carry nulls).
  *
  * The built-in composition (range-condition join, then argmax per
  * left row) expands every left row into ALL its time-eligible right
  * partners before the aggregate collapses them — O(Σ eligible pairs)
  * shuffle and compute. This operator is the classic sorted MERGE:
  * both sides cluster by key and sort by (key, time), and one
  * forward-only pass per partition carries a single "current best"
  * right row — O(n_left + n_right) per partition, no row expansion,
  * the plan shape a 100 TB event-to-dimension backfill needs.
  *
  * Tie semantics: among right rows with equal time, the LAST in the
  * right sort order wins, so callers pass `rightTieBreak` (e.g. the
  * right key column) to pin a total order — same discipline as the
  * TopKPerGroup operator.
  */
case class AsOfJoinPlan(leftKeys: Seq[Expression], rightKeys: Seq[Expression],
    leftTime: Expression, rightTime: Expression,
    rightTieBreak: Seq[Expression],
    left: LogicalPlan, right: LogicalPlan) extends BinaryNode {
  override def output: Seq[Attribute] =
    left.output ++ right.output.map(_.withNullability(true))
  override protected def withNewChildrenInternal(
      newLeft: LogicalPlan, newRight: LogicalPlan): LogicalPlan =
    copy(left = newLeft, right = newRight)
}

case class AsOfJoinExec(leftKeys: Seq[Expression], rightKeys: Seq[Expression],
    leftTime: Expression, rightTime: Expression,
    rightTieBreak: Seq[Expression],
    left: SparkPlan, right: SparkPlan) extends BinaryExecNode {
  override def output: Seq[Attribute] =
    left.output ++ right.output.map(_.withNullability(true))
  override def outputPartitioning: Partitioning = left.outputPartitioning

  // co-clustered on the keys; EnsureRequirements inserts compatible
  // exchanges exactly as it does for a sort-merge join
  override def requiredChildDistribution: Seq[Distribution] =
    Seq(ClusteredDistribution(leftKeys), ClusteredDistribution(rightKeys))

  override def requiredChildOrdering: Seq[Seq[SortOrder]] = Seq(
    (leftKeys :+ leftTime).map(SortOrder(_, Ascending)),
    (rightKeys ++ (rightTime +: rightTieBreak)).map(SortOrder(_, Ascending)))

  override def outputOrdering: Seq[SortOrder] =
    (leftKeys :+ leftTime).map(SortOrder(_, Ascending))

  override protected def doExecute(): RDD[InternalRow] = {
    val lKeys = leftKeys; val rKeys = rightKeys
    val lTime = leftTime; val rTime = rightTime
    val lOut = left.output; val rOut = right.output
    val allOut = output
    left.execute().zipPartitions(right.execute()) { (lIter, rIter) =>
      val lKeyProj = UnsafeProjection.create(lKeys, lOut)
      val rKeyProj = UnsafeProjection.create(rKeys, rOut)
      val lTimeProj = UnsafeProjection.create(Seq(lTime), lOut)
      val rTimeProj = UnsafeProjection.create(Seq(rTime), rOut)
      val keyOrd = RowOrdering.createNaturalAscendingOrdering(lKeys.map(_.dataType))
      val timeOrd = RowOrdering.createNaturalAscendingOrdering(Seq(lTime.dataType))
      val nullRight = new GenericInternalRow(rOut.size)
      val joined = new JoinedRow
      val outProj = UnsafeProjection.create(allOut, allOut)

      // one-row lookahead over the right side
      var rHead: InternalRow = if (rIter.hasNext) rIter.next().copy() else null
      var rHeadKey = if (rHead != null) rKeyProj(rHead).copy() else null
      // latest right row (in sort order) whose key matches curKey and
      // whose time is <= the current left row's time
      var curKey: InternalRow = null
      var curBest: InternalRow = null

      lIter.map { l =>
        val lk = lKeyProj(l)
        val lt = lTimeProj(l)
        // SQL comparison semantics: a NULL left key or NULL left time
        // matches nothing ("rt <= NULL" is unknown, "NULL = k" is unknown)
        if (lk.anyNull || lt.isNullAt(0)) {
          outProj(joined(l, nullRight))
        } else {
          if (curKey == null || keyOrd.compare(lk, curKey) != 0) {
            curKey = lk.copy(); curBest = null
          }
          var advancing = true
          while (advancing && rHead != null) {
            val c = keyOrd.compare(rHeadKey, curKey)
            if (c < 0 ||
                (c == 0 && timeOrd.compare(rTimeProj(rHead), lt) <= 0)) {
              // consume: a matching-key row becomes the new best — unless
              // its time is NULL ("NULL <= lt" is unknown in SQL; natural
              // ordering would otherwise rank it first and admit it)
              if (c == 0 && !rTimeProj(rHead).isNullAt(0)) curBest = rHead
              if (rIter.hasNext) {
                rHead = rIter.next().copy()
                rHeadKey = rKeyProj(rHead).copy()
              } else { rHead = null; rHeadKey = null }
            } else advancing = false
          }
          outProj(joined(l, if (curBest != null) curBest else nullRight))
        }
      }
    }
  }

  override protected def withNewChildrenInternal(
      newLeft: SparkPlan, newRight: SparkPlan): SparkPlan =
    copy(left = newLeft, right = newRight)
}

object AsOfJoinStrategy extends SparkStrategy {
  override def apply(plan: LogicalPlan): Seq[SparkPlan] = plan match {
    case AsOfJoinPlan(lk, rk, lt, rt, tb, l, r) =>
      AsOfJoinExec(lk, rk, lt, rt, tb, planLater(l), planLater(r)) :: Nil
    case _ => Nil
  }
}

object AsOf {
  /** As-of join `left` to `right`: latest right row per key with
    * rightTime ≤ leftTime; columns resolved by name; right tie-break
    * columns pin the winner among equal times. The session must carry
    * [[graft.GraftExtensions]], which plans the node (see
    * [[graft.GraftSession]]). */
  def join(left: DataFrame, right: DataFrame,
      leftKeys: Seq[String], rightKeys: Seq[String],
      leftTime: String, rightTime: String,
      rightTieBreak: Seq[String] = Nil): DataFrame = {
    val spark = left.sparkSession
    val la = left.queryExecution.analyzed
    val ra = right.queryExecution.analyzed
    def attr(p: LogicalPlan, n: String): Attribute =
      p.output.find(_.name.equalsIgnoreCase(n)).getOrElse(
        throw new IllegalArgumentException(
          s"no column $n in ${p.output.map(_.name).mkString(", ")}"))
    val lk = leftKeys.map(attr(la, _)); val rk = rightKeys.map(attr(ra, _))
    val lt = attr(la, leftTime); val rt = attr(ra, rightTime)
    // the merge loop compares right values with orderings built from the
    // LEFT side's types — mismatched types (e.g. DateType vs TimestampType)
    // would silently compare days to microseconds, so fail analysis here.
    // TimestampType vs TimestampNTZType is the one admissible mix: both are
    // microsecond longs with identical ordering (only display TZ differs).
    import org.apache.spark.sql.types.{DataType, TimestampNTZType, TimestampType}
    def sameOrderRepr(a: DataType, b: DataType): Boolean =
      a == b ||
        (Seq(a, b).forall(t => t == TimestampType || t == TimestampNTZType))
    require(lk.size == rk.size,
      s"asof: ${lk.size} left keys vs ${rk.size} right keys")
    lk.zip(rk).foreach { case (a, b) =>
      require(sameOrderRepr(a.dataType, b.dataType),
        s"asof key type mismatch: ${a.name}:${a.dataType} vs ${b.name}:${b.dataType}")
    }
    require(sameOrderRepr(lt.dataType, rt.dataType),
      s"asof time type mismatch: ${lt.name}:${lt.dataType} vs ${rt.name}:${rt.dataType}")
    org.apache.spark.sql.classic.Dataset.ofRows(
      spark.asInstanceOf[org.apache.spark.sql.classic.SparkSession],
      AsOfJoinPlan(lk, rk, lt, rt, rightTieBreak.map(attr(ra, _)), la, ra))
  }
}
