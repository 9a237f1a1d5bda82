package org.apache.spark.sql.graft

import scala.collection.mutable

import org.apache.spark.rdd.RDD
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{Attribute, Expression, SortOrder, UnsafeProjection, UnsafeRow}
import org.apache.spark.sql.catalyst.expressions.codegen.GenerateOrdering
import org.apache.spark.sql.catalyst.plans.logical.{LogicalPlan, UnaryNode}
import org.apache.spark.sql.catalyst.plans.physical.{ClusteredDistribution, Distribution, Partitioning, UnspecifiedDistribution}
import org.apache.spark.sql.classic.ExpressionUtils
import org.apache.spark.sql.execution.{SparkPlan, SparkStrategy, UnaryExecNode}

/** Top-K-per-group as a first-class operator (SURVEY.md §4: custom
  * LogicalPlan + SparkStrategy + SparkPlan, the (c)-tier extension).
  *
  * The window formulation (`row_number() OVER (PARTITION BY g ORDER BY
  * o) <= k`) sorts EVERY group's rows; this operator keeps a bounded
  * k-row buffer per group instead — O(n·log k) with O(groups·k) memory,
  * and it runs twice: a partial pass before the shuffle (a combiner, so
  * the exchange carries at most partitions×groups×k rows) and a final
  * pass after clustering by group. Selection semantics are identical to
  * the window form given a total sort order (tie-broken), so results are
  * oracle-stable.
  */
case class TopKPerGroupPlan(groupCols: Seq[Expression], order: Seq[SortOrder],
    k: Int, child: LogicalPlan) extends UnaryNode {
  override def output: Seq[Attribute] = child.output
  override protected def withNewChildInternal(newChild: LogicalPlan): LogicalPlan =
    copy(child = newChild)
}

case class TopKPerGroupExec(groupCols: Seq[Expression], order: Seq[SortOrder],
    k: Int, partial: Boolean, child: SparkPlan) extends UnaryExecNode {
  override def output: Seq[Attribute] = child.output
  override def outputPartitioning: Partitioning = child.outputPartitioning
  override def requiredChildDistribution: Seq[Distribution] =
    if (partial) Seq(UnspecifiedDistribution)
    else Seq(ClusteredDistribution(groupCols))

  override protected def doExecute(): RDD[InternalRow] = {
    val groupExprs = groupCols
    val sortOrder = order
    val limit = k
    val childOutput = child.output
    // Memory guard for the PARTIAL pass: the per-task group map grows
    // with the number of distinct keys the task sees, so a
    // high-cardinality group key (per-user top-k at 100 TB) would
    // otherwise OOM the task. When the map reaches the threshold the
    // pass emits everything buffered so far and starts a fresh map —
    // emitting a SUPERSET is selection-identical because the final
    // pass (and, in the rewrite path, the Window+Filter above) still
    // selects exactly k per group. The final pass must never flush
    // mid-group (its selection is per-buffer), so the guard is
    // partial-only; its memory is bounded by (groups-in-partition)·k
    // after the shuffle clusters each group into one partition.
    // Read driver-side (doExecute runs on the driver) and captured.
    val flushThreshold =
      if (!partial) Int.MaxValue
      else org.apache.spark.sql.internal.SQLConf.get
        .getConfString("spark.graft.topk.maxGroupsPerTask", "262144").toInt
    child.execute().mapPartitionsInternal { iter =>
      val keyProj = UnsafeProjection.create(groupExprs, childOutput)
      val ordering = GenerateOrdering.generate(sortOrder, childOutput)
      // per group: ascending-sorted buffer of at most k rows under
      // `ordering` (the first k of the total order = the top k)
      val heaps = mutable.LinkedHashMap.empty[UnsafeRow, mutable.ArrayBuffer[InternalRow]]
      def insert(row: InternalRow): Unit = {
        val key = keyProj(row)
        val buf = heaps.getOrElseUpdate(key.copy(), new mutable.ArrayBuffer[InternalRow](limit + 1))
        if (buf.length < limit || ordering.compare(row, buf.last) < 0) {
          val copy = row.copy()
          var i = buf.length
          buf.append(copy)
          // insertion into sorted position (k is small)
          while (i > 0 && ordering.compare(copy, buf(i - 1)) < 0) {
            buf(i) = buf(i - 1); buf(i - 1) = copy; i -= 1
          }
          if (buf.length > limit) buf.remove(limit)
        }
      }
      new Iterator[InternalRow] {
        private var cur: Iterator[InternalRow] = Iterator.empty
        override def hasNext: Boolean = {
          while (!cur.hasNext && iter.hasNext) {
            heaps.clear()
            // fill until the input is drained or the map hits the cap
            while (iter.hasNext && heaps.size < flushThreshold) insert(iter.next())
            // drain the chunk; map is rebuilt for the next one
            cur = heaps.values.toIndexedSeq.iterator.flatMap(_.iterator)
          }
          cur.hasNext
        }
        override def next(): InternalRow = { if (!hasNext) Iterator.empty.next(); cur.next() }
      }
    }
  }

  override protected def withNewChildInternal(newChild: SparkPlan): SparkPlan =
    copy(child = newChild)
}

/** Optimizer rule: rewrites the window-formulated top-k —
  * `Filter(rn <= k)` directly over `Window(rn = row_number() OVER
  * (PARTITION BY g ORDER BY o))` — to run the child through
  * [[TopKPerGroupPlan]] first. The Window is KEPT on top (downstream
  * may reference rn, and row_number over the k survivors yields the
  * identical 1..k values), but it now sorts ≤ k rows per group and
  * its required clustering is already satisfied by the top-k final
  * pass, while the exchange below carries ≤ partitions·groups·k rows
  * thanks to the partial pass — the full-group sort is gone. Guarded
  * to the shape: single row_number window expression, non-empty
  * partition spec, non-empty ORDER BY, literal positive k.
  *
  * TIE SEMANTICS: totality of the sort order is not statically
  * verifiable, and the guard does NOT attempt it. If the window's
  * ORDER BY has ties at the k-boundary, row_number() itself is
  * nondeterministic (any of the tied rows may get rank k), so both
  * the rewritten and the un-rewritten plan return SOME admissible
  * k-row set — but not necessarily the SAME one. This is the same
  * caveat Spark's built-in InferWindowGroupLimit rule carries for
  * the identical shape; queries that need a reproducible row set
  * must include a tie-break column, with or without this rule. */
object TopKPerGroupRewrite extends org.apache.spark.sql.catalyst.rules.Rule[LogicalPlan] {
  import org.apache.spark.sql.catalyst.expressions._
  import org.apache.spark.sql.catalyst.plans.logical.{Filter, Window => LWindow}

  // Long arithmetic: `rn < Int.MinValue` must yield Some(MinValue-1L)
  // → rejected by the k-range guard below, not wrap to Int.MaxValue
  // and plan a pathological 2^31-bounded heap.
  private def limitFor(cond: Expression, rn: ExprId): Option[Long] = cond match {
    case LessThanOrEqual(a: AttributeReference, IntegerLiteral(k)) if a.exprId == rn => Some(k.toLong)
    case LessThan(a: AttributeReference, IntegerLiteral(k)) if a.exprId == rn => Some(k.toLong - 1)
    case GreaterThanOrEqual(IntegerLiteral(k), a: AttributeReference) if a.exprId == rn => Some(k.toLong)
    case GreaterThan(IntegerLiteral(k), a: AttributeReference) if a.exprId == rn => Some(k.toLong - 1)
    // rn = k (k=1 is the argmax/latest-per-key idiom, the most common
    // call-site shape): running the child through top-k first is
    // selection-identical for ANY k because the kept Window re-ranks
    // the k survivors 1..k, so the Filter still picks exactly rank k
    case EqualTo(a: AttributeReference, IntegerLiteral(k)) if a.exprId == rn => Some(k.toLong)
    case EqualTo(IntegerLiteral(k), a: AttributeReference) if a.exprId == rn => Some(k.toLong)
    case _ => None
  }

  override def apply(plan: LogicalPlan): LogicalPlan = plan.transform {
    case f @ Filter(cond, w @ LWindow(
        Seq(al @ Alias(WindowExpression(_: RowNumber, _), _)),
        part, order, child, _))
        if part.nonEmpty && order.nonEmpty &&
          !child.isInstanceOf[TopKPerGroupPlan] =>
      limitFor(cond, al.exprId) match {
        case Some(k) if k >= 1 && k <= Int.MaxValue =>
          Filter(cond, w.copy(child = TopKPerGroupPlan(part, order, k.toInt, child)))
        case _ => f
      }
  }
}

/** Plans the logical node as partial + final exec (combiner style). */
object TopKPerGroupStrategy extends SparkStrategy {
  override def apply(plan: LogicalPlan): Seq[SparkPlan] = plan match {
    case TopKPerGroupPlan(groups, order, k, child) =>
      TopKPerGroupExec(groups, order, k, partial = false,
        TopKPerGroupExec(groups, order, k, partial = true, planLater(child))) :: Nil
    case _ => Nil
  }
}

object TopK {
  /** Sort key: column name + direction (desc=true). Nulls ordering is
    * the Spark default for the direction (asc→nulls first, desc→nulls
    * last), matching `col.asc`/`col.desc` in the window formulation. */
  type SortKey = (String, Boolean)

  /** Top `k` rows per group of `df`, ordered by `order` (must be a
    * total order — include a tie-break column). Columns are resolved by
    * name against the analyzed child so the plan ships fully resolved
    * attribute references to executors. The session must carry
    * [[graft.GraftExtensions]], which plans the node (see
    * [[graft.GraftSession]]). */
  def perGroup(df: DataFrame, groupCols: Seq[String], order: Seq[SortKey],
      k: Int): DataFrame = {
    val spark = df.sparkSession
    val analyzed = df.queryExecution.analyzed
    def attr(n: String): Attribute =
      analyzed.output.find(_.name.equalsIgnoreCase(n)).getOrElse(
        throw new IllegalArgumentException(
          s"no column $n in ${analyzed.output.map(_.name).mkString(", ")}"))
    val sortOrder = order.map { case (n, desc) =>
      SortOrder(attr(n),
        if (desc) org.apache.spark.sql.catalyst.expressions.Descending
        else org.apache.spark.sql.catalyst.expressions.Ascending)
    }
    org.apache.spark.sql.classic.Dataset.ofRows(
      spark.asInstanceOf[org.apache.spark.sql.classic.SparkSession],
      TopKPerGroupPlan(groupCols.map(attr), sortOrder, k, analyzed))
  }
}
