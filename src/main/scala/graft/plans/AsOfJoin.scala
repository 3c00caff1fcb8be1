package graft.plans

import org.apache.spark.rdd.RDD
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{
  Ascending, Attribute, BindReferences, BoundReference, Expression,
  GenericInternalRow, JoinedRow, SortOrder, UnsafeProjection}
import org.apache.spark.sql.catalyst.plans.logical.{BinaryNode, LogicalPlan}
import org.apache.spark.sql.catalyst.plans.physical.{
  ClusteredDistribution, Distribution, Partitioning}
import org.apache.spark.sql.execution.{BinaryExecNode, SparkPlan}
import org.apache.spark.sql.types.LongType

/** Native as-of join — the full custom-operator tier (SURVEY §3c):
  * logical node + planner strategy + physical exec, registered through
  * `graft.core.GraftExtensions`.
  *
  * Semantics: for each left row, attach the single right row with equal
  * keys and the greatest right time ≤ the left time (DuckDB
  * `ASOF LEFT JOIN … ON l.k = r.k AND l.t >= r.t`; the reference's
  * event-attribution shape, reference README §4's joined models in
  * spirit). Left-outer: unmatched left rows carry nulls.
  *
  * Why a physical operator: the composable faces — union+window
  * ([[graft.operators.Extras.asofJoin]]) or a range join — either drag
  * both tables through one window sort or expand candidate pairs. The
  * native exec instead declares SMJ-style requirements (children
  * co-partitioned on keys via `ClusteredDistribution`, each sorted by
  * (keys, time) — Catalyst's EnsureRequirements inserts the minimal
  * exchanges/sorts) and then streams BOTH sides once per partition,
  * O(|L|+|R|), holding ONE buffered right row. At 100 TB: two key
  * shuffles, zero candidate blow-up, state = one row.
  *
  * Measured trade-off (a synthetic hot-key microbenchmark of both
  * forms, 8M rows / 16 hot keys, local[32]; its main is in git
  * history, and AsOfSpec pins that the forms agree): the union+window face runs ~1.4× faster single-node —
  * WindowExec sits inside whole-stage codegen while this exec's merge
  * loop is an interpreted iterator (the single-long-key fast path with
  * primitive accessors and a reused copy buffer recovers ~20%). The
  * operator's value is semantic: direct two-table API (no union to a
  * superset schema, no tie-break contortions), per-side column
  * isolation, and the §3c extension-tier demonstration. Equal at
  * query-suite scale (q_asof_native ≈ q_asof_join in BENCH).
  */
case class AsOfJoin(
    left: LogicalPlan,
    right: LogicalPlan,
    leftKeys: Seq[Expression],
    rightKeys: Seq[Expression],
    leftTime: Expression,
    rightTime: Expression)
  extends BinaryNode {

  override def output: Seq[Attribute] =
    left.output ++ right.output.map(_.withNullability(true))

  override protected def withNewChildrenInternal(
      newLeft: LogicalPlan, newRight: LogicalPlan): AsOfJoin =
    copy(left = newLeft, right = newRight)
}

/** Plans [[AsOfJoin]] to [[AsOfJoinExec]]. Injected via
  * `SparkSessionExtensions.injectPlannerStrategy`.
  */
object AsOfJoinStrategy extends org.apache.spark.sql.execution.SparkStrategy {
  override def apply(plan: LogicalPlan): Seq[SparkPlan] = plan match {
    case AsOfJoin(l, r, lk, rk, lt, rt) =>
      AsOfJoinExec(planLater(l), planLater(r), lk, rk, lt, rt) :: Nil
    case _ => Nil
  }
}

/** Sort-merge as-of join exec. Requirements do the heavy lifting:
  * Catalyst co-partitions the children on the join keys and sorts each
  * by (keys, time); `doExecute` zips partitions and merges. The right
  * cursor never rewinds — left keys arrive ascending, so right rows
  * behind the current left key are dead, and a right row with time
  * beyond the current left time is exactly the first row a LATER left
  * row may still need.
  *
  * Equal-time right duplicates: which of several equal-(key,time) right
  * rows wins is sort-tie-dependent; project only time-determined right
  * columns (or pre-dedup the right side) where that matters.
  */
case class AsOfJoinExec(
    left: SparkPlan,
    right: SparkPlan,
    leftKeys: Seq[Expression],
    rightKeys: Seq[Expression],
    leftTime: Expression,
    rightTime: Expression)
  extends BinaryExecNode {

  require(leftTime.dataType == LongType && rightTime.dataType == LongType,
    "as-of time columns must be bigint (µs since epoch)")

  override def output: Seq[Attribute] =
    left.output ++ right.output.map(_.withNullability(true))

  override def requiredChildDistribution: Seq[Distribution] =
    ClusteredDistribution(leftKeys) :: ClusteredDistribution(rightKeys) :: Nil

  override def requiredChildOrdering: Seq[Seq[SortOrder]] = Seq(
    (leftKeys :+ leftTime).map(SortOrder(_, Ascending)),
    (rightKeys :+ rightTime).map(SortOrder(_, Ascending)))

  // one output row per left row, partitioned as the left child
  override def outputPartitioning: Partitioning = left.outputPartitioning

  override protected def doExecute(): RDD[InternalRow] = {
    val leftOut = left.output
    val rightOut = right.output
    val lKeyExprs = leftKeys
    val rKeyExprs = rightKeys
    val lTimeExpr = leftTime
    val rTimeExpr = rightTime
    // the practical case — a single bigint key — merges on primitive
    // longs: no per-row key projection, no interpreted ordering, and the
    // buffered match reuses one UnsafeRow backing array
    val singleLongKey =
      lKeyExprs.sizeIs == 1 && lKeyExprs.head.dataType == LongType &&
        rKeyExprs.head.dataType == LongType
    left.execute().zipPartitions(right.execute()) { (lIter, rIter) =>
      if (!lIter.hasNext) Iterator.empty
      else if (singleLongKey) {
        // primitive accessors: a bound attribute reads getLong directly
        // (no per-row boxing); any other expression falls back to eval
        def longAccess(e: Expression): (InternalRow => Boolean, InternalRow => Long) =
          e match {
            case b: BoundReference =>
              (r => b.nullable && r.isNullAt(b.ordinal), r => r.getLong(b.ordinal))
            case other =>
              (r => other.eval(r) == null,
                r => other.eval(r).asInstanceOf[Long])
          }
        val (lKeyIsNull, lKeyGet) =
          longAccess(BindReferences.bindReference(lKeyExprs.head, leftOut))
        val (rKeyIsNull, rKeyGet) =
          longAccess(BindReferences.bindReference(rKeyExprs.head, rightOut))
        val (lTimeIsNull, lTimeGet) =
          longAccess(BindReferences.bindReference(lTimeExpr, leftOut))
        val (rTimeIsNull, rTimeGet) =
          longAccess(BindReferences.bindReference(rTimeExpr, rightOut))
        val nullRight = new GenericInternalRow(rightOut.size)
        val joined = new JoinedRow

        new Iterator[InternalRow] {
          private var rHead: InternalRow = null
          private var rKeyVal = 0L
          advR()
          private var lastMatch: InternalRow = null
          private var lastValid = false
          private var haveGroup = false
          private var groupVal = 0L

          // NULL join keys never match (SQL equality semantics — DuckDB
          // `ASOF … ON l.k = r.k` drops them): null-key right rows are
          // skipped here; null-key left rows null-extend in next().
          // Both sides sort nulls first, so this burns the head only.
          private def advR(): Unit = {
            rHead = null
            while (rHead == null && rIter.hasNext) {
              val r = rIter.next()
              if (!rKeyIsNull(r)) { rHead = r; rKeyVal = rKeyGet(r) }
            }
          }

          private def record(): Unit = {
            rHead match {
              case u: org.apache.spark.sql.catalyst.expressions.UnsafeRow =>
                lastMatch match {
                  // fast path: reuse the existing backing buffer
                  case prev: org.apache.spark.sql.catalyst.expressions.UnsafeRow =>
                    prev.copyFrom(u)
                  case _ => lastMatch = u.copy()
                }
              case other => lastMatch = other.copy()
            }
            lastValid = true
          }

          override def hasNext: Boolean = lIter.hasNext

          override def next(): InternalRow = {
            val l = lIter.next()
            // null left key or null left time: no right row qualifies
            if (lKeyIsNull(l) || lTimeIsNull(l)) joined(l, nullRight)
            else {
              val lVal = lKeyGet(l)
              if (!haveGroup || groupVal != lVal) {
                lastValid = false
                haveGroup = true
                groupVal = lVal
              }
              val lTime = lTimeGet(l)
              var advancing = true
              while (advancing && rHead != null) {
                val c = java.lang.Long.compare(rKeyVal, lVal)
                if (c < 0) advR()
                else if (c == 0) {
                  if (rTimeIsNull(rHead)) advR()
                  else if (rTimeGet(rHead) <= lTime) { record(); advR() }
                  else advancing = false
                } else advancing = false
              }
              joined(l, if (lastValid) lastMatch else nullRight)
            }
          }
        }
      } else {
        val lKeyGen = UnsafeProjection.create(lKeyExprs, leftOut)
        val rKeyGen = UnsafeProjection.create(rKeyExprs, rightOut)
        val lTimeEval = BindReferences.bindReference(lTimeExpr, leftOut)
        val rTimeEval = BindReferences.bindReference(rTimeExpr, rightOut)
        val keyOrd = org.apache.spark.sql.catalyst.expressions.RowOrdering
          .createNaturalAscendingOrdering(lKeyExprs.map(_.dataType))
        val nullRight = new GenericInternalRow(rightOut.size)
        val joined = new JoinedRow

        new Iterator[InternalRow] {
          // lookahead right row: valid until the next advR() call.
          // NULL join keys never match (SQL equality semantics), so
          // null-key right rows are skipped on advance and null-key left
          // rows null-extend without consulting the right side.
          private var rHead: InternalRow = null
          advR()
          private var lastMatch: InternalRow = null // copied; current left key's best
          private var groupKey: InternalRow = null // copied key owning lastMatch

          private def advR(): Unit = {
            rHead = null
            while (rHead == null && rIter.hasNext) {
              val r = rIter.next()
              if (!rKeyGen(r).anyNull) rHead = r
            }
          }

          override def hasNext: Boolean = lIter.hasNext

          override def next(): InternalRow = {
            val l = lIter.next()
            val lKey = lKeyGen(l)
            if (lKey.anyNull) return joined(l, nullRight)
            if (groupKey == null || keyOrd.compare(lKey, groupKey) != 0) {
              lastMatch = null
              groupKey = lKey.copy()
            }
            val lt = lTimeEval.eval(l)
            if (lt == null) {
              // null time sorts first in its group; matches nothing
              joined(l, nullRight)
            } else {
              val lTime = lt.asInstanceOf[Long]
              var advancing = true
              while (advancing && rHead != null) {
                val c = keyOrd.compare(rKeyGen(rHead), lKey)
                if (c < 0) advR()
                else if (c == 0) {
                  val rt = rTimeEval.eval(rHead)
                  if (rt == null || rt.asInstanceOf[Long] <= lTime) {
                    if (rt != null) lastMatch = rHead.copy()
                    advR()
                  } else advancing = false
                } else advancing = false
              }
              joined(l, if (lastMatch != null) lastMatch else nullRight)
            }
          }
        }
      }
    }
  }

  override protected def withNewChildrenInternal(
      newLeft: SparkPlan, newRight: SparkPlan): AsOfJoinExec =
    copy(left = newLeft, right = newRight)
}

/** DataFrame face. The two inputs must have disjoint attribute sets
  * (alias the right side's columns when both derive from one source —
  * an `.as(name)` mints fresh attributes).
  */
object AsOf {

  def joinAsOf(
      left: DataFrame, right: DataFrame,
      leftKeys: Seq[Column], rightKeys: Seq[Column],
      leftTime: Column, rightTime: Column): DataFrame = {
    import org.apache.spark.sql.GraftBridge
    require(leftKeys.nonEmpty && leftKeys.size == rightKeys.size,
      "as-of join needs matching non-empty key lists")
    val lPlan = left.queryExecution.analyzed
    val rPlan = right.queryExecution.analyzed
    require(lPlan.outputSet.intersect(rPlan.outputSet).isEmpty,
      "as-of join sides share attributes — alias the right side's columns")
    GraftBridge.ofRows(left.sparkSession, AsOfJoin(
      lPlan, rPlan,
      leftKeys.map(GraftBridge.expression),
      rightKeys.map(GraftBridge.expression),
      GraftBridge.expression(leftTime),
      GraftBridge.expression(rightTime)))
  }
}
