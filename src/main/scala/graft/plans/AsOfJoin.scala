package graft.plans

import org.apache.spark.rdd.RDD
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{Ascending, Attribute, BindReferences, Expression, JoinedRow, SortOrder, UnsafeProjection}
import org.apache.spark.sql.catalyst.plans.logical.{BinaryNode, LogicalPlan}
import org.apache.spark.sql.catalyst.plans.physical.{ClusteredDistribution, Distribution, Partitioning}
import org.apache.spark.sql.execution.{BinaryExecNode, SparkPlan, SparkStrategy}

/** AS-OF join — the canonical whole-operator extension (an operator
  * Spark's built-ins don't provide; guide preference (c): custom
  * LogicalPlan + SparkStrategy + SparkPlan).
  *
  * Semantics (inner): for every left row, join the single right row
  * with the same key and the LARGEST right timestamp strictly below
  * the left timestamp; left rows with no such partner are dropped.
  * Matches DuckDB's `ASOF JOIN ... ON l.k = r.k AND r.ts < l.ts`,
  * which is the oracle for the query form.
  *
  * Physical execution is a sort-merge in one pass: both children are
  * hash-clustered on the key and sorted by (key, ts) — declared via
  * requiredChildDistribution/Ordering so EnsureRequirements inserts
  * exactly the exchanges/sorts a SortMergeJoin would get — then each
  * co-partition pair merges with O(1) state (the current as-of
  * candidate). No row amplification, no per-key buffering: state is
  * one row regardless of group size, the property that makes as-of
  * joins tractable on billion-row streams where a windowed
  * lag-formulation must sort whole partitions.
  *
  * Key/ts expressions must evaluate to long-backed types (integral or
  * timestamp).
  */
case class AsOfJoin(left: LogicalPlan, right: LogicalPlan,
                    leftKey: Expression, rightKey: Expression,
                    leftTs: Expression, rightTs: Expression,
                    forward: Boolean = false,
                    tolerance: Long = Long.MaxValue)
    extends BinaryNode {
  override def output: Seq[Attribute] = left.output ++ right.output
  override protected def withNewChildrenInternal(
      newLeft: LogicalPlan, newRight: LogicalPlan): AsOfJoin =
    copy(left = newLeft, right = newRight)
}

/** Planner strategy: AsOfJoin logical node -> AsOfJoinExec. Register
  * via `spark.experimental.extraStrategies` (what AsOf.join and
  * GraftExtensions.install do). */
object AsOfJoinStrategy extends SparkStrategy {
  override def apply(plan: LogicalPlan): Seq[SparkPlan] = plan match {
    case AsOfJoin(l, r, lk, rk, lts, rts, fwd, tol) =>
      AsOfJoinExec(planLater(l), planLater(r), lk, rk, lts, rts, fwd, tol) :: Nil
    case _ => Nil
  }
}

case class AsOfJoinExec(left: SparkPlan, right: SparkPlan,
                        leftKey: Expression, rightKey: Expression,
                        leftTs: Expression, rightTs: Expression,
                        forward: Boolean, tolerance: Long)
    extends BinaryExecNode {

  override def output: Seq[Attribute] = left.output ++ right.output

  override def requiredChildDistribution: Seq[Distribution] =
    Seq(ClusteredDistribution(Seq(leftKey)), ClusteredDistribution(Seq(rightKey)))

  override def requiredChildOrdering: Seq[Seq[SortOrder]] = Seq(
    Seq(SortOrder(leftKey, Ascending), SortOrder(leftTs, Ascending)),
    Seq(SortOrder(rightKey, Ascending), SortOrder(rightTs, Ascending)))

  override def outputPartitioning: Partitioning = left.outputPartitioning
  override def outputOrdering: Seq[SortOrder] = requiredChildOrdering.head

  override protected def doExecute(): RDD[InternalRow] = {
    val lk = BindReferences.bindReference(leftKey, left.output)
    val lt = BindReferences.bindReference(leftTs, left.output)
    val rk = BindReferences.bindReference(rightKey, right.output)
    val rt = BindReferences.bindReference(rightTs, right.output)
    val outAttrs = output
    left.execute().zipPartitions(right.execute()) { (lIter, rIter) =>
      val joiner = new JoinedRow
      val proj = UnsafeProjection.create(outAttrs, outAttrs)
      // single-row merge state; right rows are reused buffers, so the
      // candidate is copied exactly once, when it is admitted
      var rHead: InternalRow = if (rIter.hasNext) rIter.next() else null
      var cand: InternalRow = null
      var candKey: Long = 0L
      var candTs: Long = 0L
      lIter.flatMap { l =>
        val lKeyV = lk.eval(l)
        val lTsV = if (lKeyV == null) null else lt.eval(l)
        // null key or null timestamp: no as-of partner is defined —
        // drop the row, matching DuckDB ASOF (a bare asInstanceOf
        // would unbox null to 0L and silently match pre-epoch rows)
        if (lKeyV == null || lTsV == null) None
        else {
          val lKey = AsOf.toLong(lKeyV)
          val lTs = AsOf.toLong(lTsV)
          // advance the right cursor past every row that sorts strictly
          // before the current left row's as-of horizon; in backward
          // mode each same-key row passed over becomes the candidate
          // (largest ts < lTs), in forward mode the first row NOT
          // passed over is the answer (smallest ts > lTs)
          var advancing = true
          while (advancing && rHead != null) {
            val rKeyV = rk.eval(rHead)
            val rTsV = if (rKeyV == null) null else rt.eval(rHead)
            if (rKeyV == null || rTsV == null) {
              // right rows with null key/ts can never be a candidate
              rHead = if (rIter.hasNext) rIter.next() else null
            } else {
              val rKey = AsOf.toLong(rKeyV)
              val rTs = AsOf.toLong(rTsV)
              val behind =
                if (forward) rKey < lKey || (rKey == lKey && rTs <= lTs)
                else rKey < lKey || (rKey == lKey && rTs < lTs)
              if (behind) {
                if (!forward && rKey == lKey) {
                  cand = rHead.copy(); candKey = rKey; candTs = rTs
                }
                rHead = if (rIter.hasNext) rIter.next() else null
              } else advancing = false
            }
          }
          // tolerance is an emission filter only: the candidate stays
          // the nearest same-key row, it is just not emitted when the
          // gap exceeds the bound (pandas merge_asof `tolerance`)
          if (forward) {
            if (rHead != null && AsOf.toLong(rk.eval(rHead)) == lKey &&
                AsOf.toLong(rt.eval(rHead)) - lTs <= tolerance)
              Some(proj(joiner(l, rHead)))
            else None
          } else if (cand != null && candKey == lKey &&
              lTs - candTs <= tolerance)
            Some(proj(joiner(l, cand)))
          else None
        }
      }
    }
  }

  override protected def withNewChildrenInternal(
      newLeft: SparkPlan, newRight: SparkPlan): AsOfJoinExec =
    copy(left = newLeft, right = newRight)
}

/** User-facing API. */
object AsOf {
  import org.apache.spark.sql.types._

  /** Merge-comparable value extraction: every supported type evals to
    * Int or Long internally (date = days, timestamp = micros). */
  private[plans] def toLong(v: Any): Long = v match {
    case l: java.lang.Long => l.longValue()
    case i: java.lang.Integer => i.longValue()
    case s: java.lang.Short => s.longValue()
    case b: java.lang.Byte => b.longValue()
    case other => throw new IllegalStateException(
      s"as-of join key/ts evaluated to unsupported ${other.getClass}")
  }

  private def requireLongBacked(c: Column, what: String): Unit = {
    val e = org.apache.spark.sql.graft.ColumnBridge.expression(c)
    // unresolved columns get their check at runtime in toLong instead
    if (e.resolved) e.dataType match {
      case LongType | IntegerType | ShortType | ByteType | DateType |
           TimestampType | TimestampNTZType => ()
      case t => throw new IllegalArgumentException(
        s"as-of join $what must be an integral, date, or timestamp " +
          s"column (long-backed merge order), got $t — cast it first")
    }
  }

  /** Inner as-of join: rows of `left` paired with the latest `right`
    * row of the same key strictly before the left timestamp — or, with
    * `forward = true`, the earliest one strictly after. For
    * self-joins, rename the right side's columns first (distinct
    * attribute ids). Left rows with a null key or timestamp are
    * dropped (DuckDB ASOF semantics); key/ts columns must be
    * integral/date/timestamp.
    *
    * `tolerance` bounds the match gap (pandas merge_asof parity): a
    * backward match is emitted only when `leftTs - rightTs <=
    * tolerance`, a forward one when `rightTs - leftTs <= tolerance`
    * — in the UNDERLYING units of the ts type (micros for timestamps,
    * days for dates, raw for integrals). Default unbounded. */
  def join(spark: SparkSession, left: DataFrame, right: DataFrame,
           leftKey: Column, rightKey: Column,
           leftTs: Column, rightTs: Column,
           forward: Boolean = false,
           tolerance: Long = Long.MaxValue): DataFrame = {
    requireLongBacked(leftKey, "left key"); requireLongBacked(rightKey, "right key")
    requireLongBacked(leftTs, "left ts"); requireLongBacked(rightTs, "right ts")
    // synchronized: concurrent callers (parallel Verify dumps) would
    // otherwise race the check-then-append into duplicate strategies
    this.synchronized {
      if (!spark.experimental.extraStrategies.contains(AsOfJoinStrategy))
        spark.experimental.extraStrategies =
          spark.experimental.extraStrategies :+ AsOfJoinStrategy
    }
    import org.apache.spark.sql.graft.ColumnBridge
    org.apache.spark.sql.graft.DatasetBridge.ofRows(spark,
      AsOfJoin(
        org.apache.spark.sql.graft.DatasetBridge.plan(left),
        org.apache.spark.sql.graft.DatasetBridge.plan(right),
        ColumnBridge.expression(leftKey), ColumnBridge.expression(rightKey),
        ColumnBridge.expression(leftTs), ColumnBridge.expression(rightTs),
        forward, tolerance))
  }
}
