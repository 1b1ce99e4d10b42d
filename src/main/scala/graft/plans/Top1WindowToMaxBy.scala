package graft.plans

import org.apache.spark.sql.catalyst.expressions._
import org.apache.spark.sql.catalyst.expressions.aggregate.MaxBy
import org.apache.spark.sql.catalyst.plans.logical.{Aggregate, Filter, LogicalPlan, Window}
import org.apache.spark.sql.catalyst.rules.Rule
import org.apache.spark.sql.types._

/** Optimizer rule: rewrite the ubiquitous top-1-per-group window
  * pattern
  *
  *   df.withColumn("rk", row_number().over(partitionBy(p).orderBy(o)))
  *     .filter($"rk" === 1)
  *
  * into a single `max_by` hash aggregate. The window form sorts and
  * materializes EVERY group member (WindowExec buffers whole
  * partitions); the aggregate form is partial+final with one candidate
  * per group per partition crossing the shuffle — the difference
  * between O(group size) and O(1) memory per group, which is what
  * makes top-1 tractable on billion-row groups (SCALE.md).
  *
  * Soundness guards — the rewrite fires only when:
  *  - the window computes exactly one expression, `row_number()`;
  *  - the filter keeps exactly rank 1 (`rk = 1` or `rk <= 1`, either
  *    literal orientation; extra conjuncts are preserved above the
  *    aggregate, which emits the same attribute ids);
  *  - every ORDER BY key is integral (byte/short/int/long), so the
  *    sort order embeds losslessly into bigint struct fields. Nullable
  *    keys are handled exactly: each key contributes a (null-flag,
  *    value) field pair whose flag encodes NULLS FIRST/LAST, so a
  *    null key wins or loses precisely when `row_number` would rank it
  *    first or last. Ascending values are bitwise-NOT'd (~x = -1-x, a
  *    strictly decreasing bijection with no Long.MinValue overflow).
  *    Non-integral keys (strings, IEEE floats with ±0.0, decimals)
  *    leave the plan untouched.
  *
  * Row consistency: all output columns come from ONE `max_by(struct(
  * child.output), key)` — the per-column GetStructField projections
  * share a semantically-equal aggregate, which physical planning
  * deduplicates into a single buffer, so column values can never be
  * torn across tied rows. Ties on the full key pick an arbitrary row,
  * exactly like `row_number` does.
  *
  * Registered in `spark.experimental.extraOptimizations` by
  * `GraftExtensions.install`, so on every harness session —
  * i.e. it runs in the production oracle path, where w1's
  * window-formulated query is rewritten and still hash-matches
  * DuckDB.
  */
object Top1WindowToMaxBy extends Rule[LogicalPlan] {

  override def apply(plan: LogicalPlan): LogicalPlan = plan.transformUp {
    case f @ Filter(cond, Window(Seq(alias @ Alias(
          WindowExpression(RowNumber(), _), _)), parts, order, child, _))
        if order.nonEmpty && order.forall(keyEligible) =>
      val rk = alias.toAttribute
      val (rankPreds, rest) = splitConjunctivePredicates(cond)
        .partition(isKeepRank1(_, rk))
      if (rankPreds.isEmpty) f
      else {
        val agg = buildAggregate(alias, parts, order, child)
        if (rest.isEmpty) agg
        else Filter(rest.reduce(And), agg)
      }
  }

  private def splitConjunctivePredicates(e: Expression): Seq[Expression] =
    e match {
      case And(l, r) =>
        splitConjunctivePredicates(l) ++ splitConjunctivePredicates(r)
      case other => Seq(other)
    }

  private def isKeepRank1(e: Expression, rk: Attribute): Boolean = e match {
    case EqualTo(a: Attribute, IntegerLiteral(1)) => a.exprId == rk.exprId
    case EqualTo(IntegerLiteral(1), a: Attribute) => a.exprId == rk.exprId
    case LessThanOrEqual(a: Attribute, IntegerLiteral(1)) => a.exprId == rk.exprId
    case GreaterThanOrEqual(IntegerLiteral(1), a: Attribute) => a.exprId == rk.exprId
    case _ => false
  }

  private object IntegerLiteral {
    def unapply(e: Expression): Option[Int] = e match {
      case Literal(v: Int, IntegerType) => Some(v)
      case _ => None
    }
  }

  private def keyEligible(so: SortOrder): Boolean = so.child.dataType match {
    case ByteType | ShortType | IntegerType | LongType => true
    case _ => false
  }

  /** (null-flag, value) encoding of one sort key for lexicographic
    * MAXIMIZATION: the row `row_number` ranks first must maximize the
    * pair. */
  private def keyFields(so: SortOrder): Seq[Expression] = {
    val asLong = so.child.dataType match {
      case LongType => so.child
      case _ => Cast(so.child, LongType)
    }
    val dirEncoded = so.direction match {
      case Descending => asLong
      case Ascending => BitwiseNot(asLong)
    }
    // rank-1 row wins: a null key ranks first exactly under NullsFirst
    val nullWins = so.nullOrdering == NullsFirst
    val flag = If(IsNull(so.child),
      Literal(if (nullWins) 1L else -1L, LongType), Literal(0L, LongType))
    val value = If(IsNull(so.child), Literal(0L, LongType), dirEncoded)
    Seq(flag, value)
  }

  private def buildAggregate(rkAlias: Alias, parts: Seq[Expression],
                             order: Seq[SortOrder],
                             child: LogicalPlan): Aggregate = {
    val keyCols = order.flatMap(keyFields)
    val key =
      if (keyCols.length == 1) keyCols.head else CreateStruct(keyCols)
    val valueStruct = CreateStruct(child.output)
    val topRow = MaxBy(valueStruct, key).toAggregateExpression()
    val cols: Seq[NamedExpression] = child.output.zipWithIndex.map {
      case (a, i) =>
        Alias(GetStructField(topRow, i, Some(a.name)), a.name)(
          exprId = a.exprId, qualifier = a.qualifier)
    }
    val rkOut = Alias(Literal(1, IntegerType), rkAlias.name)(
      exprId = rkAlias.exprId, qualifier = rkAlias.qualifier)
    Aggregate(parts, cols :+ rkOut, child)
  }
}
