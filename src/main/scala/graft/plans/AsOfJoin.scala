package graft.plans

import org.apache.spark.sql.catalyst.expressions.{And, Attribute, Expression}
import org.apache.spark.sql.catalyst.plans.logical.{BinaryNode, Filter, LogicalPlan}
import org.apache.spark.sql.catalyst.rules.Rule
import org.apache.spark.sql.execution.{SparkPlan, SparkStrategy}

/** Logical as-of join: for every left row, attach the single right row with
  * equal keys and the greatest `rightTime <= leftTime` (optionally within
  * `toleranceMicros`); unmatched left rows get nulls (left-outer semantics).
  *
  * The reference engine has no as-of operator, but its GT join
  * (data_loader.py:45-74) is the degenerate exact-time case of this: "the
  * ground-truth reading for this scene's date". This node generalizes it to
  * event-time alignment (sensor reading as-of a scene capture, last click
  * as-of a purchase), the shape a 100 TB training-data pipeline needs.
  *
  * Whole-operator stack per the extension preference order: this LogicalPlan
  * + [[PushFilterThroughAsOfJoin]] (Rule[LogicalPlan]) + [[AsOfJoinStrategy]]
  * (SparkStrategy) + [[AsOfJoinExec]] (SparkPlan), installed with graft's
  * function table by `engine.Functions.install` (which `Session.local` and
  * `Session.prepare` call) or injected by `GraftExtensions`
  * (spark.sql.extensions).
  *
  * `rightTiebreak` columns break equal-`rightTime` ties deterministically
  * (the physical sort appends them; the merge keeps the last match in sort
  * order, i.e. the max tiebreak among max times).
  */
case class AsOfJoin(
    left: LogicalPlan,
    right: LogicalPlan,
    leftKeys: Seq[Expression],
    rightKeys: Seq[Expression],
    leftTime: Expression,
    rightTime: Expression,
    rightTiebreak: Seq[Expression],
    toleranceMicros: Option[Long])
    extends BinaryNode {

  require(leftKeys.length == rightKeys.length, "as-of join key arity mismatch")

  override def output: Seq[Attribute] =
    left.output ++ right.output.map(_.withNullability(true))

  override protected def withNewChildrenInternal(
      newLeft: LogicalPlan, newRight: LogicalPlan): AsOfJoin =
    copy(left = newLeft, right = newRight)
}

/** Optimizer rule: deterministic predicates over left-side columns commute
  * with the as-of join (each left row's match depends only on the right
  * side), so push them below the join — at 100 TB this is the difference
  * between shuffling the filtered slice and shuffling the whole fact table.
  * Right-side predicates do NOT commute (dropping candidate rows changes
  * which row is "most recent"), so they stay above.
  */
object PushFilterThroughAsOfJoin extends Rule[LogicalPlan] {
  private def conjuncts(e: Expression): Seq[Expression] = e match {
    case And(l, r) => conjuncts(l) ++ conjuncts(r)
    case other     => Seq(other)
  }

  override def apply(plan: LogicalPlan): LogicalPlan = plan.transform {
    case f @ Filter(cond, aj: AsOfJoin) =>
      val (pushable, kept) = conjuncts(cond).partition(p =>
        p.deterministic && p.references.subsetOf(aj.left.outputSet))
      if (pushable.isEmpty) f
      else {
        val pushed = aj.copy(left = Filter(pushable.reduce(And), aj.left))
        kept.reduceOption(And).map(Filter(_, pushed)).getOrElse(pushed)
      }
  }
}

/** Planner strategy with the same cost rule Spark's own join selection
  * uses: a right side whose plan stats fit under
  * `spark.sql.autoBroadcastJoinThreshold` goes to
  * [[BroadcastAsOfJoinExec]] (no shuffle/sort of the big left side at all);
  * otherwise the partitioned merge [[AsOfJoinExec]]. Catalyst owns the
  * exchanges/sorts either choice requires.
  */
object AsOfJoinStrategy extends SparkStrategy {
  override def apply(plan: LogicalPlan): Seq[SparkPlan] = plan match {
    case aj: AsOfJoin =>
      val threshold = org.apache.spark.sql.internal.SQLConf.get.autoBroadcastJoinThreshold
      val exec =
        if (threshold > 0 && aj.right.stats.sizeInBytes <= threshold)
          BroadcastAsOfJoinExec(aj.leftKeys, aj.rightKeys, aj.leftTime,
            aj.rightTime, aj.rightTiebreak, aj.toleranceMicros,
            planLater(aj.left), planLater(aj.right))
        else
          AsOfJoinExec(aj.leftKeys, aj.rightKeys, aj.leftTime, aj.rightTime,
            aj.rightTiebreak, aj.toleranceMicros,
            planLater(aj.left), planLater(aj.right))
      exec :: Nil
    case _ => Nil
  }
}
