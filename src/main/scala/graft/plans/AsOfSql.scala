package graft.plans

import org.apache.spark.sql.catalyst.expressions._
import org.apache.spark.sql.catalyst.plans.{Inner, LeftOuter}
import org.apache.spark.sql.catalyst.plans.logical.{Filter, Join, LogicalPlan}
import org.apache.spark.sql.catalyst.rules.Rule
import org.apache.spark.sql.types.{BooleanType, DataType, LongType, TimestampType}

/** SQL surface for the as-of join, without touching the parser: the marker
  * predicate `graft_asof(left_time, right_time[, tolerance_micros])` (or
  * `graft_asof_fwd` for the forward direction) is written inside an ordinary
  * JOIN condition —
  *
  * {{{
  * SELECT ... FROM purchases p
  * LEFT JOIN clicks c
  *   ON p.user_id = c.user_id AND graft_asof(p.ts, c.ts)
  * }}}
  *
  * — and [[RewriteAsOfMarkerJoin]] rewrites the join into the [[AsOfJoin]]
  * logical operator during optimization (same mechanism the lakehouse
  * formats use for SQL surface area: a resolvable placeholder + a rewrite
  * rule, instead of a forked parser). The marker itself never executes;
  * [[org.apache.spark.sql.catalyst.expressions.Unevaluable]] guarantees a
  * clear failure if it survives to runtime (e.g. written outside a join).
  */
case class GraftAsOfCond(children: Seq[Expression], forward: Boolean)
    extends Expression with Unevaluable {
  require(children.size == 2 || children.size == 3,
    "graft_asof(left_time, right_time[, tolerance_micros])")
  override def dataType: DataType = BooleanType
  override def nullable: Boolean = false
  override def prettyName: String = if (forward) "graft_asof_fwd" else "graft_asof"
  override protected def withNewChildrenInternal(
      newChildren: IndexedSeq[Expression]): GraftAsOfCond =
    copy(children = newChildren)
}

/** Optimizer rule: JOIN ... ON <equi-keys> AND graft_asof(lt, rt[, tol])
  * becomes [[AsOfJoin]]. LEFT OUTER keeps as-of's native left-outer
  * semantics; INNER adds a match filter. `Functions.install` adds it to
  * extraOptimizations, after the main batches; `GraftExtensions` injects it
  * with `injectOptimizerRule`, which places it in the operator-optimization
  * batch among the main rules. Either placement holds because the marker
  * references both sides: no rule can push it out of the join condition
  * (ExtensionRouteSpec runs the tolerance, forward and INNER variants on
  * the extension route).
  */
object RewriteAsOfMarkerJoin extends Rule[LogicalPlan] {
  private def conjuncts(e: Expression): Seq[Expression] = e match {
    case And(l, r) => conjuncts(l) ++ conjuncts(r)
    case other     => Seq(other)
  }

  /** The merge compares times as Long; timestamps are micros internally.
    * Forward = both axes negated (micros-preserving — Cast(ts, long)
    * truncates to seconds), exactly as AsOf.joinForward does.
    */
  private def dir(e: Expression, forward: Boolean): Expression =
    if (!forward) e.dataType match {
      case TimestampType | LongType => e
      case _                        => Cast(e, LongType)
    }
    else Multiply(e.dataType match {
      case TimestampType => UnixMicros(e)
      case _             => Cast(e, LongType)
    }, Literal(-1L))

  override def apply(plan: LogicalPlan): LogicalPlan = plan.transform {
    case Join(l, r, jt, Some(cond), _)
        if conjuncts(cond).exists(_.isInstanceOf[GraftAsOfCond]) =>
      val (markers, rest) = conjuncts(cond).partition(_.isInstanceOf[GraftAsOfCond])
      require(markers.size == 1, "exactly one graft_asof marker per join")
      val m = markers.head.asInstanceOf[GraftAsOfCond]
      val lt = m.children(0)
      val rt = m.children(1)
      require(lt.references.subsetOf(l.outputSet) && rt.references.subsetOf(r.outputSet),
        "graft_asof(left_time, right_time): first argument must reference " +
          "the left join side, second the right")
      val (lk, rk) = rest.map {
        case EqualTo(a, b)
            if a.references.subsetOf(l.outputSet) && b.references.subsetOf(r.outputSet) =>
          (a, b)
        case EqualTo(a, b)
            if b.references.subsetOf(l.outputSet) && a.references.subsetOf(r.outputSet) =>
          (b, a)
        case other => throw new IllegalArgumentException(
          "as-of SQL join supports only equi-key conjuncts besides the " +
            s"graft_asof marker; got: ${other.sql}")
      }.unzip
      val tolerance = m.children.drop(2).headOption.map(_.eval(null) match {
        case n: java.lang.Long    => n.longValue
        case n: java.lang.Integer => n.longValue
        case other => throw new IllegalArgumentException(
          s"graft_asof tolerance must be an integer literal of microseconds, got $other")
      })
      val aj = AsOfJoin(l, r,
        lk, rk, dir(lt, m.forward), dir(rt, m.forward), Nil, tolerance)
      jt match {
        case LeftOuter => aj
        case Inner =>
          // Matched rows carry the (non-null) right key / time; unmatched
          // left rows carry nulls across the whole right output. The test
          // must read the join's nullable output attributes: over the right
          // child's own non-nullable ones, an optimizer batch that runs
          // after this rule (GraftExtensions places it among the main
          // rules) folds IsNotNull to true and drops the filter.
          val out = AttributeMap(aj.output.map(a => a -> a))
          Filter(IsNotNull(rk.headOption.getOrElse(rt).transform {
            case a: Attribute => out.getOrElse(a, a)
          }), aj)
        case other => throw new IllegalArgumentException(
          s"as-of SQL join supports INNER and LEFT OUTER, got $other")
      }
  }
}
