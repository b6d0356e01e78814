package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.catalyst.expressions.{Attribute, Cast, Expression, Literal, Multiply, UnixMicros}
import org.apache.spark.sql.catalyst.plans.logical.LogicalPlan
import org.apache.spark.sql.classic.GraftBridge
import org.apache.spark.sql.functions.{col, unix_micros, when}
import org.apache.spark.sql.types.{LongType, TimestampType}

import graft.plans.AsOfJoin

/** User-facing as-of join (pandas `merge_asof` semantics, backward
  * direction): every left row gains the right row with equal `on` keys and
  * the greatest right time <= left time, or nulls when none exists.
  *
  * Right-side columns come back suffixed (default `_r`) — the projection
  * also mints fresh attribute ids, so self-joins (events-to-events) are
  * safe.
  *
  * Scale: executes as [[graft.plans.AsOfJoinExec]] — hash-partition both
  * sides on `on`, sort by (keys, time), one-pass merge per partition. See
  * that node's docs for why this is the 100 TB-safe plan. The planner
  * strategy and rules it needs install with graft's function table: each
  * join calls the idempotent `engine.Functions.install`, which finds them
  * already present on a `Session` or `GraftExtensions` session.
  */
object AsOf {

  def joinBackward(
      left: DataFrame,
      right: DataFrame,
      on: Seq[String],
      leftTimeCol: String,
      rightTimeCol: String,
      tiebreak: Seq[String] = Nil,
      toleranceMicros: Option[Long] = None,
      rightSuffix: String = "_r"): DataFrame =
    join(left, right, on, leftTimeCol, rightTimeCol, tiebreak,
      toleranceMicros, rightSuffix, forward = false)

  /** Forward as-of: the EARLIEST right row with time >= left time (the
    * "next reading after this event"). Same operators as backward with
    * both time axes negated — greatest(-t_r) <= -t_l is exactly
    * smallest(t_r) >= t_l — so merge and broadcast paths, pushdown rule,
    * and cost-based choice all apply unchanged. Ties on equal time break
    * toward the max tiebreak value (matching backward).
    */
  def joinForward(
      left: DataFrame,
      right: DataFrame,
      on: Seq[String],
      leftTimeCol: String,
      rightTimeCol: String,
      tiebreak: Seq[String] = Nil,
      toleranceMicros: Option[Long] = None,
      rightSuffix: String = "_r"): DataFrame =
    join(left, right, on, leftTimeCol, rightTimeCol, tiebreak,
      toleranceMicros, rightSuffix, forward = true)

  /** NEAREST as-of: the right row closest in TIME, past or future, with
    * ties to the past side (the sensor-fusion alignment mode backward/
    * forward each cover half of). Composed from one backward and one
    * forward as-of join paired on `keyCols` — which the CALLER must
    * guarantee unique per left row (a surrogate like
    * monotonically_increasing_id would re-draw on task retry and misjoin
    * the legs: the SPARK-23207 class this library bans). Output: the left
    * columns of the backward leg plus `ts<suffix>` = the nearest right
    * time (other right columns are direction-specific; project what you
    * need from a direction-specific join if you need them).
    */
  def joinNearest(
      left: DataFrame,
      right: DataFrame,
      on: Seq[String],
      leftTimeCol: String,
      rightTimeCol: String,
      keyCols: Seq[String],
      tiebreak: Seq[String] = Nil,
      toleranceMicros: Option[Long] = None,
      rightSuffix: String = "_r"): DataFrame = {
    require(keyCols.nonEmpty, "joinNearest needs a unique left key")
    // Gap arithmetic works on the time column's own scale: timestamps
    // (either flavor) via unix_micros, numeric time axes as-is.
    def axis(c: Column, dt: org.apache.spark.sql.types.DataType): Column =
      dt match {
        case org.apache.spark.sql.types.TimestampType |
             org.apache.spark.sql.types.TimestampNTZType => unix_micros(c)
        case _ => c.cast("long")
      }
    val tr = s"$leftTimeCol$rightSuffix"
    val rightDt = right.schema(rightTimeCol).dataType
    val back = joinBackward(left, right, on, leftTimeCol, rightTimeCol,
        tiebreak, toleranceMicros, rightSuffix)
      .select((left.columns.map(col) :+ col(tr).as("_b_ts")).toSeq: _*)
    val fwd = joinForward(left, right, on, leftTimeCol, rightTimeCol,
        tiebreak, toleranceMicros, rightSuffix)
      .select((keyCols.map(col) :+ col(tr).as("_f_ts")).toSeq: _*)
    val lt = axis(col(leftTimeCol), left.schema(leftTimeCol).dataType)
    back.join(fwd, keyCols)
      .withColumn(tr,
        when(col("_b_ts").isNull, col("_f_ts"))
          .when(col("_f_ts").isNull, col("_b_ts"))
          .when(lt - axis(col("_b_ts"), rightDt) <=
            axis(col("_f_ts"), rightDt) - lt, col("_b_ts"))
          .otherwise(col("_f_ts")))
      .drop("_b_ts", "_f_ts")
  }

  private def join(
      left: DataFrame,
      right: DataFrame,
      on: Seq[String],
      leftTimeCol: String,
      rightTimeCol: String,
      tiebreak: Seq[String],
      toleranceMicros: Option[Long],
      rightSuffix: String,
      forward: Boolean): DataFrame = {
    require(on.nonEmpty, "as-of join needs at least one equi-key")
    val spark = left.sparkSession
    graft.engine.Functions.install(spark)

    // Fresh exprIds + disjoint names for the right side (self-join safety).
    val clash = right.columns.map(_ + rightSuffix).toSet intersect left.columns.toSet
    require(clash.isEmpty,
      s"left columns collide with suffixed right columns: ${clash.mkString(", ")}")
    val renamed = right.select(
      right.columns.toIndexedSeq.map(c => col(c).as(c + rightSuffix)): _*)

    val lp = GraftBridge.analyzed(left)
    val rp = GraftBridge.analyzed(renamed)
    // Negation must preserve micros: Cast(timestamp, long) truncates to
    // seconds, so timestamps go through UnixMicros instead.
    def time(e: Expression): Expression =
      if (!forward) e
      else Multiply(e.dataType match {
        case TimestampType => UnixMicros(e)
        case _             => Cast(e, LongType)
      }, Literal(-1L))
    val plan = AsOfJoin(
      lp, rp,
      on.map(attr(lp, _)), on.map(k => attr(rp, k + rightSuffix)),
      time(asTime(attr(lp, leftTimeCol))),
      time(asTime(attr(rp, rightTimeCol + rightSuffix))),
      tiebreak.map(c => attr(rp, c + rightSuffix)),
      toleranceMicros)
    GraftBridge.ofRows(spark, plan)
  }

  private def attr(plan: LogicalPlan, name: String): Attribute =
    plan.output.find(_.name == name).getOrElse(throw new IllegalArgumentException(
      s"as-of join column '$name' not in [${plan.output.map(_.name).mkString(", ")}]"))

  /** The merge compares times as Long; timestamps already are micros
    * internally, anything else is cast.
    */
  private def asTime(a: Attribute): Expression = a.dataType match {
    case TimestampType | LongType => a
    case _                        => Cast(a, LongType)
  }
}
