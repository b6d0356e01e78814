package graft.engine

import scala.reflect.{classTag, ClassTag}

import org.apache.spark.sql.{SparkSession, SparkSessionExtensions}
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.expressions.{BloomFilterMightContain, Expression,
  ExpressionInfo}
import org.apache.spark.sql.catalyst.expressions.aggregate.BloomFilterAggregate
import org.apache.spark.sql.catalyst.plans.logical.LogicalPlan
import org.apache.spark.sql.catalyst.rules.Rule
import org.apache.spark.sql.classic.GraftBridge

import graft.functions._
import graft.plans.{AsOfJoinStrategy, GraftAsOfCond, PushFilterThroughAsOfJoin,
  RewriteAsOfMarkerJoin}

/** graft's SQL surface, kept once: the table of native Catalyst expressions
  * registered as SQL functions (usable from `call_function` and
  * `spark.sql`), plus the as-of join's planner strategy and optimizer rules.
  *
  * Two routes install it, both from this table: [[install]] on a running
  * session (`Session.local`, `Session.prepare` and every as-of join call it), and
  * [[GraftExtensions]] through `spark.sql.extensions` for sessions the
  * library never touches programmatically.
  */
object Functions {

  private def fn[E <: Expression: ClassTag](name: String, usage: String)(
      build: Seq[Expression] => Expression): SparkSessionExtensions#FunctionDescription =
    (FunctionIdentifier(name),
      new ExpressionInfo(classTag[E].runtimeClass.getName, null, name, usage, ""),
      build)

  /** A plan-time literal argument (n-gram width, window, band count, ...). */
  private def literal[T](e: Expression): T = e.eval(null).asInstanceOf[T]

  val table: Seq[SparkSessionExtensions#FunctionDescription] = Seq(
    fn[PolyHashExpr]("graft_poly_hash",
      "_FUNC_(str) - polynomial rolling hash of a string, as bigint")(
      e => PolyHashExpr(e.head)),
    fn[DotProductExpr]("graft_dot",
      "_FUNC_(a, b) - sequential dot product of two array<double>")(
      e => DotProductExpr(e(0), e(1))),
    fn[Int8QuantizeExpr]("graft_int8_quantize",
      "_FUNC_(v) - int8 quantization summary struct<qnorm2, err, amax> of an array<double>")(
      e => Int8QuantizeExpr(e.head)),
    fn[Int8CodesExpr]("graft_int8_codes",
      "_FUNC_(v) - int8 code vector of an array<double>, as array<int>")(
      e => Int8CodesExpr(e.head)),
    fn[RepetitionStatsExpr]("graft_rep_stats",
      "_FUNC_(tokens) - struct<distinct_ratio, top_share> of an array<string>")(
      e => RepetitionStatsExpr(e.head)),
    fn[TokenStatsExpr]("graft_token_stats",
      "_FUNC_(tokens) - length sum, stopword and language-marker hits of an array<string>")(
      e => TokenStatsExpr(e.head)),
    fn[PolyShinglesExpr]("graft_shingle_hashes",
      "_FUNC_(text, n) - polynomial hash of every word-n-gram shingle, as array<bigint>")(
      e => PolyShinglesExpr(e.head, literal[Int](e(1)))),
    fn[WinnowExpr]("graft_winnow",
      "_FUNC_(text, n, w) - distinct window-w minima of the word-n-gram hashes")(
      e => WinnowExpr(e.head, literal[Int](e(1)), literal[Int](e(2)))),
    fn[WinnowFpsExpr]("graft_winnow_fps",
      "_FUNC_(text, n, w) - one-pass struct<n_shingles, fps> of winnowed fingerprints")(
      e => WinnowFpsExpr(e.head, literal[Int](e(1)), literal[Int](e(2)))),
    fn[WinnowStatsExpr]("graft_winnow_stats",
      "_FUNC_(text, n, w) - per-document winnowing gate struct<n_shingles, n_fp, xor_fp>")(
      e => WinnowStatsExpr(e.head, literal[Int](e(1)), literal[Int](e(2)))),
    fn[MultiShinglesExpr]("graft_multi_shingle_hashes",
      "_FUNC_(text, 'n1,n2,...') - shingle hashes of several widths, as (n << 32) | hash")(
      e => MultiShinglesExpr(e.head, e(1).eval(null).toString.split(",").toSeq.map(_.trim.toInt))),
    fn[LshBandsExpr]("graft_lsh_bands",
      "_FUNC_(text, n, k, bands) - MinHash-LSH band keys of one document, as array<bigint>")(
      e => LshBandsExpr(e(0), literal[Int](e(1)), literal[Int](e(2)), literal[Int](e(3)))),
    fn[CutSpansExpr]("graft_cut_spans",
      "_FUNC_(text, cut_starts, n[, min_run]) - cut merged n-token windows of >= min_run tokens")(
      e => CutSpansExpr(e(0), e(1), literal[Int](e(2)),
        if (e.length > 3) literal[Int](e(3)) else 0)),
    fn[PqEncodeExpr]("graft_pq_encode",
      "_FUNC_(v, codebook, m) - product-quantization codes of v against a flattened codebook")(
      e => PqEncodeExpr(e(0), e(1), literal[Int](e(2)))),
    fn[PqDistTableExpr]("graft_pq_dist_table",
      "_FUNC_(q, codebook, m) - product-quantization distance table of a query vector")(
      e => PqDistTableExpr(e(0), e(1), literal[Int](e(2)))),
    fn[PqResidualExpr]("graft_pq_residual",
      "_FUNC_(v, codebook, cell) - residual of v against one codebook centroid")(
      e => PqResidualExpr(e(0), e(1), e(2))),
    // Spark's runtime-filter kernels, exposed for the explicit BloomPrune
    // operator.
    fn[BloomFilterAggregate]("graft_bloom_agg",
      "_FUNC_(key, est_items, num_bits) - Bloom filter aggregate over bigint join keys")(
      e => new BloomFilterAggregate(e(0), e(1), e(2))),
    fn[BloomFilterMightContain]("graft_might_contain",
      "_FUNC_(bloom, key) - Bloom filter membership probe")(
      e => BloomFilterMightContain(e(0), e(1))),
    // Aggregates: the analyzer wraps AggregateFunctions into
    // AggregateExpressions during resolution.
    fn[VectorSumAgg]("graft_vec_sum",
      "_FUNC_(v) - element-wise sum aggregate of array<double>")(
      e => VectorSumAgg(e.head)),
    fn[VectorMinAgg]("graft_vec_min",
      "_FUNC_(v) - element-wise min aggregate of array<bigint>")(
      e => VectorMinAgg(e.head)),
    fn[FreqItemsAgg]("graft_freq_items",
      "_FUNC_(item, k) - bounded-memory top-k frequent items sketch")(
      e => FreqItemsAgg(e.head, literal[Int](e(1)))),
    // As-of SQL surface: marker predicates that RewriteAsOfMarkerJoin
    // rewrites into the AsOfJoin operator (see plans/AsOfSql.scala).
    fn[GraftAsOfCond]("graft_asof",
      "_FUNC_(left_time, right_time[, tolerance_micros]) - backward as-of marker in a JOIN")(
      e => GraftAsOfCond(e, forward = false)),
    fn[GraftAsOfCond]("graft_asof_fwd",
      "_FUNC_(left_time, right_time[, tolerance_micros]) - forward as-of marker in a JOIN")(
      e => GraftAsOfCond(e, forward = true))
  )

  /** The as-of join's optimizer rules, installed with [[AsOfJoinStrategy]]. */
  val asOfRules: Seq[Rule[LogicalPlan]] =
    Seq(RewriteAsOfMarkerJoin, PushFilterThroughAsOfJoin)

  /** Registers the table's functions, the as-of strategy and its rules on
    * `spark`, skipping whatever the session already has, from either route.
    * Idempotent, and cheap enough for the per-query `Session.prepare`.
    */
  def install(spark: SparkSession): Unit = {
    val registry = spark.sessionState.functionRegistry
    table.foreach { case (id, info, builder) =>
      if (!registry.functionExists(id)) registry.registerFunction(id, info, builder)
    }
    GraftBridge.install(spark, AsOfJoinStrategy, asOfRules)
  }
}
