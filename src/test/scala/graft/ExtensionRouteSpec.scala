package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

import graft.engine.{GraftExtensions, Session}
import graft.plans.{AsOfJoinStrategy, PushFilterThroughAsOfJoin, RewriteAsOfMarkerJoin}

/** The `spark.sql.extensions` install route against the programmatic one.
  * `ext` is a session whose only graft hook is [[GraftExtensions]]; the
  * shared `TestSpark` session is built by `Session.local`. Both must carry
  * the same functions, with the same descriptions, and installing again on
  * either must add nothing.
  */
class ExtensionRouteSpec extends AnyFunSuite {
  private lazy val shared = TestSpark.spark

  /** Built with the active and default sessions cleared, so the builder
    * makes a new session (on the shared SparkContext) instead of returning
    * the shared one; the shared session is restored as both afterwards.
    */
  private lazy val ext: SparkSession = {
    val restore = shared
    SparkSession.clearActiveSession()
    SparkSession.clearDefaultSession()
    try SparkSession.builder().withExtensions(new GraftExtensions).getOrCreate()
    finally {
      SparkSession.setDefaultSession(restore)
      SparkSession.setActiveSession(restore)
    }
  }

  private def graftFunctions(s: SparkSession): Set[String] =
    s.sessionState.functionRegistry.listFunction().map(_.funcName)
      .filter(_.startsWith("graft_")).toSet

  private val asOfTables = Seq(
    "CREATE OR REPLACE TEMP VIEW ext_l AS SELECT * FROM VALUES " +
      "(1L, 10L, 100L), (1L, 25L, 200L), (2L, 7L, 300L) AS t(user_id, ts, pid)",
    "CREATE OR REPLACE TEMP VIEW ext_r AS SELECT * FROM VALUES " +
      "(1L, 9L, 1L), (1L, 20L, 2L), (1L, 20L, 3L), (2L, 8L, 4L) AS t(c_user, c_ts, cid)")

  private def asOfJoin(marker: String) =
    s"""SELECT l.pid, r.c_ts FROM ext_l l LEFT JOIN ext_r r
       |  ON l.user_id = r.c_user AND $marker(l.ts, r.c_ts) ORDER BY l.pid""".stripMargin

  private val bloom =
    "(SELECT graft_bloom_agg(k, 100L, 1024L) FROM VALUES (1L), (2L) AS t(k))"

  /** One call per registered function. Binary results are compared as hex. */
  private val calls = Map(
    "graft_poly_hash" -> "SELECT graft_poly_hash('abc')",
    "graft_dot" -> "SELECT graft_dot(array(1d, 2d), array(3d, 4d))",
    "graft_int8_quantize" -> "SELECT graft_int8_quantize(array(1d, -2d, 0.5d))",
    "graft_int8_codes" -> "SELECT graft_int8_codes(array(1d, -2d, 0.5d))",
    "graft_rep_stats" -> "SELECT graft_rep_stats(array('a', 'b', 'a'))",
    "graft_token_stats" -> "SELECT graft_token_stats(array('the', 'und', 'cat'))",
    "graft_shingle_hashes" -> "SELECT graft_shingle_hashes('a b c d', 2)",
    "graft_winnow" -> "SELECT graft_winnow('a b c d e f g', 2, 3)",
    "graft_winnow_fps" -> "SELECT graft_winnow_fps('a b c d e f g', 2, 3)",
    "graft_winnow_stats" -> "SELECT graft_winnow_stats('a b c d e f g', 2, 3)",
    "graft_multi_shingle_hashes" ->
      "SELECT graft_multi_shingle_hashes('a b c d', '2,3')",
    "graft_lsh_bands" -> "SELECT graft_lsh_bands('a b c d e f', 2, 4, 2)",
    "graft_cut_spans" -> "SELECT graft_cut_spans('a b c d e f', array(1), 2)",
    "graft_pq_encode" ->
      "SELECT graft_pq_encode(array(1d, 2d), array(0d, 0d, 1d, 2d), 1)",
    "graft_pq_dist_table" ->
      "SELECT graft_pq_dist_table(array(1d, 2d), array(0d, 0d, 1d, 2d), 1)",
    "graft_pq_residual" ->
      "SELECT graft_pq_residual(array(1d, 2d), array(0d, 0d, 1d, 2d), 1)",
    "graft_bloom_agg" -> s"SELECT hex($bloom)",
    "graft_might_contain" ->
      s"SELECT graft_might_contain($bloom, 1L), graft_might_contain($bloom, 7L)",
    "graft_vec_sum" ->
      "SELECT graft_vec_sum(v) FROM VALUES (array(1d, 2d)), (array(3d, 4d)) AS t(v)",
    "graft_vec_min" ->
      "SELECT graft_vec_min(v) FROM VALUES (array(1L, 5L)), (array(3L, 4L)) AS t(v)",
    "graft_freq_items" ->
      "SELECT graft_freq_items(w, 2) FROM VALUES ('a'), ('a'), ('b') AS t(w)",
    "graft_asof" -> asOfJoin("graft_asof"),
    "graft_asof_fwd" -> asOfJoin("graft_asof_fwd"))

  private def rows(s: SparkSession, sql: String): Seq[String] =
    s.sql(sql).collect().map(_.toString).toSeq

  test("the extension route registers exactly Session.local's function set") {
    val want = graftFunctions(shared)
    val got = graftFunctions(ext)
    assert(want.nonEmpty)
    assert(got === want,
      s"missing on the extension route: ${want -- got}; extra: ${got -- want}")
  }

  test("every function is callable on the extension route, with the same result") {
    assert(calls.keySet === graftFunctions(shared),
      "every registered function needs one call here")
    Seq(ext, shared).foreach(s => asOfTables.foreach(s.sql))
    calls.toSeq.sortBy(_._1).foreach { case (name, sql) =>
      val got = rows(ext, sql)
      assert(got.nonEmpty, name)
      assert(got === rows(shared, sql), name)
    }
  }

  test("a graft_asof SQL join plans through AsOfJoinStrategy on the extension route") {
    assert(!ext.experimental.extraStrategies.contains(AsOfJoinStrategy),
      "the strategy must come from the extension, not from an install call")
    assert(ext.sessionState.planner.strategies.contains(AsOfJoinStrategy))
    asOfTables.foreach(ext.sql)
    val out = ext.sql(asOfJoin("graft_asof"))
    val phys = out.queryExecution.executedPlan.toString
    assert(phys.contains("AsOfJoin"), s"expected an as-of exec in:\n$phys")
    assert(out.collect().map(r => (r.getLong(0), Option(r.get(1)))).toSeq ===
      Seq((100L, Some(9L)), (200L, Some(20L)), (300L, None)))
  }

  test("graft_asof tolerance, forward and INNER variants on the extension route") {
    // SqlSurfaceSpec's variants on the same rows. The extension injects
    // the marker rewrite into the operator-optimization batch, not into
    // extraOptimizations; each variant must still plan as an as-of join
    // and return the same rows as on the Session.local route.
    asOfTables.foreach(ext.sql)
    def run(join: String, marker: String): Set[(Long, Option[Long])] = {
      val out = ext.sql(
        s"""SELECT l.pid, r.c_ts FROM ext_l l $join ext_r r
           |  ON l.user_id = r.c_user AND $marker""".stripMargin)
      val phys = out.queryExecution.executedPlan.toString
      assert(phys.contains("AsOfJoin"), s"$marker: expected an as-of exec in:\n$phys")
      out.collect().map(r => (r.getLong(0), Option(r.get(1)).map(_.asInstanceOf[Long])))
        .toSet
    }
    assert(run("LEFT JOIN", "graft_asof(l.ts, r.c_ts, 3L)") ===
      Set((100L, Some(9L)), (200L, None), (300L, None)))
    assert(run("LEFT JOIN", "graft_asof_fwd(l.ts, r.c_ts)") ===
      Set((100L, Some(20L)), (200L, None), (300L, Some(8L))))
    assert(run("JOIN", "graft_asof(l.ts, r.c_ts)") ===
      Set((100L, Some(9L)), (200L, Some(20L))))
  }

  test("install is idempotent on both routes, and both describe functions alike") {
    def strategies(s: SparkSession) =
      s.sessionState.planner.strategies.count(_ == AsOfJoinStrategy)
    def rules(s: SparkSession) =
      s.experimental.extraOptimizations ++
        s.sessionState.optimizer.extendedOperatorOptimizationRules

    Session.prepare(shared)
    Session.prepare(shared)
    assert(shared.experimental.extraStrategies.count(_ == AsOfJoinStrategy) === 1)
    Seq(RewriteAsOfMarkerJoin, PushFilterThroughAsOfJoin).foreach { rule =>
      assert(shared.experimental.extraOptimizations.count(_ == rule) === 1, rule)
    }

    Session.prepare(ext)
    assert(!ext.experimental.extraStrategies.contains(AsOfJoinStrategy))
    assert(strategies(ext) === 1)
    Seq(RewriteAsOfMarkerJoin, PushFilterThroughAsOfJoin).foreach { rule =>
      assert(rules(ext).count(_ == rule) === 1, rule)
    }

    val describe = "DESCRIBE FUNCTION graft_dot"
    val usage = rows(ext, describe).filter(_.contains("Usage:"))
    assert(usage.exists(_.contains("dot product")), usage)
    assert(rows(shared, describe) === rows(ext, describe))
  }
}
