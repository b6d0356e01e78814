package graft

import org.scalatest.funsuite.AnyFunSuite

/** The registered function surface through plain `spark.sql`, on the
  * shared session, where `Functions.install` registered it. The
  * `spark.sql.extensions` route injects the same `Functions.table`;
  * ExtensionRouteSpec checks that the two routes agree.
  */
class SqlSurfaceSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark

  test("scalar expressions are callable from SQL") {
    val r = spark.sql(
      """SELECT graft_poly_hash('abc') AS h,
        |       graft_dot(array(1.0d, 2.0d), array(3.0d, 4.0d)) AS d,
        |       size(graft_shingle_hashes('one two three four', 3)) AS n
        |""".stripMargin).collect().head
    // h = ((('a'*31)+'b')*31+'c') mod 1e9+7 = computed by the same kernel
    assert(r.getLong(0) === graft.functions.PolyHashExpr.hash("abc"))
    assert(r.getDouble(1) === 11.0)
    assert(r.getInt(2) === 2) // two word-3-grams in four words

    val wn = spark.sql(
      """SELECT size(graft_winnow('a b c d e f g h', 3, 4)) AS n_fp,
        |       graft_winnow_stats('a b c d e f g h', 3, 4) AS st
        |""".stripMargin).collect().head
    assert(wn.getInt(0) >= 1) // 6 shingles, 3 windows -> >=1 distinct min
    val st = wn.getStruct(1)
    assert(st.getInt(0) === 6 && st.getInt(1) === wn.getInt(0))
  }

  test("aggregates are callable from SQL with GROUP BY") {
    spark.sql(
      """SELECT * FROM VALUES (1, array(1.0d, 2.0d)), (1, array(10.0d, 20.0d)),
        |                     (2, array(5.0d, 5.0d)) AS t(g, v)""".stripMargin)
      .createOrReplaceTempView("sqlsurface_v")
    val rows = spark.sql(
      """SELECT g, graft_vec_sum(v) AS s FROM sqlsurface_v GROUP BY g ORDER BY g""")
      .collect()
    assert(rows(0).getSeq[Double](1) === Seq(11.0, 22.0))
    assert(rows(1).getSeq[Double](1) === Seq(5.0, 5.0))

    val freq = spark.sql(
      """SELECT graft_freq_items(w, 2) AS top FROM VALUES ('a'), ('a'), ('b')
        |AS t(w)""".stripMargin).collect().head
    val top = freq.getSeq[org.apache.spark.sql.Row](0)
    assert(top.head.getString(0) === "a" && top.head.getLong(1) === 2L)
  }

  test("graft_asof marker in SQL rewrites to the AsOfJoin operator") {
    import spark.implicits._
    Seq((1L, 10L, 100L), (1L, 25L, 200L), (2L, 7L, 300L))
      .toDF("user_id", "ts", "pid").createOrReplaceTempView("asof_sql_l")
    Seq((1L, 9L, 1L), (1L, 20L, 2L), (1L, 20L, 3L), (2L, 8L, 4L))
      .toDF("c_user", "c_ts", "cid").createOrReplaceTempView("asof_sql_r")
    val out = spark.sql(
      """SELECT l.pid, r.c_ts FROM asof_sql_l l
        |LEFT JOIN asof_sql_r r
        |  ON l.user_id = r.c_user AND graft_asof(l.ts, r.c_ts)
        |""".stripMargin)
    // physical plan must be the as-of exec, not a regular join
    val phys = out.queryExecution.executedPlan.toString
    assert(phys.contains("AsOfJoin"), s"expected AsOfJoinExec in:\n$phys")
    val got = out.as[(Long, Option[Long])].collect().toSet
    assert(got === Set((100L, Some(9L)), (200L, Some(20L)), (300L, None)))
  }

  test("graft_asof tolerance + forward + INNER variants") {
    import spark.implicits._
    // tolerance 3: purchase@25's best click is 20, gap 5 > 3 -> no match
    val tol = spark.sql(
      """SELECT l.pid, r.c_ts FROM asof_sql_l l
        |LEFT JOIN asof_sql_r r
        |  ON l.user_id = r.c_user AND graft_asof(l.ts, r.c_ts, 3L)
        |""".stripMargin).as[(Long, Option[Long])].collect().toSet
    assert(tol === Set((100L, Some(9L)), (200L, None), (300L, None)))
    // forward: earliest right at-or-after left
    val fwd = spark.sql(
      """SELECT l.pid, r.c_ts FROM asof_sql_l l
        |LEFT JOIN asof_sql_r r
        |  ON l.user_id = r.c_user AND graft_asof_fwd(l.ts, r.c_ts)
        |""".stripMargin).as[(Long, Option[Long])].collect().toSet
    assert(fwd === Set((100L, Some(20L)), (200L, None), (300L, Some(8L))))
    // INNER drops the unmatched left row
    val inner = spark.sql(
      """SELECT l.pid, r.c_ts FROM asof_sql_l l
        |JOIN asof_sql_r r
        |  ON l.user_id = r.c_user AND graft_asof(l.ts, r.c_ts)
        |""".stripMargin).as[(Long, Long)].collect().toSet
    assert(inner === Set((100L, 9L), (200L, 20L)))
  }
}
