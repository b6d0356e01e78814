package graft.queries

import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.{DataFrame, SparkSession}

import Tables.t

/** Relational query surface over the TPC-H-ish testdata tables: aggregates
  * (A1–A4), sorts/limits/set-ops (§2.6), windows, grouping sets, and the join
  * matrix (broadcast/semi/anti/multi-join). Each query has a DuckDB oracle.
  *
  * Float outputs are explicitly rounded on BOTH sides so hash equality is
  * immune to summation-order differences between engines.
  */
object Relational {

  type Q = (SparkSession, String) => DataFrame

  val queries: Map[String, Q] = Map(
    // A1/A2: count + sum/avg/stddev_pop per group (main.py:72,111-113 analog;
    // numpy std is population => stddev_pop, SURVEY §2.7 A2).
    "q1_agg" -> ((s, dir) => {
      t(s, dir, "lineitem")
        .groupBy("l_returnflag", "l_linestatus")
        .agg(
          count(lit(1)).as("cnt"),
          round(sum("l_quantity"), 2).as("sum_qty"),
          round(avg("l_extendedprice"), 6).as("avg_price"),
          round(stddev_pop(col("l_discount")), 6).as("std_disc"),
          round(max("l_tax"), 2).as("max_tax"))
    }),

    // A3: count distinct (main.py:109-110 analog).
    // Three distincts over different keys in ONE agg would Expand every
    // row x3 and shuffle the union of all three pair sets through a single
    // exchange; three independent 2-column distinct aggs (each fully
    // codegen'd, each shuffling only its own distinct pairs) joined on the
    // 3-row group key are cheaper and parallelize as independent stages.
    "a3_count_distinct" -> ((s, dir) => {
      val li = t(s, dir, "lineitem")
      def cd(key: String, as: String) =
        li.select("l_returnflag", key).distinct()
          .groupBy("l_returnflag").agg(count(lit(1)).as(as))
      cd("l_partkey", "n_parts")
        .join(broadcast(cd("l_suppkey", "n_supps")), "l_returnflag")
        .join(broadcast(cd("l_orderkey", "n_orders")), "l_returnflag")
    }),

    // A4: first-match reduce — first lineitem of each order in line order
    // (data_loader.py:69-70 `iloc[0]` analog, made deterministic via min_by).
    "a4_first_match" -> ((s, dir) => {
      t(s, dir, "lineitem")
        .groupBy("l_orderkey")
        .agg(
          // deterministic first-match even when l_linenumber ties: order by
          // the composite (linenumber, partkey) key
          min_by(col("l_partkey"),
            col("l_linenumber").cast("long") * 1000000000L + col("l_partkey"))
            .as("first_part"),
          min("l_linenumber").as("first_line"))
    }),

    // J2: broadcast dimension join (feature_extractor.py:98-103 analog —
    // 10-row supplier dim takes the broadcast side).
    "j2_broadcast_join" -> ((s, dir) => {
      val li = t(s, dir, "lineitem")
      val sup = t(s, dir, "supplier")
      li.join(broadcast(sup), li("l_suppkey") === sup("s_suppkey"))
        .groupBy("s_name")
        .agg(count(lit(1)).as("n"), round(sum("l_extendedprice"), 2).as("rev"))
    }),

    // O2: min/max over columns (main.py:51-53,72 analog).
    "o2_minmax" -> ((s, dir) => {
      t(s, dir, "lineitem").agg(
        min("l_shipdate").as("min_ship"),
        max("l_shipdate").as("max_ship"),
        round(min("l_extendedprice"), 2).as("min_price"),
        round(max("l_extendedprice"), 2).as("max_price"))
    }),

    // §2.6 surface: top-k with deterministic tie-break.
    "o3_topk" -> ((s, dir) => {
      t(s, dir, "lineitem")
        .groupBy("l_partkey")
        .agg(round(sum("l_extendedprice"), 2).as("rev"))
        .orderBy(desc("rev"), col("l_partkey"))
        .limit(10)
    }),

    // window functions: per-supplier event-order numbering + running sum.
    "w1_window" -> ((s, dir) => {
      val w = Window.partitionBy("l_suppkey")
        .orderBy("l_shipdate", "l_orderkey", "l_linenumber")
      t(s, dir, "lineitem")
        .withColumn("rn", row_number().over(w))
        .withColumn("run_qty",
          round(sum("l_quantity").over(
            w.rowsBetween(Window.unboundedPreceding, 0)), 2))
        .filter(col("rn") <= 5)
        .select("l_suppkey", "rn", "l_orderkey", "l_linenumber", "run_qty")
    }),

    // grouping sets via ROLLUP.
    "a5_rollup" -> ((s, dir) => {
      t(s, dir, "lineitem")
        .rollup("l_returnflag", "l_linestatus")
        .agg(count(lit(1)).as("cnt"), round(sum("l_quantity"), 2).as("sum_qty"))
    }),

    // set operations: INTERSECT / EXCEPT / UNION (distinct).
    "o4_setops" -> ((s, dir) => {
      val li = t(s, dir, "lineitem").filter(col("l_returnflag") === "R")
        .select(col("l_orderkey").as("k"))
      val o = t(s, dir, "orders").filter(col("o_orderstatus") === "F")
        .select(col("o_orderkey").as("k"))
      val mk = (op: String, df: DataFrame) =>
        df.agg(count(lit(1)).as("n")).select(lit(op).as("op"), col("n"))
      mk("intersect", li.intersect(o))
        .union(mk("except", o.except(li)))
        .union(mk("union", li.union(o).distinct()))
    }),

    // SCD1 merge/upsert (ops/Merge): a stale customer snapshot (keys
    // <= 1200) receives a delta of recent-order balances — shared column
    // `balance` takes the delta's value, snapshot-only `name` carries
    // forward, delta-only `n_orders` appears, and keys new to the snapshot
    // insert. One full-outer equi-join; bucketed layout makes it
    // shuffle-free at 100 TB (j8 proves the layout).
    "o9_merge_upsert" -> ((s, dir) => {
      val base = t(s, dir, "customer")
        .filter(col("c_custkey") <= 1200)
        .select(col("c_custkey").as("key"), col("c_name").as("name"),
          round(col("c_acctbal"), 2).as("balance"))
      val updates = t(s, dir, "orders")
        .filter(col("o_orderdate") >= expr("TIMESTAMP '2001-01-01'"))
        .groupBy(col("o_custkey").as("key"))
        .agg(round(sum("o_totalprice"), 2).as("balance"),
          count(lit(1)).as("n_orders"))
      graft.ops.Merge.upsert(base, updates, "key")
    }),

    // semi/anti joins (drop-on-missing semantics family, SURVEY §2.3 note).
    "j4_semi_anti" -> ((s, dir) => {
      val c = t(s, dir, "customer")
      val o = t(s, dir, "orders").select(col("o_custkey").as("c_custkey"))
      val semi = c.join(o, Seq("c_custkey"), "left_semi")
        .agg(count(lit(1)).as("n")).select(lit("semi").as("op"), col("n"))
      val anti = c.join(o, Seq("c_custkey"), "left_anti")
        .agg(count(lit(1)).as("n")).select(lit("anti").as("op"), col("n"))
      semi.union(anti)
    }),

    // selective range-predicate aggregation (TPC-H q6 shape) — the filters
    // must reach the parquet scan (PushedFilters), columns pruned to 4.
    "q6_selective" -> ((s, dir) =>
      t(s, dir, "lineitem")
        .filter(col("l_shipdate") >= lit("1995-01-01").cast("timestamp") &&
          col("l_shipdate") < lit("1996-01-01").cast("timestamp") &&
          col("l_discount").between(0.03, 0.07) &&
          col("l_quantity") < 24)
        .agg(round(sum(col("l_extendedprice") * col("l_discount")), 2).as("revenue"),
          count(lit(1)).as("n"))),

    // join + filter + top-k (TPC-H q3 shape).
    // TPC-H Q5 shape — the classic 6-table "local supplier volume" star:
    // fact lineitem ⋈ orders (date-pruned) ⋈ customer ⋈ supplier with the
    // SAME-NATION predicate riding the supplier join, nation⋈region
    // broadcast. Every join keyed; the date filter pushes to the orders
    // scan; the dims broadcast.
    "q5_local_supplier" -> ((s, dir) => {
      val c = t(s, dir, "customer").select("c_custkey", "c_nationkey")
      val o = t(s, dir, "orders")
        .filter(col("o_orderdate") >= lit("1996-01-01").cast("timestamp") &&
          col("o_orderdate") < lit("1997-01-01").cast("timestamp"))
        .select("o_orderkey", "o_custkey")
      val li = t(s, dir, "lineitem")
        .select("l_orderkey", "l_suppkey", "l_extendedprice", "l_discount")
      val su = t(s, dir, "supplier").select("s_suppkey", "s_nationkey")
      val nr = t(s, dir, "nation")
        .join(broadcast(t(s, dir, "region")
          .filter(col("r_name") === "ASIA").select("r_regionkey")),
          col("n_regionkey") === col("r_regionkey"))
        .select("n_nationkey", "n_name")
      li.join(o, col("l_orderkey") === col("o_orderkey"))
        .join(c, col("o_custkey") === col("c_custkey"))
        .join(broadcast(su),
          col("l_suppkey") === col("s_suppkey") &&
            col("c_nationkey") === col("s_nationkey"))
        .join(broadcast(nr), col("s_nationkey") === col("n_nationkey"))
        .groupBy("n_name")
        .agg(round(sum(col("l_extendedprice") * (lit(1) - col("l_discount"))), 2)
          .as("revenue"))
    }),

    "q3_shipping" -> ((s, dir) => {
      val o = t(s, dir, "orders").filter(col("o_orderpriority") =!= "1-URGENT")
      val li = t(s, dir, "lineitem")
      li.join(o, li("l_orderkey") === o("o_orderkey"))
        .groupBy("l_orderkey")
        .agg(round(sum(col("l_extendedprice") * (lit(1) - col("l_discount"))), 2).as("revenue"),
          min("o_orderdate").as("odate"))
        .orderBy(desc("revenue"), col("l_orderkey"))
        .limit(20)
    }),

    // CUBE grouping sets.
    "a6_cube" -> ((s, dir) =>
      t(s, dir, "lineitem")
        .cube("l_returnflag", "l_linestatus")
        .agg(count(lit(1)).as("cnt"), round(avg("l_discount"), 6).as("avg_disc"))),

    // sketch aggregates (HLL / quantile). Sketch internals are engine-
    // specific, so the checkable output is exact stats + booleans asserting
    // the documented error bounds: HLL rsd defaults to 5% (we allow 3σ =
    // 15% rel error); percentile_approx(acc=1000) has rank error ≤ 1/1000,
    // so its p50 must land between the exact 49th and 51st percentiles.
    // The oracle emits the exact stats + literal TRUEs — a hash match
    // therefore PROVES the bounds held (upgraded from rows-only, round 3).
    // The p50 bound is verified by RANK, not by exact percentiles: count
    // how many rows fall at-or-under the sketch's p50 and require that
    // fraction to land in [0.49, 0.51] (rank error of acc=1000 is 1e-3).
    // An exact `percentile` per group would build a per-group value map —
    // ~6s at sf0.1 for a check the counting pass does in one cheap scan.
    "a7_approx_sketches" -> ((s, dir) => {
      val li = t(s, dir, "lineitem")
      val sk = li.groupBy("l_returnflag")
        .agg(approx_count_distinct(col("l_partkey")).as("_approx"),
          percentile_approx(col("l_extendedprice"), lit(0.5), lit(1000)).as("_p50"))
      // Exact distinct in its own pass: a mixed distinct+sums aggregate
      // Expands every joined row x2; two simple codegen aggs beat it.
      val exact = li.select("l_returnflag", "l_partkey").distinct()
        .groupBy("l_returnflag").agg(count(lit(1)).as("exact_parts"))
      li.select("l_returnflag", "l_extendedprice")
        .join(broadcast(sk), "l_returnflag")
        .groupBy("l_returnflag")
        .agg(first(col("_approx")).as("_a"),
          count(lit(1)).as("_n"),
          sum(when(col("l_extendedprice") <= col("_p50"), 1L).otherwise(0L)).as("_le"),
          sum(when(col("l_extendedprice") < col("_p50"), 1L).otherwise(0L)).as("_lt"))
        .join(broadcast(exact), "l_returnflag")
        .select(col("l_returnflag"), col("exact_parts"),
          (abs(col("_a") - col("exact_parts")) <=
            lit(0.15) * col("exact_parts")).as("cd_ok"),
          (col("_le") >= lit(0.49) * col("_n") &&
            col("_lt") <= lit(0.51) * col("_n")).as("p50_ok"))
    }),

    // Bloom-filter semi-join pruning: lineitem rows kept only for urgent
    // orders — the Bloom filter (a one-row scalar subquery, broadcast to
    // every scan task) drops most fact rows before the exact semi-join's
    // shuffle; false positives are removed by the verify join, so the
    // result (and the oracle) is the plain semi join. The aggregate output
    // makes the gate a one-row exact check.
    "j7_bloom_semi" -> ((s, dir) => {
      val urgent = t(s, dir, "orders")
        .filter(col("o_orderpriority") === "1-URGENT")
        .select(col("o_orderkey").as("l_orderkey"))
      graft.ops.BloomPrune.semiJoinPruned(
          t(s, dir, "lineitem"), urgent, "l_orderkey",
          estItems = 100000L, numBits = 1L << 20)
        .agg(count(lit(1)).as("n_rows"),
          round(sum("l_extendedprice"), 2).as("sum_price"))
    }),

    // Equi-width histogram via width_bucket: one codegen'd bucket expr +
    // one partial-aggregated groupBy — the distribution-profiling scan a
    // data pipeline runs before choosing split points / salt factors.
    "a8_histogram" -> ((s, dir) =>
      t(s, dir, "lineitem")
        .select(col("l_returnflag"),
          width_bucket(col("l_quantity"), lit(0d), lit(50d), lit(10L))
            .cast("int").as("bucket"),
          col("l_extendedprice"))
        .groupBy("l_returnflag", "bucket")
        .agg(count(lit(1)).as("n"),
          round(sum("l_extendedprice"), 2).as("sum_price"))),

    // Exact order statistics + bivariate aggregates: median / p90 via the
    // exact percentile aggregate (the sort-based complement of a7's
    // sketches — use this when the group count is modest and the answer
    // must be exact), plus Pearson correlation and sample covariance.
    "a10_exact_stats" -> ((s, dir) =>
      t(s, dir, "lineitem")
        .groupBy("l_returnflag")
        .agg(
          round(expr("percentile(l_quantity, 0.5)"), 6).as("median_qty"),
          round(expr("percentile(l_extendedprice, 0.9)"), 6).as("p90_price"),
          round(corr(col("l_quantity"), col("l_extendedprice")), 6).as("corr_qp"),
          round(covar_samp(col("l_quantity"), col("l_extendedprice")), 4)
            .as("covar_qp"))),

    // Pivot (long→wide reshaping): daily order counts per priority as one
    // row per day with a column per priority — explicit value list, so the
    // schema is static and no extra distinct-values job runs (at 100 TB an
    // implicit pivot burns a full scan just to learn the columns). Missing
    // (day, priority) cells are true zeros, pinned with na.fill to match
    // the conditional-aggregation form the oracle uses.
    "a9_pivot" -> ((s, dir) =>
      t(s, dir, "orders")
        .select(to_date(col("o_orderdate")).as("day"), col("o_orderpriority"))
        .groupBy("day")
        .pivot("o_orderpriority",
          Seq("1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"))
        .agg(count(lit(1)))
        .na.fill(0L)
        .select(col("day"), col("1-URGENT").as("p1"), col("2-HIGH").as("p2"),
          col("3-MEDIUM").as("p3"), col("4-NOT SPECIFIED").as("p4"),
          col("5-LOW").as("p5"))),

    // Bucketed-storage co-located join: both fact tables are written
    // bucketed (and per-bucket sorted) on the join key, then sort-merge
    // joined and aggregated on that key with ZERO Exchange operators — the
    // shuffle is paid once at write time and amortized over every
    // subsequent join/agg on the key. At 100 TB pre-bucketed layout is the
    // single biggest lever for repeated fact-to-fact joins; the merge hint
    // pins the SMJ path so the plan proof is about bucketing, not about
    // the broadcast threshold at toy scale. PlanAudit shows this query's
    // plan with no Exchange lines.
    "j8_bucketed_join" -> ((s, dir) => {
      val store = Tables.store(s, "graft_bucketed_", dir)
      store.write(
        t(s, dir, "lineitem").select("l_orderkey", "l_extendedprice", "l_discount"),
        "li_bkt", nBuckets = 8, keys = Seq("l_orderkey"))
      store.write(t(s, dir, "orders").select("o_orderkey", "o_totalprice"),
        "ord_bkt", nBuckets = 8, keys = Seq("o_orderkey"))
      val bl = store.read("li_bkt")
      val bo = store.read("ord_bkt")
      bl.hint("merge").join(bo, bl("l_orderkey") === bo("o_orderkey"))
        .groupBy("l_orderkey")
        .agg(count(lit(1)).as("n_items"),
          // Exact integer revenue, not round(sum(...), 2): price has 2
          // decimals and discount 2, so each term is integral in 1e-4 units
          // (up to one FP ulp, which the per-term round removes); the sum
          // of longs is then order-independent, where a double sum rounds
          // differently between engines at half-way points.
          sum(round(col("l_extendedprice") * (lit(1) - col("l_discount"))
            * 10000).cast("long")).as("revenue_e4"),
          floor(max("o_totalprice") * 100).cast("long").as("o_total_cents"))
    }),

    // multi-way join across the star schema (region..lineitem), revenue per
    // nation — exercises join ordering + AQE broadcast selection.
    "j5_star_join" -> ((s, dir) => {
      val li = t(s, dir, "lineitem")
      val ord = t(s, dir, "orders")
      val cust = t(s, dir, "customer")
      val sup = t(s, dir, "supplier")
      val nat = t(s, dir, "nation")
      val reg = t(s, dir, "region")
      li.join(ord, li("l_orderkey") === ord("o_orderkey"))
        .join(cust, ord("o_custkey") === cust("c_custkey"))
        .join(broadcast(sup), li("l_suppkey") === sup("s_suppkey"))
        .join(broadcast(nat), sup("s_nationkey") === nat("n_nationkey"))
        .join(broadcast(reg), nat("n_regionkey") === reg("r_regionkey"))
        .groupBy("r_name", "n_name")
        .agg(
          round(sum(col("l_extendedprice") * (lit(1) - col("l_discount"))), 2).as("rev"),
          count(lit(1)).as("n"))
    })
  )

  val oracle: Map[String, String] = Map(
    "o9_merge_upsert" ->
      """WITH base AS (
        |  SELECT c_custkey AS key, c_name AS name,
        |         round(c_acctbal, 2) AS balance
        |  FROM customer WHERE c_custkey <= 1200),
        |upd AS (
        |  SELECT o_custkey AS key, round(sum(o_totalprice), 2) AS balance,
        |         count(*) AS n_orders
        |  FROM orders WHERE o_orderdate >= DATE '2001-01-01'
        |  GROUP BY o_custkey)
        |SELECT COALESCE(b.key, u.key) AS key, b.name AS name,
        |  COALESCE(u.balance, b.balance) AS balance, u.n_orders AS n_orders,
        |  CASE WHEN b.key IS NOT NULL AND u.key IS NOT NULL THEN 'updated'
        |       WHEN b.key IS NULL THEN 'inserted'
        |       ELSE 'kept' END AS action
        |FROM base b FULL OUTER JOIN upd u ON b.key = u.key""".stripMargin,
    "a7_approx_sketches" ->
      """SELECT l_returnflag, count(DISTINCT l_partkey) AS exact_parts,
        |  TRUE AS cd_ok, TRUE AS p50_ok
        |FROM lineitem GROUP BY l_returnflag""".stripMargin,
    "a10_exact_stats" ->
      """SELECT l_returnflag,
        |  round(quantile_cont(l_quantity, 0.5), 6) AS median_qty,
        |  round(quantile_cont(l_extendedprice, 0.9), 6) AS p90_price,
        |  round(corr(l_quantity, l_extendedprice), 6) AS corr_qp,
        |  round(covar_samp(l_quantity, l_extendedprice), 4) AS covar_qp
        |FROM lineitem GROUP BY l_returnflag""".stripMargin,
    "a9_pivot" ->
      """SELECT CAST(o_orderdate AS DATE) AS day,
        |  count(*) FILTER (o_orderpriority = '1-URGENT') AS p1,
        |  count(*) FILTER (o_orderpriority = '2-HIGH') AS p2,
        |  count(*) FILTER (o_orderpriority = '3-MEDIUM') AS p3,
        |  count(*) FILTER (o_orderpriority = '4-NOT SPECIFIED') AS p4,
        |  count(*) FILTER (o_orderpriority = '5-LOW') AS p5
        |FROM orders GROUP BY 1""".stripMargin,
    // width_bucket(x, 0, 50, 10) == 1 + floor(x/5) on [0, 50), and n+1 at
    // or above the upper bound — the closed form the oracle uses.
    "a8_histogram" ->
      """SELECT l_returnflag,
        |  CAST(least(1 + floor(l_quantity / 5), 11) AS INT) AS bucket,
        |  count(*) AS n, round(sum(l_extendedprice), 2) AS sum_price
        |FROM lineitem GROUP BY 1, 2""".stripMargin,
    "j7_bloom_semi" ->
      """SELECT count(*) AS n_rows, round(sum(l_extendedprice), 2) AS sum_price
        |FROM lineitem l
        |WHERE EXISTS (
        |  SELECT 1 FROM orders o
        |  WHERE o.o_orderkey = l.l_orderkey
        |    AND o.o_orderpriority = '1-URGENT')""".stripMargin,
    "q1_agg" ->
      """SELECT l_returnflag, l_linestatus, count(*) AS cnt,
        | round(sum(l_quantity), 2) AS sum_qty,
        | round(avg(l_extendedprice), 6) AS avg_price,
        | round(stddev_pop(l_discount), 6) AS std_disc,
        | round(max(l_tax), 2) AS max_tax
        |FROM lineitem GROUP BY l_returnflag, l_linestatus""".stripMargin,
    "a3_count_distinct" ->
      """SELECT l_returnflag, count(DISTINCT l_partkey) AS n_parts,
        | count(DISTINCT l_suppkey) AS n_supps,
        | count(DISTINCT l_orderkey) AS n_orders
        |FROM lineitem GROUP BY l_returnflag""".stripMargin,
    "a4_first_match" ->
      """SELECT l_orderkey,
        | min_by(l_partkey, CAST(l_linenumber AS BIGINT) * 1000000000 + l_partkey) AS first_part,
        | min(l_linenumber) AS first_line
        |FROM lineitem GROUP BY l_orderkey""".stripMargin,
    "j2_broadcast_join" ->
      """SELECT s_name, count(*) AS n, round(sum(l_extendedprice), 2) AS rev
        |FROM lineitem JOIN supplier ON l_suppkey = s_suppkey
        |GROUP BY s_name""".stripMargin,
    "o2_minmax" ->
      """SELECT min(l_shipdate) AS min_ship, max(l_shipdate) AS max_ship,
        | round(min(l_extendedprice), 2) AS min_price,
        | round(max(l_extendedprice), 2) AS max_price
        |FROM lineitem""".stripMargin,
    "o3_topk" ->
      """SELECT l_partkey, round(sum(l_extendedprice), 2) AS rev
        |FROM lineitem GROUP BY l_partkey
        |ORDER BY rev DESC, l_partkey LIMIT 10""".stripMargin,
    "w1_window" ->
      """SELECT l_suppkey, rn, l_orderkey, l_linenumber, run_qty FROM (
        | SELECT l_suppkey, l_orderkey, l_linenumber,
        |  row_number() OVER w AS rn,
        |  round(sum(l_quantity) OVER (w ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW), 2) AS run_qty
        | FROM lineitem
        | WINDOW w AS (PARTITION BY l_suppkey ORDER BY l_shipdate, l_orderkey, l_linenumber)
        |) WHERE rn <= 5""".stripMargin,
    "a5_rollup" ->
      """SELECT l_returnflag, l_linestatus, count(*) AS cnt,
        | round(sum(l_quantity), 2) AS sum_qty
        |FROM lineitem GROUP BY ROLLUP (l_returnflag, l_linestatus)""".stripMargin,
    "o4_setops" ->
      """WITH a AS (SELECT l_orderkey AS k FROM lineitem WHERE l_returnflag = 'R'),
        | b AS (SELECT o_orderkey AS k FROM orders WHERE o_orderstatus = 'F')
        |SELECT 'intersect' AS op, count(*) AS n FROM (SELECT k FROM a INTERSECT SELECT k FROM b)
        |UNION ALL
        |SELECT 'except' AS op, count(*) AS n FROM (SELECT k FROM b EXCEPT SELECT k FROM a)
        |UNION ALL
        |SELECT 'union' AS op, count(*) AS n FROM (SELECT k FROM a UNION SELECT k FROM b)""".stripMargin,
    "j4_semi_anti" ->
      """SELECT 'semi' AS op, count(*) AS n FROM customer
        | WHERE EXISTS (SELECT 1 FROM orders WHERE o_custkey = c_custkey)
        |UNION ALL
        |SELECT 'anti' AS op, count(*) AS n FROM customer
        | WHERE NOT EXISTS (SELECT 1 FROM orders WHERE o_custkey = c_custkey)""".stripMargin,
    "q6_selective" ->
      """SELECT round(sum(l_extendedprice * l_discount), 2) AS revenue, count(*) AS n
        |FROM lineitem
        |WHERE l_shipdate >= TIMESTAMP '1995-01-01'
        |  AND l_shipdate < TIMESTAMP '1996-01-01'
        |  AND l_discount BETWEEN 0.03 AND 0.07
        |  AND l_quantity < 24""".stripMargin,
    "q5_local_supplier" ->
      """SELECT n_name,
        |  round(sum(l_extendedprice * (1 - l_discount)), 2) AS revenue
        |FROM customer, orders, lineitem, supplier, nation, region
        |WHERE c_custkey = o_custkey AND l_orderkey = o_orderkey
        |  AND l_suppkey = s_suppkey AND c_nationkey = s_nationkey
        |  AND s_nationkey = n_nationkey AND n_regionkey = r_regionkey
        |  AND r_name = 'ASIA'
        |  AND o_orderdate >= TIMESTAMP '1996-01-01 00:00:00'
        |  AND o_orderdate < TIMESTAMP '1997-01-01 00:00:00'
        |GROUP BY n_name""".stripMargin,
    "q3_shipping" ->
      """SELECT l_orderkey,
        | round(sum(l_extendedprice * (1 - l_discount)), 2) AS revenue,
        | min(o_orderdate) AS odate
        |FROM lineitem JOIN orders ON l_orderkey = o_orderkey
        |WHERE o_orderpriority <> '1-URGENT'
        |GROUP BY l_orderkey
        |ORDER BY revenue DESC, l_orderkey LIMIT 20""".stripMargin,
    "a6_cube" ->
      """SELECT l_returnflag, l_linestatus, count(*) AS cnt,
        | round(avg(l_discount), 6) AS avg_disc
        |FROM lineitem GROUP BY CUBE (l_returnflag, l_linestatus)""".stripMargin,
    "j8_bucketed_join" ->
      """SELECT l_orderkey, count(*) AS n_items,
        | CAST(sum(CAST(round(l_extendedprice * (1 - l_discount) * 10000, 0)
        |   AS BIGINT)) AS BIGINT) AS revenue_e4,
        | CAST(floor(max(o_totalprice) * 100) AS BIGINT) AS o_total_cents
        |FROM lineitem JOIN orders ON l_orderkey = o_orderkey
        |GROUP BY l_orderkey""".stripMargin,
    "j5_star_join" ->
      """SELECT r_name, n_name,
        | round(sum(l_extendedprice * (1 - l_discount)), 2) AS rev,
        | count(*) AS n
        |FROM lineitem
        | JOIN orders   ON l_orderkey = o_orderkey
        | JOIN customer ON o_custkey = c_custkey
        | JOIN supplier ON l_suppkey = s_suppkey
        | JOIN nation   ON s_nationkey = n_nationkey
        | JOIN region   ON n_regionkey = r_regionkey
        |GROUP BY r_name, n_name""".stripMargin
  )
}
