package graft

import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.ops.Skew

class SkewSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark
  import spark.implicits._

  // one hot key (90% of rows) + a long tail
  private lazy val skewed =
    ((1 to 900).map(_ => ("hot", 1)) ++ (1 to 100).map(i => (s"k$i", i)))
      .toDF("k", "v").repartition(8)

  test("saltedCount equals the plain groupBy count") {
    val plain = skewed.groupBy("k").agg(count(lit(1)).as("n"))
      .as[(String, Long)].collect().toMap
    val salted = Skew.saltedCount(skewed, "k", salts = 7)
      .as[(String, Long)].collect().toMap
    assert(salted == plain)
  }

  test("saltedJoin equals the plain join") {
    val dim = Seq(("hot", "H"), ("k1", "A"), ("k2", "B")).toDF("k", "name")
    val plain = skewed.join(dim, "k").groupBy("k", "name")
      .agg(count(lit(1)).as("n")).as[(String, String, Long)].collect().toSet
    val salted = Skew.saltedJoin(skewed, dim, "k", salts = 5)
      .groupBy("k", "name").agg(count(lit(1)).as("n"))
      .as[(String, String, Long)].collect().toSet
    assert(salted == plain)
  }

  // The manual salt path (above) proves the REWRITE is result-equal; this
  // proves the RUNTIME path: AQE detects the oversized shuffle partition a
  // hot key produces and splits it (SortMergeJoin(skew=true)) without any
  // query rewrite — the mechanism Session enables for every graft query.
  // Thresholds are lowered so a ~10 MB hot partition trips detection at
  // test scale; at cluster scale the defaults (256 MB / factor 5) play the
  // same role.
  test("AQE splits the skewed partition at runtime and keeps the result") {
    val spark2 = spark
    val keep = Seq(
      "spark.sql.adaptive.skewJoin.skewedPartitionFactor",
      "spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes",
      "spark.sql.adaptive.advisoryPartitionSizeInBytes",
      "spark.sql.autoBroadcastJoinThreshold",
      "spark.sql.adaptive.autoBroadcastJoinThreshold",
      "spark.sql.shuffle.partitions")
      .map(k => k -> spark2.conf.getOption(k)).toMap
    try {
      spark2.conf.set("spark.sql.adaptive.skewJoin.skewedPartitionFactor", "2")
      spark2.conf.set(
        "spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes", "256KB")
      spark2.conf.set("spark.sql.adaptive.advisoryPartitionSizeInBytes", "128KB")
      spark2.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
      spark2.conf.set("spark.sql.adaptive.autoBroadcastJoinThreshold", "-1")
      spark2.conf.set("spark.sql.shuffle.partitions", "8")
      // 80% of rows share key 0 and carry a fat payload: one shuffle
      // partition holds ~8 MB while the rest hold KBs.
      val big = spark2.range(100000).select(
        when(col("id") % 5 =!= 0, lit(0L)).otherwise(col("id")).as("k"),
        concat(lit("x" * 96), col("id").cast("string")).as("payload"))
      val dim = spark2.range(0, 2000).select(
        col("id").as("k"), (col("id") * 7).as("w"))
      val joined = big.join(dim, "k")
      val qe = org.apache.spark.sql.classic.GraftBridge.queryExecution(joined)
      // Execute THIS Dataset's QueryExecution (a sink write would plan a
      // separate one and leave this adaptive plan at its initial state).
      joined.collect()
      // String-level assertions: QueryStageExec nodes report no children,
      // so SparkPlan.collect cannot descend into the materialized stages.
      val finalPlan = (qe.executedPlan match {
        case a: AdaptiveSparkPlanExec => a.executedPlan
        case p                        => p
      }).toString
      assert(finalPlan.contains("SortMergeJoin(skew=true)"),
        s"AQE did not mark the join skew=true:\n$finalPlan")
      assert(finalPlan.contains("AQEShuffleRead coalesced and skewed"),
        s"AQE did not split-read the skewed shuffle:\n$finalPlan")
      // Skew splitting must not change the result: every big row with a
      // dim match appears exactly once. The expectation runs through an
      // independent physical path (broadcast-hash join, no shuffle to
      // split), so agreement is a real cross-check, not a tautology.
      def stats(df: org.apache.spark.sql.DataFrame): Seq[Any] = df
        .agg(count(lit(1)).cast("long"), sum("w").cast("long"))
        .collect().head.toSeq
      assert(stats(joined) == stats(big.join(broadcast(dim), "k")))
    } finally keep.foreach { case (k, v) =>
      v.fold(spark2.conf.unset(k))(spark2.conf.set(k, _))
    }
  }

  test("composite-key salted self-join spreads the hot bucket and keeps the pair set") {
    // A hot composite bucket: 200 rows in (band=1, key=42), tail elsewhere —
    // the LSH viral-span shape behind d22.
    val buckets = ((1 to 200).map(i => (1, 42L, i.toLong)) ++
      (1 to 50).map(i => (i % 4, 1000L + i, 500L + i)))
      .toDF("band", "band_key", "doc_id").repartition(8)
    val a = buckets.select(col("band"), col("band_key"), col("doc_id").as("doc_a"))
    val b = buckets.select(col("band"), col("band_key"), col("doc_id").as("doc_b"))
    val plain = a.join(b, Seq("band", "band_key"))
      .filter(col("doc_a") < col("doc_b"))
      .select("doc_a", "doc_b").as[(Long, Long)].collect().toSet
    val salted = Skew.saltedJoin(a, b, Seq("band", "band_key"), salts = 8)
      .filter(col("doc_a") < col("doc_b"))
      .select("doc_a", "doc_b").as[(Long, Long)].collect().toSet
    assert(salted == plain)
    // Salting must actually ENGAGE: the hot bucket's probe rows land on
    // more than one salt (else it degenerates to the plain layout). The
    // production salt is content-derived (Skew.contentSalt over the whole
    // row), so the hot bucket spreads via its distinct doc_a values.
    val spread = a.withColumn("_salt",
        Skew.contentSalt(a.columns.toSeq.map(col), 8))
      .filter(col("band") === 1 && col("band_key") === 42L)
      .select(countDistinct("_salt")).as[Long].collect().head
    assert(spread > 1, s"hot bucket stayed on $spread salt(s)")
  }

  test("hot-only salted join equals the plain join; tail skips salting") {
    val buckets = ((1 to 200).map(i => (1, 42L, i.toLong)) ++
      (1 to 50).map(i => (i % 4, 1000L + i, 500L + i)))
      .toDF("band", "band_key", "doc_id").repartition(8)
    val a = buckets.select(col("band"), col("band_key"), col("doc_id").as("doc_a"))
    val b = buckets.select(col("band"), col("band_key"), col("doc_id").as("doc_b"))
    val plain = a.join(b, Seq("band", "band_key"))
      .filter(col("doc_a") < col("doc_b"))
      .select("doc_a", "doc_b").as[(Long, Long)].collect().toSet
    // threshold 100: only the 200-row viral bucket salts; the ≤1-row
    // tail buckets take the plain keyed path — result identical.
    val hotSalted = Skew.saltedJoinHot(a, b, Seq("band", "band_key"),
        salts = 8, threshold = 100)
      .filter(col("doc_a") < col("doc_b"))
      .select("doc_a", "doc_b").as[(Long, Long)].collect().toSet
    assert(hotSalted == plain)
    // a threshold nothing exceeds degenerates to exactly the plain join
    val noneHot = Skew.saltedJoinHot(a, b, Seq("band", "band_key"),
        salts = 8, threshold = 1000)
      .filter(col("doc_a") < col("doc_b"))
      .select("doc_a", "doc_b").as[(Long, Long)].collect().toSet
    assert(noneHot == plain)
  }

  test("auto-threshold hot-only join finds the viral bucket itself") {
    // Same shape as above, no threshold given: the histogram's
    // max(floor, 8× mean) must route the 200-row bucket through salting
    // (it dwarfs both bounds) while the ≤1-row tail takes the plain path,
    // and the result must still equal the plain join — the unified
    // form behind Dedup.candidatePairs' `Hot` without a threshold.
    val buckets = ((1 to 200).map(i => (1, 42L, i.toLong)) ++
      (1 to 50).map(i => (i % 4, 1000L + i, 500L + i)))
      .toDF("band", "band_key", "doc_id").repartition(8)
    val a = buckets.select(col("band"), col("band_key"), col("doc_id").as("doc_a"))
    val b = buckets.select(col("band"), col("band_key"), col("doc_id").as("doc_b"))
    val plain = a.join(b, Seq("band", "band_key"))
      .filter(col("doc_a") < col("doc_b"))
      .select("doc_a", "doc_b").as[(Long, Long)].collect().toSet
    val auto = Skew.saltedJoinHot(a, b, Seq("band", "band_key"), salts = 8)
      .filter(col("doc_a") < col("doc_b"))
      .select("doc_a", "doc_b").as[(Long, Long)].collect().toSet
    assert(auto == plain)
    // An all-uniform input must classify NO key as hot (the mean-based
    // bound rises with the plateau; the floor alone must not fire).
    val uniform = (1 to 40).flatMap(k => (1 to 20).map(i =>
      (k % 4, k.toLong, (k * 100 + i).toLong)))
      .toDF("band", "band_key", "doc_id")
    val ua = uniform.select(col("band"), col("band_key"), col("doc_id").as("doc_a"))
    val ub = uniform.select(col("band"), col("band_key"), col("doc_id").as("doc_b"))
    val uplain = ua.join(ub, Seq("band", "band_key"))
      .filter(col("doc_a") < col("doc_b"))
      .select("doc_a", "doc_b").as[(Long, Long)].collect().toSet
    val uauto = Skew.saltedJoinHot(ua, ub, Seq("band", "band_key"), salts = 8)
      .filter(col("doc_a") < col("doc_b"))
      .select("doc_a", "doc_b").as[(Long, Long)].collect().toSet
    assert(uauto == uplain)
  }

  test("candidatePairs is row-identical under every skew choice") {
    // One 120-row viral bucket over a 1-row tail: hot both for the
    // histogram's own threshold (max(32, 8× mean)) and for d23's explicit
    // 50. Every choice must return the brute-force pair set with its
    // shared-band counts.
    val rows = (1 to 120).map(i => (0, 7L, i.toLong)) ++
      (1 to 60).map(i => (i % 3, 500L + i % 20, 1000L + i))
    val expected = rows.groupBy(r => (r._1, r._2)).values
      .flatMap(g => for (x <- g; y <- g if x._3 < y._3) yield (x._3, y._3))
      .groupBy(identity).map { case (p, ms) => (p._1, p._2, ms.size.toLong) }
      .toSet
    val buckets = rows.toDF("band", "band_key", "doc_id")
    for (skew <- Seq(graft.ops.Dedup.Plain, graft.ops.Dedup.Hot(salts = 8),
        graft.ops.Dedup.Hot(salts = 8, threshold = Some(50L)))) {
      val got = graft.ops.Dedup.candidatePairs(buckets, skew)
        .select("doc_a", "doc_b", "n_bands")
        .as[(Long, Long, Long)].collect().toSet
      assert(got == expected, s"skew $skew")
    }
  }

  // The class of bug behind SPARK-23207: a shuffle key derived from a
  // nondeterministic expression (monotonically_increasing_id, rand) is
  // re-evaluated DIFFERENTLY when a map task retries, silently dropping or
  // double-counting rows mid-join. The content salt must be a pure
  // function of row values — identical under any partitioning, ordering,
  // or recomputation of the input.
  test("content salt is layout-independent (retry/recompute-safe)") {
    val base = skewed
    def salts(df: org.apache.spark.sql.DataFrame): Map[(String, Int), Int] =
      df.withColumn("_salt", Skew.contentSalt(Seq(col("k"), col("v")), 16))
        .select("k", "v", "_salt").as[(String, Int, Int)]
        .collect().map { case (k, v, s) => (k, v) -> s }.toMap
    val a = salts(base)
    val b = salts(base.repartition(3, col("v"))) // different layout
    val c = salts(base.orderBy(desc("v")))       // different order
    assert(a == b && a == c, "salt varied with physical layout")
  }

  test("splitHotKeys partitions rows exactly") {
    val (hot, rest) = Skew.splitHotKeys(skewed, "k", threshold = 500)
    assert(hot.count() == 900)
    assert(rest.count() == 100)
    assert(hot.select("k").distinct().as[String].collect().toSeq == Seq("hot"))
  }
}
