package graft.ops

import org.apache.spark.sql.functions._
import org.apache.spark.sql.{Column, DataFrame}

/** Skew-mitigation tools for hot keys (a boilerplate shingle bucket, a
  * celebrity user_id, a dominant station). AQE's skew-join split handles
  * most cases at runtime; these are the explicit forms for when the skew is
  * known ahead of plan time.
  */
object Skew {

  /** Salted aggregation: two-phase groupBy. Phase 1 groups on
    * (key, salt ∈ [0,S)) so one hot key spreads over S reducers; phase 2
    * merges the S partials. Correct for any commutative re-aggregable pair
    * (partial, merge) — e.g. (count, sum), (sum, sum), (min, min).
    *
    * The salt is [[contentSalt]] over the WHOLE row — a pure function of
    * row content, so a map-task retry or stage recompute re-derives the
    * same salt and the row lands in the same reducer partition
    * (`monotonically_increasing_id`/`rand` here would be the classic
    * nondeterministic-shuffle-key correctness hazard, cf. SPARK-23207).
    * Rows identical in every column share a salt; any distinct column
    * (an id, a payload) spreads the hot key.
    */
  def saltedCount(df: DataFrame, key: String, salts: Int): DataFrame =
    df.withColumn("_salt", contentSalt(df.columns.map(col), salts))
      .groupBy(col(key), col("_salt")).agg(count(lit(1)).as("_partial"))
      .groupBy(col(key)).agg(sum("_partial").as("n"))

  /** Deterministic per-row salt in [0,S): a hash of the given columns.
    * Layout-independent — the same row content yields the same salt on
    * any partitioning, any retry, any recompute. The seed offset keeps
    * the salt decorrelated from Spark's own `hash`-partitioning of the
    * same columns (identical hash would send salt s only to reducers
    * ≡ s, defeating the spread).
    */
  def contentSalt(cols: Seq[Column], salts: Int): Column =
    pmod(hash(cols :+ lit(0x5a17ed): _*), lit(salts))

  /** Salted join: replicate the small side S times (one copy per salt),
    * salt the big side's rows randomly-but-deterministically, join on
    * (key, salt). One hot key's rows land on S tasks instead of one.
    */
  def saltedJoin(big: DataFrame, small: DataFrame, key: String, salts: Int): DataFrame =
    saltedJoin(big, small, Seq(key), salts)

  /** Composite-key form of [[saltedJoin]] — the LSH hot-bucket case, where
    * the join key is (band, band_key) and one viral span makes a single
    * bucket carry a large fraction of the corpus. Each big-side row takes
    * ONE salt — [[contentSalt]] over the whole row, so the non-key columns
    * (a doc_id, a payload) spread the hot key while a retried/recomputed
    * task re-derives the SAME salt (a `monotonically_increasing_id` salt
    * here re-evaluates differently across retries and can drop or
    * double-count a pair mid-shuffle — SPARK-23207) — the replicated side
    * covers all S salts, so every matching pair still meets exactly once;
    * result identity with the plain join is the d22 gate.
    */
  def saltedJoin(big: DataFrame, small: DataFrame, keys: Seq[String],
      salts: Int): DataFrame = {
    val saltedBig = big.withColumn("_salt",
      contentSalt(big.columns.map(col), salts))
    val explodedSmall = small.withColumn("_salt",
      explode(array((0 until salts).map(lit(_)): _*)))
    saltedBig.join(explodedSmall, keys :+ "_salt").drop("_salt")
  }

  /** Isolate hot keys: split the frame into (hot, rest) by a key-frequency
    * threshold so the hot slice can take a broadcast/salted path while the
    * long tail uses the normal shuffled path.
    */
  def splitHotKeys(df: DataFrame, key: String, threshold: Long): (DataFrame, DataFrame) = {
    val hot = df.groupBy(key).agg(count(lit(1)).as("_n"))
      .filter(col("_n") > threshold).select(key)
    (df.join(broadcast(hot), Seq(key), "left_semi"),
     df.join(broadcast(hot), Seq(key), "left_anti"))
  }

  /** HOT-ONLY salted join — the production composition of [[saltedJoin]]
    * and [[splitHotKeys]]: [[saltedJoin]] replicates the WHOLE build side
    * S times, which at 100 TB multiplies the dominant shuffle by S to fix
    * a skew that lives in a handful of keys. Here the build side's key
    * histogram (one aggregate over the SMALLER side) splits both inputs:
    * keys above `threshold` rows take the salted path, the long tail
    * takes the plain keyed join, and the union is row-identical to the
    * plain join over everything. Build-side replication drops from
    * S × |small| to S × |small_hot| — proportional to the skew itself,
    * not the corpus. The hot-key set must be broadcastable (it is BY
    * DEFINITION small — keys exceeding a row threshold are bounded by
    * |small| / threshold).
    */
  def saltedJoinHot(big: DataFrame, small: DataFrame, keys: Seq[String],
      salts: Int, threshold: Long): DataFrame =
    saltedJoinHotWith(big, small, keys, salts,
      keyHistogram(small, keys).filter(col("_n") > threshold))

  /** Auto-threshold floor: a key must hold more rows than this to be
    * salted regardless of the mean — below it a single task absorbs the
    * key trivially and salting would only add replication.
    */
  val HotAutoFloor = 32L

  /** Auto-threshold skew factor: a key is hot when it exceeds this
    * multiple of the MEAN key size. 8× is far past natural hash-bucket
    * variance but far below the orders-of-magnitude skew (a viral span's
    * bucket holding a corpus percentage) the salted path exists for.
    */
  val HotAutoFactor = 8.0

  /** [[saltedJoinHot]] with the threshold derived FROM the build side's
    * own key histogram: hot = keys above max([[HotAutoFloor]],
    * [[HotAutoFactor]] × mean key size). The mean rides the same
    * histogram aggregate as a one-row broadcast (no driver action, no
    * extra pass), so callers get replication ∝ skew without picking a
    * magic row count — the form [[graft.ops.Dedup.candidatePairs]]
    * takes for `Hot` without a threshold.
    */
  def saltedJoinHot(big: DataFrame, small: DataFrame, keys: Seq[String],
      salts: Int): DataFrame = {
    val hist = keyHistogram(small, keys)
    val stats = hist.agg(coalesce(avg("_n"), lit(0.0)).as("_avg"))
    saltedJoinHotWith(big, small, keys, salts,
      hist.crossJoin(broadcast(stats))
        .filter(col("_n").cast("double") >
          greatest(lit(HotAutoFloor.toDouble), col("_avg") * HotAutoFactor)))
  }

  private def keyHistogram(small: DataFrame, keys: Seq[String]): DataFrame =
    small.groupBy(keys.map(col): _*).agg(count(lit(1)).as("_n"))

  private def saltedJoinHotWith(big: DataFrame, small: DataFrame,
      keys: Seq[String], salts: Int, hotKeys: DataFrame): DataFrame = {
    // localCheckpoint: the hot-key set feeds FOUR semi/anti joins —
    // without the cut each would re-run the histogram aggregate over the
    // full small side. The frame itself is tiny (≤ |small| / threshold
    // keys); blocks are ContextCleaner-owned (model-frame discipline).
    val hot = hotKeys.select(keys.map(col): _*).localCheckpoint()
    val bigHot = big.join(broadcast(hot), keys, "left_semi")
    val bigCold = big.join(broadcast(hot), keys, "left_anti")
    val smallHot = small.join(broadcast(hot), keys, "left_semi")
    val smallCold = small.join(broadcast(hot), keys, "left_anti")
    saltedJoin(bigHot, smallHot, keys, salts)
      .unionByName(bigCold.join(smallCold, keys))
  }
}
