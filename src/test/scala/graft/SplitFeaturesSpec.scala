package graft

import java.sql.Date

import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.execution.exchange.{REPARTITION_BY_NUM, ShuffleExchangeExec}
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.ops.{Features, Split}

class SplitFeaturesSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark
  import spark.implicits._

  test("exact split is disjoint, exhaustive, and |train| = ⌊0.8N⌋") {
    val n = 1237
    val df = (1 to n).map(_.toLong).toDF("k")
    val out = Split.exact(df, "k", 0.8, seed = 42L).cache()
    assert(out.count() == n)
    val train = out.filter($"is_train" === 1).count()
    assert(train == math.floor(0.8 * n).toLong)
    // rn is a permutation of 1..N
    val rns = out.select("rn").as[Long].collect().sorted
    assert(rns.toSeq == (1L to n.toLong))
    out.unpersist()
  }

  test("rankBuckets matches the per-group window reference") {
    val df = (1 to 250).map(i =>
      (i.toLong, s"g${i % 3}", (i * 53 % 97).toLong)).toDF("id", "g", "v")
    val got = Split.rankBuckets(df, "g", "v", "id", nBuckets = 3)
      .select("id", "grank", "bucket").as[(Long, Long, Int)]
      .collect().map(r => r._1 -> (r._2, r._3)).toMap
    // Reference: plain per-group window semantics.
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy("g").orderBy("v", "id")
    val ref = df
      .withColumn("grank", row_number().over(w))
      .withColumn("cnt", count(lit(1)).over(Window.partitionBy("g")))
      .select(col("id"), col("grank").cast("long"),
        expr("CAST((grank - 1) * 3 div cnt AS INT)"))
      .as[(Long, Long, Int)]
      .collect().map(r => r._1 -> (r._2, r._3)).toMap
    assert(got == ref)
    // Equal-frequency: per (g, bucket) sizes differ by at most 1 per group.
    val sizes = Split.rankBuckets(df, "g", "v", "id", 3)
      .groupBy("g", "bucket").agg(count(lit(1)).as("n"))
      .select("g", "n").as[(String, Long)].collect()
      .groupBy(_._1).view.mapValues(_.map(_._2)).toMap
    sizes.values.foreach(ns => assert(ns.max - ns.min <= 1, ns.toSeq))
  }

  test("curriculumShards: monotone phases, full shards, repartition-stable") {
    val n = 403
    val df = (1 to n).map(i => (i.toLong, (i * 37 % 101).toLong))
      .toDF("doc_id", "q")
    val out = Split.curriculumShards(df, "q", "doc_id",
      nPhases = 4, shardSize = 16, seed = 3L).cache()
    assert(out.count() == n)
    // Descending-quality phases: everything in phase b scores >= phase b+1.
    val bounds = out.groupBy("phase")
      .agg(min("q").as("mn"), max("q").as("mx"), count(lit(1)).as("c"))
      .orderBy("phase").collect()
    assert(bounds.map(_.getInt(0)).toSeq == Seq(0, 1, 2, 3))
    bounds.sliding(2).foreach { w =>
      assert(w(0).getLong(1) >= w(1).getLong(2),
        s"phase ${w(0).getInt(0)} min < phase ${w(1).getInt(0)} max")
    }
    // Shards are full (== shardSize) except possibly the last per phase.
    val shardSizes = out.groupBy("phase", "shard")
      .agg(count(lit(1)).as("c"), max("shard").as("s")).collect()
    val lastShard = shardSizes.groupBy(_.getInt(0))
      .view.mapValues(_.map(_.getInt(1)).max).toMap
    shardSizes.foreach { r =>
      if (r.getInt(1) != lastShard(r.getInt(0)))
        assert(r.getLong(2) == 16L, s"non-final shard not full: $r")
    }
    // Bit-stable under any input partitioning.
    val again = Split.curriculumShards(df.repartition(7), "q", "doc_id",
      nPhases = 4, shardSize = 16, seed = 3L)
      .select("doc_id", "phase", "shard").collect().map(_.toSeq).toSet
    assert(out.select("doc_id", "phase", "shard")
      .collect().map(_.toSeq).toSet == again)
    out.unpersist()
  }

  test("globalRowNumber is deterministic across repartitionings") {
    val df = (1 to 500).map(_.toLong).toDF("k")
    def run(parts: Int) = Split.exact(df.repartition(parts), "k", 0.8, 7L)
      .select("k", "rn").as[(Long, Long)].collect().sortBy(_._1).toSeq
    assert(run(2) == run(13))
  }

  test("globalCumSum equals the one-task global window at any partitioning") {
    // val = k % 7 + 1, ordered by (ord = k * 37 % 101, k): cum must match
    // a sequential prefix sum over the sorted rows, independent of both
    // input layout and range-partition count.
    val rows = (1 to 300).map(k => (k.toLong, (k * 37 % 101).toLong, k % 7 + 1L))
    val expected = rows.sortBy(r => (r._2, r._1))
      .scanLeft((0L, 0L))((acc, r) => (r._1, acc._2 + r._3)).tail.toMap
    for (parts <- Seq(3, 16)) {
      val df = rows.toDF("k", "ord", "v").repartition(parts)
      val got = Split.globalCumSum(df, "v", "ord", "k")
        .select("k", "cum").as[(Long, Long)].collect().toMap
      assert(got == expected, s"parts=$parts")
    }
  }

  test("globalRowNumber derives its partition count from the session conf") {
    val df = (1 to 500).map(_.toLong).toDF("k")
      .withColumn("_shuf", Split.shuffleKey($"k", 7L))
    val before = spark.conf.get("spark.sql.shuffle.partitions")
    spark.conf.set("spark.sql.shuffle.partitions", "5")
    graft.engine.Caches.releaseAll()
    try {
      // AQE may coalesce the tiny shuffle at runtime (desired), so assert
      // the REQUESTED count on the plan, not the runtime count. The range-
      // partitioned frame is registered (Caches.persisted), so the request
      // is on the exchange of its cached plan; the result scans it as a leaf.
      val out = Split.globalRowNumber(df, "_shuf", "k")
      val requested = graft.engine.Caches.registeredPlans.flatMap(p =>
        PlanHelper.collect(p) {
          case e: ShuffleExchangeExec if e.shuffleOrigin == REPARTITION_BY_NUM =>
            e.outputPartitioning.numPartitions
        })
      assert(requested.contains(5))
      // ... and the numbering itself is invariant to the setting.
      val rns = out.select("rn").as[Long].collect().sorted
      assert(rns.toSeq == (1L to 500L))
    } finally {
      spark.conf.set("spark.sql.shuffle.partitions", before)
      graft.engine.Caches.releaseAll()
    }
  }

  test("firstMatchGroundTruths keeps the first row per key in input order") {
    val gt = Seq(
      (Date.valueOf("2006-01-03"), 5, 20.0),
      (Date.valueOf("2006-01-03"), 5, 99.0), // duplicate — must lose
      (Date.valueOf("2006-01-04"), 5, 11.0)
    ).toDF("utc_date", "station_id", "air_temp")
    val out = Features.firstMatchGroundTruths(gt)
      .select("utc_date", "station_id", "air_temp")
      .as[(Date, Int, Double)].collect().toSet
    assert(out == Set(
      (Date.valueOf("2006-01-03"), 5, 20.0),
      (Date.valueOf("2006-01-04"), 5, 11.0)))
  }

  test("joinGroundTruth fills misses with -9999 and dropSentinel removes them") {
    val samples = Seq((2006, 1, 3, 5), (2006, 1, 3, 6)).toDF("year", "month", "day", "station_id")
    val gt = Seq((2006, 1, 3, 5, 20.0)).toDF("year", "month", "day", "station_id", "air_temp")
    val joined = Features.joinGroundTruth(samples, gt)
    val byStation = joined.select("station_id", "air_temp")
      .as[(Int, Double)].collect().toMap
    assert(byStation(5) == 20.0 && byStation(6) == -9999.0)
    assert(Features.dropSentinel(joined).count() == 1)
  }

  test("explodeSamples keeps positional alignment (J3/G1)") {
    val df = Seq(("s1", Seq(10, 20, 30))).toDF("scene_id", "stations")
    val out = Features.explodeSamples(df)
      .select("station_pos", "station_id").as[(Int, Int)].collect().sorted.toSeq
    assert(out == Seq((0, 10), (1, 20), (2, 30)))
  }

  test("sceneDateParts parses the reference scene-id layout (P2)") {
    val df = Seq(Tuple1("LT05_L1TP_174038_20060715_20200831_02_T1")).toDF("scene_id")
    val (y, m, d) = Features.sceneDateParts($"scene_id")
    val row = df.select(y, m, d).head()
    assert((row.getInt(0), row.getInt(1), row.getInt(2)) == ((2006, 7, 15)))
  }

  test("packSequences slices the concatenated stream at window boundaries") {
    // Token counts 3/4/2 in doc-id order, ctxLen 4: the stream is
    // [0,3) doc1, [3,7) doc2, [7,9) doc3. Window 0 holds doc1 + one token
    // of doc2 (2 segments, full); window 1 holds doc2's tail + doc3's
    // head (2 segments, full); window 2 is the 1-token partial tail.
    val docsDf = Seq(
      (1L, "a b c"), (2L, "d e f g"), (3L, "h i")).toDF("doc_id", "text")
    val got = graft.ops.Split.packSequences(docsDf, "text", "doc_id", 4)
      .as[(Long, Long, Long, Long, Long)].collect().toSet
    assert(got == Set(
      (0L, 2L, 4L, 1L, 2L),
      (1L, 2L, 4L, 2L, 3L),
      (2L, 1L, 1L, 3L, 3L)))
  }

  test("packManifest emits the segment assignment and its rollup equals o26") {
    // Same 3/4/2 stream, ctxLen 4. Expected segments (bin, doc,
    // doc_offset, win_offset, len): doc2 crosses the window-0/1 boundary
    // (continues at doc_offset 1), doc3 crosses 1/2.
    val docsDf = Seq(
      (1L, "a b c"), (2L, "d e f g"), (3L, "h i")).toDF("doc_id", "text")
    val manifest = graft.ops.Split.packManifest(docsDf, "text", "doc_id", 4)
    val got = manifest.as[(Long, Long, Long, Long, Long)].collect().toSet
    assert(got == Set(
      (0L, 1L, 0L, 0L, 3L),
      (0L, 2L, 0L, 3L, 1L),
      (1L, 2L, 1L, 0L, 3L),
      (1L, 3L, 0L, 3L, 1L),
      (2L, 3L, 1L, 0L, 1L)))
    // Every segment fits its window.
    assert(got.forall { case (_, _, _, wOff, len) => wOff + len <= 4 })
    // The manifest's per-window rollup IS the o26 report — report and
    // manifest can never disagree.
    val rolled = manifest.groupBy("bin_id")
      .agg(count(lit(1)).as("n_docs"), sum("len").as("n_tokens"),
        min("doc_id").as("first_doc"), max("doc_id").as("last_doc"))
      .as[(Long, Long, Long, Long, Long)].collect().toSet
    val o26 = graft.ops.Split.packSequences(docsDf, "text", "doc_id", 4)
      .as[(Long, Long, Long, Long, Long)].collect().toSet
    assert(rolled == o26, s"manifest rollup $rolled != o26 report $o26")
  }

  test("packManifest composes across batch boundaries via the carry offset") {
    // Split the 3/4/2 stream mid-window: batch 1 = doc 1, batch 2 = docs
    // 2-3 continuing at the carry (batch 1's token total). The union of
    // the two manifests must equal the whole-corpus manifest exactly —
    // the identity e20's streaming leg rests on.
    val docsDf = Seq(
      (1L, "a b c"), (2L, "d e f g"), (3L, "h i")).toDF("doc_id", "text")
    val whole = Split.packManifest(docsDf, "text", "doc_id", 4)
      .as[(Long, Long, Long, Long, Long)].collect().toSet
    val m1 = Split.packManifest(docsDf.filter($"doc_id" <= 1L), "text",
      "doc_id", 4)
    val carry = m1.agg(sum("len")).head().getLong(0)
    assert(carry == 3L)
    val m2 = Split.packManifest(docsDf.filter($"doc_id" >= 2L), "text",
      "doc_id", 4, offset = carry)
    val stitched = (m1.as[(Long, Long, Long, Long, Long)].collect() ++
      m2.as[(Long, Long, Long, Long, Long)].collect()).toSet
    assert(stitched == whole,
      s"stitched $stitched != whole-corpus manifest $whole")
  }

  test("packTokens windows concatenate back to the hashed token stream") {
    // Same 3/4/2 stream, ctxLen 4, vocab 64: three windows of 4/4/1
    // hashed ids whose in-order concatenation must be EXACTLY the
    // doc-id-ordered token stream through the same pmod(polyhash) — one
    // token misplaced, dropped, or double-emitted breaks the identity.
    val docsDf = Seq(
      (1L, "a b c"), (2L, "d e f g"), (3L, "h i")).toDF("doc_id", "text")
    val out = java.nio.file.Files.createTempDirectory("graft-o28").toString
    val w = Split.packTokens(docsDf, "text", "doc_id", ctxLen = 4,
      vocab = 64, outDir = out)
      .orderBy("bin_id").as[(Long, Long, Long, String)].collect()
    assert(w.map(_._2).toSeq == Seq(4L, 4L, 1L), s"window sizes: ${w.toSeq}")
    val ids = docsDf.orderBy("doc_id")
      .select(posexplode(graft.ops.TextOps.tokens($"text"))
        .as(Seq("p", "tok")))
      .select(pmod(graft.functions.Hashing.polyHash($"tok"), lit(64))
        .cast("int"))
      .as[Int].collect()
    assert(w.map(_._4).mkString(" ") == ids.mkString(" "),
      "window concatenation diverged from the token stream")
    assert(w.map(_._3).sum == ids.map(_.toLong).sum, "sum_tid off")
    // The gate columns are derived from the on-disk artifact.
    val disk = spark.read.parquet(out)
    assert(disk.columns.toSet == Set("bin_id", "tokens", "sum_tid"))
    assert(disk.count() == 3L)
  }

  test("packTokensSharded writes one file per shard dir and agrees with o28") {
    // 10 docs of 4 tokens, ctxLen 4 → 10 windows; nShards 3 → shard
    // populations 4/3/3 (bin % 3). The windows must be o28's windows
    // exactly, each in directory shard=<bin % 3>, ONE parquet file per
    // shard directory (the writer-fan-out bound a dataloader mounts).
    val docsDf = (1L to 10L)
      .map(i => (i, s"w${i}a w${i}b w${i}c w${i}d")).toDF("doc_id", "text")
    val flat = java.nio.file.Files.createTempDirectory("graft-o28f").toString
    val out = java.nio.file.Files.createTempDirectory("graft-o29").toString
    val plain = Split.packTokens(docsDf, "text", "doc_id", ctxLen = 4,
      vocab = 64, outDir = flat)
      .as[(Long, Long, Long, String)].collect().map(r => r._1 -> r).toMap
    val sharded = Split.packTokensSharded(docsDf, "text", "doc_id",
      ctxLen = 4, vocab = 64, nShards = 3, outDir = out)
      .as[(Long, Int, Long, Long, String)].collect()
    assert(sharded.length == 10, s"expected 10 windows: ${sharded.length}")
    sharded.foreach { case (bin, shard, n, sum, toks) =>
      assert(shard == (bin % 3).toInt, s"bin $bin landed in shard $shard")
      assert(plain(bin) == ((bin, n, sum, toks)),
        s"window $bin diverged from the flat o28 export")
    }
    // Layout: exactly the 3 shard directories, one data file in each.
    val dirs = new java.io.File(out).listFiles()
      .filter(f => f.isDirectory && f.getName.startsWith("shard=")).sortBy(_.getName)
    assert(dirs.map(_.getName).toSeq == Seq("shard=0", "shard=1", "shard=2"))
    dirs.foreach { d =>
      assert(graft.ops.Bucketing.dataFileCount(d) == 1,
        s"${d.getName} must hold exactly one parquet file")
    }
  }
}

/** Plan traversal that descends into adaptive plans and query stages. */
private object PlanHelper extends AdaptiveSparkPlanHelper
