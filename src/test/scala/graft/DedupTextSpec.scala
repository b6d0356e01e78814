package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.functions.{Hashing, PolyHashExpr}
import graft.ops.{Bucketing, Dedup, TextOps}

class DedupTextSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark
  import spark.implicits._

  test("PolyHashExpr matches the reference fold and its codegen path") {
    val s = "hello world spark engine test"
    var h = 0L
    s.foreach(c => h = (h * 31 + c) % 1000000007L)
    assert(PolyHashExpr.hash(s) == h)
    // through the engine (whole-stage codegen)
    val got = Seq(Tuple1(s)).toDF("t")
      .select(Hashing.polyHash($"t").as("h")).head().getLong(0)
    assert(got == h)
    assert(got == 301300047L) // cross-checked against the DuckDB list_reduce form
  }

  test("shingles produces word n-grams, empty below n tokens") {
    val df = Seq(Tuple1("a b c d"), Tuple1("x y")).toDF("text")
    val out = df.select(TextOps.shingles(TextOps.tokens($"text"), 3).as("sh"))
      .as[Seq[String]].collect().toSeq
    assert(out.head == Seq("a b c", "b c d"))
    assert(out(1).isEmpty)
  }

  test("exact dedup keeps min doc_id per text") {
    val docs = Seq((3L, "same text here"), (1L, "same text here"), (2L, "other"))
      .toDF("doc_id", "text")
    val out = Dedup.exact(docs).as[(Long, Long)].collect().toSet
    assert(out == Set((1L, 2L), (2L, 1L)))
  }

  test("identical docs collide in every LSH band with est_jaccard 1") {
    val text = "the quick brown fox jumps over the lazy dog again and again today"
    val docs = Seq((1L, text), (2L, text), (3L, "completely different words make a distinct document entirely"))
      .toDF("doc_id", "text")
    val pairs = Dedup.minhashLsh(docs).collect()
    assert(pairs.length == 1)
    val p = pairs.head
    assert(p.getAs[Long]("doc_a") == 1L && p.getAs[Long]("doc_b") == 2L)
    assert(p.getAs[Long]("n_bands") == Dedup.Bands)
    assert(p.getAs[Double]("est_jaccard") == 1.0)
  }

  test("near-dup docs get high estimated jaccard; ngram jaccard is exact") {
    val a = "one two three four five six seven eight nine ten eleven twelve"
    val b = "one two three four five six seven eight nine ten eleven thirteen"
    val docs = Seq((1L, a), (2L, b)).toDF("doc_id", "text")
    val nj = Dedup.ngramJaccard(docs).collect()
    if (nj.nonEmpty) { // pair surfaces only if LSH banding catches it
      // shingle sets: 10 each, 9 shared -> jaccard 9/11
      assert(math.abs(nj.head.getAs[Double]("jaccard") - 9.0 / 11.0) < 1e-6)
    }
    val sh = Dedup.simhash(docs).as[(Long, Long)].collect().toMap
    val hamming = java.lang.Long.bitCount(sh(1L) ^ sh(2L))
    assert(hamming <= 8) // near-dups are close in simhash space
  }

  test("simhash of identical texts is identical") {
    val docs = Seq((1L, "alpha beta gamma"), (2L, "alpha beta gamma")).toDF("doc_id", "text")
    val sh = Dedup.simhash(docs).as[(Long, Long)].collect().toMap
    assert(sh(1L) == sh(2L))
    assert(Dedup.simhashPairs(Dedup.simhash(docs), 0).count() == 1)
  }

  test("quality metrics on a known string") {
    val df = Seq(Tuple1("the cat sat on the mat")).toDF("text")
    val ws = TextOps.tokens($"text")
    val row = df.select(
      TextOps.stopwordRatio(ws).as("sr"),
      TextOps.avgWordLen(ws).as("awl"),
      TextOps.predictedLang(ws).as("lang")).head()
    assert(math.abs(row.getAs[Double]("sr") - 3.0 / 6.0) < 1e-12) // the, on, the
    assert(math.abs(row.getAs[Double]("awl") - 17.0 / 6.0) < 1e-12)
    assert(row.getAs[String]("lang") == "en")
  }

  test("repStats matches the HOF formulas and handles edge arrays") {
    val df = Seq(
      "batch batch batch window",   // ts 3/4, dr 2/4
      "a b c d",                    // ts 1/4, dr 1
      "x"                           // ts 1, dr 1
    ).toDF("text")
    val ws = TextOps.tokens($"text")
    val rows = df.select(
      TextOps.distinctRatio(ws).as("dr"),
      TextOps.topTokenShare(ws).as("ts"),
      // the displaced HOF spellings, as the independent witness
      (size(array_distinct(ws)).cast("double") / size(ws)).as("dr0"),
      (array_max(transform(array_distinct(ws),
        w => size(filter(ws, x => x === w)))).cast("double") / size(ws)).as("ts0")
    ).collect()
    rows.foreach { r =>
      assert(r.getAs[Double]("dr") == r.getAs[Double]("dr0"))
      assert(r.getAs[Double]("ts") == r.getAs[Double]("ts0"))
    }
    assert(rows(0).getAs[Double]("ts") == 0.75)
    assert(rows(0).getAs[Double]("dr") == 0.5)
    // null array -> null stats; SQL surface resolves too
    val nulls = Seq(Tuple1(null: String)).toDF("text")
      .select(TextOps.repStats(split($"text", " ")).as("st")).head()
    assert(nulls.isNullAt(0))
    assert(spark.sql(
      "SELECT graft_rep_stats(array('a','a','b')).top_share").head().getDouble(0)
      == 2.0 / 3.0)
  }

  test("spanDupCounts finds verbatim n-gram spans shared across docs") {
    val docs = Seq(
      (1L, "a b c d e unique tail one"),   // shares "a b c d e" with doc 2
      (2L, "x y a b c d e other words"),
      (3L, "entirely different text with no overlap at all")
    ).toDF("doc_id", "text")
    val got = graft.ops.Dedup.spanDupCounts(docs, n = 5)
      .as[(Long, Long)].collect().toMap
    // doc1 windows: [a b c d e] [b c d e unique] ... — only the first is
    // shared; doc2's shared window is the same 5-gram at offset 2.
    assert(got == Map(1L -> 1L, 2L -> 1L)) // doc 3 absent: no shared span
    // span must be verbatim and contiguous: reordering kills it
    val reordered = Seq((1L, "a b c d e"), (2L, "a b c e d")).toDF("doc_id", "text")
    assert(graft.ops.Dedup.spanDupCounts(reordered, n = 5).isEmpty)
  }

  test("multiShingleHashes matches the single-n kernel for every width") {
    val texts = Seq(
      "a b c d e unique tail one",
      "x  y\tz with   odd whitespace",
      " leading space",
      "short",
      "",
      "unicode éè café 😀 tokens here too"
    )
    for (s <- texts; n <- Seq(1, 2, 3, 5)) {
      val single = graft.functions.PolyShinglesExpr.shingleHashes(s, n)
        .toLongArray().toSeq
      val multi = graft.functions.MultiShinglesExpr
        .multiShingleHashes(s, Array(n)).toLongArray().toSeq
      assert(multi.map(_ & 0xffffffffL) == single, s"n=$n text='$s'")
      assert(multi.forall(h => (h >>> 32) == n), s"tag n=$n text='$s'")
    }
    // One call with several widths = concatenation of the per-width calls.
    val s = "p q r s t u v w"
    val sweep = graft.functions.MultiShinglesExpr
      .multiShingleHashes(s, Array(2, 4)).toLongArray().toSeq
    val manual = Seq(2, 4).flatMap(n =>
      graft.functions.MultiShinglesExpr.multiShingleHashes(s, Array(n))
        .toLongArray().toSeq)
    assert(sweep == manual)
  }

  test("spanDupCountsSweep equals per-n spanDupCounts, through codegen") {
    val docs = Seq(
      (1L, "a b c d e unique tail one"),
      (2L, "x y a b c d e other words"),
      (3L, "entirely different text with no overlap at all"),
      (4L, "x y a b c d e other words exactly repeated elsewhere"),
      (5L, "q r s x y a b c d e other words exactly repeated elsewhere")
    ).toDF("doc_id", "text")
    val sweep = graft.ops.Dedup.spanDupCountsSweep(docs, ns = Seq(3, 5, 9))
      .as[(Long, Int, Long)].collect().toSet
    val perN = Seq(3, 5, 9).flatMap(n =>
      graft.ops.Dedup.spanDupCounts(docs, n)
        .as[(Long, Long)].collect().map { case (d, c) => (d, n, c) }).toSet
    assert(sweep == perN && sweep.nonEmpty)
    assert(sweep.exists(_._2 == 9)) // the widest window really fires
  }

  test("maxDupSpan bounds the longest verbatim run within the ladder") {
    // Docs 1/2 share exactly a 25-token run; docs 3/4 share exactly 7
    // tokens; doc 5 shares nothing. With ladder 5/10/20/40/80 the largest
    // firing width is the largest ladder value <= the true run length.
    val run25 = (1 to 25).map(i => s"w$i").mkString(" ")
    val run7 = (1 to 7).map(i => s"x$i").mkString(" ")
    val docs = Seq(
      (1L, s"alpha $run25 omega"),
      (2L, s"$run25 tail tokens here"),
      (3L, s"pre $run7"),
      (4L, s"$run7 post"),
      (5L, "nothing shared with anyone at all in this one")
    ).toDF("doc_id", "text")
    val got = graft.ops.Dedup.maxDupSpan(docs)
      .as[(Long, Int)].collect().toMap
    assert(got == Map(1L -> 20, 2L -> 20, 3L -> 5, 4L -> 5))
  }

  test("per-row LSH band keys equal the batch explode/groupBy path") {
    val docs = Seq(
      (1L, "the quick brown fox jumps over the lazy dog today"),
      (2L, "an entirely different document about spark engines"),
      (3L, "short"), // < ShingleN tokens -> no signature on either path
      (4L, "the quick brown fox jumps over the lazy dog today"))
      .toDF("doc_id", "text")
    val batch = Dedup.lshBuckets(Dedup.minhashSignatures(Dedup.shingleHashes(docs)))
      .as[(Long, Int, Long)].collect().toSet
    val perRow = docs
      .select($"doc_id", posexplode(Dedup.lshBandsPerRow($"text")).as(Seq("band", "band_key")))
      .as[(Long, Int, Long)].collect().toSet
    assert(perRow == batch)
    assert(!batch.exists(_._1 == 3L)) // shingle-less doc emits nothing
  }

  test("e9's continuous-ingest probe finds store matches across micro-batches") {
    // The e9 contract beyond the gate (which replays one batch): deltas
    // arriving over SEVERAL micro-batches each probe the standing store
    // statelessly and the union of their matches equals the batch rollup.
    val store = Dedup.lshBuckets(Dedup.minhashSignatures(Dedup.shingleHashes(Seq(
        (10L, "the quick brown fox jumps over the lazy dog today"),
        (11L, "completely different standing corpus document text here"))
        .toDF("doc_id", "text"))))
      .select($"band", $"band_key", $"doc_id".as("doc_old"))
    val dir = java.nio.file.Files.createTempDirectory("e9stream")
    def writeBatch(name: String, rows: Seq[(Long, String)]): Unit = {
      val tmp = java.nio.file.Files.createTempDirectory("e9batch")
      rows.toDF("doc_id", "text").coalesce(1).write.mode("overwrite").parquet(tmp.toString)
      val part = java.nio.file.Files.list(tmp)
        .filter(_.toString.endsWith(".parquet")).findFirst().get()
      java.nio.file.Files.move(part, dir.resolve(name),
        java.nio.file.StandardCopyOption.REPLACE_EXISTING)
    }
    // Batch 1 duplicates doc 10; batch 2 is one clean doc + a dup of 11.
    writeBatch("f1.parquet", Seq(
      (1L, "the quick brown fox jumps over the lazy dog today")))
    writeBatch("f2.parquet", Seq(
      (2L, "no overlap with anything in the standing corpus at all"),
      (3L, "completely different standing corpus document text here")))

    val delta = spark.readStream
      .schema("doc_id BIGINT, text STRING")
      .option("maxFilesPerTrigger", "1")
      .parquet(dir.toString)
      .select($"doc_id".as("doc_new"),
        posexplode(Dedup.lshBandsPerRow($"text")).as(Seq("band", "band_key")))
    val got = graft.streaming.StreamingWindows.runToMemory(
        delta.join(store, Seq("band", "band_key")),
        "e9spec_" + System.nanoTime(),
        org.apache.spark.sql.streaming.OutputMode.Append())
      .groupBy("doc_new", "doc_old").agg(count(lit(1)).as("n_bands"))
      .as[(Long, Long, Long)].collect().toSet
    // Identical text => identical signature => all 4 bands collide.
    assert(got == Set((1L, 10L, Dedup.Bands.toLong), (3L, 11L, Dedup.Bands.toLong)))
  }

  test("e10's appended store rows feed the NEXT probe (lifecycle loop)") {
    // Standing corpus: doc 100. Batch 1: doc 10 (dup of nothing standing).
    // Probe 1 finds no match; after appending batch 1 into the bucketed
    // store, batch 2's doc 1 — a dup of BATCH 1's doc 10 — must match it,
    // which can only happen through the appended rows.
    val db = "graft_e10_spec"
    spark.sql(s"DROP DATABASE IF EXISTS $db CASCADE")
    spark.sql(s"CREATE DATABASE IF NOT EXISTS $db LOCATION '/tmp/$db'")
    def buckets(rows: Seq[(Long, String)]) =
      Dedup.lshBuckets(Dedup.minhashSignatures(Dedup.shingleHashes(
        rows.toDF("doc_id", "text"))))
    Bucketing.writeBucketed(
      buckets(Seq((100L, "standing corpus text with nothing resembling the batches"))),
      s"$db.sig_bkt", nBuckets = 4, keys = Seq("band", "band_key"))
    def probe(rows: Seq[(Long, String)]) = {
      val delta = rows.toDF("doc_id", "text")
        .select($"doc_id".as("doc_new"),
          posexplode(Dedup.lshBandsPerRow($"text")).as(Seq("band", "band_key")))
      delta.join(
          spark.table(s"$db.sig_bkt")
            .select($"band", $"band_key", $"doc_id".as("doc_old")),
          Seq("band", "band_key"))
        .groupBy("doc_new", "doc_old").agg(count(lit(1)).as("n"))
        .as[(Long, Long, Long)].collect().toSet
    }
    val batch1 = Seq(10L -> "the quick brown fox jumps over the lazy dog today")
    assert(probe(batch1).isEmpty)
    Bucketing.appendBucketed(buckets(batch1), s"$db.sig_bkt",
      nBuckets = 4, keys = Seq("band", "band_key"))
    val got = probe(Seq(1L -> "the quick brown fox jumps over the lazy dog today"))
    assert(got == Set((1L, 10L, Dedup.Bands.toLong)))
    spark.sql(s"DROP DATABASE IF EXISTS $db CASCADE")
  }

  test("cutSpans removes duplicated spans from all-but-one occurrence") {
    // Docs 1 and 2 share a verbatim 4-token run ("dup span shared run");
    // doc 3 is clean. At n = 3 the run yields two shared shingles whose
    // canonical occurrences both live in doc 1 (min doc_id), so doc 1 keeps
    // its text, doc 2 loses the whole run (overlapping cut windows merge),
    // and doc 3 is untouched.
    val docs = Seq(
      (1L, "alpha dup span shared run beta"),
      (2L, "gamma dup span shared run delta"),
      (3L, "totally unrelated text here")).toDF("doc_id", "text")
    val out = Dedup.cutSpans(docs, n = 3)
      .select("doc_id", "n_tokens", "n_kept", "n_cuts", "cleaned_text")
      .as[(Long, Int, Int, Int, String)].collect().map(r => r._1 -> r).toMap
    assert(out(1L) == ((1L, 6, 6, 0, "alpha dup span shared run beta")))
    // doc 2: cut starts at token 1 and 2, covering tokens 1..4 — "gamma"
    // and "delta" survive.
    assert(out(2L) == ((2L, 6, 2, 2, "gamma delta")))
    assert(out(3L) == ((3L, 4, 4, 0, "totally unrelated text here")))
  }

  test("cutSpans keeps exactly one occurrence of a within-doc repeat") {
    // One doc repeating a 3-token phrase: the second occurrence is cut.
    val docs = Seq((7L, "x one two three y one two three z"))
      .toDF("doc_id", "text")
    val out = Dedup.cutSpans(docs, n = 3)
      .select("n_kept", "cleaned_text").as[(Int, String)].head()
    assert(out == ((6, "x one two three y z")))
  }

  test("cutLongSpans cuts only merged runs >= minRun; short repeats survive") {
    // Docs 1/2 share a LONG 6-token run ("one two three four five six") and
    // a SHORT 3-token phrase ("tiny shared bit"). At n = 3, minRun = 5:
    // the long run's four overlapping shared windows merge to extent 6 >= 5
    // and are cut from doc 2 (doc 1 is canonical); the short phrase's single
    // window has extent 3 < 5 and SURVIVES in both docs — the any-length
    // semantics c2 cannot express.
    val docs = Seq(
      (1L, "one two three four five six pad tiny shared bit"),
      (2L, "pre one two three four five six post tiny shared bit end"),
      (3L, "noise words only")).toDF("doc_id", "text")
    val out = Dedup.cutLongSpans(docs, n = 3, minRun = 5)
      .select("doc_id", "n_tokens", "n_kept", "n_cuts", "cleaned_text")
      .as[(Long, Int, Int, Int, String)].collect().map(r => r._1 -> r).toMap
    assert(out(1L) == ((1L, 10, 10, 0,
      "one two three four five six pad tiny shared bit")))
    assert(out(2L) == ((2L, 12, 6, 1, "pre post tiny shared bit end")))
    assert(out(3L) == ((3L, 3, 3, 0, "noise words only")))
  }

  test("cutLongSpans with minRun <= n is bit-identical to cutSpans") {
    val docs = Seq(
      (1L, "alpha dup span shared run beta"),
      (2L, "gamma dup span shared run delta"),
      (3L, "totally unrelated text here")).toDF("doc_id", "text")
    val a = Dedup.cutSpans(docs, n = 3)
      .select("doc_id", "n_tokens", "n_kept", "cleaned_text")
      .as[(Long, Int, Int, String)].collect().toSet
    val b = Dedup.cutLongSpans(docs, n = 3, minRun = 0)
      .select("doc_id", "n_tokens", "n_kept", "cleaned_text")
      .as[(Long, Int, Int, String)].collect().toSet
    assert(a == b)
  }

  test("autoMinRun walks the ladder to the <=1/fracDen rung; cutSpansAuto cuts there") {
    // 40 docs: 8 share short 4-token phrases pairwise (fire at rung 4
    // only), 2 share a 10-token run (fires through rung 8). At
    // fracDen = 20 the cap is 40/20 = 2 docs: rung 4 affects 10 docs
    // (> 2), rung 8 affects exactly the 2 long-run docs (<= 2) → 8.
    val longRun = "r1 r2 r3 r4 r5 r6 r7 r8 r9 r10"
    val rows =
      (0 until 4).flatMap { p =>
        Seq((100L + 2 * p, s"a$p b$p c$p d$p x${2 * p} pad filler word"),
          (101L + 2 * p, s"a$p b$p c$p d$p y${2 * p} other filler word"))
      } ++ Seq(
        (1L, s"$longRun tail one"),
        (2L, s"head $longRun two")) ++
        (200L until 230L).map(i => (i, s"unique u$i v$i w$i z$i q$i"))
    val docs = rows.toDF("doc_id", "text")
    assert(docs.count() == 40)
    val ladder = Seq(4, 8)
    assert(graft.ops.Dedup.autoMinRun(docs, ladder, fracDen = 20L) == 8)
    // and a cap nobody meets falls back to the widest rung
    assert(graft.ops.Dedup.autoMinRun(docs, ladder, fracDen = 41L) == 8)
    // a permissive cap accepts the narrowest rung
    assert(graft.ops.Dedup.autoMinRun(docs, ladder, fracDen = 1L) == 4)
    val out = Dedup.cutSpansAuto(docs, n = 4, ladder = ladder, fracDen = 20L)
      .select("doc_id", "n_cuts", "min_run", "cleaned_text")
      .as[(Long, Int, Int, String)].collect().map(r => r._1 -> r).toMap
    // the chosen rung rides along; the long run is cut from the
    // non-canonical doc; the short shared phrases survive everywhere
    assert(out(1L)._3 == 8 && out(1L)._2 == 0)
    assert(out(2L) == ((2L, 1, 8, "head two")))
    assert(out(102L)._2 == 0 && out(103L)._2 == 0)
  }

  test("redactPii scrubs emails, IPv4s, and phones; counts audit the hits") {
    val df = Seq(Tuple1(
      "mail Bob.Smith+x@Corp.Example.ORG then 192.168.0.1 and 10.0.0.255, " +
        "call 555-0143 or 555-9999; not-pii: v1.2.3, a@b (no tld), 12-34")
    ).toDF("t")
    val row = df.select(
      (TextOps.piiCounts($"t") :+ TextOps.redactPii($"t").as("red")): _*).head()
    assert(row.getAs[Int]("n_emails") == 1)
    assert(row.getAs[Int]("n_ips") == 2)
    assert(row.getAs[Int]("n_phones") == 2)
    assert(row.getAs[String]("red") ==
      "mail [EMAIL] then [IP] and [IP], call [PHONE] or [PHONE]; " +
        "not-pii: v1.2.3, a@b (no tld), 12-34")
  }

  test("crossCorpusMatches equals the cross slice of the self-join pairs") {
    import spark.implicits._
    val mk = (id: Long, t: String) => (id, t)
    val boiler = "the quick brown fox jumps over the lazy dog again and " +
      "again every single day without fail in the morning light"
    val corpus = Seq(
      mk(1L, boiler), mk(2L, boiler + " extra tail words here"),
      mk(3L, "completely different text with nothing shared at all " +
        "between these documents ever written down"),
      mk(101L, boiler), mk(102L, "another unrelated standing document " +
        "about spark physical plans and shuffle exchanges at scale"),
      mk(103L, boiler + " extra tail words here"))
      .toDF("doc_id", "text")
    val a = corpus.filter(col("doc_id") >= 100)
    val b = corpus.filter(col("doc_id") < 100)
    val got = graft.ops.Dedup.crossCorpusMatches(a, b, minBands = 2)
      .as[(Long, Long, Long, Long)].collect().toSet
    // ground truth from the self-join chain, cross-filtered
    val all = graft.ops.Dedup.candidatePairs(graft.ops.Dedup.lshBuckets(
        graft.ops.Dedup.minhashSignatures(graft.ops.Dedup.shingleHashes(corpus))))
      .filter(col("doc_a") < 100 && col("doc_b") >= 100 && col("n_bands") >= 2)
      .as[(Long, Long, Long)].collect()
    val want = all.groupBy(_._1).map { case (db, ms) =>
      val best = ms.maxBy(m => (m._3, -m._2))
      (db, best._2, best._3, ms.size.toLong)
    }.toSet
    assert(got == want && got.nonEmpty)
    // doc 1 (pure boilerplate) must best-match standing 101 (same text)
    assert(got.exists(r => r._1 == 1L && r._2 == 101L))
  }

  test("longestDupSpan finds the exact longest shared run, 1-based") {
    // docs 1 and 2 share EXACTLY tokens s1..s12 (12 tokens), embedded at
    // position 4 in doc 1 (after "a1 a2 a3") and position 2 in doc 2
    // (after "b1"). k = 4, minLen = 4: the run must come out len 12,
    // start_a 4, start_b 2 — any anchor off-by-one or a wrong +k−1 shifts
    // it. doc 3 is too short for any anchor (3 tokens < k) and doc 4
    // shares nothing.
    val run = (1 to 12).map("s" + _).mkString(" ")
    val docsDf = Seq(
      (1L, s"a1 a2 a3 $run a4 a5"),
      (2L, s"b1 $run b2"),
      (3L, "t1 t2 t3"),
      (4L, "u1 u2 u3 u4 u5 u6 u7 u8 u9"))
      .toDF("doc_id", "text")
    val got = graft.ops.Dedup.longestDupSpan(docsDf, k = 4, minLen = 4)
      .as[(Long, Long, Long, Long, Long)].collect().toSet
    assert(got == Set((1L, 2L, 12L, 4L, 2L)))
  }

  test("longestDupSpan tie-breaks and multi-island diagonals") {
    // docs share two DISJOINT runs on different diagonals: "x1..x6"
    // (6 tokens) twice in doc 2 — at positions 1 and 9 — and once in
    // doc 1 at position 3. Longest run is 6 everywhere; the per-pair
    // winner must be (start_a=3, start_b=1): smallest start_a, then
    // smallest start_b among the equal-length candidates.
    val x = (1 to 6).map("x" + _).mkString(" ")
    val docsDf = Seq(
      (1L, s"c1 c2 $x c3 c4"),
      (2L, s"$x d1 d2 $x"))
      .toDF("doc_id", "text")
    val got = graft.ops.Dedup.longestDupSpan(docsDf, k = 3, minLen = 3)
      .as[(Long, Long, Long, Long, Long)].collect().toSet
    assert(got == Set((1L, 2L, 6L, 3L, 1L)))
  }

  test("longestDupSpan hub cap bounds a viral 8-gram across 1k docs") {
    // 1,000 docs all carry the same 8-token boilerplate footer (plus a
    // per-doc unique body). Uncapped, that one fingerprint alone is a
    // 1000-row join hub -> ~500k pair rows; with the frequency ceiling
    // the viral anchor is dropped BEFORE the self-join, so per-key join
    // output is bounded at cap^2 and boilerplate-only pairs vanish. Docs
    // 5000/5001 additionally share a genuine 12-token run, whose anchors
    // (frequency 2) survive the cap and must still report exactly.
    val viral = (1 to 8).map("v" + _).mkString(" ")
    val run = (1 to 12).map("r" + _).mkString(" ")
    val boiler = (0 until 1000).map(i =>
      (i.toLong, s"unique$i body$i words$i here$i $viral tail$i"))
    val pair = Seq(
      (5000L, s"p1 p2 $run p3"),
      (5001L, s"q1 $run q2 q3 q4"))
    val docsDf = (boiler ++ pair).toDF("doc_id", "text")
    val got = graft.ops.Dedup.longestDupSpan(docsDf, k = 8, minLen = 8,
      maxAnchorFreq = 64)
      .as[(Long, Long, Long, Long, Long)].collect().toSet
    assert(got == Set((5000L, 5001L, 12L, 3L, 2L)))
  }

  test("longestDupSpan cap semantics: above-cap anchors split their runs") {
    // Three docs share the same 10-token run; every anchor in it has
    // frequency 3. cap = 2 drops them all -> no pairs at all; cap = 3
    // admits them -> all three pairs report the full run.
    val r = (1 to 10).map("w" + _).mkString(" ")
    val docsDf = Seq((1L, s"a0 $r"), (2L, s"b0 b1 $r"), (3L, s"$r c0"))
      .toDF("doc_id", "text")
    val capped = graft.ops.Dedup.longestDupSpan(docsDf, k = 4, minLen = 4,
      maxAnchorFreq = 2).count()
    assert(capped == 0L)
    val open = graft.ops.Dedup.longestDupSpan(docsDf, k = 4, minLen = 4,
      maxAnchorFreq = 3)
      .as[(Long, Long, Long, Long, Long)].collect().toSet
    assert(open == Set((1L, 2L, 10L, 2L, 3L), (1L, 3L, 10L, 2L, 1L),
      (2L, 3L, 10L, 3L, 1L)))
  }

  test("crossDupSpan reports only cross-frame contamination, corpus-capped") {
    // Eval doc 1 leaks an 8-token answer into corpus docs 101/102; corpus
    // docs 103/104 share a run only with EACH OTHER (must not appear —
    // that's d31's job, not decontamination); eval docs 1/2 share a run
    // only with each other (must not appear either). Corpus docs 201..230
    // all carry the same viral 5-gram that ALSO appears in eval doc 3 —
    // with the corpus-side cap at 8 those anchors drop, so the viral
    // 5-gram reports nothing; eval-side anchors are never capped.
    val leak = (1 to 8).map("l" + _).mkString(" ")
    val cc = (1 to 9).map("c" + _).mkString(" ")
    val ee = (1 to 9).map("e" + _).mkString(" ")
    val viral = (1 to 5).map("v" + _).mkString(" ")
    val evalDf = Seq(
      (1L, s"q1 $leak q2 $ee"),
      (2L, s"$ee q3 q4"),
      (3L, s"q5 $viral q6"))
      .toDF("doc_id", "text")
    val corpusDf = (Seq(
      (101L, s"a1 a2 $leak a3"),
      (102L, s"$leak b1 b2 b3"),
      (103L, s"d1 $cc"),
      (104L, s"$cc d2")) ++
      (201 to 230).map(i => (i.toLong, s"u$i w$i $viral z$i")))
      .toDF("doc_id", "text")
    val got = graft.ops.Dedup.crossDupSpan(corpusDf, evalDf, k = 5,
      minLen = 5, maxAnchorFreq = 8)
      .as[(Long, Long, Long, Long, Long)].collect().toSet
    assert(got == Set((101L, 1L, 8L, 3L, 2L), (102L, 1L, 8L, 1L, 2L)))
  }

  test("cutEvalSpans removes eval-shared windows from the corpus only") {
    // Corpus doc 101 leaks eval doc 1's 4-token answer (one 4-gram window
    // at 0-based pos 2) -> those 4 tokens get cut; corpus docs 102/103
    // share a 4-gram with EACH OTHER but not with the eval set -> kept
    // whole (decontamination never cuts within-corpus duplication; that is
    // c2's job). Every matching occurrence is cut - no canonical keeper.
    val leak = "l1 l2 l3 l4"
    val cc = "c1 c2 c3 c4"
    val evalDf = Seq((1L, s"q1 $leak q2")).toDF("doc_id", "text")
    val corpusDf = Seq(
      (101L, s"a1 a2 $leak a3"),
      (102L, s"b1 $cc"),
      (103L, s"$cc b2"))
      .toDF("doc_id", "text")
    val got = graft.ops.Dedup.cutEvalSpans(corpusDf, evalDf, n = 4)
      .as[(Long, Int, Int, Int, String)].collect()
      .map(r => r._1 -> r).toMap
    assert(got(101L) == ((101L, 7, 3, 1, "a1 a2 a3")))
    assert(got(102L) == ((102L, 5, 5, 0, "b1 c1 c2 c3 c4")))
    assert(got(103L) == ((103L, 5, 5, 0, "c1 c2 c3 c4 b2")))
  }

  test("cutEvalSpansAgainst over precomputed fingerprints equals cutEvalSpans") {
    // e19's stream-static split: extracting the eval fingerprints once
    // and joining every batch against them must be bit-identical to the
    // at-rest form that re-shingles the eval set per call.
    val evalDocs = Seq((1L, "w1 w2 w3 w4 w5 w6 w7 w8 w9 w10 w11 w12"))
      .toDF("doc_id", "text")
    val corpus = Seq(
      (100L, "x0 w1 w2 w3 w4 w5 w6 w7 w8 w9 w10 x1 x2"),
      (101L, "clean doc with no overlap at all here today now ok fine"))
      .toDF("doc_id", "text")
    val direct = Dedup.cutEvalSpans(corpus, evalDocs, n = 10)
      .collect().map(_.toSeq).toSet
    val viaFp = Dedup.cutEvalSpansAgainst(corpus,
        Dedup.evalFingerprints(evalDocs, n = 10), n = 10)
      .collect().map(_.toSeq).toSet
    assert(direct == viaFp)
    // and the kernel actually cut the contaminated window
    val contaminated = direct.find(_.head == 100L).get
    assert(contaminated(3).asInstanceOf[Int] >= 1, s"no cut: $contaminated")
  }

  test("guardedCandidatePairs collapses exact-dup mass before pair enumeration") {
    // 10 docs sharing ONE viral text (ids 0-9), a near-dup pair that
    // differs by a token (20, 21), one unrelated doc (30). The PLAIN
    // chain enumerates C(10,2) = 45 viral-internal pairs; the guard
    // collapses them to one representative, so NO pair has both ends in
    // the viral group, and the rep carries its multiplicity.
    val viral = "the same viral licence footer text appears verbatim everywhere"
    val docsDf = ((0L until 10L).map(i => (i, viral)) ++ Seq(
      (20L, "a quick brown fox jumps over the lazy dog tonight"),
      (21L, "a quick brown fox jumps over the lazy dog today"),
      (30L, "completely unrelated content with distinct words only here")))
      .toDF("doc_id", "text")
    val plainViral = Dedup.candidatePairs(Dedup.lshBuckets(
        Dedup.minhashSignatures(Dedup.shingleHashes(docsDf))))
      .filter($"doc_a" < 10 && $"doc_b" < 10).count()
    assert(plainViral == 45L, s"plain chain must be quadratic: $plainViral")
    val guarded = Dedup.guardedCandidatePairs(docsDf)
      .as[(Long, Long, Long, Long, Long)].collect()
    assert(!guarded.exists(p => p._1 < 10 && p._2 < 10),
      s"guard must collapse the viral mass: ${guarded.toSeq}")
    // The near-dup pair survives the guard (it is NOT an exact dup)...
    val nd = guarded.filter(p => p._1 == 20L && p._2 == 21L)
    assert(nd.length == 1, s"near-dup pair must survive: ${guarded.toSeq}")
    // ...and every pair carries both multiplicities (viral rep = 10).
    assert(nd.head._4 == 1L && nd.head._5 == 1L)
    guarded.filter(p => p._1 == 0L || p._2 == 0L).foreach { p =>
      assert((if (p._1 == 0L) p._4 else p._5) == 10L,
        s"viral rep must carry copies=10: $p")
    }
  }

  test("ngramContainment sees the excerpt a symmetric Jaccard cannot") {
    // Doc 2 is a verbatim EXCERPT of the long doc 1 (its first half), so
    // every doc-2 shingle is inside doc 1: cont on the short side = 1.0
    // while the Jaccard is well under the near-dup bar. Docs 10/11 are
    // genuine near-identical twins (one token differs) → near_dup. The
    // classification must come out of the rounded thresholds.
    val long1 = "alpha beta gamma delta epsilon zeta eta theta iota kappa " +
      "lambda mu nu xi omicron pi rho sigma tau upsilon"
    val excerpt = "alpha beta gamma delta epsilon zeta eta theta iota kappa"
    val docsDf = Seq(
      (1L, long1), (2L, excerpt),
      (10L, "one two three four five six seven eight nine ten eleven"),
      (11L, "one two three four five six seven eight nine ten twelve"))
      .toDF("doc_id", "text")
    val got = Dedup.ngramContainment(docsDf)
      .as[(Long, Long, Double, Double, Double, String)].collect()
      .map(r => (r._1, r._2) -> r).toMap
    got.get((1L, 2L)).foreach { case (_, _, ca, cb, j, rel) =>
      assert(cb == 1.0, s"excerpt must be fully contained: $cb")
      assert(j < 0.8 && rel == "containment", s"got j=$j rel=$rel")
    }
    assert(got.contains((1L, 2L)) || got.contains((2L, 1L)),
      s"excerpt pair must survive LSH candidacy: ${got.keys}")
    got.get((10L, 11L)).foreach { case (_, _, _, _, j, rel) =>
      assert(j >= 0.8 && rel == "near_dup", s"twins: j=$j rel=$rel")
    }
    assert(got.contains((10L, 11L)), s"twin pair missing: ${got.keys}")
  }

  test("containmentDrops removes the contained excerpt with provenance") {
    // Same geometry as the d35 case: doc 2 is a verbatim excerpt of the
    // long doc 1 → containment pair → doc 2 (shorter, higher cont) is
    // dropped with doc 1 as keeper. The near-dup twins 10/11 (jaccard >=
    // 0.8) must NOT be dropped here — they belong to the c1 dedup chain.
    // Doc 3 is a second, longer container of the same excerpt: the keeper
    // witness is the MIN container id and n_containers counts both.
    val long1 = "alpha beta gamma delta epsilon zeta eta theta iota kappa " +
      "lambda mu nu xi omicron pi rho sigma tau upsilon"
    val long3 = long1 + " extra closing words here now"
    val excerpt = "alpha beta gamma delta epsilon zeta eta theta iota kappa"
    val docsDf = Seq(
      (1L, long1), (2L, excerpt), (3L, long3),
      (10L, "one two three four five six seven eight nine ten eleven"),
      (11L, "one two three four five six seven eight nine ten twelve"))
      .toDF("doc_id", "text")
    val got = Dedup.containmentDrops(docsDf)
      .as[(Long, Long, Long, Long)].collect().map(r => r._1 -> r).toMap
    assert(got.contains(2L), s"excerpt must be dropped: ${got.keys}")
    val (_, keeper, nCont, contE6) = got(2L)
    assert(keeper == 1L, s"keeper must be the min container: $keeper")
    assert(nCont >= 2L, s"both containers must count: $nCont")
    assert(contE6 == 1000000L, s"full containment must read 1e6: $contE6")
    assert(!got.contains(10L) && !got.contains(11L),
      s"near-dup twins are not containment drops: ${got.keys}")
    // Doc 1 is itself a (near-)subset of doc 3 via its shared prefix, but
    // only if its containment clears 0.8 with jaccard < 0.8 — whatever the
    // scores say, no row may ever drop a doc that is its own keeper.
    got.values.foreach { case (d, k, _, _) => assert(d != k) }
  }

  test("arrivalContainmentDrops quarantines excerpts, lands supersets") {
    // e22's policy kernel on a hand fixture: standing doc 100 is the
    // long document; arrival 1 is its verbatim excerpt (cont_a = 1.0,
    // jaccard < 0.8) → quarantined with doc 100 as keeper; arrival 2
    // CONTAINS doc 101 (it is the longer side: cont_a < 0.8 while the
    // standing side's containment is 1.0) → must NOT be dropped — new
    // longer versions of standing content are content, not duplication.
    val long100 = "alpha beta gamma delta epsilon zeta eta theta iota " +
      "kappa lambda mu nu xi omicron pi rho sigma tau upsilon"
    val excerpt = "alpha beta gamma delta epsilon zeta eta theta iota kappa"
    val short101 = "one two three four five six seven eight nine ten eleven"
    val superset = short101 + " twelve thirteen fourteen fifteen sixteen " +
      "seventeen eighteen nineteen twenty twentyone"
    val all = Seq((1L, excerpt), (2L, superset),
      (100L, long100), (101L, short101)).toDF("doc_id", "text")
    // Candidates as e22 builds them: (arrival, standing) pairs sharing a
    // capped standing window.
    val cand = Seq((1L, 100L), (2L, 101L)).toDF("doc_a", "doc_b")
    val got = Dedup.arrivalContainmentDrops(all, cand)
      .as[(Long, Long, Long, Long)].collect().map(r => r._1 -> r).toMap
    assert(got.keySet == Set(1L), s"only the excerpt drops: ${got.keys}")
    val (_, keeper, n, contE6) = got(1L)
    assert(keeper == 100L && n == 1L && contE6 == 1000000L)
  }

  test("containmentDropsAuto picks the smallest rung within the drop budget") {
    // Hand fixture with mass on two rungs: excerpt 1 is fully inside
    // source 100 (cont 1.0); excerpt 2 is 60% inside source 101 (8 source
    // tokens + 4 novel → 6 of 10 shingles shared, cont_e6 = 600000).
    // Six filler docs pad the corpus to 10 so the 1/fracDen budget is
    // round. winN = 3 keeps the short docs window-candidate-visible.
    val a = (1 to 20).map(i => s"alpha$i").mkString(" ")
    val b = (1 to 20).map(i => s"beta$i").mkString(" ")
    val ex1 = (1 to 10).map(i => s"alpha$i").mkString(" ")
    val ex2 = ((1 to 8).map(i => s"beta$i") ++
      (1 to 4).map(i => s"nov$i")).mkString(" ")
    val fill = (1 to 6).map(k =>
      (200L + k, (1 to 12).map(i => s"f${k}x$i").mkString(" ")))
    val docs = (Seq((1L, ex1), (2L, ex2), (100L, a), (101L, b)) ++ fill)
      .toDF("doc_id", "text")
    // Budget 1/10 → cap 1 doc: the 600000 rung would drop 2, so the
    // survey must walk up to 900000 and drop only the full excerpt.
    val strict = Dedup.containmentDropsAuto(docs, winN = 3,
        ladder = Seq(600000L, 900000L), fracDen = 10L)
      .as[(Long, Long, Long, Long, Long)].collect().map(r => r._1 -> r).toMap
    assert(strict.keySet == Set(1L), s"got ${strict.keySet}")
    assert(strict(1L) == ((1L, 100L, 1L, 1000000L, 900000L)))
    // Budget 1/5 → cap 2: the SMALLEST qualifying rung (600000) wins and
    // both excerpts drop, each with its source as keeper.
    val loose = Dedup.containmentDropsAuto(docs, winN = 3,
        ladder = Seq(600000L, 900000L), fracDen = 5L)
      .as[(Long, Long, Long, Long, Long)].collect().map(r => r._1 -> r).toMap
    assert(loose.keySet == Set(1L, 2L), s"got ${loose.keySet}")
    assert(loose(1L) == ((1L, 100L, 1L, 1000000L, 600000L)))
    assert(loose(2L) == ((2L, 101L, 1L, 600000L, 600000L)))
  }

  test("the 0.8 containment threshold drops 8 of 10 shared shingles and keeps 7 of 9") {
    // Excerpt 1 is 10 source tokens + 2 novel: 8 of its 10 shingles are
    // inside source 100 (cont_e6 = 800000, jaccard 8/20). Excerpt 2 is 9
    // source tokens + 2 novel: 7 of 9 inside source 101 (cont_e6 =
    // 777778). At the default threshold both drop operators must drop
    // the first, exactly on the boundary, and keep the second.
    val a = (1 to 20).map(i => s"alpha$i").mkString(" ")
    val b = (1 to 20).map(i => s"beta$i").mkString(" ")
    val onBar = ((1 to 10).map(i => s"alpha$i") ++ Seq("nova", "novb"))
      .mkString(" ")
    val belowBar = ((1 to 9).map(i => s"beta$i") ++ Seq("novc", "novd"))
      .mkString(" ")
    val docs = Seq((1L, onBar), (2L, belowBar), (100L, a), (101L, b))
      .toDF("doc_id", "text")
    val batch = Dedup.containmentDrops(docs, winN = 3)
      .as[(Long, Long, Long, Long)].collect().map(r => r._1 -> r).toMap
    assert(batch == Map(1L -> ((1L, 100L, 1L, 800000L))), s"got $batch")
    val cand = Seq((1L, 100L), (2L, 101L)).toDF("doc_a", "doc_b")
    val arrival = Dedup.arrivalContainmentDrops(docs, cand)
      .as[(Long, Long, Long, Long)].collect().map(r => r._1 -> r).toMap
    assert(arrival == Map(1L -> ((1L, 100L, 1L, 800000L))), s"got $arrival")
  }

  test("c13: the survey-derived rung governs the arrival decide (not the 0.8 fiat)") {
    // The unification seam made observable: a standing corpus whose own
    // containment mass drives the survey to 900000 (the 600000 rung would
    // drop 2 of 10 docs against a 1-doc budget — the containmentDropsAuto
    // fixture's geometry, shifted into standing ids), and an arrival at
    // cont 6/7 = 857143 that LANDS at the derived rung but would
    // quarantine under e22's pinned 0.8. A second arrival at cont 1.0
    // must still drop — the rung tightens the cut, it doesn't disable it.
    val a = (1 to 20).map(i => s"alpha$i").mkString(" ")
    val b = (1 to 20).map(i => s"beta$i").mkString(" ")
    val ex1 = (1 to 10).map(i => s"alpha$i").mkString(" ")
    val ex2 = ((1 to 8).map(i => s"beta$i") ++
      (1 to 4).map(i => s"nov$i")).mkString(" ")
    val fill = (1 to 6).map(k =>
      (200L + k, (1 to 12).map(i => s"f${k}x$i").mkString(" ")))
    val standing = (Seq((51L, ex1), (52L, ex2), (100L, a), (101L, b)) ++ fill)
      .toDF("doc_id", "text")
    val rung = Dedup.surveyContainmentRung(
      Dedup.dropRows(Dedup.scored(standing, Dedup.windowPairs(
        Dedup.cappedWindowOcc(Dedup.windowOcc(standing, winN = 3), 64)))),
      nDocs = 10L, ladder = Seq(600000L, 900000L), fracDen = 10L)
    assert(rung == 900000L, s"survey must walk past the over-dropping rung: $rung")
    // Arrival 1: 8 source tokens + 1 novel → 6 of 7 shingles shared
    // (857143); arrival 2: a verbatim 10-token excerpt (1000000).
    val arr1 = ((1 to 8).map(i => s"alpha$i") :+ "novel").mkString(" ")
    val all = standing.unionByName(
      Seq((1L, arr1), (2L, ex1)).toDF("doc_id", "text"))
    val cand = Seq((1L, 100L), (2L, 100L)).toDF("doc_a", "doc_b")
    val atRung = Dedup.arrivalContainmentDrops(all, cand, minContE6 = rung)
      .as[(Long, Long, Long, Long)].collect().map(r => r._1 -> r).toMap
    assert(atRung.keySet == Set(2L),
      s"at the derived rung only the verbatim excerpt drops: ${atRung.keySet}")
    assert(atRung(2L) == ((2L, 100L, 1L, 1000000L)))
    val atFiat = Dedup.arrivalContainmentDrops(all, cand)
      .as[(Long, Long, Long, Long)].collect().map(_._1).toSet
    assert(atFiat == Set(1L, 2L),
      s"the 0.8 fiat would also quarantine the 857143 arrival: $atFiat")
  }

  test("e23 self-extending ingest quarantines excerpts of earlier arrivals") {
    // The e22 seam this closes: its standing-only store can only produce
    // containers with doc_id >= 50 — a window-B arrival quoting a
    // window-A arrival sails through. e23's five rewritten B arrivals
    // (%5==2: 27/32/37/42/47, each a 30-token excerpt of doc_id−25) must
    // all quarantine, and each keeper must be an EARLIER ARRIVAL
    // (doc_id < 25): a pair that exists only through the store extension.
    val out = SparkEntry.queries("e23_containment_ingest_ext")(
        spark, "/root/testdata/sf0.001")
      .filter(!col("landed"))
      .select("doc_id", "keeper_id").as[(Long, Long)].collect().toMap
    val excerpts = Set(27L, 32L, 37L, 42L, 47L)
    assert(excerpts.subsetOf(out.keySet),
      s"excerpt arrivals not quarantined: ${excerpts -- out.keySet}")
    excerpts.foreach(d => assert(out(d) < 25L,
      s"keeper of $d must be a window-A arrival, got ${out(d)}"))
  }

  test("evalDirtiness counts contaminated windows per eval item") {
    // Eval doc 1 "a b c d" has 3-gram windows {"a b c", "b c d"}; the
    // corpus contains "a b c" but not "b c d" → 1 of 2 dirty (500000
    // e6). Eval doc 2 is shorter than a window → 0 windows, clean by
    // definition. Eval doc 3 shares nothing → clean. A REPEATED dirty
    // window in an eval doc counts once per POSITION (doc 4: "a b c a
    // b c" has windows at 4 positions, 2 of them the dirty "a b c"...
    // plus "b c a" and "c a b", both absent → 2 of 4 dirty).
    val eval = Seq(
      (1L, "a b c d"), (2L, "q r"), (3L, "u v w"),
      (4L, "a b c a b c")).toDF("doc_id", "text")
    val corpus = Seq(
      (10L, "x y a b c z"),
      (11L, "completely unrelated training content here")).toDF("doc_id", "text")
    val got = Dedup.evalDirtiness(eval, corpus, k = 3)
      .as[(Long, Long, Long, Long, Boolean)].collect().toSet
    assert(got == Set(
      (1L, 2L, 1L, 500000L, true),
      (2L, 0L, 0L, 0L, false),
      (3L, 1L, 0L, 0L, false),
      (4L, 4L, 2L, 500000L, true)), s"got $got")
  }
}
