package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.ops.{Dedup, Similarity, Split, TextOps}

/** Round-12 curation additions: the Gopher rule gate (t16), Gumbel-top-k
  * importance resampling (o17), SSL-prototype pruning (v19), and the
  * cross-source overlap matrix (d24).
  */
class CurationSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark
  import spark.implicits._

  // ---- t16 gopherRules ----------------------------------------------------

  private def ruleRow(id: Long, text: String) =
    TextOps.gopherRules(Seq((id, text)).toDF("doc_id", "text"),
      "doc_id", "text").collect().head

  test("gopherRules: a healthy doc passes every rule") {
    val good = (1 to 12).flatMap(i => Seq("the", s"word$i", "of", s"item$i"))
      .mkString(" ")
    val r = ruleRow(1L, good)
    assert(Seq("ok_words", "ok_mwl", "ok_stop", "ok_rep", "ok_alpha")
      .forall(f => r.getAs[Boolean](f)), r.toString)
    assert(r.getAs[Boolean]("pass"))
    // edge whitespace must not change any number or flag: split(\s+)
    // would otherwise count a phantom "" token per edge and skew every
    // ratio's denominator (trailing newlines are near-universal in web
    // text)
    assert(ruleRow(2L, "\n " + good + " \n\n").toSeq.drop(1) ==
      r.toSeq.drop(1))
  }

  test("gopherRules: each rule fails on its own pathology") {
    // too short (10 words)
    assert(!ruleRow(1L, Seq.fill(10)("the word").mkString(" "))
      .getAs[Boolean]("ok_words"))
    // mean word length out of band (all 1-char words)
    assert(!ruleRow(2L, (1 to 30).map(i => ('a' + i % 26).toChar.toString)
      .mkString(" ")).getAs[Boolean]("ok_mwl"))
    // no stopwords
    assert(!ruleRow(3L, (1 to 30).map(i => s"word$i").mkString(" "))
      .getAs[Boolean]("ok_stop"))
    // one token repeated (distinct ratio 1/30)
    val rep = ruleRow(4L, Seq.fill(30)("spam").mkString(" "))
    assert(!rep.getAs[Boolean]("ok_rep"))
    assert(!rep.getAs[Boolean]("pass"))
    // numeric soup: words with no letters
    assert(!ruleRow(5L, (1 to 30).map(i => s"$i$i").mkString(" "))
      .getAs[Boolean]("ok_alpha"))
  }

  // ---- o17 gumbelTopK -----------------------------------------------------

  private lazy val weighted =
    (1L to 500L).map(i => (i, (i % 13).toDouble / 3.0)).toDF("doc_id", "log_w")

  test("gumbelTopK: selected set is partition-layout-invariant") {
    val a = Split.gumbelTopK(weighted.repartition(1), "doc_id", "log_w",
      n = 50, seed = 41L).select("doc_id").as[Long].collect().toSet
    val b = Split.gumbelTopK(weighted.repartition(17), "doc_id", "log_w",
      n = 50, seed = 41L).select("doc_id").as[Long].collect().toSet
    assert(a == b)
    assert(a.size == 50)
  }

  test("gumbelTopK: selection is biased toward high weights") {
    val sel = Split.gumbelTopK(weighted, "doc_id", "log_w", n = 100,
      seed = 7L).agg(avg("log_w")).as[Double].collect().head
    val all = weighted.agg(avg("log_w")).as[Double].collect().head
    assert(sel > all, s"selected mean $sel should exceed corpus mean $all")
  }

  // ---- v19 prototypePrune -------------------------------------------------

  test("prototypePrune: per-cluster ceil quota of the FARTHEST rows") {
    // two well-separated clusters of unequal size around (0,0) and (10,10)
    val vecs = ((1 to 9).map(i => (i.toLong, Seq(0.1f * i, 0f))) ++
      (11 to 14).map(i => (i.toLong, Seq(10f + 0.1f * i, 10f))))
      .toDF("vec_id", "embedding")
    val kept = Similarity.prototypePrune(vecs, k = 2, iters = 3,
      keepFrac = 0.5)
    val byCluster = kept.groupBy("cluster")
      .agg(count(lit(1)).as("n"), max("proto_rank").as("maxrk"))
      .as[(Int, Long, Int)].collect().toSeq.sortBy(_._1)
    // quotas: ceil(0.5*9)=5 and ceil(0.5*4)=2 (order depends on init)
    assert(byCluster.map(_._2).sorted == Seq(2L, 5L), byCluster.toString)
    // ranks are contiguous from 1 (the hardest)
    assert(byCluster.forall { case (_, n, maxrk) => maxrk == n })
    // kept rows are the per-cluster max-d2 rows: the minimum kept d2 must
    // be >= the maximum dropped d2 within each cluster
    val all = Similarity.kmeansBroadcast(vecs, 2, 3)
      .select("vec_id", "cluster", "d2").as[(Long, Int, Double)].collect()
    val keptIds = kept.select("vec_id").as[Long].collect().toSet
    for (cl <- all.map(_._2).distinct) {
      val (in, out) = all.filter(_._2 == cl).partition(r => keptIds(r._1))
      if (out.nonEmpty)
        assert(in.map(_._3).min >= out.map(_._3).max)
    }
  }

  // ---- o18 clusterSafeSplit -----------------------------------------------

  test("clusterSafeSplit: no near-dup cluster spans splits; singletons keep own id") {
    val base = "alpha beta gamma delta epsilon zeta eta theta iota kappa " +
      "lambda mu nu xi omicron pi rho sigma tau upsilon"
    val docs = ((1L to 6L).map(i => (i, base + s" tail$i", s"s$i")) ++
      (7L to 26L).map(i =>
        (i, s"unique$i " + (1 to 20).map(j => s"w$i-$j").mkString(" "), s"s$i")))
      .toDF("doc_id", "text", "source")
    val split = graft.ops.Dedup.clusterSafeSplit(docs, seed = 13L,
      nBuckets = 10, trainBuckets = 8)
      .as[(Long, Long, String)].collect()
    assert(split.length == 26)
    // cohesion: one split value per cluster_id
    val perCluster = split.groupBy(_._2).values
    assert(perCluster.forall(_.map(_._3).distinct.size == 1))
    // the 6 near-dup docs share one cluster; the 20 unique docs are
    // singletons labeled with their own id
    val dupCluster = split.filter(_._1 <= 6L).map(_._2).distinct
    assert(dupCluster.length == 1 && dupCluster.head == 1L)
    assert(split.filter(_._1 > 6L).forall(r => r._2 == r._1))
  }

  // ---- v20 ivfHardNegatives -----------------------------------------------

  test("ivfHardNegatives: different-label only, ranked by distance") {
    // 3 labels in 3 well-separated regions; queries are vec_id < 4
    val vecs = (0 until 30).map { i =>
      val label = i % 3
      (i.toLong, Seq(label * 10f + 0.1f * i, 0.5f * label), label)
    }.toDF("vec_id", "embedding", "label")
    val negs = Similarity.ivfHardNegatives(vecs, k = 3, iters = 3,
      nprobe = 3, nQueries = 4, kNeg = 3)
      .as[(Long, Int, Long, Double)].collect()
    val labels = vecs.select("vec_id", "label").as[(Long, Int)]
      .collect().toMap
    assert(negs.nonEmpty)
    // every mined negative has a different label than its query
    assert(negs.forall { case (q, _, n, _) => labels(q) != labels(n) })
    // per query: ranks contiguous from 1, d2 non-decreasing with rank
    for ((_, rows) <- negs.groupBy(_._1)) {
      val sorted = rows.sortBy(_._2)
      assert(sorted.map(_._2).toSeq == (1 to sorted.length))
      assert(sorted.sliding(2).forall(p =>
        p.length < 2 || p(0)._4 <= p(1)._4))
    }
  }

  // ---- t17 corpusReport ---------------------------------------------------

  test("corpusReport: per-source rollup is consistent with the per-doc ops") {
    val good = (1 to 12).flatMap(i => Seq("the", s"word$i", "of", s"item$i"))
      .mkString(" ")
    val docs = Seq(
      (1L, good, "sA"), (2L, good, "sA"), // exact dups: 1 unique text
      (3L, "tiny doc", "sA"),
      (4L, good + " extra", "sB"))
      .toDF("doc_id", "text", "source")
    val rep = TextOps.corpusReport(docs, "source", "text")
      .orderBy("source")
      .as[(String, Long, Long, Long, Double, Long, Long)].collect()
    val Seq(a, b) = rep.toSeq
    assert(a._1 == "sA" && a._2 == 3 && a._6 == 2) // 3 docs, 2 unique texts
    assert(b._1 == "sB" && b._2 == 1 && b._6 == 1)
    // gopher pass counts match the per-doc gate
    val passes = TextOps.gopherRules(docs, "doc_id", "text")
      .filter(col("pass")).count()
    assert(rep.map(_._7).sum == passes)
    // token totals match the per-doc tokenizer
    val tok = docs.select(size(TextOps.tokens(col("text")))).as[Int]
      .collect().sum
    assert(rep.map(_._3).sum == tok)
  }

  // ---- t18 fertility report -----------------------------------------------

  test("fertilityBySource: totals match tokenCounts; more merges lower fertility") {
    val docs = Seq(
      (1L, "lower lower newest newest lowest", "sA"),
      (2L, "newest widest lowest lower", "sA"),
      (3L, "widest widest newest", "sB")).toDF("doc_id", "text", "source")
    val m8 = graft.ops.Bpe.train(docs, "text", 8)
    val rep = graft.ops.Bpe.fertilityBySource(docs, "text", "source", m8)
      .as[(String, Long, Long, Long, Long, Double, Double)]
      .collect().sortBy(_._1)
    val perDoc = graft.ops.Bpe.tokenCounts(docs, "text", m8)
      .agg(sum("n_words"), sum("n_bpe")).as[(Long, Long)].collect().head
    assert(rep.map(_._3).sum == perDoc._1 && rep.map(_._4).sum == perDoc._2)
    // fertility = tokens/words per source, exactly
    rep.foreach { r =>
      assert(math.abs(r._6 - r._4.toDouble / r._3) < 1e-6, r.toString)
    }
    // an untrained tokenizer (0 merges) is char-level: strictly higher
    // fertility than the 8-merge vocab on every source
    val rep0 = graft.ops.Bpe.fertilityBySource(docs, "text", "source", Nil)
      .as[(String, Long, Long, Long, Long, Double, Double)]
      .collect().sortBy(_._1)
    rep.zip(rep0).foreach { case (m, z) => assert(m._6 < z._6) }
  }

  // ---- v21 IVF health report ----------------------------------------------

  test("ivfHealthReport: occupancy summary is consistent with the assignment") {
    val vecs = (0 until 40).map(i =>
      (i.toLong, Seq((i % 4) * 10f, 0.01f * i))).toDF("vec_id", "embedding")
    val r = Similarity.ivfHealthReport(vecs, k = 4, iters = 3)
      .as[(Int, Long, Long, Long, Double, Int)].collect().head
    val occ = Similarity.kmeansBroadcast(vecs, 4, 3)
      .groupBy("cluster").count().as[(Int, Long)].collect().toMap
    assert(r._1 == 4 && r._2 == 40)
    assert(r._3 == occ.values.min && r._4 == occ.values.max)
    assert(math.abs(r._5 - occ.values.max * 4.0 / 40) < 1e-6)
    assert(r._6 == 4 - occ.size)
  }

  // ---- e14 streaming curation loop ----------------------------------------

  test("e14: streamed curation equals the batch expression of the policy") {
    val dir = "/root/testdata/sf0.001"
    val streamed = graft.SparkEntry.queries("e14_stream_curation")(spark, dir)
      .as[(String, Long, Long, Long)].collect().toSet
    // batch policy: delta (< 50), Gopher pass, no >= 2-band match into
    // the standing (>= 50) corpus
    val docs = graft.queries.Tables.t(spark, dir, "documents")
    val buckets = graft.ops.Dedup.lshBuckets(
      graft.ops.Dedup.minhashSignatures(
        graft.ops.Dedup.shingleHashes(docs)))
    val dup = buckets.filter(col("doc_id") < 50)
      .join(buckets.filter(col("doc_id") >= 50)
          .select(col("band"), col("band_key"), col("doc_id").as("o")),
        Seq("band", "band_key"))
      .groupBy("doc_id", "o").agg(count(lit(1)).as("nb"))
      .filter(col("nb") >= 2).select("doc_id").distinct()
    val batch = docs.filter(col("doc_id") < 50)
      .filter(TextOps.gopherPass(col("text")))
      .join(dup, Seq("doc_id"), "left_anti")
      .groupBy("lang")
      .agg(count(lit(1)).as("n_docs"), sum("doc_id").as("sum_ids"),
        sum("n_chars").as("sum_chars"))
      .as[(String, Long, Long, Long)].collect().toSet
    assert(streamed == batch && streamed.nonEmpty)
  }

  // ---- e24 batch↔stream curation parity ------------------------------------

  test("e24: the streamed funnel equals c12's batch funnel, window by window") {
    // The parity contract at the driver gate's own SF: the corpus streamed
    // through three id-ordered windows with per-window stage decisions and
    // a decide-at-compaction containment tail must land on the EXACT
    // one-row funnel the composed batch plan reports. And the run must not
    // be vacuous: the ledger must carry all three phase-disambiguated
    // window ids (0, 1e6, 2e6 — one micro-batch per window at this
    // single-file layout), or the boundary seam was never exercised.
    val dir = "/root/testdata/sf0.01"
    val streamed = graft.SparkEntry.queries("e24_curation_parity")(spark, dir)
      .collect()
    val batch = graft.SparkEntry.queries("c12_curation_pipeline")(spark, dir)
      .collect()
    assert(streamed.length == 1 && batch.length == 1)
    assert(streamed.head == batch.head,
      s"stream/batch funnel mismatch:\n  ${streamed.head}\n  ${batch.head}")
    val ledger = graft.ops.Bucketing.Store.ledgerDir(
      graft.queries.Tables.storeAt("graft_cur_e24_", dir)._2, "append")
    for (id <- Seq(0L, 1000000L, 2000000L))
      assert(graft.ops.Bucketing.isCommitted(ledger, id),
        s"window $id missing from the ledger — the stream ran fewer windows")
    // Three appended windows left a file per touched bucket each; the
    // pre-decide in-place compaction must have restored one per bucket.
    val storeFiles = graft.ops.Bucketing.dataFileCount(new java.io.File(
      graft.queries.Tables.scratch(
        "graft_cur_e24_" + graft.queries.Tables.dirTag(dir) + "_db"),
      "stage_bkt"))
    assert(storeFiles > 0 && storeFiles <= 8,
      s"decision store must be compacted in place before the decide, " +
        s"got $storeFiles files")
  }

  // ---- d24 sourceOverlap --------------------------------------------------

  test("sourceOverlap: normalized matrix matches the verified pairs") {
    val base = "alpha beta gamma delta epsilon zeta eta theta iota kappa " +
      "lambda mu nu xi omicron pi rho sigma tau upsilon"
    val docs = Seq(
      (1L, base, "sA"), (2L, base + " extra", "sB"), // near-dup across A,B
      (3L, base + " other", "sB"), // near-dup within B (vs 2) and vs 1
      (4L, "completely different words " + (1 to 20).map("w" + _).mkString(" "), "sC"))
      .toDF("doc_id", "text", "source")
    val m = Dedup.sourceOverlap(docs, "source", minJaccard = 0.5)
      .collect()
    // every row normalized src_a <= src_b
    assert(m.forall(r => r.getString(0) <= r.getString(1)))
    val total = m.map(_.getAs[Long]("n_pairs")).sum
    val verified = Dedup.ngramJaccard(docs)
      .filter(col("jaccard") >= 0.5).count()
    assert(total == verified && total >= 2, s"total=$total verified=$verified")
  }
}
