package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Scale-curve probe for the heavy dedup chain: times the same queries at
  * sf0.1 and at a synthesized 10× replica of it (sf1-equivalent), in ONE
  * session, so the two points are load-fair. The replica suffixes every
  * token with its replica index, which keeps every shingle/signature
  * distinct across replicas — the corpus grows 10× with the SAME local
  * duplicate-structure density (10× the clusters of the same shape), the
  * realistic scale-up. A bare 10× copy would instead make every doc a
  * 10-way exact duplicate and measure a pathological all-dup corpus.
  *
  * Run: sbt "runMain graft.ScaleProbe [query...]" (default: the d2→d8→d19
  * chain + c1 + c2 + t13). Prints one line per (query, scale) with
  * wall-clock seconds and the min pass's jobs, tasks and task time; paste
  * the table into PERF.md.
  */
object ScaleProbe {
  def main(args: Array[String]): Unit = {
    val base = Harness.DefaultSfDir
    // --deep: add a THIRD decade point (30x documents replica) for the
    // named queries — the second point on the scale curve that separates
    // a floor-dominated 10x reading (o26 1.0x, d32 1.6x in r16) from the
    // actual slope the 100-TB claim rests on. Requires explicit query
    // names: the full default list at 30x is not a spot probe.
    val deep = args.contains("--deep")
    // --deep4: a FOURTH decade point (100x documents replica, sf10) for
    // the named queries — the composed-pipeline question (VERDICT r19
    // item 7) is whether c12's stage-boundary materializations stay
    // floor-dominated once every stage holds real mass, and the third
    // decade alone can't separate "flat" from "not yet awake".
    val deep4 = args.contains("--deep4")
    val qArgs = args.filterNot(a => a == "--deep" || a == "--deep4").toSeq
    require((!deep && !deep4) || qArgs.nonEmpty,
      "--deep/--deep4 need explicit query names")
    SparkEntry.requireKnownQueries(qArgs)
    val spark = graft.engine.Session.local()
    val harness = new Harness(spark)

    /** Write `mult` replicas (`replica(k)`; replica 0 is the original) as
      * `<dir>/<table>.parquet`, unless it exists. The build is a heavy
      * write job whose heap/JIT aftermath inflates the first probes by 3-5x
      * (observed r15: d2 4.50 s contaminated vs 0.94 s clean), so a run
      * that builds one must not publish its table.
      */
    def replicate(dir: String, table: String, mult: Int)(
        replica: Int => DataFrame): Unit = {
      val out = new java.io.File(dir, s"$table.parquet")
      if (!out.exists()) {
        (0 until mult).map(replica).reduce(_ unionByName _)
          .repartition(32).write.mode("overwrite").parquet(out.toString)
        println(s"built ${mult}x $table replica at $dir")
        println("WARNING: replica built THIS run — timings are contaminated" +
          " by the build job; re-run ScaleProbe for the publishable table")
      }
    }
    // Documents: replica k suffixes every token with k, so shingles and
    // signatures stay distinct across replicas — the corpus grows mult-x
    // with the SAME local duplicate-structure density.
    lazy val docs = spark.read.parquet(s"$base/documents.parquet")
    def docsReplica(k: Int): DataFrame =
      if (k == 0) docs
      else docs.select(
        (col("doc_id") + k * 10000000L).as("doc_id"),
        regexp_replace(col("text"), "(\\S+)", s"$$1$k").as("text"),
        col("lang"), col("source"), col("n_chars"))
    val big = graft.queries.Tables.scratch("sf1_documents")
    replicate(big, "documents", 10)(docsReplica)
    val big30 = graft.queries.Tables.scratch("sf3_documents")
    if (deep) replicate(big30, "documents", 30)(docsReplica)
    val big100 = graft.queries.Tables.scratch("sf10_documents")
    if (deep4) replicate(big100, "documents", 100)(docsReplica)
    // Events replica: 10x LONGER per-key history (each replica shifts
    // ~370 days, so every user's one-month series becomes ~10 months
    // spread over ~10 YEARS) — the long-history regime the chunked
    // ts6/ts7 folds exist for, and the axis a bare row-count replica
    // would miss (more keys is the easy direction; longer keys is the
    // O(d^2) one). event_ids offset per replica to stay unique.
    lazy val events = graft.queries.Tables.events(spark, base)
    replicate(big, "events", 10) { k =>
      if (k == 0) events
      else events.withColumn("event_id", col("event_id") + k * 1000000000L)
        .withColumn("ts", col("ts") + expr(s"INTERVAL ${k * 370} DAYS"))
    }
    // Embeddings replica: 10x CORPUS VECTORS with the eval/query/standing
    // id bands fixed (replica k offsets vec_id by k*10^7 and shifts every
    // component by k/1000, so vectors stay distinct but keep the cluster
    // geometry). The v-family constants (eval < 50, queries < 20,
    // standing >= 100) make the bounded sides stay bounded while the
    // corpus side grows — the decontam-audit and store-lifecycle scale
    // shape the 100-TB claim rests on.
    lazy val vecs = spark.read.parquet(s"$base/embeddings.parquet")
    replicate(big, "embeddings", 10) { k =>
      if (k == 0) vecs
      else vecs.select((col("vec_id") + k * 10000000L).as("vec_id"),
        expr(s"transform(embedding, x -> cast(x + ${k * 0.001} as float))")
          .as("embedding"),
        col("label"))
    }
    val names = if (qArgs.nonEmpty) qArgs
      else Seq("d2_minhash_lsh", "d8_dup_clusters", "d19_keep_longest",
        "c1_clean_corpus", "c2_cut_spans", "c4_cut_long_spans",
        "t13_bpe_train", "t13b_bpe_batched", "t14_bpe_stream",
        "d20_incremental_dedup", "d21_store_append",
        "e10_multibatch_lifecycle",
        // round-13/15 heavy ops (VERDICT r13 item 1): graph, store
        // lifecycle, LM scoring, and the events-side long-history folds.
        // The events replica makes every key's history 10x LONGER;
        // ts3 probes the unchunked O(d^2) fold and ts8 the chunked form
        // at its PRODUCTION chunk length (365 d). ts6/ts7's 7-day chunks
        // are the oracle-gate config, not the scale config — at 44
        // chunks the sequential job floor dominates (measured 59 s at
        // sf1 vs ts3's 6.5 s), so probing them here would measure the
        // witness configuration, not the operator.
        "d27_dup_pagerank", "d30_triangles", "t23_bigram_xent",
        "b2_bm25_store", "b7_store_compaction",
        "w5_concurrency", "ts3_ewma", "ts8_ewma_chunked_yearly",
        // round-16 (VERDICT r15 item 6): direct 10x evidence for the two
        // skew defenses — d31's anchor-frequency hub cap and the d22
        // hot-only salted join (whose viral slice is quadratic BY
        // CONSTRUCTION: 30% of a 10x corpus shares one text, so the pair
        // set itself grows 100x — the probe measures the salted layout
        // carrying that, not subquadratic magic).
        "d31_longest_dup", "d22_skewed_dedup", "d32_decontam",
        "o26_sequence_pack",
        // round-17 (VERDICT r16 item 4): the exact-dedup guard must turn
        // d22's by-construction-quadratic viral corpus ~linear — the
        // pair set collapses to distinct texts before enumeration.
        "d33_guarded_dedup",
        // round-17 second wave: the packing family's manifest, token
        // export, and streaming legs — all one-cumsum shapes that must
        // track the token stream linearly.
        "o27_pack_manifest", "o28_pack_tokens", "e20_stream_pack",
        // round-17 third wave: the v-family's first direct scale
        // evidence (embeddings replica) — the exact-vs-indexed decontam
        // audits, the persisted-index build+search, and the delete leg.
        "v25_semantic_decontam", "v26_ivf_decontam",
        "v27_ann_store_delete", "v13_ivf_pq", "v17_ivf_store_search",
        "d34_eval_dirtiness", "v28_sq8_search", "d35_containment",
        // round-18: the containment removal + streaming probe (both ride
        // d35's capped candidate chain — same expected slope), the
        // sharded packed-window export (one-cumsum + bounded writer
        // fan-out), and the auto-routed fold (its gate must route the
        // 10x-longer replica histories CHUNKED — the probe measures the
        // routed plan, with the one-row span aggregate riding along).
        "c10_containment_drop", "e21_stream_containment",
        "o29_pack_sharded", "ts9_ewma_auto", "ts10_cusum_auto",
        "e22_containment_ingest",
        // round-19: the self-extending ingest loop (e22 + per-window
        // store extension + decision-store compaction) and the
        // corpus-derived containment threshold (one extra ladder survey
        // over d35's scored chain — same expected slope as c10).
        "e23_containment_ingest_ext", "c11_containment_auto",
        "c12_curation_pipeline")
    val scales = Seq("sf0.1" -> base, "sf1" -> big) ++
      (if (deep) Seq("sf3" -> big30) else Nil) ++
      (if (deep4) Seq("sf10" -> big100) else Nil)
    for (name <- names; (label, dir) <- scales) {
      val fn = SparkEntry.queries(name)
      // One warm-up (codegen/JIT), then Bench's pass rule: min of two timed
      // passes, with a third after a GC when they disagree by 2×, when the
      // better one is slower than the warm-up, or past 1.5 s. A third pass
      // is recorded in the row, so a published number is never a lone
      // contaminated reading.
      val warm = harness.pass(fn(spark, dir))
      val ts =
        if (warm.ok) harness.passes(warm.seconds)(fn(spark, dir)) else Seq(warm)
      val good = ts.filter(_.ok)
      if (good.isEmpty)
        println(s"$name $label FAILED: ${ts.last.error.get}")
      else {
        val best = good.minBy(_.seconds)
        val note = if (ts.size > 2)
          ts.map(t => f"${t.seconds}%.2f").mkString("  [third pass: ", ", ", "]")
        else ""
        val c = best.counts
        println(f"$name%-22s $label%-6s ${best.seconds}%8.2f s" +
          f"  jobs=${c.jobs} tasks=${c.tasks} task_time=${c.taskTime}%.1f s$note")
      }
    }
    spark.stop()
  }
}
