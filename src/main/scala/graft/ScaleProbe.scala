package graft

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
  * wall-clock seconds; paste the table into PERF.md.
  */
object ScaleProbe {
  def main(args: Array[String]): Unit = {
    val base = "/root/testdata/sf0.1"
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

    /** mult-x documents replica (replica k suffixes every token with k,
      * so shingles/signatures stay distinct across replicas — the corpus
      * grows mult-x with the SAME local duplicate-structure density).
      */
    def buildDocsReplica(dir: java.io.File, mult: Int): Unit = {
      val d = spark.read.parquet(s"$base/documents.parquet")
      (0 until mult).map { k =>
        if (k == 0) d
        else d.select(
          (col("doc_id") + k * 10000000L).as("doc_id"),
          regexp_replace(col("text"), "(\\S+)", s"$$1$k").as("text"),
          col("lang"), col("source"), col("n_chars"))
      }.reduce(_ unionByName _)
        .repartition(32)
        .write.mode("overwrite")
        .parquet(new java.io.File(dir, "documents.parquet").toString)
      println(s"built ${mult}x replica at $dir")
      // The build is a heavy write job whose heap/JIT aftermath inflates
      // the first probes by 3-5x (observed r15: d2 4.50 s contaminated vs
      // 0.94 s clean). Don't publish this run's table.
      println("WARNING: replica built THIS run — timings are contaminated" +
        " by the build job; re-run ScaleProbe for the publishable table")
    }
    val big = graft.queries.Tables.scratch("sf1_documents")
    val bigDir = new java.io.File(big)
    if (!new java.io.File(bigDir, "documents.parquet").exists())
      buildDocsReplica(bigDir, 10)
    val big30 = graft.queries.Tables.scratch("sf3_documents")
    val big30Dir = new java.io.File(big30)
    if (deep && !new java.io.File(big30Dir, "documents.parquet").exists())
      buildDocsReplica(big30Dir, 30)
    val big100 = graft.queries.Tables.scratch("sf10_documents")
    val big100Dir = new java.io.File(big100)
    if (deep4 && !new java.io.File(big100Dir, "documents.parquet").exists())
      buildDocsReplica(big100Dir, 100)
    // Events replica: 10x LONGER per-key history (each replica shifts
    // ~370 days, so every user's one-month series becomes ~10 months
    // spread over ~10 YEARS) — the long-history regime the chunked
    // ts6/ts7 folds exist for, and the axis a bare row-count replica
    // would miss (more keys is the easy direction; longer keys is the
    // O(d^2) one). event_ids offset per replica to stay unique.
    if (!new java.io.File(bigDir, "events.parquet").exists()) {
      val e = graft.queries.Tables.events(spark, base)
      (0 until 10).map { k =>
        if (k == 0) e
        else e.withColumn("event_id", col("event_id") + k * 1000000000L)
          .withColumn("ts", col("ts") + expr(s"INTERVAL ${k * 370} DAYS"))
      }.reduce(_ unionByName _)
        .repartition(32)
        .write.mode("overwrite").parquet(s"$big/events.parquet")
      println(s"built 10x-history events replica at $big")
      println("WARNING: replica built THIS run — timings are contaminated" +
        " by the build job; re-run ScaleProbe for the publishable table")
    }
    // Embeddings replica: 10x CORPUS VECTORS with the eval/query/standing
    // id bands fixed (replica k offsets vec_id by k*10^7 and shifts every
    // component by k/1000, so vectors stay distinct but keep the cluster
    // geometry). The v-family constants (eval < 50, queries < 20,
    // standing >= 100) make the bounded sides stay bounded while the
    // corpus side grows — the decontam-audit and store-lifecycle scale
    // shape the 100-TB claim rests on.
    if (!new java.io.File(bigDir, "embeddings.parquet").exists()) {
      val v = spark.read.parquet(s"$base/embeddings.parquet")
      (0 until 10).map { k =>
        if (k == 0) v
        else v.select((col("vec_id") + k * 10000000L).as("vec_id"),
          expr(s"transform(embedding, x -> cast(x + ${k * 0.001} as float))")
            .as("embedding"),
          col("label"))
      }.reduce(_ unionByName _)
        .repartition(32)
        .write.mode("overwrite").parquet(s"$big/embeddings.parquet")
      println(s"built 10x embeddings replica at $big")
      println("WARNING: replica built THIS run — timings are contaminated" +
        " by the build job; re-run ScaleProbe for the publishable table")
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
      // one warmup (codegen/JIT), then min of two timed passes
      try {
        fn(spark, dir).write.format("noop").mode("overwrite").save()
        def onePass(): Double = {
          spark.catalog.clearCache()
          val t0 = System.nanoTime()
          fn(spark, dir).write.format("noop").mode("overwrite").save()
          (System.nanoTime() - t0) / 1e9
        }
        val two = (1 to 2).map(_ => onePass())
        // STORM GUARD (VERDICT r16 item 5): two passes diverging > 3x
        // means at least one was eaten by an environment storm (GC wave,
        // page-cache eviction, a neighbor's write job) — and min-of-two
        // can't shed a storm that ate BOTH passes. Retry once after a GC
        // and record the retry in the table row, so a published number
        // is never a lone contaminated reading (r16's d19/d8 needed a
        // manual scoped re-probe for exactly this).
        val stormy = two.max / two.min > 3.0
        val ts = if (stormy) { System.gc(); two :+ onePass() } else two
        spark.catalog.clearCache()
        val note = if (stormy)
          ts.map(t => f"$t%.2f").mkString("  [storm retry: ", ", ", "]")
        else ""
        println(f"$name%-22s $label%-6s ${ts.min}%8.2f s$note")
      } catch {
        case e: Throwable =>
          println(s"$name $label FAILED: ${e.getMessage}")
      }
    }
    spark.stop()
  }
}
