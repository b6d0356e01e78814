package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.engine.Caches

/** Plan-shape contract over the whole declared surface: nested-loop joins
  * are only ever the documented bounded broadcasts (one-row total
  * aggregates in t5/t6/t7/o1/pipeline, the bounded 20-vector query set in
  * v1, broadcast centroid assignment in v4). A new BroadcastNestedLoopJoin
  * anywhere else — or any CartesianProduct at all — is an unbounded
  * all-pairs shape that cannot survive 100 TB, and fails this suite.
  * Both gates read each query's executed plan AND the cached plans of the
  * intermediates it registered, which its plan scans as leaves.
  */
class PlanAuditSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark
  private val dir = "/root/testdata/sf0.001"

  // query -> max permitted BroadcastNestedLoopJoin count (absent = 0).
  private val allowedBnlj = Map(
    "o1_split_exact" -> 1,     // one-row split-point aggregate
    "pipeline_e2e" -> 2,       // o1's aggregate, twice (train + holdout)
    "e6_stateful_sessions" -> 2, // one-row total/emitted session counts
    "e16_watermark_late" -> 2, // one-row total/emitted window counts (the
                               // e6 held-back-tail witness pattern)
    "o14_length_batching" -> 1, // one-row corpus-count aggregate (the o1
                               // split-point pattern)
    "t5_freq_tokens" -> 1,     // one-row token-total aggregate
    "t6_unigram_logprob" -> 1, // one-row token-total aggregate
    "t19_ppl_buckets" -> 4,    // t6's one-row token-total aggregate; the
                               // plan text reprints it under each cached-
                               // subtree consumer (rank + offset branches)
    "b1_bm25_topk" -> 1,       // one-row corpus-stats (N, total_tokens)
                               // broadcast attached to the scored postings
    "b2_bm25_store" -> 1,      // the same one-row corpus_stats table read
                               // from the store
    "b10_bm25f" -> 1,          // b1's one-row corpus-stats attach over the
                               // fielded index frames
    "b3_hybrid_rrf" -> 2,      // b1's one-row corpus stats + v1's bounded
                               // 8-query brute-force baseline (the dense
                               // leg deliberately reuses the v1 exact
                               // scorer; the scale path is the v2/v4 ANN)
    "b4_retrieval_mrr" -> 4,   // b3's two (stats + bounded query set),
                               // reprinted once more in the plan text by
                               // the lex/hybrid legs sharing one chain
    "b5_store_append" -> 1,    // b2's one-row corpus_stats read, now from
                               // the post-append store
    "b6_rm3_expansion" -> 3,   // b1's one-row corpus stats, once per
                               // scoring pass + once reprinted under the
                               // persisted-postings subtree the feedback
                               // mining shares
    "b7_store_compaction" -> 1, // b2's one-row corpus_stats read (the
                               // search; maintenance ran at construction)
    "b8_store_delete" -> 1,    // same: the post-delete search's one-row
                               // corpus_stats attach
    "t23_bigram_xent" -> 1,    // one-row vocab-size aggregate (the t6
                               // one-row-total pattern; the bigram model
                               // itself is a keyed join)
    "o25_mixture_search" -> 3, // t6's one-row token-total attach + the
                               // one-row max-domain-size and best-J
                               // attaches over the #domains-row
                               // localCheckpoint'd loss frame — all
                               // bounded one-row broadcasts
    "c12_curation_pipeline" -> 5, // the funnel report row: five one-row
                               // stage-count aggregates crossJoined onto
                               // the packing rollup (c3's contract as one
                               // row) — every BNLJ side is exactly one row
    "e24_curation_parity" -> 5, // the SAME funnel contract assembled from
                               // the streamed decision store: five one-row
                               // stage-count aggregates onto the packing
                               // rollup — every BNLJ side is exactly one row
    "t7_tfidf_top_term" -> 1,  // one-row doc-count aggregate
    "t15_dsir_weights" -> 1,   // one-row target/raw-total aggregate (the
                               // 64-row log-ratio table is a keyed join)
    "o17_importance_resample" -> 1, // t15's one-row total aggregate; the
                               // Gumbel selection itself is map + top-n
    "o19_curriculum" -> 2,     // ONE one-row corpus-count aggregate (the
                               // o14 pattern); the plan text reprints it
                               // under the second rank pass's cached
                               // subtree
    "v19_prototype_prune" -> 2, // one-row trained codebook on the assign
                               // side (the v12 pattern); the quota join
                               // is a keyed broadcast of k count rows
    "o15_temperature_mix" -> 3, // one-row corpus-count / residual-budget /
                               // leftover aggregates attached to the
                               // #domains-row quota frame — every BNLJ
                               // side is one row, the corpus join is keyed
    "o16_token_domain_mix" -> 3, // the same water-filling one-row attaches
                               // (caps/weights in tokens); selection is a
                               // keyed broadcast join + per-domain window
    "o20_epoch_mix" -> 1,      // one-row (total, #domains) aggregate
                               // attached to the #domains-row caps frame
    "v1_cosine_topk" -> 1,     // bounded 20-vector query set (baseline)
    "v25_semantic_decontam" -> 1, // bounded broadcast EVAL set (benchmarks
                               // are thousands of rows; the corpus side
                               // streams once, argmax map-side-combined)
    "v26_ivf_decontam" -> 3,   // one-row trained codebook on the eval
                               // probe side + the auto-train count attach
                               // + v25's bounded eval broadcast in the
                               // exact (recall-reference) leg; the store
                               // search itself is the keyed DPP-pruned
                               // cell join, and the build side's codebook
                               // attach runs inside the write job
    "v4_ivf_topk" -> 2,        // broadcast centroid table, probe + assign
    "v11_ann_recall" -> 3,     // v1's bounded query set + v4's centroid
                               // table on both assignment sides
    "d16_semdedup" -> 2,       // broadcast centroid table, both pair sides
    "v8_pq_encode" -> 1,       // one-row broadcast codebook
    "v9_pq_adc" -> 3,          // codebook x2 (encode + tables), bounded query set
    "v12_ivf_trained" -> 2,    // one-row trained codebook, invert + query sides
    "v24_kmeans_sampled" -> 1, // one-row sample-trained codebook on the
                               // full-corpus assign side (the v12 pattern)
    "v13_ivf_pq" -> 2,         // one-row trained codebook, build + query sides
    "v14_ivf_pq_residual" -> 5, // one-row coarse codebook (build + query) +
                               // one-row RESIDUAL codebook (encode + query
                               // ADC) + the persisted assign pass feeding
                               // residual training — every side a one-row
                               // broadcast against the corpus scan
    "v18_filtered_ann" -> 2,   // one-row trained codebook: member invert
                               // + query sides; the label predicate rides
                               // the keyed cell join
    "v20_hard_negatives" -> 2, // the same v18 chain (shared core) with
                               // the label predicate inverted
    "v21_ivf_health" -> 1,     // one-row trained codebook on the assign
                               // side (the v12 pattern); the rollup is
                               // an all-to-one aggregate of k rows
    "v17_ivf_store_search" -> 2, // one-row trained codebook: index build
                               // (write side) + query-table side; the
                               // search itself is a keyed partition-
                               // pruned join on cell
    "v28_sq8_search" -> 1,     // the bounded query-codes broadcast (the
                               // v9 ADC-scan pattern: query side bounded
                               // by construction); the re-rank joins are
                               // keyed on q_id/c_id
    "v27_ann_store_delete" -> 2, // the v17 pattern over the post-delete
                               // store: one-row codebook on the query-
                               // table side + the one-row auto-train
                               // count gate; the search is the keyed
                               // DPP-pruned cell join, and the build /
                               // append / delete-rewrite attaches ran
                               // inside their write jobs
    "v16_recall_nprobe" -> 12, // one-row codebook (invert + query sides) ×
                               // the per-nprobe union branches + the
                               // bounded 20-query exact ground-truth scan
                               // — every broadcast side a one-row codebook
                               // or the query set
    "v15_recall_at_k" -> 22)   // union of the v12/v13/v14 probe paths over
                               // the SHARED codebooks (each path re-plans
                               // its one-row broadcast joins) + the
                               // bounded 20-query exact ground-truth scan;
                               // all broadcast sides are one-row codebooks
                               // or the 20-row query set

  // Queries allowed to carry an interpreted-lambda Project (HOF exprs are
  // CodegenFallback, so a per-element lambda drops its Project out of
  // whole-stage codegen — the t9 failure mode, ~5-10x slower per element).
  // Every entry here is bounded: committed fixtures of dozens of rows
  // (scenes/stations/tensors/media), or a post-aggregation projection over
  // a handful of groups (v5). Corpus-scale scans (documents / lineitem /
  // events / embeddings row-level) must stay codegen-clean — the native
  // expressions (graft_rep_stats, graft_token_stats, graft_dot, ...) are
  // the replacement pattern.
  private val allowedInterpreted = Set(
    "flagship_station_mean", "g3_rot90", "g4_augment_tensor", "j1_gt_join",
    "j3_zip_join", "m4_calibrated", "m5_assembly", "mm1_multimodal_ingest",
    "mm2_image_decode", "mm3_audio_decode", "mm4_video_frames",
    "p3_sentinel_filter", "pipeline_e2e", "s4_text_scan", "s5b_pt_ingest",
    "s5c_pt_datasource", "s5d_pt_stream", "s6_align_join",
    "v5_centroids_agg", // 10 post-aggregation rows, transform over dim
    "v8_pq_encode", "v9_pq_adc", // one-row codebook assembly (transform/flatten)
    "v12_ivf_trained", // one-row trained-codebook assembly (transform/flatten)
    "v13_ivf_pq", // one-row trained-codebook assembly (transform/flatten)
    "d16_semdedup", // centroid-table assembly, 10 post-aggregation rows
    "ts5_cusum", // per-key CUSUM readout over the POST-AGGREGATION per-key
                 // array frame (#keys rows, the v5 shape); the corpus-scale
                 // work is the daily groupBy feeding it
    "ts10_cusum_auto" // the unchunked branch IS ts5's readout (same
                      // post-aggregation #keys-rows Project); the routing
                      // gate adds no row-level lambda
  )

  /** Each query's audited plans: its executed plan and the cached plans of
    * the intermediates it registered (`PlanAudit.auditedPlans`). Built once
    * for both gates.
    */
  private def audited(queries: Seq[(String, () => DataFrame)]): Seq[(String, Seq[String])] =
    queries.map { case (name, build) => name -> PlanAudit.auditedPlans(build()) }

  private lazy val declared = audited(SparkEntry.queries.toSeq.sortBy(_._1)
    .map { case (name, fn) => name -> (() => fn(spark, dir)) })

  private def lambdaOffenders(plans: Seq[(String, Seq[String])]): Seq[String] =
    plans.filterNot(q => allowedInterpreted(q._1)).flatMap { case (name, texts) =>
      texts.flatMap(PlanAudit.interpretedLambdaProjects).headOption
        .map(l => s"$name: $l")
    }

  private def nestedLoopOffenders(plans: Seq[(String, Seq[String])]): Seq[String] =
    plans.flatMap { case (name, texts) =>
      val lines = texts.flatMap(_.linesIterator)
      val bnlj = lines.count(_.contains("BroadcastNestedLoopJoin"))
      val cart = lines.count(_.contains("CartesianProduct"))
      val cap = allowedBnlj.getOrElse(name, 0)
      (if (cart > 0) Seq(s"$name: ${cart}x CartesianProduct") else Nil) ++
        (if (bnlj > cap) Seq(s"$name: ${bnlj}x BroadcastNestedLoopJoin " +
          s"(allowed $cap)") else Nil)
    }

  test("corpus-scale plans contain no interpreted per-element lambdas") {
    val offenders = lambdaOffenders(declared)
    assert(offenders.isEmpty,
      s"interpreted lambda on a hot path: ${offenders.mkString("; ")}")
  }

  test("nested-loop joins only appear as documented bounded broadcasts") {
    val offenders = nestedLoopOffenders(declared)
    assert(offenders.isEmpty,
      s"unbounded nested-loop shapes: ${offenders.mkString("; ")}")
  }

  test("offenders planted inside a registered frame fail both gates") {
    // The consumer's own plan only scans the registered frame's leaf; the
    // offenders are visible in the registered frame's cached plan alone.
    import spark.implicits._
    val planted = audited(Seq("planted" -> (() => {
      val ids = spark.range(0, 200).toDF("id")
      val inner = Caches.persisted(ids
        .select(col("id"), expr("transform(array(id, id + 1), x -> x * 2)").as("xs"))
        .crossJoin(Seq(1L, 2L).toDF("m"))
        .join(ids.withColumnRenamed("id", "id2"), col("id") < col("id2")))
      inner.groupBy("m").agg(count(lit(1)).as("n"))
    })))
    val Seq((_, query +: registered)) = planted
    assert(registered.nonEmpty)
    assert(PlanAudit.interpretedLambdaProjects(query).isEmpty)
    assert(!query.contains("NestedLoopJoin") && !query.contains("CartesianProduct"))
    assert(lambdaOffenders(planted).nonEmpty)
    assert(nestedLoopOffenders(planted).nonEmpty)
  }
}
