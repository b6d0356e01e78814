package graft.queries

import org.apache.spark.sql.functions._
import org.apache.spark.sql.{DataFrame, SparkSession}

import graft.ops.Similarity
import Tables.t

/** Similarity-search query surface over `embeddings` (Array[Float] vectors):
  * brute-force cosine top-k baseline, sign-LSH bucketed ANN, and per-label
  * centroids (IVF building block).
  */
object Embeddings {

  type Q = (SparkSession, String) => DataFrame

  val NQueries = 20
  val NnBits = 8
  val PqM = 4 // PQ subspaces over the 64-dim embeddings (16 dims each)

  val queries: Map[String, Q] = Map(
    // REFERENTIAL-INTEGRITY AUDIT between the text corpus and its vector
    // store — the ingest-health check a joint text+embedding pipeline
    // runs before trusting either side: per source, how many documents
    // lack an embedding (semi/anti join on the shared id), plus the
    // orphan vectors no document explains (as a sentinel source row).
    // Two keyed semi/anti probes + per-source rollups — the embeddings
    // id projection is the only thing shuffled against the corpus.
    "c7_integrity_audit" -> ((s, dir) => {
      val d = t(s, dir, "documents")
      val vids = t(s, dir, "embeddings")
        .select(col("vec_id").as("doc_id"))
      val perSrc = d.groupBy("source").agg(count(lit(1)).as("n_docs"))
      val withV = d.join(vids, Seq("doc_id"), "left_semi")
        .groupBy("source").agg(count(lit(1)).as("n_with_vec"))
      val matched = perSrc.join(withV, Seq("source"), "left")
        .select(col("source"), col("n_docs"),
          coalesce(col("n_with_vec"), lit(0L)).as("n_with_vec"))
        .withColumn("n_missing", col("n_docs") - col("n_with_vec"))
      val orphans = vids
        .join(d.select("doc_id"), Seq("doc_id"), "left_anti")
        .agg(count(lit(1)).as("n_docs"))
        .select(lit("__orphan_vectors").as("source"), col("n_docs"),
          lit(0L).as("n_with_vec"), lit(0L).as("n_missing"))
      matched.unionByName(orphans)
    }),

    "v1_cosine_topk" -> ((s, dir) => {
      val vecs = t(s, dir, "embeddings")
      Similarity.bruteForceTopK(
        vecs.filter(col("vec_id") < NQueries), vecs, k = 3)
    }),

    "v2_ann_bucketed" -> ((s, dir) =>
      Similarity.annBucketed(t(s, dir, "embeddings"), NnBits)),

    // MUTUAL nearest neighbors — the high-precision reciprocal slice of
    // v2's top-1 frame (dataset-pruning / candidate-pair filter: both
    // sides must agree). One keyed self-semi-join over the top-1 rows.
    "v22_mutual_nn" -> ((s, dir) =>
      Similarity.mutualNearest(t(s, dir, "embeddings"), NnBits)),

    // EMBEDDING DRIFT report — the monitoring staple before trusting a
    // standing ANN index against a new ingest batch: per-dimension mean
    // shift between two corpus slices (here the vec_id-parity halves —
    // a calibrated near-zero case), all in exact integers: per-dim e6
    // sums, means and the cross-multiplied mean difference via
    // sign-split floor divisions (Spark `div` truncates toward zero
    // where DuckDB `//` floors — dividing only positives removes the
    // ambiguity; COVERAGE.md "Oracle pinning").
    "v23_embedding_drift" -> ((s, dir) => {
      val e = t(s, dir, "embeddings")
        .select(col("vec_id"),
          posexplode(col("embedding")).as(Seq("dim", "x")))
        .withColumn("x_e6",
          expr("CAST(round(CAST(x AS DOUBLE) * 1e6, 0) AS BIGINT)"))
        .withColumn("half", pmod(col("vec_id"), lit(2)).cast("int"))
      val agg = e.groupBy("dim", "half")
        .agg(sum("x_e6").as("s"), count(lit(1)).as("c"))
        .localCheckpoint() // 2 × #dims rows feed both half projections
      val old = agg.filter(col("half") === 0)
        .select(col("dim"), col("s").as("s0"), col("c").as("c0"))
      val nw = agg.filter(col("half") === 1)
        .select(col("dim"), col("s").as("s1"), col("c").as("c1"))
      old.join(nw, "dim")
        .select(col("dim"),
          expr("CASE WHEN s0 >= 0 THEN s0 div c0 ELSE -((-s0) div c0) END")
            .as("mean_old_e6"),
          expr("CASE WHEN s1 >= 0 THEN s1 div c1 ELSE -((-s1) div c1) END")
            .as("mean_new_e6"),
          expr("""CASE WHEN s1 * c0 - s0 * c1 >= 0
                 |  THEN (s1 * c0 - s0 * c1) div (c0 * c1)
                 |  ELSE -((s0 * c1 - s1 * c0) div (c0 * c1)) END"""
            .stripMargin).as("diff_e6"))
    }),

    // Matryoshka-truncated ANN: MRL-trained embeddings rank usably under
    // prefix truncation, so the candidate scan runs on the first 16 of 64
    // dims — 4x less IO and flops per pair with the identical bucketed
    // shape (the standard coarse-search/full-rerank split's first stage).
    "v7_matryoshka_ann" -> ((s, dir) =>
      Similarity.annBucketed(
        t(s, dir, "embeddings")
          .withColumn("embedding", slice(col("embedding"), 1, 16)),
        NnBits)),

    "v3_label_centroids" -> ((s, dir) =>
      Similarity.labelCentroidNorms(t(s, dir, "embeddings"))),

    "v4_ivf_topk" -> ((s, dir) =>
      Similarity.ivfTopK(t(s, dir, "embeddings"))),

    // ANN quality EVAL — the check a pipeline runs before trusting an
    // index: recall@1 of the IVF path (v4's machinery) against the exact
    // brute-force answer (v1's) on the gate's query set. Output keeps the
    // per-query disagreement witness (true vs ivf neighbor), not just the
    // rate, so a recall drop is diagnosable. Scale shape: the exact side is
    // the bounded q×corpus scan (20 queries — never corpus×corpus); the
    // IVF side is the cell-keyed join; the eval itself joins two
    // one-row-per-query frames. No new plan machinery.
    "v11_ann_recall" -> ((s, dir) => {
      val vecs = t(s, dir, "embeddings")
      val brute = Similarity.bruteForceTopK(
          vecs.filter(col("vec_id") < NQueries), vecs, k = 1)
        .select(col("q_id"), col("c_id").as("true_nn"))
      val ivf = Similarity.ivfTopK(vecs)
        .filter(col("q_id") < NQueries)
        .select(col("q_id"), col("nn_id").as("ivf_nn"))
      brute.join(ivf, "q_id")
        .select(col("q_id"), col("true_nn"), col("ivf_nn"),
          (col("true_nn") === col("ivf_nn")).cast("int").as("hit"))
    }),

    // Embedding-cosine near-dup: LSH-bucketed candidate pairs at cos>=0.25.
    "d7_embedding_neardup" -> ((s, dir) =>
      Similarity.cosineNearDupPairs(t(s, dir, "embeddings"), NnBits, minCos = 0.25)),

    // SemDeDup: coarse IVF clustering, then near-dup drops WITHIN each
    // cell (lowest vec_id in a neighborhood survives). The cluster bounds
    // the candidate set — per-cell pair scan, never corpus-wide all-pairs.
    "d16_semdedup" -> ((s, dir) =>
      Similarity.semDedupDrops(t(s, dir, "embeddings"), minCos = 0.35)),

    // Same result as v3, but through the single-buffer graft_vec_sum
    // aggregate (no posexplode — one shuffled row per vector, not per dim).
    "v5_centroids_agg" -> ((s, dir) =>
      Similarity.labelCentroidNormsAgg(t(s, dir, "embeddings"))),

    // Int8 scalar quantization: ‖q‖² is integer-exact cross-engine, so a
    // hash match proves the quantized codes agree bit-for-bit.
    "v6_quantize_int8" -> ((s, dir) =>
      Similarity.quantizeInt8(t(s, dir, "embeddings"))),

    // Product quantization encode: 64 floats → 4 codes per vector (the
    // compression step past v6's int8). Zero-shuffle codegen'd map against
    // a one-row broadcast codebook.
    "v8_pq_encode" -> ((s, dir) =>
      Similarity.pqEncode(t(s, dir, "embeddings"), m = PqM)),

    // PQ asymmetric-distance top-1: candidates scored through their codes
    // only — m table lookups per pair, the raw vectors never rejoin.
    "v9_pq_adc" -> ((s, dir) =>
      Similarity.pqAdcTop1(t(s, dir, "embeddings"), m = PqM, nQueries = NQueries)),

    // Real Lloyd k-means training (v4/v8 take their coarse quantizer from
    // label means; production trains it): 3 assign/update rounds from a
    // deterministic init, final assignment gated per vector — one wrong
    // centroid in any round reassigns vectors corpus-wide.
    "v10_kmeans" -> ((s, dir) =>
      Similarity.kmeans(t(s, dir, "embeddings"), k = KmeansK, iters = KmeansIters)),

    // SAMPLED-TRAIN k-means — the 100-TB index build: the Lloyd fit runs
    // on a deterministic hash sample (~40% here; basis points at real
    // scale), then the FULL corpus is assigned once against the trained
    // codebook. Cuts the build from O(N·T) corpus scans to O(N + n·T).
    // Gate: the sample predicate (Knuth multiplicative, replicated in the
    // oracle), the sampled init, every Lloyd round, and the full-corpus
    // assignment — one off-by-one in the sample membership retrains a
    // different model and re-cells the corpus.
    "v24_kmeans_sampled" -> ((s, dir) =>
      Similarity.kmeansSampled(t(s, dir, "embeddings"), k = KmeansK,
        iters = KmeansIters, sampleMod = SampleMod, sampleKeep = SampleKeep)),

    // IVF index-health report: inverted-list occupancy (min/max), FAISS's
    // imbalance factor max/(n/k), trained-but-empty cell count — the
    // retrain/rebalance trigger an index maintainer watches as the e13
    // ingest stream drifts from the pinned model.
    "v21_ivf_health" -> ((s, dir) =>
      Similarity.ivfHealthReport(t(s, dir, "embeddings"), k = KmeansK,
        iters = KmeansIters)),

    // SSL-prototype pruning (Sorscher et al. 2022): k-means prototypes,
    // per-example prototypicality = d2 to its centroid, keep the hardest
    // half of EVERY cluster (per-cluster ⌈0.5·n_c⌉ quota — a global cut
    // would empty small clusters). One wrong centroid, rank tie, or
    // quota ceil flips the kept set and the hash.
    "v19_prototype_prune" -> ((s, dir) =>
      Similarity.prototypePrune(t(s, dir, "embeddings"), k = KmeansK,
        iters = KmeansIters, keepFrac = 0.5)),

    // TRAINED IVF — the production ANN index closing the v10→v4 gap: the
    // Lloyd-trained codebook (not label means) partitions the corpus into
    // inverted lists, each query probes its nprobe nearest trained cells,
    // and the top-1 comes from a keyed cell join + map-side argmax. One
    // wrong centroid in training, one mis-ranked probe cell, or one lost
    // inverted-list member flips some query's neighbor.
    "v12_ivf_trained" -> ((s, dir) =>
      Similarity.ivfTrainedTop1(t(s, dir, "embeddings"), k = KmeansK,
        iters = KmeansIters, nprobe = IvfNprobe, nQueries = NQueries)),

    // IVF-PQ — the complete trained index (FAISS IVFPQ shape): trained
    // coarse cells bound the candidate set (keyed cell join), PQ codes
    // bound the per-candidate cost (m lookups, raw vectors never rejoin
    // after the one-pass build). v9's ADC is query×corpus; this is
    // query×(nprobe cells) — the actual production search shape.
    "v13_ivf_pq" -> ((s, dir) =>
      Similarity.ivfPqTop1(t(s, dir, "embeddings"), k = KmeansK,
        iters = KmeansIters, m = PqM, nprobe = IvfNprobe,
        nQueries = NQueries)),

    // RESIDUAL IVF-PQ + exact re-rank — the full FAISS IVFADC search
    // (Jégou et al. 2011 §IV): codes quantize v − centroid(cell) against
    // a second Lloyd-trained codebook, the ADC pass proposes a
    // shortlist-deep candidate list, and only those rows rejoin the raw
    // vectors for the exact winner. The re-rank join is bounded by
    // nQueries × shortlist — the raw corpus stays out of the search path.
    "v14_ivf_pq_residual" -> ((s, dir) =>
      Similarity.ivfPqResidualRerank(t(s, dir, "embeddings"), k = KmeansK,
        iters = KmeansIters, m = PqM, nprobe = IvfNprobe,
        nQueries = NQueries, shortlist = Shortlist)),

    // STREAMING ANN INDEX INGEST — the vector-side analog of e11/e12's
    // signature-store lifecycle, closing the operational loop around the
    // v12/v13/v14 search paths: a standing IVF index (cells trained on the
    // standing corpus, assignments persisted bucketed BY CELL — the search
    // key, so probes stay Exchange-free) ingests a stream of new vectors.
    // Each micro-batch routes through the PINNED model (broadcast k-row
    // codebook, codegen'd argmin, zero shuffle — no retraining on the hot
    // path) and folds into the store through the e12 committed-batchId
    // ledger; the gate REPLAYS the final micro-batch (must be a no-op) and
    // the per-cell rollup must hash-equal a full-corpus assignment rebuild.
    "e13_stream_ann_ingest" -> ((s, dir) => {
      val store = Tables.store(s, "graft_annstore_e13_", dir)
      val all = t(s, dir, "embeddings")
      val standing = all.filter(col("vec_id") >= StandingMin)
      val model = Similarity.kmeansFit(standing, KmeansK, KmeansIters)
      store.write(Similarity.assignWithModel(standing, model), "cells",
        nBuckets = 4, keys = Seq("cell"))
      val delta = Tables.streamT(s, dir, "embeddings",
          "vec_id BIGINT, embedding ARRAY<FLOAT>, label INT")
        .filter(col("vec_id") < StandingMin)
      def append(batch: DataFrame, id: Long): Boolean =
        store.append("cells", nBuckets = 4, keys = Seq("cell"), id)(
          Similarity.assignWithModel(batch, model))
      val last = graft.streaming.StreamingWindows.runPhase(delta, "e13") {
        (batch, id) => append(batch, id); ()
      }
      val replayed = append(all.filter(col("vec_id") < StandingMin), last)
      require(!replayed, "ledger failed to suppress a replayed micro-batch")
      store.read("cells")
        .groupBy("cell")
        .agg(count(lit(1)).as("n_vecs"), sum("vec_id").as("sum_ids"),
          max("d2").as("max_d2"))
    }),

    // recall@10 EVAL across the three trained-index search paths (v12
    // exact-in-cell, v13 raw-code ADC, v14 residual-code ADC) against the
    // exact L2 top-10 — hit counts, recall fractions, and lowest-missed
    // witnesses per query. The measurable claim: residual codes recall at
    // least as much as raw codes at identical index size.
    "v15_recall_at_k" -> ((s, dir) =>
      Similarity.annRecallAtK(t(s, dir, "embeddings"), k = KmeansK,
        iters = KmeansIters, m = PqM, nprobe = IvfNprobe,
        nQueries = NQueries, kAt = RecallAt)),

    // Search over the PERSISTED on-disk IVF-PQ index — the read side of
    // the lifecycle (e13 writes, this searches): the index written
    // partitionBy(cell) (one directory per inverted list), the probe join
    // keyed on the partition column so Dynamic Partition Pruning skips
    // every unprobed cell's directory at listing time. Same construction,
    // codes, and rounding as v13 — and exactly v13's oracle: persisting
    // the index and pruning the scan must not move a single distance.
    "v17_ivf_store_search" -> ((s, dir) =>
      Similarity.ivfPqStoreSearch(t(s, dir, "embeddings"),
        storePath = Tables.scratch("graft_v17_store_" + Tables.dirTag(dir)), k = KmeansK,
        iters = KmeansIters, m = PqM, nprobe = IvfNprobe,
        nQueries = NQueries)),

    // FILTERED ANN — metadata predicate composed with the vector search
    // (same-label nearest neighbor): the predicate pre-filters the
    // inverted-list members BEFORE scoring, riding the keyed cell join as
    // an ordinary join filter — never a post-filter of an unfiltered
    // top-k (the standard filtered-ANN failure mode).
    "v18_filtered_ann" -> ((s, dir) =>
      Similarity.ivfFilteredTop1(t(s, dir, "embeddings"), k = KmeansK,
        iters = KmeansIters, nprobe = IvfNprobe, nQueries = NQueries)),

    // HARD-NEGATIVE MINING — v18's pre-filtered IVF search with the
    // label predicate inverted and top-1 widened to a ranked top-3: per
    // query, the 3 nearest DIFFERENT-label neighbors (the contrastive-
    // training negatives worth mining; random negatives are trivially
    // separable).
    "v20_hard_negatives" -> ((s, dir) =>
      Similarity.ivfHardNegatives(t(s, dir, "embeddings"), k = KmeansK,
        iters = KmeansIters, nprobe = IvfNprobe, nQueries = NQueries,
        kNeg = 3)),

    // recall@10 vs nprobe SWEEP — the operating-point tuning report for
    // the IVF probe width. One search at max(nprobe) carries the cell
    // rank; tighter settings are crk filters, so the sweep costs one
    // probe pass, not one per setting.
    "v16_recall_nprobe" -> ((s, dir) =>
      Similarity.recallByNprobe(t(s, dir, "embeddings"), k = KmeansK,
        iters = KmeansIters, nQueries = NQueries, kAt = RecallAt,
        nprobes = NprobeSweep)),

    // SEMANTIC DECONTAMINATION AUDIT — d32's embedding-space complement:
    // per eval item (vec_id < EvalSplit), the nearest TRAINING vector by
    // rounded cosine. Eval side broadcast, corpus streamed once, per-eval
    // argmax map-side-combined — no eval×corpus window anywhere. Gate:
    // the norms, the rounding, and the (cos DESC, c_id) tie order.
    "v25_semantic_decontam" -> ((s, dir) =>
      Similarity.crossCorpusNearest(
        t(s, dir, "embeddings").filter(col("vec_id") >= EvalSplit),
        t(s, dir, "embeddings").filter(col("vec_id") < EvalSplit))),

    // IVF-ACCELERATED SEMANTIC DECONTAM — v25 through the v17 standing
    // store (training corpus persisted partitionBy(cell), probe reads
    // only the nprobe pruned directories), published as the RECALL GATE:
    // recall@1 of the indexed nearest-training-neighbor vs v25's exact
    // argmax — the row a pipeline reads to decide whether the indexed
    // audit is trustworthy at the configured probe width. Gate: the
    // trained cells, the probe ranking, the in-cell cosine argmax, and
    // the exact-vs-indexed agreement count.
    "v26_ivf_decontam" -> ((s, dir) =>
      Similarity.ivfDecontamRecall(
        t(s, dir, "embeddings").filter(col("vec_id") >= EvalSplit),
        t(s, dir, "embeddings").filter(col("vec_id") < EvalSplit),
        storePath = Tables.scratch("graft_v26_store_" + Tables.dirTag(dir)),
        k = KmeansK, iters = KmeansIters, nprobe = IvfNprobe)),

    // INDEX DELETE + COMPACTION — the verb the e13(write)/v17(read) pair
    // lacked, the vector-store counterpart of b8's right-to-be-forgotten
    // and b7's compaction: standing build, pinned-model delta append,
    // then ids [DelFrom, DelTo) are deleted by rewriting ONLY the cell
    // partitions that hold them (survivors staged one-file-per-cell, so
    // the delete doubles as compaction of every partition it touches;
    // untouched inverted lists keep their files byte-for-byte). Gate: the
    // v17 probe search over the post-delete store must hash-equal the
    // standing-trained search over the surviving corpus — a resurrected
    // vector, a dropped survivor, or a stale global anything flips it.
    "v27_ann_store_delete" -> ((s, dir) =>
      Similarity.ivfPqStoreDelete(t(s, dir, "embeddings"),
        storePath = Tables.scratch("graft_v27_store_" + Tables.dirTag(dir)),
        stagePath = Tables.scratch("graft_v27_stage_" + Tables.dirTag(dir)),
        k = KmeansK, iters = KmeansIters, m = PqM, nprobe = IvfNprobe,
        nQueries = NQueries, standingMin = StandingMin,
        delFrom = DelFrom, delTo = DelTo)),

    // SCALAR-QUANTIZED (SQ8) SEARCH with exact re-rank — the flat-index
    // complement of the PQ family (FAISS SQ8): int8 codes + one scale
    // per vector, candidates ranked on the dequantized L2 estimate whose
    // integer ingredients (code norms, code dot product) make the
    // ranking bit-stable cross-engine, then only the shortlist rejoins
    // the raw vectors for the exact distance. Gate: the quantization,
    // the estimate arithmetic, the shortlist cut, and the exact re-rank.
    "v28_sq8_search" -> ((s, dir) =>
      Similarity.sq8Search(t(s, dir, "embeddings"), nQueries = NQueries,
        shortlist = Shortlist))
  )

  val KmeansK = 8
  val KmeansIters = 3
  val IvfNprobe = 2
  // v24's hash-sample rate ≈ 40% (prime modulus; the multiplier makes the
  // kept ids a scattered residue progression, not a prefix or stride).
  // Owned by Similarity since r16 — the same constants drive the
  // AUTO-sampled default trainer behind v12–v18/v20/e13.
  val SampleMod = Similarity.SampleMod
  val SampleKeep = Similarity.SampleKeep
  val AutoThr = Similarity.AutoTrainThreshold
  val Shortlist = 5
  val RecallAt = 10
  val StandingMin = 100L // e13: standing corpus = vec_id >= 100, delta below
  val DelFrom = 20L // v27: delete ids [20, 40) — inside the appended delta,
  val DelTo = 40L //       disjoint from the query batch (vec_id < 20)
  val EvalSplit = 50L // v25: eval set = vec_id < 50, training corpus above
  val NprobeSweep = Seq(1, 2, 4, 8) // v16: probe widths (8 = every cell)

  private val vSrc =
    """v AS (SELECT vec_id, label,
      |  list_transform(embedding, x -> CAST(x AS DOUBLE)) AS dv
      |  FROM embeddings)""".stripMargin

  private val cosSql =
    "round(list_dot_product(qv, cv) / " +
      "(sqrt(list_dot_product(qv, qv)) * sqrt(list_dot_product(cv, cv))), 6)"

  private val bucketSql = (0 until NnBits).map(j =>
    s"CASE WHEN dv[${j + 1}] > 0 THEN CAST(${1L << j} AS BIGINT) ELSE CAST(0 AS BIGINT) END")
    .mkString(" + ")

  /** The IVF coarse-quantizer chain (label-mean centroids → rounded-cosine
    * cell assignment → cell members with vectors) — shared by the v4 top-1
    * oracle and the v11 recall eval.
    */
  private val ivfMembersSrc =
    """exploded AS (
      |  SELECT label, unnest(range(1, len(dv) + 1)) AS pos, unnest(dv) AS x FROM v),
      |mdims AS (
      |  SELECT label, pos, round(avg(x), 9) AS m
      |  FROM exploded GROUP BY label, pos),
      |cent AS (
      |  SELECT label AS cell, list(m ORDER BY pos) AS cv FROM mdims GROUP BY label),
      |assigned AS (
      |  SELECT vec_id, cell FROM (
      |    SELECT v.vec_id, c.cell,
      |      row_number() OVER (PARTITION BY v.vec_id ORDER BY
      |        round(list_dot_product(v.dv, c.cv) /
      |          (sqrt(list_dot_product(v.dv, v.dv)) * sqrt(list_dot_product(c.cv, c.cv))), 6) DESC,
      |        c.cell) AS ark
      |    FROM v CROSS JOIN cent c)
      |  WHERE ark = 1),
      |members AS (
      |  SELECT a.cell, a.vec_id, v.dv FROM assigned a JOIN v USING (vec_id))""".stripMargin

  /** Shared label-mean centroid prelude (9 dp — the cross-engine
    * bit-identical quantizer contract); consumers append their own `cent`
    * projection on top of `mdims`.
    */
  private val centPrelude =
    """exploded AS (
      |  SELECT label, unnest(range(1, len(dv) + 1)) AS pos, unnest(dv) AS x FROM v),
      |mdims AS (
      |  SELECT label, pos, round(avg(x), 9) AS m
      |  FROM exploded GROUP BY label, pos)""".stripMargin

  /** PQ oracle prelude: the centroid table with POSITIONAL cell ids
    * (dense_rank over label, 0-based) — graft_pq_encode's codes are indices
    * into the cell-sorted flattened codebook, so the oracle must rank the
    * same way or parity would silently depend on labels being exactly
    * 0..k-1 contiguous. Then the rounded squared L2 between every vector
    * subspace and every centroid subspace, written as a·a + c·c − 2·a·c
    * over ordered `list_dot_product`s — the exact arithmetic
    * graft_pq_encode/graft_pq_dist_table perform, so codes and distances
    * agree bit-for-bit. Sub width hardcodes the 64-dim fixture / PqM split.
    */
  private val pqSub = 64 / PqM
  private val pqD2 =
    s"""$centPrelude,
       |cent AS (
       |  SELECT CAST(dense_rank() OVER (ORDER BY label) - 1 AS INT) AS cell,
       |         list(m ORDER BY pos) AS cv
       |  FROM mdims GROUP BY label),
       |subs AS (SELECT unnest(range($PqM)) AS s),
       |d2 AS (
       |  SELECT v.vec_id, c.cell, s.s,
       |    round(list_dot_product(v.dv[s.s*$pqSub+1:(s.s+1)*$pqSub], v.dv[s.s*$pqSub+1:(s.s+1)*$pqSub])
       |        + list_dot_product(c.cv[s.s*$pqSub+1:(s.s+1)*$pqSub], c.cv[s.s*$pqSub+1:(s.s+1)*$pqSub])
       |        - 2 * list_dot_product(v.dv[s.s*$pqSub+1:(s.s+1)*$pqSub], c.cv[s.s*$pqSub+1:(s.s+1)*$pqSub]), 6) AS d2
       |  FROM v CROSS JOIN cent c CROSS JOIN subs s)""".stripMargin

  /** v10 oracle: replicates kmeans' T assign/update rounds stage-by-stage
    * (the t13 pattern — materialized CTE chain, one aggregate per round).
    * Same arithmetic as the engine: rounded-6dp squared L2 as ordered
    * a·a + c·c − 2·a·c, ties → lower cell, 9-dp per-dim means, emptied
    * cells carrying their previous centroid.
    */
  private val kmD2 =
    "round(list_dot_product(v.dv, v.dv) + list_dot_product(c.c, c.c)" +
      " - 2 * list_dot_product(v.dv, c.c), 6)"

  /** One Lloyd chain as CTEs `${p}c0 … ${p}c$iters, ${p}fin`, reading
    * (vec_id, dv) rows from the CTE `src` — parameterized so the v14/v15
    * oracles can run a SECOND chain over the residual vectors (prefix
    * "r") in the same statement without name collisions.
    */
  private def kmeansChain(k: Int, iters: Int, src: String, p: String,
      assignSrc: String = null): String = {
    // Training reads `src`; the FINAL assignment reads `assignSrc` when
    // given (v24's sampled-train / full-assign split), else `src`.
    val asrc = Option(assignSrc).getOrElse(src)
    val sb = new StringBuilder
    // ${p}c0 = the k LOWEST vec_ids with ORDINAL labels — the same
    // ranked-list derivation as the engine's init, so parity holds for
    // non-contiguous or non-zero-based ids (a `vec_id < k` filter would
    // silently diverge).
    sb ++= s"""${p}c0 AS MATERIALIZED (
              |  SELECT CAST(row_number() OVER (ORDER BY vec_id) - 1 AS INT) AS cl, dv AS c
              |  FROM (SELECT vec_id, dv FROM $src ORDER BY vec_id LIMIT $k)),
              |""".stripMargin
    for (i <- 1 to iters) {
      sb ++= s"""${p}a$i AS (
                |  SELECT vec_id, cl FROM (
                |    SELECT v.vec_id, c.cl,
                |      row_number() OVER (PARTITION BY v.vec_id
                |                         ORDER BY $kmD2, c.cl) AS rk
                |    FROM $src v CROSS JOIN ${p}c${i - 1} c)
                |  WHERE rk = 1),
                |${p}m$i AS (
                |  SELECT cl, list(m ORDER BY j) AS c FROM (
                |    SELECT a.cl, st.j, round(avg(st.x), 9) AS m
                |    FROM ${p}a$i a JOIN (
                |      SELECT vec_id, unnest(range(1, len(dv) + 1)) AS j,
                |        unnest(dv) AS x FROM $src) st USING (vec_id)
                |    GROUP BY a.cl, st.j)
                |  GROUP BY cl),
                |${p}c$i AS MATERIALIZED (
                |  SELECT * FROM ${p}m$i
                |  UNION ALL
                |  SELECT cl, c FROM ${p}c${i - 1}
                |  WHERE cl NOT IN (SELECT cl FROM ${p}m$i)),
                |""".stripMargin
    }
    sb ++= s"""${p}fin AS (
              |  SELECT vec_id, cl, d2 FROM (
              |    SELECT v.vec_id, c.cl, $kmD2 AS d2,
              |      row_number() OVER (PARTITION BY v.vec_id
              |                         ORDER BY $kmD2, c.cl) AS rk
              |    FROM $asrc v CROSS JOIN ${p}c$iters c)
              |  WHERE rk = 1)""".stripMargin
    sb.toString
  }

  /** The shared Lloyd-chain CTE prefix (through the trained centroids
    * `c$iters` and the final assignment `fin`) of the v10 and v12 oracles.
    */
  private def kmeansStages(k: Int, iters: Int): String =
    s"WITH $vSrc,\n" + kmeansChain(k, iters, "v", "")

  /** The engine's overflow-safe trainSample predicate in plain BIGINT SQL
    * (((id % m + m) % m) matches Spark's pmod on every id; the reduced
    * product stays far under 2⁶³ in both engines).
    */
  private val samplePred =
    s"((vec_id % $SampleMod + $SampleMod) % $SampleMod * 1000003)" +
      s" % $SampleMod < $SampleKeep"

  /** Auto-sampled train-slice CTE over `src` — Similarity.fitAuto's gate
    * as a scalar subquery: everything when the corpus is at or under the
    * threshold, the deterministic hash sample above it.
    */
  private def autoTrainCte(name: String, src: String): String =
    s"""$name AS (SELECT * FROM $src
       |  WHERE (SELECT count(*) FROM $src) <= $AutoThr OR $samplePred)""".stripMargin

  /** [[kmeansStages]] through the AUTO-SAMPLED trainer (the r16 default
    * for standing-index builds): the Lloyd rounds read the `tra` slice,
    * the final assignment `fin` reads the full corpus.
    */
  private def kmeansStagesAuto(k: Int, iters: Int): String =
    s"WITH $vSrc,\n${autoTrainCte("tra", "v")},\n" +
      kmeansChain(k, iters, "tra", "", assignSrc = "v")

  private def kmeansOracle(k: Int, iters: Int): String =
    s"""${kmeansStages(k, iters)}
       |SELECT vec_id, CAST(cl AS INT) AS cluster, d2
       |FROM fin""".stripMargin

  /** v24 oracle: the identical Lloyd chain TRAINED on the deterministic
    * hash sample (`tr` — the engine's overflow-safe trainSample predicate
    * in plain BIGINT arithmetic; the ((id % m + m) % m) reduction matches
    * Spark's `pmod` for every id, negative included) with the final
    * assignment over the FULL corpus.
    */
  private def kmeansSampledOracle(k: Int, iters: Int, mod: Int,
      keep: Int): String =
    s"""WITH $vSrc,
       |tr AS (SELECT * FROM v
       |  WHERE ((vec_id % $mod + $mod) % $mod * 1000003) % $mod < $keep),
       |${kmeansChain(k, iters, "tr", "", assignSrc = "v")}
       |SELECT vec_id, CAST(cl AS INT) AS cluster, d2
       |FROM fin""".stripMargin

  /** v13 oracle: the trained centroid chain, then the PQ leg against the
    * TRAINED centroids (cent2 = c$iters with ordinal cells — the same
    * sub-distance arithmetic as pqD2, codes = per-(vec, s) argmin), the
    * nprobe cell ranking, and ADC scoring of the probed cells' members
    * through their codes only (v9's ordered-list_sum contract).
    */
  private def ivfPqOracle(k: Int, iters: Int, m: Int, nprobe: Int,
      nQueries: Int): String = {
    val sub = 64 / m
    s"""${kmeansStagesAuto(k, iters)},
       |cent2 AS (SELECT cl AS cell, c AS cv FROM c$iters),
       |subs AS (SELECT unnest(range($m)) AS s),
       |pd2 AS (
       |  SELECT v.vec_id, c.cell, s.s,
       |    round(list_dot_product(v.dv[s.s*$sub+1:(s.s+1)*$sub], v.dv[s.s*$sub+1:(s.s+1)*$sub])
       |        + list_dot_product(c.cv[s.s*$sub+1:(s.s+1)*$sub], c.cv[s.s*$sub+1:(s.s+1)*$sub])
       |        - 2 * list_dot_product(v.dv[s.s*$sub+1:(s.s+1)*$sub], c.cv[s.s*$sub+1:(s.s+1)*$sub]), 6) AS d2
       |  FROM v CROSS JOIN cent2 c CROSS JOIN subs s),
       |codes AS (
       |  SELECT vec_id, s, cell AS code FROM (
       |    SELECT vec_id, s, cell,
       |      row_number() OVER (PARTITION BY vec_id, s ORDER BY d2, cell) AS rk
       |    FROM pd2)
       |  WHERE rk = 1),
       |qd AS (SELECT vec_id AS q_id, cell, s, d2 FROM pd2 WHERE vec_id < $nQueries),
       |qc AS (
       |  SELECT vec_id AS q_id, cl FROM (
       |    SELECT v.vec_id, c.cl,
       |      row_number() OVER (PARTITION BY v.vec_id
       |                         ORDER BY $kmD2, c.cl) AS crk
       |    FROM v CROSS JOIN c$iters c
       |    WHERE v.vec_id < $nQueries)
       |  WHERE crk <= $nprobe),
       |pairs AS (
       |  SELECT qc.q_id, f.vec_id AS c_id,
       |    round(list_sum(list(q.d2 ORDER BY q.s)), 6) AS adist
       |  FROM qc JOIN fin f USING (cl)
       |  JOIN codes c ON c.vec_id = f.vec_id
       |  JOIN qd q ON q.q_id = qc.q_id AND q.cell = c.code AND q.s = c.s
       |  WHERE f.vec_id <> qc.q_id
       |  GROUP BY qc.q_id, f.vec_id)
       |SELECT q_id, c_id AS nn_id, adist FROM (
       |  SELECT q_id, c_id, adist,
       |    row_number() OVER (PARTITION BY q_id ORDER BY adist, c_id) AS rk
       |  FROM pairs)
       |WHERE rk = 1""".stripMargin
  }

  /** v27 oracle: the [[ivfPqOracle]] search re-expressed over the
    * POST-DELETE index — the Lloyd chain trained (auto-sampled) on the
    * STANDING slice only (the pinned model delete never retrains),
    * membership and codes over the LIVE corpus `vl` (everything outside
    * the deleted id range), the same nprobe ranking and ADC arithmetic.
    */
  private def ivfPqDeleteOracle(k: Int, iters: Int, m: Int, nprobe: Int,
      nQueries: Int, standingMin: Long, delFrom: Long,
      delTo: Long): String = {
    val sub = 64 / m
    s"""WITH $vSrc,
       |vl AS (SELECT vec_id, dv FROM v
       |       WHERE vec_id < $delFrom OR vec_id >= $delTo),
       |vs AS (SELECT vec_id, dv FROM v WHERE vec_id >= $standingMin),
       |${autoTrainCte("vtr", "vs")},
       |${kmeansChain(k, iters, "vtr", "", assignSrc = "vl")},
       |cent2 AS (SELECT cl AS cell, c AS cv FROM c$iters),
       |subs AS (SELECT unnest(range($m)) AS s),
       |pd2 AS (
       |  SELECT v.vec_id, c.cell, s.s,
       |    round(list_dot_product(v.dv[s.s*$sub+1:(s.s+1)*$sub], v.dv[s.s*$sub+1:(s.s+1)*$sub])
       |        + list_dot_product(c.cv[s.s*$sub+1:(s.s+1)*$sub], c.cv[s.s*$sub+1:(s.s+1)*$sub])
       |        - 2 * list_dot_product(v.dv[s.s*$sub+1:(s.s+1)*$sub], c.cv[s.s*$sub+1:(s.s+1)*$sub]), 6) AS d2
       |  FROM vl v CROSS JOIN cent2 c CROSS JOIN subs s),
       |codes AS (
       |  SELECT vec_id, s, cell AS code FROM (
       |    SELECT vec_id, s, cell,
       |      row_number() OVER (PARTITION BY vec_id, s ORDER BY d2, cell) AS rk
       |    FROM pd2)
       |  WHERE rk = 1),
       |qd AS (SELECT vec_id AS q_id, cell, s, d2 FROM pd2 WHERE vec_id < $nQueries),
       |qc AS (
       |  SELECT vec_id AS q_id, cl FROM (
       |    SELECT v.vec_id, c.cl,
       |      row_number() OVER (PARTITION BY v.vec_id
       |                         ORDER BY $kmD2, c.cl) AS crk
       |    FROM vl v CROSS JOIN c$iters c
       |    WHERE v.vec_id < $nQueries)
       |  WHERE crk <= $nprobe),
       |pairs AS (
       |  SELECT qc.q_id, f.vec_id AS c_id,
       |    round(list_sum(list(q.d2 ORDER BY q.s)), 6) AS adist
       |  FROM qc JOIN fin f USING (cl)
       |  JOIN codes c ON c.vec_id = f.vec_id
       |  JOIN qd q ON q.q_id = qc.q_id AND q.cell = c.code AND q.s = c.s
       |  WHERE f.vec_id <> qc.q_id
       |  GROUP BY qc.q_id, f.vec_id)
       |SELECT q_id, c_id AS nn_id, adist FROM (
       |  SELECT q_id, c_id, adist,
       |    row_number() OVER (PARTITION BY q_id ORDER BY adist, c_id) AS rk
       |  FROM pairs)
       |WHERE rk = 1""".stripMargin
  }

  private def fullD2(a: String, b: String): String =
    s"round(list_dot_product($a, $a) + list_dot_product($b, $b)" +
      s" - 2 * list_dot_product($a, $b), 6)"

  private def sliceD2(a: String, b: String, sub: Int): String =
    s"""round(list_dot_product($a[s.s*$sub+1:(s.s+1)*$sub], $a[s.s*$sub+1:(s.s+1)*$sub])
       |        + list_dot_product($b[s.s*$sub+1:(s.s+1)*$sub], $b[s.s*$sub+1:(s.s+1)*$sub])
       |        - 2 * list_dot_product($a[s.s*$sub+1:(s.s+1)*$sub], $b[s.s*$sub+1:(s.s+1)*$sub]), 6)""".stripMargin

  /** Residual-IVF-PQ CTE block, appended after `kmeansStages`: residual
    * vectors vs the trained cells, a SECOND Lloyd chain over residuals
    * (prefix "r"), residual codes, the probe-cell set `qc`, the
    * per-(query, probed-cell) residual ADC tables, and the candidate
    * `rpairs` — mirroring Similarity.residualAdcPairsOn step for step.
    */
  private def residualPrelude(k: Int, iters: Int, m: Int, nprobe: Int,
      nQueries: Int): String = {
    val sub = 64 / m
    s"""cent2 AS (SELECT cl AS cell, c AS cv FROM c$iters),
       |vst AS (SELECT vec_id, unnest(range(1, len(dv) + 1)) AS j, unnest(dv) AS x FROM v),
       |cst AS (SELECT cell, unnest(range(1, len(cv) + 1)) AS j, unnest(cv) AS cx FROM cent2),
       |resid AS (
       |  SELECT f.vec_id, list(st.x - cs.cx ORDER BY st.j) AS dv
       |  FROM fin f JOIN vst st USING (vec_id)
       |  JOIN cst cs ON cs.cell = f.cl AND cs.j = st.j
       |  GROUP BY f.vec_id),
       |${autoTrainCte("rtr", "resid")},
       |${kmeansChain(k, iters, "rtr", "r", assignSrc = "resid")},
       |rcent AS (SELECT cl AS cell, c AS cv FROM rc$iters),
       |subs AS (SELECT unnest(range($m)) AS s),
       |rpd AS (
       |  SELECT v.vec_id, c.cell, s.s,
       |    ${sliceD2("v.dv", "c.cv", sub)} AS d2
       |  FROM resid v CROSS JOIN rcent c CROSS JOIN subs s),
       |rcodes AS (
       |  SELECT vec_id, s, cell AS code FROM (
       |    SELECT vec_id, s, cell,
       |      row_number() OVER (PARTITION BY vec_id, s ORDER BY d2, cell) AS rk
       |    FROM rpd)
       |  WHERE rk = 1),
       |qc AS (
       |  SELECT vec_id AS q_id, cl FROM (
       |    SELECT v.vec_id, c.cl,
       |      row_number() OVER (PARTITION BY v.vec_id
       |                         ORDER BY $kmD2, c.cl) AS crk
       |    FROM v CROSS JOIN c$iters c
       |    WHERE v.vec_id < $nQueries)
       |  WHERE crk <= $nprobe),
       |qresid AS (
       |  SELECT qc.q_id, qc.cl AS cell, list(st.x - cs.cx ORDER BY st.j) AS rv
       |  FROM qc JOIN vst st ON st.vec_id = qc.q_id
       |  JOIN cst cs ON cs.cell = qc.cl AND cs.j = st.j
       |  GROUP BY qc.q_id, qc.cl),
       |qrd AS (
       |  SELECT q.q_id, q.cell, c.cell AS l, s.s,
       |    ${sliceD2("q.rv", "c.cv", sub)} AS d2
       |  FROM qresid q CROSS JOIN rcent c CROSS JOIN subs s),
       |rpairs AS (
       |  SELECT qc.q_id, f.vec_id AS c_id,
       |    round(list_sum(list(q.d2 ORDER BY q.s)), 6) AS adist
       |  FROM qc JOIN fin f USING (cl)
       |  JOIN rcodes rc2 ON rc2.vec_id = f.vec_id
       |  JOIN qrd q ON q.q_id = qc.q_id AND q.cell = qc.cl
       |    AND q.l = rc2.code AND q.s = rc2.s
       |  WHERE f.vec_id <> qc.q_id
       |  GROUP BY qc.q_id, f.vec_id)""".stripMargin
  }

  /** v14 oracle: residual chain → ADC shortlist (rk ≤ shortlist by
    * (adist, c_id)) → exact rounded-d2 re-rank of the shortlist.
    */
  private def ivfPqResidualOracle(k: Int, iters: Int, m: Int, nprobe: Int,
      nQueries: Int, shortlist: Int): String =
    s"""${kmeansStagesAuto(k, iters)},
       |${residualPrelude(k, iters, m, nprobe, nQueries)},
       |short AS (
       |  SELECT q_id, c_id FROM (
       |    SELECT q_id, c_id,
       |      row_number() OVER (PARTITION BY q_id ORDER BY adist, c_id) AS rk
       |    FROM rpairs)
       |  WHERE rk <= $shortlist),
       |rr AS (
       |  SELECT s.q_id, s.c_id, ${fullD2("a.dv", "b.dv")} AS d2
       |  FROM short s JOIN v a ON a.vec_id = s.q_id
       |  JOIN v b ON b.vec_id = s.c_id)
       |SELECT q_id, c_id AS nn_id, d2 FROM (
       |  SELECT q_id, c_id, d2,
       |    row_number() OVER (PARTITION BY q_id ORDER BY d2, c_id) AS rk
       |  FROM rr)
       |WHERE rk = 1""".stripMargin

  /** v15 oracle: exact L2 top-kAt ground truth vs the three index paths'
    * top-kAt lists (v12 exact-in-cell, v13 raw ADC, v14 residual ADC),
    * rolled up per query with hit counts, recall fractions, and the
    * lowest-missed-neighbor witnesses.
    */
  private def recallAtKOracle(k: Int, iters: Int, m: Int, nprobe: Int,
      nQueries: Int, kAt: Int): String = {
    val sub = 64 / m
    s"""${kmeansStagesAuto(k, iters)},
       |${residualPrelude(k, iters, m, nprobe, nQueries)},
       |pd2 AS (
       |  SELECT v.vec_id, c.cell, s.s,
       |    ${sliceD2("v.dv", "c.cv", sub)} AS d2
       |  FROM v CROSS JOIN cent2 c CROSS JOIN subs s),
       |codes AS (
       |  SELECT vec_id, s, cell AS code FROM (
       |    SELECT vec_id, s, cell,
       |      row_number() OVER (PARTITION BY vec_id, s ORDER BY d2, cell) AS rk
       |    FROM pd2)
       |  WHERE rk = 1),
       |qd AS (SELECT vec_id AS q_id, cell, s, d2 FROM pd2 WHERE vec_id < $nQueries),
       |pqpairs AS (
       |  SELECT qc.q_id, f.vec_id AS c_id,
       |    round(list_sum(list(q.d2 ORDER BY q.s)), 6) AS adist
       |  FROM qc JOIN fin f USING (cl)
       |  JOIN codes c ON c.vec_id = f.vec_id
       |  JOIN qd q ON q.q_id = qc.q_id AND q.cell = c.code AND q.s = c.s
       |  WHERE f.vec_id <> qc.q_id
       |  GROUP BY qc.q_id, f.vec_id),
       |iscored AS (
       |  SELECT qc.q_id, f.vec_id AS c_id, ${fullD2("a.dv", "b.dv")} AS d2
       |  FROM qc JOIN fin f USING (cl)
       |  JOIN v a ON a.vec_id = qc.q_id
       |  JOIN v b ON b.vec_id = f.vec_id
       |  WHERE f.vec_id <> qc.q_id),
       |ex AS (
       |  SELECT q_id, c_id FROM (
       |    SELECT a.vec_id AS q_id, b.vec_id AS c_id,
       |      row_number() OVER (PARTITION BY a.vec_id
       |        ORDER BY ${fullD2("a.dv", "b.dv")}, b.vec_id) AS rk
       |    FROM v a CROSS JOIN v b
       |    WHERE a.vec_id < $nQueries AND b.vec_id <> a.vec_id)
       |  WHERE rk <= $kAt),
       |tivf AS (
       |  SELECT q_id, c_id FROM (
       |    SELECT q_id, c_id,
       |      row_number() OVER (PARTITION BY q_id ORDER BY d2, c_id) AS rk
       |    FROM iscored)
       |  WHERE rk <= $kAt),
       |tpq AS (
       |  SELECT q_id, c_id FROM (
       |    SELECT q_id, c_id,
       |      row_number() OVER (PARTITION BY q_id ORDER BY adist, c_id) AS rk
       |    FROM pqpairs)
       |  WHERE rk <= $kAt),
       |trpq AS (
       |  SELECT q_id, c_id FROM (
       |    SELECT q_id, c_id,
       |      row_number() OVER (PARTITION BY q_id ORDER BY adist, c_id) AS rk
       |    FROM rpairs)
       |  WHERE rk <= $kAt),
       |base AS (SELECT q_id, count(*) AS n_exact FROM ex GROUP BY q_id),
       |hivf AS (SELECT e.q_id, count(*) AS h FROM ex e JOIN tivf t
       |  ON t.q_id = e.q_id AND t.c_id = e.c_id GROUP BY e.q_id),
       |hpq AS (SELECT e.q_id, count(*) AS h FROM ex e JOIN tpq t
       |  ON t.q_id = e.q_id AND t.c_id = e.c_id GROUP BY e.q_id),
       |hrpq AS (SELECT e.q_id, count(*) AS h FROM ex e JOIN trpq t
       |  ON t.q_id = e.q_id AND t.c_id = e.c_id GROUP BY e.q_id),
       |mpq AS (SELECT q_id, min(c_id) AS mw FROM ex e
       |  WHERE NOT EXISTS (SELECT 1 FROM tpq t
       |    WHERE t.q_id = e.q_id AND t.c_id = e.c_id)
       |  GROUP BY q_id),
       |mrpq AS (SELECT q_id, min(c_id) AS mw FROM ex e
       |  WHERE NOT EXISTS (SELECT 1 FROM trpq t
       |    WHERE t.q_id = e.q_id AND t.c_id = e.c_id)
       |  GROUP BY q_id)
       |SELECT b.q_id, b.n_exact,
       |  COALESCE(h1.h, CAST(0 AS BIGINT)) AS hits_ivf,
       |  COALESCE(h2.h, CAST(0 AS BIGINT)) AS hits_pq,
       |  COALESCE(h3.h, CAST(0 AS BIGINT)) AS hits_rpq,
       |  round(COALESCE(h1.h, 0) / CAST($kAt AS DOUBLE), 3) AS recall_ivf,
       |  round(COALESCE(h2.h, 0) / CAST($kAt AS DOUBLE), 3) AS recall_pq,
       |  round(COALESCE(h3.h, 0) / CAST($kAt AS DOUBLE), 3) AS recall_rpq,
       |  COALESCE(m1.mw, CAST(-1 AS BIGINT)) AS missed_pq,
       |  COALESCE(m2.mw, CAST(-1 AS BIGINT)) AS missed_rpq
       |FROM base b
       |LEFT JOIN hivf h1 ON h1.q_id = b.q_id
       |LEFT JOIN hpq h2 ON h2.q_id = b.q_id
       |LEFT JOIN hrpq h3 ON h3.q_id = b.q_id
       |LEFT JOIN mpq m1 ON m1.q_id = b.q_id
       |LEFT JOIN mrpq m2 ON m2.q_id = b.q_id""".stripMargin
  }

  /** v16 oracle: one probe pass at max(nprobes) with the cell rank kept;
    * per sweep setting, a crk filter + top-kAt + hit count against the
    * exact ground truth (the v15 `ex` shape), one output row per nprobe.
    */
  private def recallByNprobeOracle(k: Int, iters: Int, nQueries: Int,
      kAt: Int, nprobes: Seq[Int]): String = {
    val maxNp = nprobes.max
    val perNp = nprobes.sorted.map { np =>
      s"""SELECT CAST($np AS INT) AS nprobe,
         |  (SELECT count(*) FROM ex e JOIN (
         |     SELECT q_id, c_id FROM (
         |       SELECT q_id, c_id,
         |         row_number() OVER (PARTITION BY q_id ORDER BY d2, c_id) AS rk
         |       FROM scored WHERE crk <= $np)
         |     WHERE rk <= $kAt) t
         |   ON t.q_id = e.q_id AND t.c_id = e.c_id) AS hits""".stripMargin
    }.mkString("\n  UNION ALL\n")
    s"""${kmeansStagesAuto(k, iters)},
       |qc AS (
       |  SELECT vec_id AS q_id, cl, crk FROM (
       |    SELECT v.vec_id, c.cl,
       |      row_number() OVER (PARTITION BY v.vec_id
       |                         ORDER BY $kmD2, c.cl) AS crk
       |    FROM v CROSS JOIN c$iters c
       |    WHERE v.vec_id < $nQueries)
       |  WHERE crk <= $maxNp),
       |scored AS (
       |  SELECT qc.q_id, f.vec_id AS c_id, qc.crk,
       |    ${fullD2("a.dv", "b.dv")} AS d2
       |  FROM qc JOIN fin f USING (cl)
       |  JOIN v a ON a.vec_id = qc.q_id
       |  JOIN v b ON b.vec_id = f.vec_id
       |  WHERE f.vec_id <> qc.q_id),
       |ex AS (
       |  SELECT q_id, c_id FROM (
       |    SELECT a.vec_id AS q_id, b.vec_id AS c_id,
       |      row_number() OVER (PARTITION BY a.vec_id
       |        ORDER BY ${fullD2("a.dv", "b.dv")}, b.vec_id) AS rk
       |    FROM v a CROSS JOIN v b
       |    WHERE a.vec_id < $nQueries AND b.vec_id <> a.vec_id)
       |  WHERE rk <= $kAt),
       |sweep AS (
       |$perNp)
       |SELECT nprobe, hits,
       |  round(hits / CAST(${nQueries * kAt} AS DOUBLE), 3) AS recall
       |FROM sweep""".stripMargin
  }

  /** v12 oracle: the trained centroid chain, then the IVF probe — per
    * query the nprobe nearest cells by the same rounded distance, the
    * probed cells' inverted-list members as candidates, exact rounded
    * pair distance, top-1 by (d2, c_id).
    */
  private def ivfTrainedOracle(k: Int, iters: Int, nprobe: Int,
      nQueries: Int): String =
    s"""${kmeansStagesAuto(k, iters)},
       |qc AS (
       |  SELECT vec_id AS q_id, cl FROM (
       |    SELECT v.vec_id, c.cl,
       |      row_number() OVER (PARTITION BY v.vec_id
       |                         ORDER BY $kmD2, c.cl) AS crk
       |    FROM v CROSS JOIN c$iters c
       |    WHERE v.vec_id < $nQueries)
       |  WHERE crk <= $nprobe),
       |scored AS (
       |  SELECT qc.q_id, f.vec_id AS c_id,
       |    round(list_dot_product(a.dv, a.dv) + list_dot_product(b.dv, b.dv)
       |      - 2 * list_dot_product(a.dv, b.dv), 6) AS d2
       |  FROM qc JOIN fin f USING (cl)
       |  JOIN v a ON a.vec_id = qc.q_id
       |  JOIN v b ON b.vec_id = f.vec_id
       |  WHERE f.vec_id <> qc.q_id)
       |SELECT q_id, c_id AS nn_id, d2 FROM (
       |  SELECT q_id, c_id, d2,
       |    row_number() OVER (PARTITION BY q_id ORDER BY d2, c_id) AS rk
       |  FROM scored)
       |WHERE rk = 1""".stripMargin

  val oracle: Map[String, String] = Map(
    "v10_kmeans" -> kmeansOracle(KmeansK, KmeansIters),
    "v24_kmeans_sampled" ->
      kmeansSampledOracle(KmeansK, KmeansIters, SampleMod, SampleKeep),
    // v21: the v10 Lloyd chain, then the one-row occupancy rollup.
    "v21_ivf_health" ->
      s"""${kmeansStages(KmeansK, KmeansIters)},
         |occ AS (SELECT cl, count(*) AS n FROM fin GROUP BY cl)
         |SELECT CAST($KmeansK AS INT) AS k,
         |  CAST(sum(n) AS BIGINT) AS n_vecs,
         |  CAST(min(n) AS BIGINT) AS min_cell,
         |  CAST(max(n) AS BIGINT) AS max_cell,
         |  round(CAST(max(n) AS DOUBLE) * $KmeansK / sum(n), 6) AS imbalance,
         |  CAST($KmeansK - count(*) AS INT) AS n_empty
         |FROM occ""".stripMargin,
    // v19: the v10 Lloyd chain, then the per-cluster hardest-half quota —
    // rank by d2 DESC (ties → vec_id), keep prk ≤ ceil(0.5·n_c).
    "v19_prototype_prune" ->
      s"""${kmeansStages(KmeansK, KmeansIters)},
         |cnt AS (SELECT cl, count(*) AS nc FROM fin GROUP BY cl),
         |rk AS (SELECT vec_id, cl, d2,
         |    row_number() OVER (PARTITION BY cl ORDER BY d2 DESC, vec_id)
         |      AS prk
         |  FROM fin)
         |SELECT r.vec_id, CAST(r.cl AS INT) AS cluster, r.d2,
         |  CAST(r.prk AS INT) AS proto_rank, c.nc AS cluster_size
         |FROM rk r JOIN cnt c USING (cl)
         |WHERE r.prk <= ceil(0.5 * c.nc)""".stripMargin,
    "v12_ivf_trained" ->
      ivfTrainedOracle(KmeansK, KmeansIters, IvfNprobe, NQueries),
    "v13_ivf_pq" ->
      ivfPqOracle(KmeansK, KmeansIters, PqM, IvfNprobe, NQueries),
    "v14_ivf_pq_residual" ->
      ivfPqResidualOracle(KmeansK, KmeansIters, PqM, IvfNprobe, NQueries,
        Shortlist),
    "v15_recall_at_k" ->
      recallAtKOracle(KmeansK, KmeansIters, PqM, IvfNprobe, NQueries,
        RecallAt),
    "v16_recall_nprobe" ->
      recallByNprobeOracle(KmeansK, KmeansIters, NQueries, RecallAt,
        NprobeSweep),
    // v25: per eval vector, the rounded-cosine argmax over the training
    // side, ties -> lower c_id — the same arithmetic as the engine's
    // map-side-combined max(struct). Zero-norm vectors are excluded on
    // both sides (the engine's NaN guard — ADVICE r16): cos is undefined
    // for a vector with no direction.
    "v25_semantic_decontam" ->
      s"""WITH $vSrc,
         |q AS (SELECT vec_id AS eval_id, dv AS qv FROM v
         |      WHERE vec_id < $EvalSplit AND list_dot_product(dv, dv) > 0),
         |c AS (SELECT vec_id AS c_id, dv AS cv FROM v
         |      WHERE vec_id >= $EvalSplit AND list_dot_product(dv, dv) > 0),
         |sc AS (SELECT q.eval_id, c.c_id, $cosSql AS cos
         |       FROM q CROSS JOIN c)
         |SELECT eval_id, c_id AS nn_id, cos FROM (
         |  SELECT eval_id, c_id, cos,
         |    row_number() OVER (PARTITION BY eval_id
         |                       ORDER BY cos DESC, c_id) AS rk
         |  FROM sc)
         |WHERE rk = 1""".stripMargin,
    // v26: the same Lloyd chain TRAINED ON THE CORPUS SLICE ONLY (auto-
    // sampled gate as a scalar subquery over that slice), the eval-side
    // nprobe cell ranking, the in-cell cosine argmax, and the recall@1
    // agreement count against the exact (v25) argmax. Zero-norm vectors
    // excluded on both sides, as in the engine.
    "v26_ivf_decontam" ->
      s"""WITH $vSrc,
         |cv0 AS (SELECT vec_id, dv FROM v WHERE vec_id >= $EvalSplit),
         |${autoTrainCte("tra", "cv0")},
         |${kmeansChain(KmeansK, KmeansIters, "tra", "", assignSrc = "cv0")},
         |members AS (
         |  SELECT f.cl AS cell, f.vec_id AS c_id, s.dv AS cv
         |  FROM fin f JOIN cv0 s USING (vec_id)
         |  WHERE list_dot_product(s.dv, s.dv) > 0),
         |q AS (SELECT vec_id AS eval_id, dv AS qv FROM v
         |      WHERE vec_id < $EvalSplit AND list_dot_product(dv, dv) > 0),
         |qc AS (
         |  SELECT eval_id, qv, cell FROM (
         |    SELECT q.eval_id, q.qv, c.cl AS cell,
         |      row_number() OVER (PARTITION BY q.eval_id ORDER BY
         |        round(list_dot_product(q.qv, q.qv) + list_dot_product(c.c, c.c)
         |          - 2 * list_dot_product(q.qv, c.c), 6), c.cl) AS crk
         |    FROM q CROSS JOIN c$KmeansIters c)
         |  WHERE crk <= $IvfNprobe),
         |ivf AS (
         |  SELECT eval_id, c_id AS ivf_nn FROM (
         |    SELECT qc.eval_id, m.c_id,
         |      row_number() OVER (PARTITION BY qc.eval_id ORDER BY
         |        round(list_dot_product(qc.qv, m.cv) /
         |          (sqrt(list_dot_product(qc.qv, qc.qv))
         |            * sqrt(list_dot_product(m.cv, m.cv))), 6) DESC,
         |        m.c_id) AS rk
         |    FROM qc JOIN members m USING (cell))
         |  WHERE rk = 1),
         |ex AS (
         |  SELECT eval_id, c_id AS exact_nn FROM (
         |    SELECT q.eval_id, m.c_id,
         |      row_number() OVER (PARTITION BY q.eval_id ORDER BY
         |        round(list_dot_product(q.qv, m.cv) /
         |          (sqrt(list_dot_product(q.qv, q.qv))
         |            * sqrt(list_dot_product(m.cv, m.cv))), 6) DESC,
         |        m.c_id) AS rk
         |    FROM q CROSS JOIN (SELECT vec_id AS c_id, dv AS cv FROM cv0
         |                       WHERE list_dot_product(dv, dv) > 0) m)
         |  WHERE rk = 1)
         |SELECT CAST($IvfNprobe AS INT) AS nprobe,
         |  count(*) AS n_eval,
         |  CAST(sum(CASE WHEN i.ivf_nn = e.exact_nn THEN 1 ELSE 0 END)
         |    AS BIGINT) AS hits,
         |  round(CAST(sum(CASE WHEN i.ivf_nn = e.exact_nn THEN 1 ELSE 0 END)
         |    AS DOUBLE) / count(*), 3) AS recall
         |FROM ex e LEFT JOIN ivf i USING (eval_id)""".stripMargin,
    // v17 = v13 through the persisted partition-pruned index: same oracle.
    "v17_ivf_store_search" ->
      ivfPqOracle(KmeansK, KmeansIters, PqM, IvfNprobe, NQueries),
    // v27: the v17 search over the post-delete index — standing-trained
    // chain, membership/codes restricted to the surviving corpus.
    "v27_ann_store_delete" ->
      ivfPqDeleteOracle(KmeansK, KmeansIters, PqM, IvfNprobe, NQueries,
        StandingMin, DelFrom, DelTo),
    // v28: the same int8 quantization as v6, the dequantized-L2 estimate
    // in the engine's exact term order, the shortlist cut, the exact
    // fullD2 re-rank.
    "v28_sq8_search" ->
      s"""WITH $vSrc,
         |qz AS (
         |  SELECT vec_id, dv, amax,
         |    list_transform(dv, x -> floor(x * 127 / amax + 0.5)) AS qc
         |  FROM (SELECT vec_id, dv,
         |          list_max(list_transform(dv, x -> abs(x))) AS amax
         |        FROM v)
         |  WHERE amax > 0),
         |q AS (SELECT vec_id AS q_id, amax AS qa, qc AS qq,
         |        list_dot_product(qc, qc) AS qnq
         |      FROM qz WHERE vec_id < $NQueries),
         |c AS (SELECT vec_id AS c_id, amax AS ca, qc AS cc,
         |        list_dot_product(qc, qc) AS qnc
         |      FROM qz),
         |pairs AS (
         |  SELECT q.q_id, c.c_id,
         |    round(q.qnq * q.qa * q.qa / 16129.0
         |      + c.qnc * c.ca * c.ca / 16129.0
         |      - 2.0 * list_dot_product(q.qq, c.cc) * q.qa * c.ca / 16129.0,
         |      6) AS est
         |  FROM q CROSS JOIN c WHERE c.c_id <> q.q_id),
         |short AS (
         |  SELECT q_id, c_id FROM (
         |    SELECT q_id, c_id,
         |      row_number() OVER (PARTITION BY q_id ORDER BY est, c_id) AS rk
         |    FROM pairs)
         |  WHERE rk <= $Shortlist),
         |rescored AS (
         |  SELECT s.q_id, s.c_id, ${fullD2("a.dv", "b.dv")} AS d2
         |  FROM short s
         |  JOIN v a ON a.vec_id = s.q_id
         |  JOIN v b ON b.vec_id = s.c_id)
         |SELECT q_id, c_id AS nn_id, d2 FROM (
         |  SELECT q_id, c_id, d2,
         |    row_number() OVER (PARTITION BY q_id ORDER BY d2, c_id) AS rk
         |  FROM rescored)
         |WHERE rk = 1""".stripMargin,
    // v18 = v12's probe with the same-label predicate applied to the
    // member side before scoring (queries with no match drop out).
    "v18_filtered_ann" ->
      s"""${kmeansStagesAuto(KmeansK, KmeansIters)},
         |qc AS (
         |  SELECT vec_id AS q_id, cl FROM (
         |    SELECT v.vec_id, c.cl,
         |      row_number() OVER (PARTITION BY v.vec_id
         |                         ORDER BY $kmD2, c.cl) AS crk
         |    FROM v CROSS JOIN c$KmeansIters c
         |    WHERE v.vec_id < $NQueries)
         |  WHERE crk <= $IvfNprobe),
         |scored AS (
         |  SELECT qc.q_id, f.vec_id AS c_id, ${fullD2("a.dv", "b.dv")} AS d2
         |  FROM qc JOIN fin f USING (cl)
         |  JOIN v a ON a.vec_id = qc.q_id
         |  JOIN v b ON b.vec_id = f.vec_id
         |  WHERE f.vec_id <> qc.q_id AND b.label = a.label)
         |SELECT q_id, c_id AS nn_id, d2 FROM (
         |  SELECT q_id, c_id, d2,
         |    row_number() OVER (PARTITION BY q_id ORDER BY d2, c_id) AS rk
         |  FROM scored)
         |WHERE rk = 1""".stripMargin,
    // v20: v18's probe/score chain with the label predicate inverted and
    // the per-query keep at rk <= 3 (rank emitted).
    "v20_hard_negatives" ->
      s"""${kmeansStagesAuto(KmeansK, KmeansIters)},
         |qc AS (
         |  SELECT vec_id AS q_id, cl FROM (
         |    SELECT v.vec_id, c.cl,
         |      row_number() OVER (PARTITION BY v.vec_id
         |                         ORDER BY $kmD2, c.cl) AS crk
         |    FROM v CROSS JOIN c$KmeansIters c
         |    WHERE v.vec_id < $NQueries)
         |  WHERE crk <= $IvfNprobe),
         |scored AS (
         |  SELECT qc.q_id, f.vec_id AS c_id, ${fullD2("a.dv", "b.dv")} AS d2
         |  FROM qc JOIN fin f USING (cl)
         |  JOIN v a ON a.vec_id = qc.q_id
         |  JOIN v b ON b.vec_id = f.vec_id
         |  WHERE f.vec_id <> qc.q_id AND b.label <> a.label)
         |SELECT q_id, CAST(rk AS INT) AS rank, c_id AS neg_id, d2 FROM (
         |  SELECT q_id, c_id, d2,
         |    row_number() OVER (PARTITION BY q_id ORDER BY d2, c_id) AS rk
         |  FROM scored)
         |WHERE rk <= 3""".stripMargin,
    // e13 oracle: train the Lloyd chain on the STANDING subset — through
    // the auto-sample gate, as kmeansFit now does — then assign the FULL
    // corpus (standing + streamed delta) to those pinned centroids — the
    // per-cell rollup the post-ingest store must equal.
    "e13_stream_ann_ingest" ->
      s"""WITH $vSrc,
         |vs AS (SELECT vec_id, dv FROM v WHERE vec_id >= $StandingMin),
         |${autoTrainCte("vtr", "vs")},
         |${kmeansChain(KmeansK, KmeansIters, "vtr", "", assignSrc = "vs")},
         |asg AS (
         |  SELECT vec_id, cl AS cell, d2 FROM (
         |    SELECT v.vec_id, c.cl, $kmD2 AS d2,
         |      row_number() OVER (PARTITION BY v.vec_id
         |                         ORDER BY $kmD2, c.cl) AS rk
         |    FROM v CROSS JOIN c$KmeansIters c)
         |  WHERE rk = 1)
         |SELECT cell, count(*) AS n_vecs, CAST(sum(vec_id) AS BIGINT) AS sum_ids,
         |  max(d2) AS max_d2
         |FROM asg GROUP BY cell""".stripMargin,
    "v8_pq_encode" ->
      s"""WITH $vSrc,
         |$pqD2,
         |best AS (
         |  SELECT vec_id, s, cell, d2 FROM (
         |    SELECT vec_id, s, cell, d2,
         |      row_number() OVER (PARTITION BY vec_id, s ORDER BY d2, cell) AS rk
         |    FROM d2)
         |  WHERE rk = 1)
         |SELECT vec_id,
         |  CAST(max(CASE WHEN s=0 THEN cell END) AS INT) AS code0,
         |  CAST(max(CASE WHEN s=1 THEN cell END) AS INT) AS code1,
         |  CAST(max(CASE WHEN s=2 THEN cell END) AS INT) AS code2,
         |  CAST(max(CASE WHEN s=3 THEN cell END) AS INT) AS code3,
         |  round(sqrt(list_sum(list(d2 ORDER BY s))), 6) AS err
         |FROM best GROUP BY vec_id""".stripMargin,
    "v9_pq_adc" ->
      s"""WITH $vSrc,
         |$pqD2,
         |codes AS (
         |  SELECT vec_id, s, cell AS code FROM (
         |    SELECT vec_id, s, cell,
         |      row_number() OVER (PARTITION BY vec_id, s ORDER BY d2, cell) AS rk
         |    FROM d2)
         |  WHERE rk = 1),
         |qd AS (SELECT vec_id AS q_id, cell, s, d2 FROM d2 WHERE vec_id < $NQueries),
         |pairs AS (
         |  SELECT q.q_id, c.vec_id AS c_id,
         |    round(list_sum(list(q.d2 ORDER BY q.s)), 6) AS adist
         |  FROM codes c JOIN qd q ON q.cell = c.code AND q.s = c.s
         |  WHERE c.vec_id <> q.q_id
         |  GROUP BY q.q_id, c.vec_id)
         |SELECT q_id, c_id AS nn_id, adist FROM (
         |  SELECT q_id, c_id, adist,
         |    row_number() OVER (PARTITION BY q_id ORDER BY adist, c_id) AS rk
         |  FROM pairs)
         |WHERE rk = 1""".stripMargin,
    "v6_quantize_int8" ->
      """WITH ex AS (
        |  SELECT vec_id, CAST(unnest(embedding) AS DOUBLE) AS x FROM embeddings),
        |am AS (SELECT vec_id, max(abs(x)) AS amax FROM ex GROUP BY vec_id),
        |q AS (
        |  SELECT e.vec_id, e.x, floor(e.x * 127 / a.amax + 0.5) AS qv, a.amax
        |  FROM ex e JOIN am a USING (vec_id)
        |  WHERE a.amax > 0)
        |SELECT vec_id,
        |  CAST(sum(CAST(qv * qv AS BIGINT)) AS BIGINT) AS qnorm2,
        |  round(sqrt(sum(pow(x - qv * amax / 127, 2))), 6) AS err,
        |  round(max(amax), 6) AS amax
        |FROM q GROUP BY vec_id""".stripMargin,
    "c7_integrity_audit" ->
      """WITH vids AS (SELECT DISTINCT vec_id AS doc_id FROM embeddings),
        |m AS (SELECT d.source,
        |    count(*) AS n_docs,
        |    count(v.doc_id) AS n_with_vec
        |  FROM documents d LEFT JOIN vids v ON d.doc_id = v.doc_id
        |  GROUP BY d.source)
        |SELECT source, n_docs, n_with_vec,
        |  n_docs - n_with_vec AS n_missing
        |FROM m
        |UNION ALL
        |SELECT '__orphan_vectors' AS source,
        |  (SELECT count(*) FROM vids v
        |     LEFT JOIN documents d ON v.doc_id = d.doc_id
        |     WHERE d.doc_id IS NULL) AS n_docs,
        |  CAST(0 AS BIGINT) AS n_with_vec, CAST(0 AS BIGINT) AS n_missing""".stripMargin,
    "v1_cosine_topk" ->
      s"""WITH $vSrc,
         |q AS (SELECT vec_id AS q_id, dv AS qv FROM v WHERE vec_id < $NQueries),
         |scored AS (
         |  SELECT q_id, vec_id AS c_id, $cosSql AS cos
         |  FROM q CROSS JOIN (SELECT vec_id, dv AS cv FROM v) c
         |  WHERE c.vec_id <> q.q_id),
         |ranked AS (
         |  SELECT q_id, c_id, cos,
         |    row_number() OVER (PARTITION BY q_id ORDER BY cos DESC, c_id) AS rk
         |  FROM scored)
         |SELECT q_id, CAST(rk AS INT) AS rk, c_id, cos FROM ranked WHERE rk <= 3""".stripMargin,
    "v7_matryoshka_ann" ->
      s"""WITH $vSrc,
         |vt AS (SELECT vec_id, dv[1:16] AS dv FROM v),
         |b AS (SELECT vec_id, dv, $bucketSql AS bucket FROM vt),
         |scored AS (
         |  SELECT a.vec_id AS q_id, a.bucket, b.vec_id AS c_id,
         |    round(list_dot_product(a.dv, b.dv) /
         |      (sqrt(list_dot_product(a.dv, a.dv)) * sqrt(list_dot_product(b.dv, b.dv))), 6) AS cos
         |  FROM b a JOIN b b ON a.bucket = b.bucket AND a.vec_id <> b.vec_id),
         |ranked AS (
         |  SELECT q_id, bucket, c_id, cos,
         |    row_number() OVER (PARTITION BY q_id ORDER BY cos DESC, c_id) AS rk
         |  FROM scored)
         |SELECT q_id, bucket, c_id AS nn_id, cos FROM ranked WHERE rk = 1""".stripMargin,
    "v2_ann_bucketed" ->
      s"""WITH $vSrc,
         |b AS (SELECT vec_id, dv, $bucketSql AS bucket FROM v),
         |scored AS (
         |  SELECT a.vec_id AS q_id, a.bucket, b.vec_id AS c_id,
         |    round(list_dot_product(a.dv, b.dv) /
         |      (sqrt(list_dot_product(a.dv, a.dv)) * sqrt(list_dot_product(b.dv, b.dv))), 6) AS cos
         |  FROM b a JOIN b b ON a.bucket = b.bucket AND a.vec_id <> b.vec_id),
         |ranked AS (
         |  SELECT q_id, bucket, c_id, cos,
         |    row_number() OVER (PARTITION BY q_id ORDER BY cos DESC, c_id) AS rk
         |  FROM scored)
         |SELECT q_id, bucket, c_id AS nn_id, cos FROM ranked WHERE rk = 1""".stripMargin,
    // v23: the same e6 snap per element, HUGEINT-exact per-dim sums cast
    // back, the same sign-split floor divisions.
    "v23_embedding_drift" ->
      """WITH e AS (
        |  SELECT vec_id,
        |    unnest(range(1, len(embedding) + 1)) AS dimp,
        |    unnest(list_transform(embedding,
        |      x -> CAST(round(CAST(x AS DOUBLE) * 1e6) AS BIGINT))) AS x_e6
        |  FROM embeddings),
        |a AS (SELECT dimp - 1 AS dim, vec_id % 2 AS half,
        |    CAST(sum(x_e6) AS BIGINT) AS s, count(*) AS c
        |  FROM e GROUP BY 1, 2),
        |o AS (SELECT dim, s AS s0, c AS c0 FROM a WHERE half = 0),
        |n AS (SELECT dim, s AS s1, c AS c1 FROM a WHERE half = 1)
        |SELECT CAST(o.dim AS INT) AS dim,
        |  CAST(CASE WHEN s0 >= 0 THEN s0 // c0 ELSE -((-s0) // c0) END
        |    AS BIGINT) AS mean_old_e6,
        |  CAST(CASE WHEN s1 >= 0 THEN s1 // c1 ELSE -((-s1) // c1) END
        |    AS BIGINT) AS mean_new_e6,
        |  CAST(CASE WHEN s1 * c0 - s0 * c1 >= 0
        |    THEN (s1 * c0 - s0 * c1) // (c0 * c1)
        |    ELSE -((s0 * c1 - s1 * c0) // (c0 * c1)) END AS BIGINT) AS diff_e6
        |FROM o JOIN n USING (dim)""".stripMargin,
    // v22: v2's top-1 chain, then reciprocity — each side must pick the
    // other; the pair emitted once (a < b) with the symmetric cosine.
    "v22_mutual_nn" ->
      s"""WITH $vSrc,
         |b AS (SELECT vec_id, dv, $bucketSql AS bucket FROM v),
         |scored AS (
         |  SELECT a.vec_id AS q_id, b.vec_id AS c_id,
         |    round(list_dot_product(a.dv, b.dv) /
         |      (sqrt(list_dot_product(a.dv, a.dv)) * sqrt(list_dot_product(b.dv, b.dv))), 6) AS cos
         |  FROM b a JOIN b b ON a.bucket = b.bucket AND a.vec_id <> b.vec_id),
         |ranked AS (
         |  SELECT q_id, c_id, cos,
         |    row_number() OVER (PARTITION BY q_id ORDER BY cos DESC, c_id) AS rk
         |  FROM scored),
         |t1 AS (SELECT q_id, c_id, cos FROM ranked WHERE rk = 1)
         |SELECT a.q_id AS vec_a, a.c_id AS vec_b, a.cos
         |FROM t1 a JOIN t1 r ON a.c_id = r.q_id AND r.c_id = a.q_id
         |WHERE a.q_id < a.c_id""".stripMargin,
    "d7_embedding_neardup" ->
      s"""WITH $vSrc,
         |b AS (SELECT vec_id, dv, $bucketSql AS bucket FROM v)
         |SELECT a.vec_id AS id_a, c.vec_id AS id_b,
         |  round(list_dot_product(a.dv, c.dv) /
         |    (sqrt(list_dot_product(a.dv, a.dv)) * sqrt(list_dot_product(c.dv, c.dv))), 6) AS cos
         |FROM b a JOIN b c ON a.bucket = c.bucket AND a.vec_id < c.vec_id
         |WHERE round(list_dot_product(a.dv, c.dv) /
         |    (sqrt(list_dot_product(a.dv, a.dv)) * sqrt(list_dot_product(c.dv, c.dv))), 6) >= 0.25""".stripMargin,
    "d16_semdedup" ->
      s"""WITH $vSrc,
         |$centPrelude,
         |cent AS (
         |  SELECT label AS cell, list(m ORDER BY pos) AS cv FROM mdims GROUP BY label),
         |assigned AS (
         |  SELECT vec_id, cell FROM (
         |    SELECT v.vec_id, c.cell,
         |      row_number() OVER (PARTITION BY v.vec_id ORDER BY
         |        round(list_dot_product(v.dv, c.cv) /
         |          (sqrt(list_dot_product(v.dv, v.dv)) * sqrt(list_dot_product(c.cv, c.cv))), 6) DESC,
         |        c.cell) AS ark
         |    FROM v CROSS JOIN cent c)
         |  WHERE ark = 1),
         |members AS (
         |  SELECT a.cell, a.vec_id, v.dv FROM assigned a JOIN v USING (vec_id)),
         |pairs AS (
         |  SELECT a.cell, a.vec_id AS id_a, b.vec_id AS id_b,
         |    round(list_dot_product(a.dv, b.dv) /
         |      (sqrt(list_dot_product(a.dv, a.dv)) * sqrt(list_dot_product(b.dv, b.dv))), 6) AS cos
         |  FROM members a JOIN members b ON a.cell = b.cell AND a.vec_id < b.vec_id)
         |SELECT id_b AS vec_id, cell, max(cos) AS max_lower_cos
         |FROM pairs WHERE cos >= 0.35 GROUP BY id_b, cell""".stripMargin,
    "v4_ivf_topk" ->
      s"""WITH $vSrc,
         |$ivfMembersSrc,
         |scored AS (
         |  SELECT a.vec_id AS q_id, a.cell, b.vec_id AS c_id,
         |    round(list_dot_product(a.dv, b.dv) /
         |      (sqrt(list_dot_product(a.dv, a.dv)) * sqrt(list_dot_product(b.dv, b.dv))), 6) AS cos
         |  FROM members a JOIN members b ON a.cell = b.cell AND a.vec_id <> b.vec_id)
         |SELECT q_id, cell, c_id AS nn_id, cos FROM (
         |  SELECT q_id, cell, c_id, cos,
         |    row_number() OVER (PARTITION BY q_id ORDER BY cos DESC, c_id) AS rk
         |  FROM scored)
         |WHERE rk = 1""".stripMargin,
    "v11_ann_recall" ->
      s"""WITH $vSrc,
         |q AS (SELECT vec_id AS q_id, dv AS qv FROM v WHERE vec_id < $NQueries),
         |bscored AS (
         |  SELECT q_id, vec_id AS c_id, $cosSql AS cos
         |  FROM q CROSS JOIN (SELECT vec_id, dv AS cv FROM v) c
         |  WHERE c.vec_id <> q.q_id),
         |brute AS (
         |  SELECT q_id, c_id AS true_nn FROM (
         |    SELECT q_id, c_id,
         |      row_number() OVER (PARTITION BY q_id ORDER BY cos DESC, c_id) AS rk
         |    FROM bscored) WHERE rk = 1),
         |$ivfMembersSrc,
         |iscored AS (
         |  SELECT a.vec_id AS q_id, b.vec_id AS c_id,
         |    round(list_dot_product(a.dv, b.dv) /
         |      (sqrt(list_dot_product(a.dv, a.dv)) * sqrt(list_dot_product(b.dv, b.dv))), 6) AS cos
         |  FROM members a JOIN members b ON a.cell = b.cell AND a.vec_id <> b.vec_id
         |  WHERE a.vec_id < $NQueries),
         |ivf AS (
         |  SELECT q_id, c_id AS ivf_nn FROM (
         |    SELECT q_id, c_id,
         |      row_number() OVER (PARTITION BY q_id ORDER BY cos DESC, c_id) AS rk
         |    FROM iscored) WHERE rk = 1)
         |SELECT b.q_id AS q_id, true_nn, ivf_nn,
         |  CAST(true_nn = ivf_nn AS INT) AS hit
         |FROM brute b JOIN ivf i ON b.q_id = i.q_id""".stripMargin,
    "v3_label_centroids" ->
      s"""WITH $vSrc,
         |exploded AS (
         |  SELECT label, unnest(range(1, len(dv) + 1)) AS pos, unnest(dv) AS x FROM v),
         |mdims AS (
         |  SELECT label, pos, avg(x) AS m, count(*) AS n
         |  FROM exploded GROUP BY label, pos)
         |SELECT label, round(sqrt(sum(m * m)), 6) AS centroid_norm,
         |  max(n) AS n_vecs
         |FROM mdims GROUP BY label""".stripMargin,
    "v5_centroids_agg" ->
      s"""WITH $vSrc,
         |exploded AS (
         |  SELECT label, unnest(range(1, len(dv) + 1)) AS pos, unnest(dv) AS x FROM v),
         |mdims AS (
         |  SELECT label, pos, avg(x) AS m, count(*) AS n
         |  FROM exploded GROUP BY label, pos)
         |SELECT label, round(sqrt(sum(m * m)), 6) AS centroid_norm,
         |  max(n) AS n_vecs
         |FROM mdims GROUP BY label""".stripMargin
  )
}
