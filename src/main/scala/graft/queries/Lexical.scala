package graft.queries

import org.apache.spark.sql.functions._
import org.apache.spark.sql.{DataFrame, SparkSession}

import graft.engine.Caches.Registered
import graft.ops.{Retrieval, Split, Stats, TextOps}
import Tables.t

/** Lexical-retrieval + LM-scored curation surface over `documents`:
  * BM25 top-k search (the sparse complement of the v-family's dense ANN),
  * the standing bucketed posting store, and CCNet-style per-language
  * perplexity tertiles. Float discipline: scores and logprobs gate as
  * floor-scaled e9 BIGINTs (COVERAGE.md "Oracle pinning") so ranking and
  * hashing never sit on FP reassociation ties.
  */
object Lexical {

  type Q = (SparkSession, String) => DataFrame

  private def docs(s: SparkSession, dir: String): DataFrame =
    t(s, dir, "documents")

  val queries: Map[String, Q] = Map(
    // BM25 top-k retrieval: docs 0–7 are the query batch (each query = its
    // own distinct token bag — the eval-decontamination lookup shape), the
    // full corpus is the index. One corpus shuffle builds the postings;
    // the query side broadcasts everywhere; the rank partitions by
    // query_id (parallel across the batch, never a global sort).
    "b1_bm25_topk" -> ((s, dir) => {
      val d = docs(s, dir)
      val q = Retrieval.queriesFromDocs(d, "doc_id", "text", col("doc_id") < 8)
      Retrieval.bm25TopK(d, "doc_id", "text", q, k = 5)
    }),

    // BM25F — FIELDED retrieval (simple variant): a hit in the first-8-
    // token "title" counts 3× a body hit, folded into tf BEFORE the
    // saturation (a strong title match can't be drowned by body
    // repetition); the length norm lives on the same weighted scale.
    // Same query batch and scoring machinery as b1 — only the postings
    // and doc-length frames are fielded.
    "b10_bm25f" -> ((s, dir) => {
      val d = docs(s, dir)
      val q = Retrieval.queriesFromDocs(d, "doc_id", "text", col("doc_id") < 8)
      Retrieval.bm25TopKFrom(
        Retrieval.fieldedPostings(d, "doc_id", "text",
          titleLen = 8, wTitle = 3, wBody = 1),
        Retrieval.fieldedDocLengths(d, "doc_id", "text",
          titleLen = 8, wTitle = 3, wBody = 1),
        q, k = 5)
    }),

    // The same retrieval against a STANDING posting store (term-bucketed
    // inverted index, the j8/d21 lever applied to text search): the
    // corpus-side shuffle was paid at store-build time; the probe's term
    // IN-list bucket-prunes the postings scan at listing time
    // (RetrievalSpec asserts SelectedBucketsCount), and the postings ⋈
    // term_stats join runs Exchange-free on the shared bucketing. At
    // 100 TB the per-query-batch cost tracks the batch's vocabulary, not
    // the corpus.
    "b2_bm25_store" -> ((s, dir) => {
      val (db, dbLoc) = Tables.storeAt("graft_bm25_", dir)
      val d = docs(s, dir)
      graft.engine.PhaseTimer.time("build") {
        Retrieval.buildPostingStore(s, d, "doc_id", "text", db, dbLoc,
          nBuckets = 8)
      }
      val q = Retrieval.queriesFromDocs(d, "doc_id", "text",
        col("doc_id") >= 8 && col("doc_id") < 13)
      Retrieval.bm25FromStore(s, db, q, k = 5)
    }),

    // CCNet-style head/middle/tail: per LANGUAGE, tertile the corpus by
    // unigram-LM score (t6's model, integer-pinned) — the published
    // curation split that keeps "head" (most-fluent) slices for training.
    // The per-lang rank is Split.rankBuckets — one composite-key
    // globalRowNumber pass + an O(#langs) broadcast, never a
    // one-task-per-language window.
    "t19_ppl_buckets" -> ((s, dir) => {
      val d = docs(s, dir)
      val toks = d.select(col("doc_id"),
        explode(TextOps.tokens(col("text"))).as("w")).persistTracked()
      val freq = toks.groupBy("w").agg(count(lit(1)).as("wn"))
      val total = toks.agg(count(lit(1)).as("_n"))
      val perDoc = toks.join(freq, "w")
        .crossJoin(broadcast(total))
        .withColumn("c_e9",
          floor(-log(col("wn").cast("double") / col("_n")) * lit(1e9))
            .cast("long"))
        .groupBy("doc_id")
        .agg(sum("c_e9").as("sum_e9"), count(lit(1)).as("n_tokens"))
        .withColumn("ppl_e9", expr("sum_e9 div n_tokens"))
      val withLang = perDoc.join(d.select("doc_id", "lang"), "doc_id")
      Split.rankBuckets(withLang, "lang", "ppl_e9", "doc_id", nBuckets = 3)
        .groupBy("lang", "bucket")
        .agg(count(lit(1)).as("n_docs"), sum("n_tokens").as("sum_tokens"),
          min("ppl_e9").as("min_ppl_e9"), max("ppl_e9").as("max_ppl_e9"))
    }),

    // INDEX-MAINTENANCE leg of the posting store (the d21 lifecycle
    // applied to lexical search): standing index built on docs ≥ 50, the
    // < 50 delta appended bucket-aligned, the GLOBAL derived tables (df,
    // corpus totals) appended as PER-BATCH PARTIALS the probe's read
    // views fold exactly (O(delta) maintenance, never an O(store)
    // re-aggregation per append). Gate: search over the appended store must
    // hash-equal the full-corpus oracle — b2's exact SQL — so a lost,
    // doubled, or mis-bucketed posting (or a stale df) flips the hash.
    "b5_store_append" -> ((s, dir) => {
      val (db, dbLoc) = Tables.storeAt("graft_bm25_b5_", dir)
      val d = docs(s, dir)
      graft.engine.PhaseTimer.time("build") {
        Retrieval.buildPostingStore(s, d.filter(col("doc_id") >= 50),
          "doc_id", "text", db, dbLoc, nBuckets = 8)
      }
      val ledger = Retrieval.appendLedger(dbLoc)
      graft.engine.PhaseTimer.time("append") {
        Retrieval.appendPostingStore(s, d.filter(col("doc_id") < 50),
          "doc_id", "text", db, nBuckets = 8, ledger, batchId = 1L)
        // REPLAY the same batch: the ledger must suppress it — a second
        // application would double the delta postings and flip the hash.
        Retrieval.appendPostingStore(s, d.filter(col("doc_id") < 50),
          "doc_id", "text", db, nBuckets = 8, ledger, batchId = 1L)
      }
      Retrieval.bm25FromStore(s, db,
        Retrieval.queriesFromDocs(d, "doc_id", "text",
          col("doc_id") >= 8 && col("doc_id") < 13), k = 5)
    }),

    // HYBRID RETRIEVAL with reciprocal-rank fusion (Cormack et al. 2009;
    // the modern lexical+dense standard): BM25 top-20 over the EMBEDDED
    // subset of the corpus fused with cosine top-20 over the embeddings
    // (doc_id = vec_id), rrf = Σ 1000000 div (60 + rank) — pure integer
    // rank fusion, no FP tie anywhere in the fused score. A doc found by
    // only one leg keeps that leg's contribution (full-outer fuse) — the
    // point of hybrid: lexical catches what the embedding misses and
    // vice versa.
    "b3_hybrid_rrf" -> ((s, dir) =>
      hybridFused(s, dir)._3
        .filter(col("rank") <= 10)
        .select("query_id", "rank", "doc_id", "rrf_e6", "lrank0", "drank0")),

    // RETRIEVAL-QUALITY EVAL (MRR@10 against a same-label qrel, the
    // b-family's counterpart of the v-family recall evals): per method —
    // lexical, dense, hybrid — the mean reciprocal rank of the first
    // SAME-LABEL neighbor in the top 10 (query excluded). Reciprocal
    // ranks gate as 1000000 div rank integers, the mean as an exact
    // integer division by the query count — no FP in the metric.
    "b4_retrieval_mrr" -> ((s, dir) => {
      val (lex, den, fused) = hybridFused(s, dir)
      val emb = t(s, dir, "embeddings")
      val labels = emb.select(col("vec_id").as("doc_id"), col("label"))
      val qlabels = emb.filter(col("vec_id") < 8)
        .select(col("vec_id").as("query_id"), col("label").as("qlabel"))
      // The MRR divisor is the ACTUAL query-batch size, not the nominal 8
      // — at a scale factor with fewer than 8 embedded vectors the metric
      // would otherwise be mislabeled as a mean (ADVICE r12). Bounded
      // count of an 8-row-max broadcast frame.
      val nQ = math.max(qlabels.count(), 1L)
      def mrrOf(ranks: DataFrame, rankCol: String, method: String): DataFrame =
        ranks.filter(col(rankCol) <= 10)
          .join(broadcast(qlabels), "query_id")
          .join(labels, "doc_id")
          .filter(col("label") === col("qlabel") &&
            col("doc_id") =!= col("query_id"))
          .groupBy("query_id")
          .agg(min(col(rankCol).cast("int")).as("first_rel"))
          .agg(count(lit(1)).as("n_hit"),
            sum(expr("1000000 div first_rel")).as("sum_rr_e6"))
          // A leg with zero hits contributes NO row (a global agg over
          // empty input still emits one all-null row; the oracle's
          // GROUP BY emits none — the engine must match the oracle).
          .filter(col("n_hit") > 0)
          .select(lit(method).as("method"), col("n_hit"),
            col("sum_rr_e6"), expr(s"sum_rr_e6 div $nQ").as("mrr_e6"))
      mrrOf(lex, "lrank", "lex")
        .unionByName(mrrOf(den, "drank", "dense"))
        .unionByName(mrrOf(fused, "rank", "hybrid"))
    }),

    // Fasttext-style LINEAR QUALITY GATE (the LLaMA/RedPajama "linear
    // classifier over hashed features" keep/drop stage): 64 hashed
    // unigram buckets, a broadcast 64-row weight table (deterministic LCG
    // stand-in for trained weights — the operator under test is the
    // scoring topology, not the model), exact-BIGINT dot product, keep on
    // logit > 0. No FP anywhere in the gate.
    "t21_classifier_gate" -> ((s, dir) =>
      TextOps.linearQualityGate(docs(s, dir), "doc_id", "text",
        nBuckets = 64, seed = 23L)),

    // CURRICULUM SHARDS (quality-staged pretraining order): 4 phases by
    // descending integer-pinned t2 quality (phase 0 = highest-quality
    // tranche, the anneal-down schedule), 16-doc shards cut in a
    // seeded-LCG shuffled order within each phase. Two globalRowNumber
    // passes + closed-form phase starts — every id is integer arithmetic
    // on parallel stages; the gate hashes the full (phase, shard) rollup.
    "o19_curriculum" -> ((s, dir) => {
      val ws = TextOps.tokens(col("text"))
      val scored = docs(s, dir).select(col("doc_id"), col("n_chars"),
        floor(TextOps.qualityScore(ws) * lit(1e6)).cast("long").as("q_e6"))
      Split.curriculumShards(scored, "q_e6", "doc_id",
          nPhases = 4, shardSize = 16, seed = 11L)
        .groupBy("phase", "shard")
        .agg(count(lit(1)).as("n_docs"), sum("n_chars").as("sum_chars"),
          min("q_e6").as("min_q"), max("q_e6").as("max_q"))
    }),

    // WINNOWING fingerprints (Schleimer et al. 2003, window w=4 over the
    // word-3-gram hash sequence): the sparse-but-sound local fingerprint
    // set — any shared ≥6-token run between two docs shares a fingerprint
    // at ~2/(w+1) the density of full shingling. One native
    // `graft_winnow_stats` kernel call per row (monotonic-deque sliding
    // min, O(len), whole-stage codegen — no explode, no shuffle, no
    // interpreted lambda); the gate hashes the set cardinality, its XOR
    // (an exact order-independent set digest), and the e6-integer density.
    // Bigram-LM cross-entropy — the LM-score leg CCNet's ppl tertiles
    // (t19) gate on, as a corpus-trained add-one bigram model: per doc
    // the mean −ln p(w2|w1), e9-pinned per DISTINCT bigram then exact
    // integer sums (the t15 discipline — no double accumulation), model
    // built from the same tf frame the scoring join consumes.
    "t23_bigram_xent" -> ((s, dir) =>
      TextOps.bigramXent(docs(s, dir), "doc_id", "text")),

    "t20_winnowing" -> ((s, dir) =>
      docs(s, dir)
        .select(col("doc_id"),
          graft.functions.WinnowExpr.statsColumn(lower(col("text")),
            graft.ops.Dedup.ShingleN, 4).as("st"))
        .filter(col("st.n_shingles") >= 4)
        .select(col("doc_id"),
          col("st.n_shingles").as("n_shingles"),
          col("st.n_fp").as("n_fp"),
          col("st.xor_fp").as("xor_fp"),
          expr("(CAST(st.n_fp AS BIGINT) * 1000000) div st.n_shingles")
            .as("density_e6"))),

    // STORE COMPACTION (the append-then-compact lifecycle Bucketing's
    // append documents): base build + TWO appended deltas leave every
    // bucket holding three files; compaction rewrites postings/doc_stats
    // back to one sorted file per bucket (single read+write per table,
    // catalog-renamed into place). Gates: the in-query require proves the
    // file count collapsed to ≤ nBuckets per table, and the post-compact
    // search must STILL hash-equal b2's full-corpus oracle — a row lost,
    // doubled, or mis-bucketed by the rewrite flips the hash.
    "b7_store_compaction" -> ((s, dir) => {
      val (db, dbLoc) = Tables.storeAt("graft_bm25_b7_", dir)
      val d = docs(s, dir)
      graft.engine.PhaseTimer.time("build") {
        Retrieval.buildPostingStore(s, d.filter(col("doc_id") >= 50),
          "doc_id", "text", db, dbLoc, nBuckets = 8)
      }
      val ledger = Retrieval.appendLedger(dbLoc)
      graft.engine.PhaseTimer.time("append") {
        Retrieval.appendPostingStore(s, d.filter(col("doc_id") < 25),
          "doc_id", "text", db, nBuckets = 8, ledger, batchId = 1L)
        Retrieval.appendPostingStore(s,
          d.filter(col("doc_id") >= 25 && col("doc_id") < 50),
          "doc_id", "text", db, nBuckets = 8, ledger, batchId = 2L)
      }
      graft.engine.PhaseTimer.time("compact") {
        Retrieval.compactPostingStore(s, db, nBuckets = 8)
      }
      for (tbl <- Seq("postings", "doc_stats")) {
        val n = graft.ops.Bucketing.dataFileCount(
          new java.io.File(dbLoc, tbl))
        require(n <= 8, s"compaction left $n files in $tbl (want <= 8)")
      }
      Retrieval.bm25FromStore(s, db,
        Retrieval.queriesFromDocs(d, "doc_id", "text",
          col("doc_id") >= 8 && col("doc_id") < 13), k = 5)
    }),

    // STORE DELETE (right-to-be-forgotten): full-corpus store, then docs
    // 20–29 are deleted — postings/doc_stats rewritten by anti-join
    // (bucket-aligned, delete set broadcast) and the GLOBAL stats (df,
    // n_docs, avgdl) rebuilt, because a store serving pre-delete stats
    // would leak the deleted documents' statistics into every score. The
    // oracle is the same search over the corpus WITH the docs removed —
    // any residue of the deleted docs (a posting, a norm row, a stale
    // df) flips scores and the hash.
    "b8_store_delete" -> ((s, dir) => {
      val (db, dbLoc) = Tables.storeAt("graft_bm25_b8_", dir)
      val d = docs(s, dir)
      graft.engine.PhaseTimer.time("build") {
        Retrieval.buildPostingStore(s, d, "doc_id", "text", db, dbLoc,
          nBuckets = 8)
      }
      graft.engine.PhaseTimer.time("delete") {
        Retrieval.deleteFromPostingStore(s, db, nBuckets = 8,
          d.filter(col("doc_id") >= 20 && col("doc_id") < 30)
            .select("doc_id"))
      }
      Retrieval.bm25FromStore(s, db,
        Retrieval.queriesFromDocs(d, "doc_id", "text",
          col("doc_id") >= 8 && col("doc_id") < 13), k = 5)
    }),

    // EXACT PHRASE SEARCH over positional postings — the capability a
    // bag-of-words index cannot express (term ORDER matters): each query
    // doc's first 3 tokens form its phrase; matching docs must contain
    // them consecutively. k keyed probes of the positional postings, the
    // query batch broadcast (the b1 discipline), position adjacency via
    // a codegen'd shifted-array intersection — every output an integer.
    "b9_phrase_search" -> ((s, dir) => {
      val d = docs(s, dir)
      val phrases = d.filter(col("doc_id") < 8)
        .select(col("doc_id").as("query_id"),
          slice(TextOps.tokens(col("text")), 1, 3).as("terms"))
      Retrieval.phraseSearch(d, "doc_id", "text", phrases, k = 3)
    }),

    // PSEUDO-RELEVANCE-FEEDBACK retrieval (RM3, tf-weighted): pass 1 =
    // b1's query batch; each query's top-3 docs donate their 5 strongest
    // NEW terms (summed tf, integer); pass 2 re-scores the expanded
    // queries. Both passes share one persisted postings index; the gate
    // hashes the post-expansion top-5 — a wrong expansion term set
    // shifts scores and flips the hash.
    "b6_rm3_expansion" -> ((s, dir) => {
      val d = docs(s, dir)
      val q = Retrieval.queriesFromDocs(d, "doc_id", "text",
        col("doc_id") < 8)
      Retrieval.rm3TopK(d, "doc_id", "text", q,
        fbDocs = 3, fbTerms = 5, k = 5)
    }),

    // DATA-CONSTRAINED epoch allocation (Muennighoff et al. 2023): a 3×
    // token budget over the per-LANGUAGE uniform mixture with a 4-epoch
    // repetition cap — the skewed lang distribution makes `en` subsample
    // (epochs < 1) while the tail languages repeat to the cap and report
    // unmet remainders. All integer; the only corpus shuffle is the
    // per-lang token rollup.
    "o20_epoch_mix" -> ((s, dir) =>
      Split.epochMix(
        docs(s, dir).select(col("lang"),
          size(TextOps.tokens(col("text"))).cast("long").as("n_tokens")),
        "lang", "n_tokens", budgetNum = 3, budgetDen = 1, capEpochs = 4)),

    // QUANTILE NORMALIZATION of quality across sources — the
    // cross-source gating fix: every source's q_e6 distribution sits at
    // its own level (template register, length mix), so one global
    // threshold over-keeps some sources and starves others; the
    // percentile rank WITHIN the source is the comparable scale.
    // pct_e6 = (rank−1)·10⁶ div (n−1): exact integers, window
    // partitioned per source (parallel across sources, no global sort).
    "t26_pct_rank" -> ((s, dir) => {
      val ws = TextOps.tokens(col("text"))
      val scored = docs(s, dir).select(col("doc_id"), col("source"),
        floor(TextOps.qualityScore(ws) * lit(1e6)).cast("long").as("q_e6"))
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy("source").orderBy(col("q_e6"), col("doc_id"))
      val n = org.apache.spark.sql.expressions.Window.partitionBy("source")
      scored.withColumn("rk", row_number().over(w).cast("long"))
        .withColumn("n_src", count(lit(1)).over(n))
        .select(col("doc_id"), col("source"), col("q_e6"),
          when(col("n_src") > 1,
            expr("((rk - 1) * 1000000) div (n_src - 1)")).otherwise(lit(0L))
            .as("pct_e6"))
    }),

    // MIXTURE-OBJECTIVE SEARCH (DoReMi-lite): which sampling temperature
    // spends the token budget on the lowest-loss blend? For τ ∈ {¼, ½,
    // ¾, 1}, weight each domain ∝ n_tokens^τ (normalized by the max so
    // weights fit e6 BIGINTs) and score J(τ) = Σ w·loss ÷ Σ w against
    // the unigram-LM surprisal per domain (the t19 loss, already
    // e9-pinned). τ-powers are sqrt-COMPOSED (IEEE sqrt/mul/div are
    // exactly specified, unlike pow), so both engines compute the same
    // doubles; everything after the one e6 rounding is exact integers.
    "o25_mixture_search" -> ((s, dir) => {
      val toks = docs(s, dir).select(col("source"),
        explode(TextOps.tokens(col("text"))).as("w")).persistTracked()
      val freq = toks.groupBy("w").agg(count(lit(1)).as("wn"))
      val total = toks.agg(count(lit(1)).as("_n"))
      val perSrc = toks.join(freq, "w")
        .crossJoin(broadcast(total))
        .withColumn("c_e9",
          floor(-log(col("wn").cast("double") / col("_n")) * lit(1e9))
            .cast("long"))
        .groupBy("source")
        .agg(count(lit(1)).as("n_tok"),
          expr("sum(c_e9) div count(1)").as("loss_e9"))
        .localCheckpoint() // #domains rows; feeds the max attach + 4 τ legs
      val maxN = perSrc.agg(max("n_tok").as("_maxn"))
      val legs = perSrc.crossJoin(broadcast(maxN))
        .withColumn("r", col("n_tok").cast("double") / col("_maxn").cast("double"))
        .select(col("loss_e9"), explode(array(
          struct(lit(25).as("tau_pct"), expr("sqrt(sqrt(r))").as("wrel")),
          struct(lit(50).as("tau_pct"), expr("sqrt(r)").as("wrel")),
          struct(lit(75).as("tau_pct"),
            expr("sqrt(r) * sqrt(sqrt(r))").as("wrel")),
          struct(lit(100).as("tau_pct"), col("r").as("wrel")))).as("t"))
        .select(col("loss_e9"), col("t.tau_pct").as("tau_pct"),
          expr("CAST(round(t.wrel * 1e6, 0) AS BIGINT)").as("w_e6"))
      val j = legs.groupBy("tau_pct")
        .agg(count(lit(1)).as("n_domains"),
          expr("sum(w_e6 * loss_e9) div sum(w_e6)").as("j_e9"))
      val best = j.agg(min("j_e9").as("_minj"))
      j.crossJoin(broadcast(best))
        .select(col("tau_pct"), col("n_domains"), col("j_e9"),
          (col("j_e9") === col("_minj")).as("best"))
    }),

    // QUALITY-SIGNAL AGREEMENT: pairwise Pearson correlation between the
    // four independent per-doc quality signals the stack gates on — t2's
    // heuristic q_e6, t21's linear-classifier logit, t19's unigram-LM
    // mean surprisal, and raw token length. Moment sums are EXACT
    // DECIMAL(38,0) (order-independent — no t15 reassociation hazard);
    // the one FP step is the final closed form on doubles converted from
    // identical exact integers in both engines. One persistTracked token
    // explode feeds all three derived signals.
    "t22_signal_agreement" -> ((s, dir) => {
      val d = docs(s, dir)
      val ws = TextOps.tokens(col("text"))
      val base = d.select(col("doc_id"),
        size(ws).cast("long").as("n_tokens"),
        floor(TextOps.qualityScore(ws) * lit(1e6)).cast("long").as("q_e6"))
      val logit = TextOps.linearQualityGate(d, "doc_id", "text",
          nBuckets = 64, seed = 23L)
        .select(col("doc_id"), col("logit"))
      val toks = d.select(col("doc_id"),
        explode(TextOps.tokens(col("text"))).as("w")).persistTracked()
      val freq = toks.groupBy("w").agg(count(lit(1)).as("wn"))
      val total = toks.agg(count(lit(1)).as("_n"))
      val surp = toks.join(freq, "w")
        .crossJoin(broadcast(total))
        .withColumn("c_e9",
          floor(-log(col("wn").cast("double") / col("_n")) * lit(1e9))
            .cast("long"))
        .groupBy("doc_id")
        .agg(expr("sum(c_e9) div count(1)").as("surp_e9"))
      Stats.corrPairsExact(base.join(logit, "doc_id").join(surp, "doc_id"),
        Seq("q_e6", "logit", "surp_e9", "n_tokens"))
    }))

  /** Shared b3/b4 construction: (lexical top-20 ranks, dense top-20
    * ranks, RRF-fused ranked frame) over the embedded corpus subset.
    */
  private def hybridFused(s: SparkSession, dir: String)
      : (DataFrame, DataFrame, DataFrame) = {
    val emb = t(s, dir, "embeddings")
    val corpus = docs(s, dir).join(
      emb.select(col("vec_id").as("doc_id")), Seq("doc_id"), "left_semi")
    val q = Retrieval.queriesFromDocs(corpus, "doc_id", "text",
      col("doc_id") < 8)
    // Both legs feed the fuse AND (in b4) their own MRR rollups — the
    // persists keep the 20×N dense cross join and the BM25 chain at one
    // computation each.
    val lex = Retrieval.bm25TopK(corpus, "doc_id", "text", q, k = 20)
      .select(col("query_id"), col("doc_id"), col("rank").as("lrank"))
      .persistTracked()
    val den = graft.ops.Similarity.bruteForceTopK(
        emb.filter(col("vec_id") < 8), emb, k = 20)
      .select(col("q_id").as("query_id"), col("c_id").as("doc_id"),
        col("rk").as("drank"))
      .persistTracked()
    val fused = lex.join(den, Seq("query_id", "doc_id"), "full_outer")
      .withColumn("rrf_e6",
        coalesce(expr("1000000 div (60 + lrank)"), lit(0L))
          + coalesce(expr("1000000 div (60 + drank)"), lit(0L)))
      .withColumn("lrank0", coalesce(col("lrank"), lit(0)))
      .withColumn("drank0", coalesce(col("drank"), lit(0)))
    import org.apache.spark.sql.expressions.Window
    (lex, den, fused.withColumn("rank", row_number().over(
      Window.partitionBy("query_id")
        .orderBy(col("rrf_e6").desc, col("doc_id")))))
  }

  // ---- oracle ------------------------------------------------------------

  /** Shared b3/b4 oracle chain: lexical top-20 (`lex`), dense top-20
    * (`den`), RRF-fused ranked frame (`r`) — mirrors [[hybridFused]].
    */
  private lazy val hybridCtes: String =
    s"""${bm25Ctes("doc_id < 8",
         "(SELECT d.* FROM documents d WHERE d.doc_id IN (SELECT vec_id FROM embeddings))")},
       |lex AS (SELECT query_id, doc_id, CAST(rank AS INT) AS lrank
       |  FROM ranked WHERE rank <= 20),
       |v AS (SELECT vec_id,
       |    list_transform(embedding, x -> CAST(x AS DOUBLE)) AS dv
       |  FROM embeddings),
       |q AS (SELECT vec_id AS q_id, dv AS qv FROM v WHERE vec_id < 8),
       |dscored AS (SELECT q_id, vec_id AS c_id,
       |    round(list_dot_product(qv, cv) /
       |      (sqrt(list_dot_product(qv, qv)) * sqrt(list_dot_product(cv, cv))), 6) AS cos
       |  FROM q CROSS JOIN (SELECT vec_id, dv AS cv FROM v) c
       |  WHERE c.vec_id <> q.q_id),
       |den AS (SELECT q_id AS query_id, c_id AS doc_id, CAST(rk AS INT) AS drank
       |  FROM (SELECT q_id, c_id, row_number() OVER
       |      (PARTITION BY q_id ORDER BY cos DESC, c_id) AS rk FROM dscored)
       |  WHERE rk <= 20),
       |fused AS (SELECT
       |    coalesce(l.query_id, dn.query_id) AS query_id,
       |    coalesce(l.doc_id, dn.doc_id) AS doc_id,
       |    CAST(coalesce(1000000 // (60 + l.lrank), 0)
       |      + coalesce(1000000 // (60 + dn.drank), 0) AS BIGINT) AS rrf_e6,
       |    coalesce(l.lrank, 0) AS lrank0, coalesce(dn.drank, 0) AS drank0
       |  FROM lex l FULL OUTER JOIN den dn
       |    ON l.query_id = dn.query_id AND l.doc_id = dn.doc_id),
       |r AS (SELECT *, row_number() OVER
       |    (PARTITION BY query_id ORDER BY rrf_e6 DESC, doc_id) AS rank
       |  FROM fused)""".stripMargin

  /** Shared BM25 CTE chain; `qpred` selects the query docs. The float
    * contribution mirrors [[Retrieval.contribE9]] SHAPE-exACTLY — same
    * parenthesization, same cast points, constants folded by the engine
    * itself (`(1.2 + 1)` mirrors `lit(k1 + 1)`: both engines run the same
    * IEEE add, so the folded double is identical even where the decimal
    * literal `2.2` would not be).
    */
  private def bm25Sql(qpred: String, src: String = "documents"): String =
    s"""WITH ${bm25Ctes(qpred, src)}
       |SELECT query_id, CAST(rank AS INT) AS rank, doc_id, score_e9, n_terms_hit
       |FROM ranked WHERE rank <= 5""".stripMargin

  /** The chain up to `ranked(query_id, doc_id, score_e9, n_terms_hit,
    * rank)`; `src` is the corpus relation (b3 restricts it to the
    * embedded subset). Split into index-side CTEs ([[bm25BaseCtes]]) and
    * a reusable scoring pass ([[bm25ScoreCtes]]) so b6's two-pass RM3
    * oracle runs both passes against ONE index chain, exactly like the
    * engine.
    */
  private def bm25Ctes(qpred: String, src: String): String =
    s"""${bm25BaseCtes(src)},
       |qt AS (SELECT DISTINCT doc_id AS query_id, term FROM tl WHERE $qpred),
       |${bm25ScoreCtes("qt", "")}""".stripMargin

  /** Index-side CTEs: toks/tl/post/stats/dfreq over `src`. */
  private def bm25BaseCtes(src: String): String =
    s"""toks AS (SELECT doc_id, string_split_regex(lower(text), '\\s+') AS ws
       |  FROM $src),
       |tl AS (SELECT doc_id, CAST(len(ws) AS BIGINT) AS dl, unnest(ws) AS term
       |  FROM toks),
       |post AS (SELECT doc_id, term, dl, count(*) AS tf FROM tl GROUP BY 1, 2, 3),
       |stats AS (SELECT count(*) AS n_docs, CAST(sum(dl) AS BIGINT) AS total_tokens
       |  FROM (SELECT doc_id, max(dl) AS dl FROM post GROUP BY 1)),
       |dfreq AS (SELECT term, count(*) AS df FROM post GROUP BY 1)""".stripMargin

  /** One scoring pass against the [[bm25BaseCtes]] index: hits$sfx /
    * scored$sfx / ranked$sfx from the (query_id, term) CTE named `qt`.
    */
  private def bm25ScoreCtes(qt: String, sfx: String): String =
    s"""hits$sfx AS (SELECT $qt.query_id, p.doc_id,
       |    CAST(floor(
       |      ln(1.0 + (CAST(n_docs AS DOUBLE) - CAST(df AS DOUBLE) + 0.5)
       |          / (CAST(df AS DOUBLE) + 0.5))
       |      * ((CAST(tf AS DOUBLE) * (1.2 + 1))
       |          / (CAST(tf AS DOUBLE) + 1.2 * ((1 - 0.75) + 0.75
       |              * (CAST(dl AS DOUBLE)
       |                  / (CAST(total_tokens AS DOUBLE) / CAST(n_docs AS DOUBLE))))))
       |      * 1e9) AS BIGINT) AS c_e9
       |  FROM post p JOIN $qt USING (term) JOIN dfreq USING (term)
       |  CROSS JOIN stats),
       |scored$sfx AS (SELECT query_id, doc_id,
       |    CAST(sum(c_e9) AS BIGINT) AS score_e9, count(*) AS n_terms_hit
       |  FROM hits$sfx GROUP BY 1, 2),
       |ranked$sfx AS (SELECT *, row_number() OVER
       |    (PARTITION BY query_id ORDER BY score_e9 DESC, doc_id) AS rank
       |  FROM scored$sfx)""".stripMargin

  /** t22's moment CTE + per-pair closed forms, generated from one signal
    * list so the pair order and naming can never drift from the Scala
    * side. Sums and products accumulate as HUGEINT (exact, like the
    * engine's DECIMAL(38,0)); the closed form casts the identical exact
    * integers to DOUBLE on both sides.
    */
  private val t22Sigs = Seq("q" -> "q_e6", "l" -> "logit",
    "s" -> "surp_e9", "n" -> "n_tokens")

  private lazy val t22MomSql: String = {
    val sums = t22Sigs.map { case (k, c) => s"sum(CAST($c AS HUGEINT)) AS s_$k" }
    val prods = for { i <- t22Sigs.indices; j <- i until t22Sigs.size } yield {
      val (ka, ca) = t22Sigs(i); val (kb, cb) = t22Sigs(j)
      s"sum(CAST($ca AS HUGEINT) * CAST($cb AS HUGEINT)) AS p_$ka$kb"
    }
    s"""mom AS (SELECT CAST(count(*) AS HUGEINT) AS cnt,
       |    ${(sums ++ prods).mkString(",\n    ")}
       |  FROM sig)""".stripMargin
  }

  private lazy val t22CorrSelects: String =
    (for { i <- t22Sigs.indices; j <- (i + 1) until t22Sigs.size } yield {
      val (ka, na) = t22Sigs(i); val (kb, nb) = t22Sigs(j)
      s"""SELECT '$na' AS sig_x, '$nb' AS sig_y, CAST(cnt AS BIGINT) AS n,
         |  CASE WHEN cnt * p_$ka$ka - s_$ka * s_$ka > 0
         |        AND cnt * p_$kb$kb - s_$kb * s_$kb > 0 THEN
         |    CAST(floor(CAST(cnt * p_$ka$kb - s_$ka * s_$kb AS DOUBLE)
         |      / sqrt(CAST(cnt * p_$ka$ka - s_$ka * s_$ka AS DOUBLE)
         |           * CAST(cnt * p_$kb$kb - s_$kb * s_$kb AS DOUBLE))
         |      * 1e6) AS BIGINT)
         |  END AS corr_e6 FROM mom""".stripMargin
    }).mkString("\nUNION ALL\n")

  val oracle: Map[String, String] = Map(
    "b6_rm3_expansion" ->
      s"""WITH ${bm25BaseCtes("documents")},
         |qt0 AS (SELECT DISTINCT doc_id AS query_id, term FROM tl
         |  WHERE doc_id < 8),
         |${bm25ScoreCtes("qt0", "0")},
         |fb AS (SELECT query_id, doc_id FROM ranked0 WHERE rank <= 3),
         |cand AS (SELECT f.query_id, p.term, CAST(sum(p.tf) AS BIGINT) AS fb_tf
         |  FROM fb f JOIN post p USING (doc_id)
         |  WHERE NOT EXISTS (SELECT 1 FROM qt0 q
         |    WHERE q.query_id = f.query_id AND q.term = p.term)
         |  GROUP BY 1, 2),
         |exp AS (SELECT query_id, term FROM (SELECT *, row_number() OVER
         |    (PARTITION BY query_id ORDER BY fb_tf DESC, term) AS rk FROM cand)
         |  WHERE rk <= 5),
         |qt AS (SELECT query_id, term FROM qt0
         |  UNION ALL SELECT query_id, term FROM exp),
         |${bm25ScoreCtes("qt", "")}
         |SELECT query_id, CAST(rank AS INT) AS rank, doc_id, score_e9, n_terms_hit
         |FROM ranked WHERE rank <= 5""".stripMargin,
    "o20_epoch_mix" ->
      s"""WITH toks AS (SELECT lang,
         |    CAST(len(string_split_regex(lower(text), '\\s+')) AS BIGINT)
         |      AS n_tokens
         |  FROM documents),
         |caps AS (SELECT lang, CAST(sum(n_tokens) AS BIGINT) AS n_tok
         |  FROM toks GROUP BY lang),
         |tot AS (SELECT CAST(sum(n_tok) AS BIGINT) AS ttot, count(*) AS nd
         |  FROM caps),
         |r AS (SELECT lang, n_tok, (ttot * 3) // 1 AS K, nd,
         |    row_number() OVER (ORDER BY lang) AS rk
         |  FROM caps CROSS JOIN tot),
         |d AS (SELECT lang, n_tok,
         |    CAST(K // nd + CASE WHEN rk <= K % nd THEN 1 ELSE 0 END AS BIGINT)
         |      AS desired_tok
         |  FROM r)
         |SELECT lang, n_tok, desired_tok,
         |  CAST(least(desired_tok, 4 * n_tok) AS BIGINT) AS emitted_tok,
         |  CAST((least(desired_tok, 4 * n_tok) * 1000000) // n_tok AS BIGINT)
         |    AS epochs_e6,
         |  CAST(desired_tok - least(desired_tok, 4 * n_tok) AS BIGINT)
         |    AS unmet_tok
         |FROM d""".stripMargin,
    "t22_signal_agreement" ->
      s"""WITH toks AS (SELECT doc_id, string_split_regex(lower(text), '\\s+') AS ws
         |  FROM documents),
         |tok2 AS (SELECT doc_id, unnest(ws) AS w FROM toks),
         |m AS (SELECT doc_id,
         |    CAST(len(list_filter(ws, w -> list_contains(${
               TextOps.Stopwords.map(w => s"'$w'").mkString("[", ", ", "]")
             }, w))) AS DOUBLE) / len(ws) AS stop_ratio,
         |    CAST(list_sum(list_transform(ws, w -> len(w))) AS DOUBLE)
         |      / len(ws) AS awl,
         |    len(ws) AS n
         |  FROM toks),
         |base AS (SELECT doc_id, CAST(n AS BIGINT) AS n_tokens,
         |    CAST(floor((0.5 * stop_ratio
         |      + 0.3 * least(1.0, CAST(n AS DOUBLE) / 100.0)
         |      + 0.2 * (awl / 10.0)) * 1e6) AS BIGINT) AS q_e6
         |  FROM m),
         |tf AS (SELECT doc_id,
         |    ${graft.functions.Hashing.polyHashSql("w")} % 64 AS bucket,
         |    count(*) AS tf
         |  FROM tok2 GROUP BY 1, 2),
         |wts AS (SELECT CAST(range AS INT) AS bucket,
         |    ${graft.functions.Hashing.lcgSql("range", 23L,
               graft.functions.Hashing.LcgM)} % 2001 - 1000 AS wgt
         |  FROM range(64)),
         |lg AS (SELECT doc_id, CAST(sum(tf * wgt) AS BIGINT) AS logit
         |  FROM tf JOIN wts USING (bucket) GROUP BY doc_id),
         |freq AS (SELECT w, count(*) AS wn FROM tok2 GROUP BY w),
         |tot AS (SELECT count(*) AS n FROM tok2),
         |surp AS (SELECT doc_id,
         |    CAST(sum(CAST(floor(-ln(CAST(wn AS DOUBLE) / n) * 1e9) AS BIGINT))
         |      // count(*) AS BIGINT) AS surp_e9
         |  FROM tok2 JOIN freq USING (w) CROSS JOIN tot GROUP BY doc_id),
         |sig AS (SELECT q_e6, logit, surp_e9, n_tokens
         |  FROM base JOIN lg USING (doc_id) JOIN surp USING (doc_id)),
         |$t22MomSql
         |$t22CorrSelects""".stripMargin,
    "b1_bm25_topk" -> bm25Sql("doc_id < 8"),
    // b10: the weighted-field index CTEs (parallel unnests zip term with
    // its 1-based position; engine pos is 0-based, so `<= 8` ⇔ `< 8`),
    // then the SHARED scoring pass — only the index frames are fielded.
    "b10_bm25f" ->
      s"""WITH toks AS (SELECT doc_id, string_split_regex(lower(text), '\\s+') AS ws
         |  FROM documents),
         |tokp AS (SELECT doc_id, unnest(ws) AS term,
         |    unnest(range(1, len(ws) + 1)) AS pos FROM toks),
         |dlw AS (SELECT doc_id,
         |    CAST(least(len(ws), 8) * 3 + greatest(len(ws) - 8, 0) AS BIGINT)
         |      AS dl
         |  FROM toks),
         |post AS (SELECT t.doc_id, t.term, d.dl,
         |    CAST(sum(CASE WHEN t.pos <= 8 THEN 3 ELSE 1 END) AS BIGINT) AS tf
         |  FROM tokp t JOIN dlw d USING (doc_id) GROUP BY 1, 2, 3),
         |stats AS (SELECT count(*) AS n_docs,
         |    CAST(sum(dl) AS BIGINT) AS total_tokens FROM dlw),
         |dfreq AS (SELECT term, count(*) AS df FROM post GROUP BY 1),
         |qt AS (SELECT DISTINCT doc_id AS query_id, term FROM tokp
         |       WHERE doc_id < 8),
         |${bm25ScoreCtes("qt", "")}
         |SELECT query_id, CAST(rank AS INT) AS rank, doc_id, score_e9,
         |  n_terms_hit
         |FROM ranked WHERE rank <= 5""".stripMargin,
    "b2_bm25_store" -> bm25Sql("doc_id >= 8 AND doc_id < 13"),
    // The append gate: the post-append store must equal the full-corpus
    // build — b2's oracle verbatim (the d21/e11 shared-oracle pattern).
    "b5_store_append" -> bm25Sql("doc_id >= 8 AND doc_id < 13"),
    // Compaction changes layout, never content: b2's oracle verbatim.
    "b7_store_compaction" -> bm25Sql("doc_id >= 8 AND doc_id < 13"),
    // Delete: the same search over the corpus minus the deleted docs —
    // global stats (df, n_docs, avgdl) recompute from the survivors.
    "b8_store_delete" -> bm25Sql("doc_id >= 8 AND doc_id < 13",
      "(SELECT * FROM documents WHERE doc_id < 20 OR doc_id >= 30)"),
    // b9: brute-force phrase scan — every (query, doc) pair checked by a
    // positional lambda over the token array; the engine's join ladder
    // must reproduce it exactly.
    "b9_phrase_search" ->
      s"""WITH toks AS (SELECT doc_id, string_split_regex(lower(text), '\\s+') AS ws
         |  FROM documents),
         |q AS (SELECT doc_id AS query_id, ws[1] AS t1, ws[2] AS t2, ws[3] AS t3
         |  FROM toks WHERE doc_id < 8),
         |m AS (SELECT q.query_id, t.doc_id,
         |    len(list_filter(range(1, len(t.ws) - 1), i ->
         |      t.ws[i] = q.t1 AND t.ws[i + 1] = q.t2 AND t.ws[i + 2] = q.t3))
         |      AS occ
         |  FROM q CROSS JOIN toks t)
         |SELECT query_id,
         |  count(CASE WHEN occ > 0 THEN 1 END) AS n_docs,
         |  CAST(sum(CASE WHEN occ > 0 THEN doc_id ELSE 0 END) AS BIGINT)
         |    AS sum_ids,
         |  CAST(sum(occ) AS BIGINT) AS n_occ,
         |  min(CASE WHEN occ > 0 THEN doc_id END) AS min_doc
         |FROM m GROUP BY query_id""".stripMargin,
    "b3_hybrid_rrf" ->
      s"""WITH $hybridCtes
         |SELECT query_id, CAST(rank AS INT) AS rank, doc_id, rrf_e6, lrank0, drank0
         |FROM r WHERE rank <= 10""".stripMargin,
    "b4_retrieval_mrr" ->
      s"""WITH $hybridCtes,
         |lab AS (SELECT vec_id AS doc_id, label FROM embeddings),
         |qlab AS (SELECT vec_id AS query_id, label AS qlabel
         |  FROM embeddings WHERE vec_id < 8),
         |firsts AS (
         |  SELECT 'lex' AS method, query_id, min(lrank) AS first_rel
         |    FROM lex JOIN lab USING (doc_id) JOIN qlab USING (query_id)
         |    WHERE lrank <= 10 AND label = qlabel AND doc_id <> query_id
         |    GROUP BY query_id
         |  UNION ALL
         |  SELECT 'dense', query_id, min(drank)
         |    FROM den JOIN lab USING (doc_id) JOIN qlab USING (query_id)
         |    WHERE drank <= 10 AND label = qlabel AND doc_id <> query_id
         |    GROUP BY query_id
         |  UNION ALL
         |  SELECT 'hybrid', query_id, CAST(min(rank) AS INT)
         |    FROM r JOIN lab USING (doc_id) JOIN qlab USING (query_id)
         |    WHERE rank <= 10 AND label = qlabel AND doc_id <> query_id
         |    GROUP BY query_id)
         |, nq AS (SELECT greatest(count(*), 1) AS n_q FROM qlab)
         |SELECT method, count(*) AS n_hit,
         |  CAST(sum(1000000 // first_rel) AS BIGINT) AS sum_rr_e6,
         |  CAST(sum(1000000 // first_rel) // max(n_q) AS BIGINT) AS mrr_e6
         |FROM firsts CROSS JOIN nq GROUP BY method""".stripMargin,
    "t19_ppl_buckets" ->
      s"""WITH toks AS (SELECT doc_id, string_split_regex(lower(text), '\\s+') AS ws
         |  FROM documents),
         |toks2 AS (SELECT doc_id, unnest(ws) AS w FROM toks),
         |freq AS (SELECT w, count(*) AS wn FROM toks2 GROUP BY w),
         |tot AS (SELECT count(*) AS n FROM toks2),
         |perdoc AS (SELECT doc_id,
         |    CAST(sum(CAST(floor(-ln(CAST(wn AS DOUBLE) / n) * 1e9) AS BIGINT))
         |      AS BIGINT) AS sum_e9,
         |    count(*) AS n_tokens
         |  FROM toks2 JOIN freq USING (w) CROSS JOIN tot GROUP BY doc_id),
         |pl AS (SELECT p.doc_id, CAST(sum_e9 // n_tokens AS BIGINT) AS ppl_e9,
         |    n_tokens, lang
         |  FROM perdoc p JOIN documents d ON p.doc_id = d.doc_id),
         |r AS (SELECT *, row_number() OVER
         |      (PARTITION BY lang ORDER BY ppl_e9, doc_id) AS grank,
         |    count(*) OVER (PARTITION BY lang) AS gcnt
         |  FROM pl),
         |b AS (SELECT *, CAST((grank - 1) * 3 // gcnt AS INT) AS bucket FROM r)
         |SELECT lang, bucket, count(*) AS n_docs,
         |  CAST(sum(n_tokens) AS BIGINT) AS sum_tokens,
         |  min(ppl_e9) AS min_ppl_e9, max(ppl_e9) AS max_ppl_e9
         |FROM b GROUP BY 1, 2""".stripMargin,
    "t21_classifier_gate" ->
      s"""WITH toks AS (SELECT doc_id,
         |    unnest(string_split_regex(lower(text), '\\s+')) AS w
         |  FROM documents),
         |tf AS (SELECT doc_id,
         |    ${graft.functions.Hashing.polyHashSql("w")} % 64 AS bucket,
         |    count(*) AS tf
         |  FROM toks GROUP BY 1, 2),
         |wts AS (SELECT CAST(range AS INT) AS bucket,
         |    ${graft.functions.Hashing.lcgSql("range", 23L,
               graft.functions.Hashing.LcgM)} % 2001 - 1000 AS wgt
         |  FROM range(64))
         |SELECT doc_id, CAST(sum(tf) AS BIGINT) AS n_tokens,
         |  CAST(sum(tf * wgt) AS BIGINT) AS logit,
         |  sum(tf * wgt) > 0 AS kept
         |FROM tf JOIN wts USING (bucket)
         |GROUP BY doc_id""".stripMargin,
    "o19_curriculum" ->
      s"""WITH toks AS (SELECT doc_id, string_split_regex(lower(text), '\\s+') AS ws
         |  FROM documents),
         |m AS (SELECT doc_id,
         |    CAST(len(list_filter(ws, w -> list_contains(${
               TextOps.Stopwords.map(w => s"'$w'").mkString("[", ", ", "]")
             }, w))) AS DOUBLE) / len(ws) AS stop_ratio,
         |    CAST(list_sum(list_transform(ws, w -> len(w))) AS DOUBLE)
         |      / len(ws) AS awl,
         |    len(ws) AS n
         |  FROM toks),
         |q AS (SELECT d.doc_id, d.n_chars,
         |    CAST(floor((0.5 * stop_ratio
         |      + 0.3 * least(1.0, CAST(n AS DOUBLE) / 100.0)
         |      + 0.2 * (awl / 10.0)) * 1e6) AS BIGINT) AS q_e6
         |  FROM m JOIN documents d USING (doc_id)),
         |r1 AS (SELECT *, row_number() OVER (ORDER BY -q_e6, doc_id) AS rn,
         |    count(*) OVER () AS n FROM q),
         |p AS (SELECT *, CAST((rn - 1) * 4 // n AS INT) AS phase,
         |    ${graft.functions.Hashing.lcgSql("doc_id", 11L,
               graft.functions.Hashing.LcgM)} AS shuf
         |  FROM r1),
         |r2 AS (SELECT *, row_number() OVER
         |    (PARTITION BY phase ORDER BY shuf, doc_id) AS prn FROM p)
         |SELECT phase, CAST((prn - 1) // 16 AS INT) AS shard,
         |  count(*) AS n_docs, CAST(sum(n_chars) AS BIGINT) AS sum_chars,
         |  min(q_e6) AS min_q, max(q_e6) AS max_q
         |FROM r2 GROUP BY 1, 2""".stripMargin,
    // t26: the identical q_e6 chain + per-source percentile rank.
    "t26_pct_rank" ->
      s"""WITH toks AS (SELECT doc_id, source,
         |    string_split_regex(lower(text), '\\s+') AS ws FROM documents),
         |m AS (SELECT doc_id, source,
         |    CAST(len(list_filter(ws, w -> list_contains(${
               TextOps.Stopwords.map(w => s"'$w'").mkString("[", ", ", "]")
             }, w))) AS DOUBLE) / len(ws) AS stop_ratio,
         |    CAST(list_sum(list_transform(ws, w -> len(w))) AS DOUBLE)
         |      / len(ws) AS awl,
         |    len(ws) AS n
         |  FROM toks),
         |base AS (SELECT doc_id, source,
         |    CAST(floor((0.5 * stop_ratio
         |      + 0.3 * least(1.0, CAST(n AS DOUBLE) / 100.0)
         |      + 0.2 * (awl / 10.0)) * 1e6) AS BIGINT) AS q_e6
         |  FROM m),
         |rk AS (SELECT doc_id, source, q_e6,
         |    row_number() OVER (PARTITION BY source ORDER BY q_e6, doc_id) AS rk,
         |    count(*) OVER (PARTITION BY source) AS n_src
         |  FROM base)
         |SELECT doc_id, source, q_e6,
         |  CAST(CASE WHEN n_src > 1
         |    THEN ((rk - 1) * 1000000) // (n_src - 1) ELSE 0 END AS BIGINT)
         |    AS pct_e6
         |FROM rk""".stripMargin,
    // o25: the same per-source loss chain, the same sqrt-composed
    // τ-powers over identical doubles, the same single e6 rounding; the
    // objective division in exact integer space.
    "o25_mixture_search" ->
      """WITH toks AS (SELECT doc_id, source,
        |    string_split_regex(lower(text), '\s+') AS ws FROM documents),
        |tok2 AS (SELECT source, unnest(ws) AS w FROM toks),
        |freq AS (SELECT w, count(*) AS wn FROM tok2 GROUP BY w),
        |tot AS (SELECT count(*) AS n FROM tok2),
        |src AS (SELECT source, count(*) AS n_tok,
        |    CAST(sum(CAST(floor(-ln(CAST(wn AS DOUBLE) / n) * 1e9) AS BIGINT))
        |      // count(*) AS BIGINT) AS loss_e9
        |  FROM tok2 JOIN freq USING (w) CROSS JOIN tot GROUP BY source),
        |mx AS (SELECT max(n_tok) AS maxn FROM src),
        |rs AS (SELECT source, loss_e9,
        |    CAST(n_tok AS DOUBLE) / CAST(maxn AS DOUBLE) AS r
        |  FROM src CROSS JOIN mx),
        |legs AS (SELECT rs.loss_e9, t.tau_pct,
        |    CAST(round(CASE t.tau_pct
        |        WHEN 25 THEN sqrt(sqrt(r)) WHEN 50 THEN sqrt(r)
        |        WHEN 75 THEN sqrt(r) * sqrt(sqrt(r)) ELSE r END * 1e6)
        |      AS BIGINT) AS w_e6
        |  FROM rs CROSS JOIN (SELECT unnest([25, 50, 75, 100]) AS tau_pct) t),
        |j AS (SELECT tau_pct, count(*) AS n_domains,
        |    CAST(CAST(sum(w_e6 * loss_e9) AS BIGINT)
        |      // CAST(sum(w_e6) AS BIGINT) AS BIGINT) AS j_e9
        |  FROM legs GROUP BY 1)
        |SELECT tau_pct, n_domains, j_e9,
        |  j_e9 = (SELECT min(j_e9) FROM j) AS best
        |FROM j""".stripMargin,
    // t23: the bigram model rebuilt in SQL — counts, add-one smoothing,
    // the SAME double-round e9 pin per distinct bigram, exact integer
    // per-doc sums, positive floor divisions.
    "t23_bigram_xent" ->
      s"""WITH toks AS (SELECT doc_id, string_split_regex(lower(text), '\\s+') AS ws
         |  FROM documents),
         |bg AS (SELECT doc_id,
         |    unnest(list_transform(range(1, len(ws)),
         |      i -> [ws[i], ws[i + 1]])) AS p
         |  FROM toks WHERE len(ws) >= 2),
         |bg2 AS (SELECT doc_id, p[1] AS w1, p[2] AS w2 FROM bg),
         |tf AS (SELECT doc_id, w1, w2, count(*) AS tf
         |  FROM bg2 GROUP BY 1, 2, 3),
         |c2 AS (SELECT w1, w2, CAST(sum(tf) AS BIGINT) AS c2
         |  FROM tf GROUP BY 1, 2),
         |c1 AS (SELECT w1, CAST(sum(c2) AS BIGINT) AS c1 FROM c2 GROUP BY 1),
         |voc AS (SELECT count(DISTINCT w) AS v
         |  FROM (SELECT unnest(ws) AS w FROM toks)),
         |lp AS (SELECT w1, w2,
         |    CAST(round(round(ln(CAST(c1 + v AS DOUBLE) / (c2 + 1)), 9)
         |      * 1e9) AS BIGINT) AS lp_e9
         |  FROM c2 JOIN c1 USING (w1) CROSS JOIN voc),
         |s AS (SELECT doc_id, CAST(sum(tf * lp_e9) AS BIGINT) AS s_e9,
         |    CAST(sum(tf) AS BIGINT) AS n_bigrams
         |  FROM tf JOIN lp USING (w1, w2) GROUP BY doc_id)
         |SELECT doc_id, n_bigrams,
         |  CAST((s_e9 // n_bigrams) // 1000 AS BIGINT) AS xent_e6
         |FROM s""".stripMargin,
    "t20_winnowing" ->
      s"""WITH toks AS (SELECT doc_id, string_split_regex(lower(text), '\\s+') AS ws
         |  FROM documents),
         |sh AS (SELECT doc_id,
         |    list_transform(range(1, greatest(len(ws) - 1, 1)),
         |      i -> ${graft.functions.Hashing.polyHashSql(
               "(ws[i] || ' ' || ws[i + 1] || ' ' || ws[i + 2])")}) AS hs
         |  FROM toks),
         |fp AS (SELECT doc_id, CAST(len(hs) AS INT) AS n_shingles,
         |    list_distinct(list_transform(range(0, len(hs) - 4 + 1),
         |      i -> list_min(hs[i + 1 : i + 4]))) AS fps
         |  FROM sh WHERE len(hs) >= 4)
         |SELECT doc_id, n_shingles, CAST(len(fps) AS INT) AS n_fp,
         |  CAST(list_reduce(list_prepend(CAST(0 AS BIGINT), fps),
         |    (a, b) -> xor(a, b)) AS BIGINT) AS xor_fp,
         |  (CAST(len(fps) AS BIGINT) * 1000000) // n_shingles AS density_e6
         |FROM fp""".stripMargin)
}
