package graft.queries

import org.apache.spark.sql.functions._
import org.apache.spark.sql.{DataFrame, SparkSession}

import graft.functions.Hashing
import graft.ops.{Bucketing, Dedup, TextOps}
import Tables.t

import graft.engine.Caches.Registered

/** Text-analysis + dedup query surface over `documents`, with generated
  * DuckDB oracles that replicate the exact hash arithmetic (PolyHash / LCG /
  * minhash permutations are engine-agnostic integer math — see Hashing).
  */
object TextDedup {

  type Q = (SparkSession, String) => DataFrame

  private def docs(s: SparkSession, dir: String): DataFrame = t(s, dir, "documents")

  // d31's anchor width and report floor: k = 8 keeps anchors selective
  // (max fingerprint hub = 4 at sf0.1), minLen = 20 reports only
  // decontamination-grade runs. LdsMaxFreq is the anchor-frequency hub
  // cap (Dedup.longestDupSpan's discipline against viral boilerplate
  // k-grams) — far above any fixture hub, so the gate pins the cap's
  // SEMANTICS (the oracle replicates the 2..cap band) without changing
  // fixture-scale rows.
  val LdsK = 8
  val LdsMinLen = 20
  val LdsMaxFreq = 512
  // d32's corpus/eval partition of `documents`: doc_id < 50 plays the
  // benchmark eval set, the rest the training corpus.
  val LdsEvalSplit = 50

  val queries: Map[String, Q] = Map(
    // token counting: whitespace tokens + BPE-ish alnum-run segments.
    "t1_tokens" -> ((s, dir) =>
      docs(s, dir).select(col("doc_id"),
        size(TextOps.tokens(col("text"))).as("n_tokens"),
        TextOps.subwordCount(col("text")).cast("int").as("n_subwords"),
        length(col("text")).as("len_chars"))),

    // BPE-style pre-tokenizer budget: per-doc token count under the GPT-2
    // pre-tokenization regex (letter/digit/punct runs with optional
    // leading space) — the number a training pipeline bills data by.
    "t8_bpe_token_count" -> ((s, dir) =>
      docs(s, dir).select(col("doc_id"),
        TextOps.bpeTokenCount(col("text")).as("n_bpe"))),

    // Real BPE train + apply (t8 counts pre-tokenizer segments; t13 learns
    // actual merges): 8 merge rounds over the corpus word-frequency table,
    // then the corpus re-tokenized under the learned table. The per-doc
    // token counts gate the whole merge sequence — one wrong argmax or one
    // mis-applied merge shifts counts corpus-wide.
    "t13_bpe_train" -> ((s, dir) =>
      graft.ops.Bpe.trainApply(docs(s, dir), "text", nMerges = 8)),

    // Tokenizer FERTILITY report per source under the t13-trained vocab
    // (Rust et al. 2021): tokens/word and chars/token — the eval a
    // pipeline publishes per corpus slice before committing to a vocab;
    // an outlier slice is tokenized badly and its token budget inflates.
    "t18_fertility" -> ((s, dir) =>
      graft.ops.Bpe.fertilityBySource(docs(s, dir), "text", "source",
        graft.ops.Bpe.train(docs(s, dir), "text", merges = 8))),

    // BATCHED BPE training — the production-vocab round shape (VERDICT
    // r07: one argmax job per merge makes a 32k vocab ~32k sequential
    // jobs): per round, greedy first-fit over the top-48 ranked pairs
    // selects up to 16 symbol-disjoint merges applied together, so the
    // round count tracks vocab_target/batch, not vocab_target. 8 rounds
    // learn 80+ merges here (vs t13's 8) and the whole merge chain is
    // gated through the re-tokenized per-doc counts.
    "t13b_bpe_batched" -> ((s, dir) =>
      graft.ops.Bpe.trainApplyBatched(docs(s, dir), "text",
        rounds = 8, window = 48, batchCap = 16)),

    // Tokenize-to-STREAM under a batch-trained vocab — the missing middle
    // of the tokenizer story (t13/t13b count tokens; o8/o12 pack already-
    // tokenized sequences): per doc, the ordered token stream itself,
    // via the PRODUCTION application path — each distinct vocab word
    // encoded once (O(vocab × M) replaces), hash-joined back to
    // positional occurrences, reassembled in doc order. Hash-gating
    // tok_str pins every token boundary of every document, not just the
    // counts.
    "t14_bpe_stream" -> ((s, dir) =>
      graft.ops.Bpe.trainStreamBatched(docs(s, dir), "text",
        rounds = 4, window = 32, batchCap = 12)),

    // The same stream application at PRODUCTION merge count — 8 batched
    // rounds learn 80+ merges (≥64; t14 stops at ~40), so this gate is
    // what makes the vocab-join application the load-bearing path: at
    // this M the per-occurrence fold is already visibly quadratic while
    // the join path's vocab-side fold cost is unchanged per word. Same
    // full tok_str hash gate.
    "t14b_bpe_stream_prod" -> ((s, dir) =>
      graft.ops.Bpe.trainStreamBatched(docs(s, dir), "text",
        rounds = 8, window = 48, batchCap = 16)),

    // Gopher-style repetition filter: duplicate-token fraction and
    // top-token dominance per doc, plus the drop verdict at the published
    // operating point — all zero-shuffle array arithmetic.
    "t9_gopher_repetition" -> ((s, dir) => {
      val ws = TextOps.tokens(col("text"))
      docs(s, dir).select(col("doc_id"),
        size(ws).as("n_words"),
        round(TextOps.distinctRatio(ws), 6).as("distinct_ratio"),
        round(TextOps.topTokenShare(ws), 6).as("top_share"),
        (TextOps.topTokenShare(ws) > 0.2 ||
          TextOps.distinctRatio(ws) < 0.5).as("flagged"))
    }),

    // PII scrub: typed redaction of emails / IPv4s / phone fragments plus
    // per-kind audit counts. The synthetic corpus carries no PII, so the
    // gate injects a deterministic PII tail per doc IDENTICALLY here and
    // in the oracle — the operator under test is the redaction regexes,
    // and the full redacted string is hash-compared, so one mis-scrubbed
    // character diverges.
    "t10_pii_redact" -> ((s, dir) => {
      val withPii = docs(s, dir).select(col("doc_id"),
        concat(col("text"),
          lit(" contact doc"), col("doc_id").cast("string"),
          lit("@example.com ip 10."), (col("doc_id") % 250).cast("string"),
          lit(".0.1 tel 555-"),
          lpad((col("doc_id") % 10000).cast("string"), 4, "0")).as("t"))
      withPii.select(
        Seq(col("doc_id")) ++ TextOps.piiCounts(col("t")) ++
          Seq(TextOps.redactPii(col("t")).as("redacted")): _*)
    }),

    // MOJIBAKE repair (the ftfy core) — double-encoded UTF-8 injected
    // deterministically (the t10 discipline: both engines corrupt the
    // same docs the same way), then fixed by the ordered literal pair
    // list; the FULL repaired text is the hash surface, plus the n_fixed
    // audit count a reviewable cleaner must report.
    "t27_mojibake_fix" -> ((s, dir) => {
      val injected = docs(s, dir).select(col("doc_id"),
        concat(col("text"),
          when(pmod(col("doc_id"), lit(3)) === 0, lit(" cafÃ© rÃ©sumÃ©"))
            .when(pmod(col("doc_id"), lit(3)) === 1,
              lit(" donâ€™t seÃ±or â€œquoted"))
            .otherwise(lit(" clean tail"))).as("t"))
      injected.select(col("doc_id"),
        TextOps.mojibakeCount(col("t")).as("n_fixed"),
        TextOps.fixMojibake(col("t")).as("fixed"))
    }),

    // quality scoring: stopword ratio, word shape, composite score.
    "t2_quality" -> ((s, dir) => {
      val ws = TextOps.tokens(col("text"))
      docs(s, dir).select(col("doc_id"),
        round(TextOps.stopwordRatio(ws), 6).as("stop_ratio"),
        round(TextOps.avgWordLen(ws), 6).as("avg_word_len"),
        round(TextOps.qualityScore(ws), 6).as("quality"))
    }),

    // BORDA RANK FUSION of independent quality signals — the standard
    // combine-without-calibrating move when gating on several scores of
    // different scales (t22 measures their agreement; this FUSES them):
    // three scalable global rankings (range-partitioned row numbers, the
    // o10 machinery — no single-task global sort) by t2 quality, raw
    // length, and BPE token budget, summed into one integer Borda score.
    // Every rank totally ordered (ties → doc_id), so the fusion is
    // bit-reproducible in any engine.
    "t24_borda_blend" -> ((s, dir) => {
      val ws = TextOps.tokens(col("text"))
      val scored = docs(s, dir).select(col("doc_id"),
          col("n_chars").cast("long").as("n_chars"),
          round(round(TextOps.qualityScore(ws), 6) * lit(1e6), 0)
            .cast("long").as("q_e6"),
          TextOps.bpeTokenCount(col("text")).cast("long").as("bpe_toks"))
        .persistTracked()
      def rankOf(c: String, rname: String) =
        graft.ops.Split.globalRowNumber(scored.select(col("doc_id"), col(c)),
            Seq(col(c).desc, col("doc_id")), -1)
          .select(col("doc_id"), col("rn").as(rname))
      rankOf("q_e6", "r_quality")
        .join(rankOf("n_chars", "r_len"), "doc_id")
        .join(rankOf("bpe_toks", "r_toks"), "doc_id")
        .withColumn("borda",
          col("r_quality") + col("r_len") + col("r_toks"))
    }),

    // language-ID heuristic (marker-word argmax) vs the labeled lang.
    "t3_langid" -> ((s, dir) => {
      val ws = TextOps.tokens(col("text"))
      docs(s, dir).select(col("doc_id"), col("lang"),
        TextOps.predictedLang(ws).as("pred"),
        TextOps.langHits(ws, "en").as("en_hits"))
    }),

    // document fingerprinting: rolling hash + min-shingle fingerprint.
    "t4_fingerprint" -> ((s, dir) =>
      docs(s, dir).select(col("doc_id"),
        TextOps.fingerprint(col("text")).as("fp"),
        array_min(graft.functions.PolyShinglesExpr.column(
          lower(col("text")), Dedup.ShingleN)).as("min_shingle"))),

    // bounded-memory frequent-tokens sketch (SpaceSaving family). Estimates
    // depend on merge order at the margin, so the reported items/estimates
    // themselves are not oracle-able — but the guarantee IS: every emitted
    // item satisfies true ≤ est ≤ true + err. The query joins the sketch
    // report back to the exact token counts and outputs one summary row
    // (exact total, #reported, #bound violations); the oracle emits the
    // same exact total with 0 violations, so a hash match proves the
    // SpaceSaving guarantee held (upgraded from rows-only, round 3).
    "t5_freq_tokens" -> ((s, dir) => {
      val toks = docs(s, dir)
        .select(explode(TextOps.tokens(col("text"))).as("w"))
        .persistTracked()
      val exact = toks.groupBy("w").agg(count(lit(1)).as("n"))
      val report = toks
        .agg(graft.functions.FreqItemsAgg.column(col("w"), 20).as("top"))
        .select(explode(col("top")).as("t"))
        .select(col("t.item").as("w"), col("t.est").as("est"), col("t.err").as("err"))
      val totals = toks.agg(count(lit(1)).as("n_tokens"))
      report.join(exact, "w")
        .agg(count(lit(1)).as("n_reported"),
          sum(when(col("est") >= col("n") &&
            col("est") - col("err") <= col("n"), 0L).otherwise(1L)).as("n_violations"))
        .crossJoin(broadcast(totals))
        .select("n_tokens", "n_reported", "n_violations")
    }),

    // Feature hashing: bounded-vocabulary document vectors (token →
    // polyhash mod 16) with no dictionary pass — explode + two
    // map-side-partial groupBys.
    "t12_hashed_tfvec" -> ((s, dir) =>
      TextOps.hashedTf(docs(s, dir), "doc_id", "text", nBuckets = 16)),

    // DSIR hashed importance weights (Xie et al. 2023): steer the corpus
    // toward a target slice (here lang='en' stands in for the curated
    // domain) via per-doc log w = Σ tf[b]·(ln θ_tgt[b] − ln θ_raw[b]) over
    // 64 hashed unigram buckets. One exploded-token pass builds both
    // bucket LMs; the 64-row log-ratio table broadcasts; selection
    // composes with o13/o7 downstream.
    "t15_dsir_weights" -> ((s, dir) =>
      TextOps.dsirLogWeights(docs(s, dir), "doc_id", "text",
        targetPred = col("lang") === "en", nBuckets = 64)),

    // Gopher-style RULE GATE (Rae et al. 2021 A1): the hard-threshold
    // pass/fail filter with every rule's flag emitted — the auditable
    // complement of t2's continuous score. All flags are exact integer
    // ratios, so the booleans are engine-exact; one wrong threshold
    // comparison anywhere flips a flag and the hash.
    "t16_gopher_rules" -> ((s, dir) =>
      TextOps.gopherRules(docs(s, dir), "doc_id", "text")),

    // Per-source corpus report card: volume, mean quality, Gopher pass
    // count, and exact-dup pressure per ingest source — one narrow
    // projection + one groupBy(source), |sources| output rows.
    "t17_corpus_report" -> ((s, dir) =>
      TextOps.corpusReport(docs(s, dir), "source", "text")),

    // Near-dup-safe split: every LSH/CC duplicate cluster lands whole in
    // one split (the dedup-before-split leakage fix; o11 only guards
    // same-SOURCE leakage). Split = LCG bucket of the cluster id.
    "o18_cluster_split" -> ((s, dir) =>
      Dedup.clusterSafeSplit(docs(s, dir), seed = 13L, nBuckets = 10,
        trainBuckets = 8)),

    // DSIR's selection leg: importance-RESAMPLE 64 docs ∝ w(x) without
    // replacement via the seeded Gumbel-top-k identity over t15's log
    // weights — the published two-step (weight, then resample) closed
    // end-to-end. TakeOrderedAndProject, never a global sort.
    "o17_importance_resample" -> ((s, dir) =>
      graft.ops.Split.gumbelTopK(
        TextOps.dsirLogWeights(docs(s, dir), "doc_id", "text",
          targetPred = col("lang") === "en", nBuckets = 64),
        "doc_id", "log_w", n = 64, seed = 41L)),

    // Fixed-token chunking with overlap (RAG/pretraining chunker): 32-token
    // windows every 24 tokens, final partial window kept. Pure generator +
    // slice/concat — zero shuffle, fully codegen'd; the chunk text itself
    // is hash-compared so the reconstruction is proven verbatim.
    "t11_chunk" -> ((s, dir) =>
      TextOps.chunkFixed(docs(s, dir), "doc_id", "text",
        chunkSize = 32, stride = 24)),

    // Quality-quartile binning (curriculum/mixture construction): ntile
    // over the rounded quality score WITHIN each source — the window is
    // partitioned by source, so no global sort; ties pinned by doc_id.
    "w2_quality_bins" -> ((s, dir) => {
      val ws = TextOps.tokens(col("text"))
      val scored = docs(s, dir).select(col("doc_id"), col("source"),
        round(TextOps.qualityScore(ws), 6).as("q"))
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy("source").orderBy(col("q"), col("doc_id"))
      // sum_q, not avg_q: the mean of two 6-dp values lands exactly on a
      // .5 seventh-decimal boundary, where Java's decimal-string rounding
      // and DuckDB's binary-double rounding disagree (caught at sf0.001,
      // 2-doc bins). The SUM of 6-dp values stays 6-dp — no boundary.
      scored.withColumn("bin", ntile(4).over(w))
        .groupBy("source", "bin")
        .agg(count(lit(1)).as("n_docs"),
          round(sum("q"), 6).as("sum_q"),
          round(min("q"), 6).as("min_q"),
          round(max("q"), 6).as("max_q"))
    }),

    // group-leakage-safe split: hash the SOURCE, not the row — every doc
    // of a source lands in one split (contamination-safe eval boundary).
    // Witness columns: per-split doc + distinct-source counts.
    "o11_group_split" -> ((s, dir) =>
      graft.ops.Split.groupSplit(docs(s, dir), "source", nBuckets = 10,
          trainBuckets = 8)
        .groupBy("split")
        .agg(count(lit(1)).as("n_docs"),
          countDistinct("source").as("n_sources"))),

    // stratified exact split: per-language ⌊0.8·N_lang⌋ train rows —
    // minority languages keep their ratio. Output: per-lang counts.
    "o5_stratified_split" -> ((s, dir) =>
      graft.ops.Split.stratifiedExact(
          docs(s, dir).select("doc_id", "lang"), "lang", "doc_id", 0.8, seed = 7L)
        .groupBy("lang")
        .agg(count(lit(1)).as("n"),
          sum(col("is_train")).as("n_train"))),

    // Stratified K-FOLD (cross-validation assignment): within each lang,
    // folds taken round-robin in seeded-shuffle order — every
    // (lang, fold) cell balanced to ±1 EXACTLY, a guarantee random
    // assignment only approximates. The per-doc assignment is what
    // hashes (sum of member ids per cell), not just the counts.
    "o22_kfold" -> ((s, dir) =>
      graft.ops.Split.kFold(
          docs(s, dir).select("doc_id", "lang"), "lang", "doc_id",
          k = 5, seed = 19L)
        .groupBy("lang", "fold")
        .agg(count(lit(1)).as("n"),
          sum("doc_id").as("sum_ids"))),

    // deterministic EXACT-k GLOBAL sample — the bounded "inspect a
    // slice" primitive: 64 rows by seeded LCG rank via
    // TakeOrderedAndProject (per-task k-row heaps, NO shuffle — o10's
    // full permutation would range-partition 100 TB to keep 64 rows).
    "o23_global_sample" -> ((s, dir) =>
      graft.ops.Split.sampleExactK(
        docs(s, dir).select("doc_id", "lang", "n_chars"),
        "doc_id", k = 64, seed = 23L)),

    // SNAKE-ORDER BALANCED SHARDS — equal-token-MASS training shards
    // (o12 balances row counts; skewed lengths make that unequal work):
    // size-desc rank dealt boustrophedon across 8 shards. Per-shard
    // rollup + membership checksum is the gate surface.
    "o24_balanced_shards" -> ((s, dir) =>
      graft.ops.Split.snakeShards(
          docs(s, dir).select("doc_id", "n_chars"),
          "n_chars", "doc_id", nShards = 8)
        .groupBy("shard")
        .agg(count(lit(1)).as("n_docs"),
          sum("n_chars").as("sum_chars"),
          sum("doc_id").as("sum_ids"))),

    // CORPUS CONCENTRATION report — per-source Gini of document char
    // mass, exact integer rank formula (bit-identical cross-engine):
    // a high-Gini source subsampled by doc count still contributes
    // most of its mass from a few giants.
    "t25_gini" -> ((s, dir) =>
      graft.ops.Stats.giniByGroup(
        docs(s, dir), "source", "n_chars", "doc_id")),

    // deterministic k-per-key sample: 5 docs per (lang, source) cell by
    // seeded LCG rank — reproducible "few examples per class".
    "o6_sample_per_key" -> ((s, dir) =>
      graft.ops.Split.samplePerKey(
          docs(s, dir).select(col("doc_id"),
            concat_ws("|", col("lang"), col("source")).as("cell")),
          "cell", "doc_id", k = 5, seed = 11L)
        .select("cell", "doc_id")),

    // corpus-level unigram negative log-likelihood per doc — the LM-score
    // quality filter shape: build the corpus frequency table (one groupBy),
    // join it back to tokens, average -ln p(w). Rare-token-heavy docs
    // (gibberish, OCR noise) score high.
    "t6_unigram_logprob" -> ((s, dir) => {
      val toks = docs(s, dir)
        .select(col("doc_id"), explode(TextOps.tokens(col("text"))).as("w"))
        .persistTracked()
      val freq = toks.groupBy("w").agg(count(lit(1)).as("wn"))
      val total = toks.agg(count(lit(1)).as("_n"))
      toks.join(freq, "w")
        .crossJoin(broadcast(total))
        .groupBy("doc_id")
        .agg(round(avg(-log(col("wn").cast("double") / col("_n"))), 6).as("avg_neg_logp"),
          count(lit(1)).as("n_tokens"))
    }),

    // TF-IDF top term per document — the "what is this doc about" signal a
    // curation pipeline keys on. Two groupBys (term frequency, document
    // frequency) + a one-row broadcast for N; the per-doc argmax is a
    // max(struct) aggregate (map-side partial, no window sort), ties
    // breaking to the lexicographically greatest term.
    "t7_tfidf_top_term" -> ((s, dir) => {
      val d = docs(s, dir)
      val tf = d.select(col("doc_id"), explode(TextOps.tokens(col("text"))).as("w"))
        .groupBy("doc_id", "w").agg(count(lit(1)).as("tf"))
      val dfreq = tf.groupBy("w").agg(count(lit(1)).as("df"))
      val total = d.agg(count(lit(1)).as("_n"))
      tf.join(dfreq, "w").crossJoin(broadcast(total))
        .withColumn("tfidf",
          round(col("tf") * log(col("_n").cast("double") / col("df")), 6))
        .groupBy("doc_id")
        .agg(max(struct(col("tfidf"), col("w"))).as("m"))
        .select(col("doc_id"), col("m.w").as("top_term"), col("m.tfidf").as("tfidf"))
    }),

    // Deterministic weighted mixture sampling — training-mix construction:
    // per-source acceptance rates applied as a pure per-row LCG threshold
    // (reproducible across engines/partitionings, re-runnable; weight =
    // (src digit mod 10 + 1)/10 so every rate 0.1..1.0 is exercised).
    "o7_weighted_mix" -> ((s, dir) => {
      val d = docs(s, dir)
      val srcNum = regexp_extract(col("source"), "src(\\d+)", 1).cast("int")
      val accept = Hashing.lcg(col("doc_id"), 99L, 1000L) < (srcNum % 10 + 1) * lit(100)
      d.groupBy("source").agg(
        count(lit(1)).as("n_total"),
        sum(accept.cast("long")).as("n_sampled"))
    }),

    // exact dedup: canonical keeper per identical text.
    "d1_exact_dedup" -> ((s, dir) => Dedup.exact(docs(s, dir))),

    // MinHash+LSH near-dup candidates with estimated Jaccard.
    "d2_minhash_lsh" -> ((s, dir) => Dedup.minhashLsh(docs(s, dir))),

    // SimHash per document.
    "d3_simhash" -> ((s, dir) => Dedup.simhash(docs(s, dir))),

    // SimHash near-dup pairs (prefix-blocked hamming join).
    "d4_simhash_pairs" -> ((s, dir) =>
      Dedup.simhashPairs(Dedup.simhash(docs(s, dir)), maxHamming = 8)),

    // exact n-gram Jaccard verification of LSH candidates.
    "d5_ngram_jaccard" -> ((s, dir) => Dedup.ngramJaccard(docs(s, dir))),

    // CONTAINMENT scoring (Broder's asymmetric c(A,B) = |A∩B|/|A|) over
    // the same verified candidate pairs as d5 — the quote/excerpt/
    // boilerplate duplication a symmetric Jaccard cannot see (a short
    // doc quoted inside a long one unions away). Both directions, the
    // Jaccard for reference, and the near_dup/containment/overlap class,
    // every threshold compared on the rounded values.
    "d35_containment" -> ((s, dir) => Dedup.ngramContainment(docs(s, dir))),

    // CONTAINMENT REMOVAL — the action d35's scan implies (the c-family
    // contract: every scan gets its removal leg, as d32→c9 and c1→c8).
    // Per containment pair (jaccard < 0.8, max containment >= 0.8, both
    // on the 6-dp rounded values) the CONTAINED = shorter side is dropped;
    // one provenance row per dropped doc: deterministic keeper witness
    // (min container id), container count, strongest containment in exact
    // e6 integers. Gate: the pair classification, the drop-side choice
    // with its tie-breaks, and the rollup arithmetic.
    "c10_containment_drop" -> ((s, dir) =>
      Dedup.containmentDrops(docs(s, dir))),

    // SELF-TUNING containment removal — c10 with minCont chosen from the
    // corpus itself (the c5 chosen-rung discipline on the containment
    // axis): an e6-integer rung ladder surveys the corpus's containment
    // mass (per would-be-dropped doc, its max pairwise containment over
    // d35's scored chain) and the smallest rung dropping ≤ 5% of docs
    // becomes the threshold; the choice rides along as `min_cont_e6` so
    // the gate hashes the SELECTION as well as the cut. The fixture's
    // natural window-shared pairs are ALL near-dups (zero containment
    // band at every SF — c10 gates an empty drop set), so the input is a
    // containment-SPECTRUM corpus (the d22 deliberate-corpus discipline):
    // every doc_id % 10 == 7 doc is replaced by a 20-token excerpt of its
    // doc_id−5 neighbor plus m of its own tokens, m stepping 3/6/9/12 by
    // decade — containment ≈ .86/.75/.67/.60, real mass on every rung, so
    // the survey must genuinely choose (at sf0.01 it picks 800000: the
    // 700000 rung would drop 26 docs vs the 25-doc cap).
    "c11_containment_auto" -> ((s, dir) =>
      // Materialized once: the spectrum feeds three consumers inside the
      // auto op (the corpus count, the window-candidate pass, and the
      // verify re-shingle) — without it each re-runs the rewrite join.
      Dedup.containmentDropsAuto(
        containmentSpectrum(docs(s, dir)).localCheckpoint())),

    // UNIFIED containment operating point — closes the c11↔e22 seam: c11
    // derives minCont from the corpus's own containment mass, but the
    // ingest decide (e22/e23) pinned 0.8 by fiat, so batch curation and
    // ingest could disagree about the SAME document. Here one rung is
    // chosen by the c11 ladder survey over the STANDING corpus (the
    // corpus you have is what calibrates the policy you apply to what
    // arrives) and applied UNCHANGED — as the same e6 integer, no double
    // round-trip — to the arrival decide. Standing gets c11's
    // containment-SPECTRUM injection (ids %10==7 become 20-token excerpts
    // of id−5 plus 3/6/9/12 own tokens by decade — real mass on every
    // rung, so the survey genuinely chooses); arrivals get the e23-style
    // quote-a-standing-doc rewrite (ids %5==2 become 30-token excerpts of
    // standing doc 2·id+100 — ids ≡4 mod 10, never themselves rewritten).
    // Gate: the rung CHOICE (hashed into every row as min_cont_e6) and
    // every arrival's landed/quarantined decision at that rung — a cut at
    // 0.8-by-fiat flips rows whenever the survey picks any other rung.
    "c13_containment_unified" -> ((s, dir) => {
      val base = docs(s, dir)
      val standing = graft.engine.Caches.persisted(
        containmentSpectrum(base).filter(col("doc_id") >= LdsEvalSplit))
      val exA = base.filter(col("doc_id") >= lit(100) && col("doc_id") % 2 === 0)
        .select(((col("doc_id") - 100) / 2).cast("long").as("doc_id"),
          array_join(slice(split(lower(col("text")), "\\s+"), 1, 30), " ")
            .as("_ex"))
      val arrivals = graft.engine.Caches.persisted(
        base.filter(col("doc_id") < LdsEvalSplit)
          .join(exA, Seq("doc_id"), "left")
          .withColumn("text",
            when(col("doc_id") % 5 === 2 && col("_ex").isNotNull, col("_ex"))
              .otherwise(col("text")))
          .select("doc_id", "text"))
      // ONE frequency-capped standing window frame feeds BOTH legs (guide
      // §1.2, §2.4): the rung survey's candidate self-join and the ingest
      // decide's probe store consume the identical (winN = 10, cap = 64)
      // subtree instead of each rebuilding it from the raw standing corpus.
      val capped = graft.engine.Caches.persisted(
        Dedup.cappedWindowOcc(Dedup.windowOcc(standing, 10), 64))
      // The batch survey over the standing corpus picks the rung...
      val rung = Dedup.surveyContainmentRung(
        Dedup.dropRows(Dedup.scored(standing, Dedup.windowPairs(capped))),
        standing.count())
      // ...and the ingest decide applies it unchanged: arrival windows
      // probe the frequency-capped standing windows (the cap is a
      // property of the standing slice).
      arrivalDecisions(arrivals, standing.unionByName(arrivals),
          capped.select(col("h"), col("doc_id").as("doc_b")), rung)
        .withColumn("min_cont_e6", lit(rung))
    }),

    // BATCH CURATION CAPSTONE — the c-family legs composed into ONE plan
    // (the composition is where operator seams actually break: cache
    // hygiene, exchange reuse, provenance columns colliding): gopher gate
    // (t16's pass) → exact-dup collapse (d33's min-id keeper) → decontam
    // drop (any 10-token window shared with the eval set, d32's signal as
    // a drop policy) → containment drop (c10's policy among survivors) →
    // sequence-pack the result (o27's manifest), reported as c3's funnel
    // contract: one all-integer row with every stage's survivor count and
    // the packed stream's window/segment/token totals plus a boundary
    // checksum — one doc wrongly dropped or kept at ANY stage, or one
    // packed boundary off by one, flips the row. Every stage boundary is
    // MATERIALIZED once (eager localCheckpoint — the staged-pipeline
    // discipline: each stage output feeds two consumers, its funnel count
    // and the next stage, and the packing cumsum alone launches several
    // jobs over stage 4; a lazy persist leaves the full five-stage lineage
    // under every one of those jobs, and the containment subtree's nested
    // caches re-derive per job — measured 90+ s vs ~15 s checkpointed at
    // sf0.1. At 100 TB this materialization IS the design: a production
    // curation run writes each stage's survivor set before the next), so
    // the d33 exact-collapse is computed exactly once. Every tenth doc is
    // an excerpt of its successor (the c11 injection) so the containment
    // stage has real drop mass to account for.
    "c12_curation_pipeline" -> ((s, dir) => {
      val all = docs(s, dir)
      val exSrc = all.select((col("doc_id") - 1).as("doc_id"),
        array_join(slice(split(lower(col("text")), "\\s+"), 1, 30), " ")
          .as("_ex"))
      val corpus = all.filter(col("doc_id") >= LdsEvalSplit)
        .join(exSrc, Seq("doc_id"), "left")
        .withColumn("text",
          when(col("doc_id") % 10 === 3 && col("_ex").isNotNull,
            col("_ex")).otherwise(col("text")))
        .select("doc_id", "text")
        .localCheckpoint()
      val s1 = corpus.filter(TextOps.gopherPass(col("text")))
        .localCheckpoint()
      val s2 = s1.join(s1.groupBy("text").agg(min("doc_id").as("doc_id"))
          .select("doc_id"), Seq("doc_id"), "left_semi")
        .localCheckpoint()
      val dirty = s2.select(col("doc_id"),
          explode(Dedup.windowHashesPerRow(col("text"), 10)).as("h"))
        .join(Dedup.evalFingerprints(
          all.filter(col("doc_id") < LdsEvalSplit), 10), Seq("h"))
        .select("doc_id").distinct()
      val s3 = s2.join(dirty, Seq("doc_id"), "left_anti")
        .localCheckpoint()
      corpus.agg(count(lit(1)).as("n_total"))
        .crossJoin(s1.agg(count(lit(1)).as("after_gopher")))
        .crossJoin(s2.agg(count(lit(1)).as("after_exact")))
        .crossJoin(s3.agg(count(lit(1)).as("after_decontam")))
        .crossJoin(containmentPackFunnel(s3))
    }),

    // LSH OPERATING-POINT CALIBRATION (the band/row tuning report every
    // LSH deployment runs before committing a threshold): on a BOUNDED
    // sub-corpus (doc_id < 200 — the d10 bounded-gate discipline, where
    // exact all-shared-shingle ground truth is tractable at every SF),
    // per Jaccard threshold: how many TRUE pairs exist, how many the
    // 4×4-band LSH candidate set catches (recall), and what fraction of
    // candidates clear the bar (precision). All-integer: j_e6 is an
    // exact scaled division, recall/precision gate through
    // greatest(·, 1) so an empty band can never divide by zero.
    "d25_lsh_calibration" -> ((s, dir) => {
      val sh = boundedShingles(s, dir)
      val truth = boundedJaccardTruth(sh)
      val candj = Dedup.candidatePairs(
          Dedup.lshBuckets(Dedup.minhashSignatures(sh)))
        .select("doc_a", "doc_b").distinct()
        .join(truth, Seq("doc_a", "doc_b"), "left")
        .withColumn("j_e6", coalesce(col("j_e6"), lit(0L)))
      val ths = array(Seq(0L, 100000L, 500000L, 900000L).map(lit): _*)
      val ta = truth.select(explode(ths).as("t_e6"), col("j_e6"))
        .groupBy("t_e6")
        .agg(count(when(col("j_e6") >= col("t_e6"), 1)).as("n_true"))
      val ca = candj.select(explode(ths).as("t_e6"), col("j_e6"))
        .groupBy("t_e6")
        .agg(count(lit(1)).as("n_cand"),
          count(when(col("j_e6") >= col("t_e6"), 1)).as("n_hit"))
      ta.join(ca, "t_e6")
        .withColumn("recall_e6",
          expr("(n_hit * 1000000) div greatest(n_true, 1)"))
        .withColumn("precision_e6",
          expr("(n_hit * 1000000) div greatest(n_cand, 1)"))
    }),

    // MINHASH ESTIMATOR-QUALITY report (the sketch-accuracy eval behind
    // the K choice: a K-component signature estimates Jaccard with
    // ±1/√K): per true-Jaccard decile, the K=16 signature estimate
    // (matching components div K) vs exact, with summed and mean
    // absolute error — all-integer. A drifting error band is the signal
    // K is too small for the corpus' similarity profile.
    "d26_minhash_estimate" -> ((s, dir) => {
      val sh = boundedShingles(s, dir)
      val truth = boundedJaccardTruth(sh)
      val sig = Dedup.minhashSignatures(sh)
      val K = Dedup.K
      val sa = sig.select(col("doc_id").as("doc_a") +:
        (0 until K).map(k => col(s"s$k").as(s"a$k")): _*)
      val sb = sig.select(col("doc_id").as("doc_b") +:
        (0 until K).map(k => col(s"s$k").as(s"b$k")): _*)
      truth.join(sa, "doc_a").join(sb, "doc_b")
        .withColumn("matches",
          (0 until K).map(k =>
            when(col(s"a$k") === col(s"b$k"), 1).otherwise(0))
            .reduce(_ + _))
        .withColumn("est_e6", expr(s"(matches * 1000000) div $K"))
        .withColumn("abs_err", abs(col("est_e6") - col("j_e6")))
        .withColumn("decile", expr("j_e6 div 100000").cast("int"))
        .groupBy("decile")
        .agg(count(lit(1)).as("n_pairs"),
          sum("est_e6").as("sum_est_e6"),
          sum("j_e6").as("sum_true_e6"),
          sum("abs_err").as("sum_abs_err_e6"))
        .withColumn("mean_abs_err_e6",
          expr("sum_abs_err_e6 div n_pairs"))
    }),

    // Cross-source overlap matrix: verified near-dup pairs (the d5 chain
    // at jaccard ≥ 0.35) rolled up per unordered source pair — the
    // "where does the duplication come from" ingest report. Output is
    // |sources|², corpus-size-independent.
    "d24_source_overlap" -> ((s, dir) =>
      Dedup.sourceOverlap(docs(s, dir), "source", minJaccard = 0.35)),

    // PAGERANK CENTRALITY over the duplication graph — which documents a
    // duplication neighborhood radiates FROM (template/source pages score
    // high, leaf copies low): 10 all-integer e12 power-iteration rounds
    // over the symmetrized LSH pair graph (one keyed join + one
    // sum-groupBy per round; floor-division damping, so the oracle's
    // unrolled SQL is bit-identical — no double accumulation anywhere).
    "d27_dup_pagerank" -> ((s, dir) =>
      graft.ops.Graph.pagerank(
        graft.ops.Graph.symmetrize(
          Dedup.candidatePairs(Dedup.lshBuckets(Dedup.minhashSignatures(
            Dedup.shingleHashes(docs(s, dir))))).select("doc_a", "doc_b")),
        iters = 10)
        .select(col("node").as("doc_id"), col("r_e12"), col("deg"))),

    // INCREMENTAL cluster-map maintenance — the CC leg of the standing-
    // store lifecycle: the standing corpus (doc_id >= 100) holds a
    // dupClusters map; a delta (doc_id < 100) arrives and contributes the
    // pairs it participates in. Folding (standing map as star edges ∪
    // delta pairs) through min-label propagation must hash-equal the d8
    // FULL recompute over the whole corpus — the map update never
    // re-reads the standing corpus' pair graph. (The delta pair frame
    // here filters the full-corpus pairs for the gate; production derives
    // it from the d20 bucket-store probe, whose output is exactly these
    // rows.)
    "d28_cc_incremental" -> ((s, dir) => {
      val d = docs(s, dir)
      // ONE signature→LSH→pair build feeds both legs: a doc's bucket rows
      // are a pure function of its own text, so the full-corpus pair set
      // restricted to (both ids ≥ 100) IS the standing-only pair set —
      // row- and n_bands-identical to running the chain on the filtered
      // corpus (the r21 verdict's d28 ask: the two chains shared no work).
      val pairs = graft.engine.Caches.persisted(
        Dedup.candidatePairs(Dedup.lshBuckets(
            Dedup.minhashSignatures(Dedup.shingleHashes(d))))
          .select("doc_a", "doc_b"))
      val standing = Dedup.connectedComponents(
        pairs.filter(col("doc_a") >= 100 && col("doc_b") >= 100))
      val delta = pairs.filter(col("doc_a") < 100 || col("doc_b") < 100)
      Dedup.connectedComponentsIncremental(standing, delta)
    }),

    // CROSS-CORPUS near-dup (bipartite LSH probe, the fuzzy d12): the
    // delta (doc_id < 100) probes the standing corpus (doc_id >= 100) at
    // the signature level — per matched delta doc, its best standing
    // match (most agreeing bands, ties → lowest id) and match count.
    // Neither side self-joins; the probe cost tracks the delta.
    "d29_cross_corpus" -> ((s, dir) => {
      val d = docs(s, dir)
      Dedup.crossCorpusMatches(
        d.filter(col("doc_id") >= 100), d.filter(col("doc_id") < 100),
        minBands = 2)
    }),

    // connected components over the LSH candidate graph: every near-dup
    // doc mapped to its cluster keeper (min doc_id in the component).
    "d8_dup_clusters" -> ((s, dir) => Dedup.dupClusters(docs(s, dir))),

    // Canonical selection over d8's clusters: keep the LONGEST member per
    // near-dup cluster (ties -> lowest doc_id) — argmax via max(struct),
    // no per-cluster window sort.
    "d19_keep_longest" -> ((s, dir) => {
      val d = docs(s, dir)
      Dedup.keepBest(d, Dedup.dupClusters(d), col("n_chars"))
        .select(col("cluster_id"), col("keep_doc"),
          col("keep_score").as("keep_chars"), col("n_members"))
    }),

    // Same cluster map through the O(log n)-round large-star/small-star
    // path (the high-diameter-safe variant) — must agree with d8 exactly.
    "d11_dup_clusters_star" -> ((s, dir) =>
      Dedup.connectedComponentsStar(
        Dedup.candidatePairs(Dedup.lshBuckets(Dedup.minhashSignatures(
          Dedup.shingleHashes(docs(s, dir))))).select("doc_a", "doc_b"))),

    // TRIANGLE CENSUS of the duplication graph — transitivity per node
    // (degree, triangle count, local clustering in e6): tight cliques
    // (template + mirrors) vs star-shaped borderline chains. Degree-
    // ordered orientation bounds the wedge join at m^1.5 — hubs emit no
    // wedges (see ops/Graph.triangles).
    "d30_triangles" -> ((s, dir) =>
      graft.ops.Graph.triangles(
        Dedup.candidatePairs(Dedup.lshBuckets(Dedup.minhashSignatures(
          Dedup.shingleHashes(docs(s, dir))))).select("doc_a", "doc_b"))),

    // Benchmark contamination: train docs (doc_id >= 50) sharing >= 3
    // distinct word-3-gram shingles with the stand-in eval set
    // (doc_id < 50) — the pre-training leakage scan. Eval shingle set is
    // broadcast; the corpus side never shuffles its shingles.
    "d12_contamination" -> ((s, dir) => {
      val d = docs(s, dir)
      Dedup.contamination(
        d.filter(col("doc_id") >= 50), d.filter(col("doc_id") < 50),
        minShared = 3)
    }),

    // Distributed sequence packing: global greedy packing is inherently
    // sequential, so pack within each source shard (parallel across
    // shards, deterministic inside): running token total in
    // (n_tokens desc, doc_id) order, bin = floor(preceding-total /
    // budget) — next-fit by cumulative sum, the standard distributed
    // approximation of training-batch packing.
    // Token-budget curation — the corpus-construction endgame: keep the
    // BEST documents (quality desc, ties → doc_id) until a global token
    // budget is spent. The global quality-ordered cumulative sum runs on
    // Split.globalCumSum (range-partition + per-partition offsets — the
    // scalable form of `sum() OVER (ORDER BY ...)`, which would otherwise
    // be a one-task window over the corpus). Budget 15000 cuts a real
    // prefix at every SF.
    // LENGTH-BUCKETED BATCHING — the trainer-side op between packing (o8)
    // and export (o12): similar-length docs batched together so per-batch
    // padding-to-max wastes minimal compute. Scalable global row number in
    // length order + pure integer bucket/batch arithmetic (no per-bucket
    // window); gate hashes every batch's count/total/max/padded/efficiency.
    "o14_length_batching" -> ((s, dir) =>
      graft.ops.Split.lengthBucketedBatches(docs(s, dir),
        lenCol = "n_chars", tieBreak = "doc_id", nBuckets = 8,
        batchSize = 16)),

    // SEQUENCE PACKING — the GPT "concat and chunk" recipe: the corpus
    // token stream in doc-id order sliced into 512-token context windows,
    // reported per window (segments sharing it, tokens, first/last doc).
    // Distinct from o8 (doc-LEVEL greedy bins per source — documents stay
    // whole, padding absorbed per bin): here documents SPLIT at window
    // boundaries, the pretraining contract, and the statistic is
    // segments-per-window. One globalCumSum pass + integer interval math;
    // the gate pins the prefix sums, the boundary fan-out, and the
    // per-window rollup — an off-by-one anywhere shifts every window.
    "o26_sequence_pack" -> ((s, dir) =>
      graft.ops.Split.packSequences(docs(s, dir), textCol = "text",
        idCol = "doc_id", ctxLen = 512)),

    // PACKED-WINDOW SEGMENT MANIFEST — o26's export leg: one row per
    // (window, document) segment with the doc-internal offset, the
    // in-window offset, and the segment length — the assignment a
    // dataloader actually reads (o26 reports statistics ABOUT windows;
    // this is the windows). Same one-cumsum pass; the gate pins every
    // segment boundary (an off-by-one anywhere shifts every offset),
    // and SplitFeaturesSpec proves manifest-rollup ≡ o26.
    "o27_pack_manifest" -> ((s, dir) =>
      graft.ops.Split.packManifest(docs(s, dir), textCol = "text",
        idCol = "doc_id", ctxLen = 512)),

    // PACKED TOKEN-WINDOW EXPORT — the materialized end of the packing
    // family: o27 says where each segment goes; o28 WRITES the windows —
    // one 512-slot hashed-token-id array per window (the t12 feature-hash
    // vocabulary), exported to parquet and read BACK, every gate column
    // derived from the on-disk array (the o12 discipline). The gate
    // hashes each window's full ordered id string: one token misplaced,
    // mishashed, or crossing the wrong boundary flips that window's row.
    "o28_pack_tokens" -> ((s, dir) =>
      graft.ops.Split.packTokens(docs(s, dir), textCol = "text",
        idCol = "doc_id", ctxLen = 512, vocab = 32768,
        outDir = Tables.scratch("graft_o28_" + Tables.dirTag(dir)))),

    // SHARDED packed-window export — o28's windows in the on-disk layout
    // a distributed dataloader mounts: partitionBy(shard = bin_id % 4),
    // one writer task (one file) per shard directory, the witness read
    // FROM the written files with the shard recovered from the directory
    // name. Gate: o28's full per-window id strings PLUS the shard
    // arithmetic — a window in the wrong directory flips its row.
    "o29_pack_sharded" -> ((s, dir) =>
      graft.ops.Split.packTokensSharded(docs(s, dir), textCol = "text",
        idCol = "doc_id", ctxLen = 512, vocab = 32768, nShards = 4,
        outDir = Tables.scratch("graft_o29_" + Tables.dirTag(dir)))),

    // TEMPERATURE-SMOOTHED DOMAIN MIX (α = 0.5, the XLM/mT5 exponential
    // smoothing): per-source quotas ∝ √n_d to a 40% budget via capped
    // WATER-FILLING (the UniMax-style allocation — a tail whose √-boosted
    // share exceeds its size contributes all of itself, surplus flows to
    // unsaturated domains, Σ quota = K exactly) — then the deterministic
    // seeded per-domain selection. All-integer allocation (integer sqrt,
    // BIGINT saturation scan + remainders): bit-reproducible anywhere.
    "o15_temperature_mix" -> ((s, dir) =>
      graft.ops.Split.temperatureMix(
          docs(s, dir).select("doc_id", "source"), "source", "doc_id",
          budgetNum = 2, budgetDen = 5, seed = 13L)
        .groupBy("source")
        .agg(count(lit(1)).as("n_sel"), max("quota").as("quota"),
          max("n_domain").as("n_domain"), sum("doc_id").as("sum_ids"))),

    // TOKEN-budget domain mix — o15's water-filling in the unit mixtures
    // are actually specified in: per-source TOKEN budgets ∝ √(token
    // mass) to a 40% global token budget, each budget filled greedily by
    // quality (o13's cut, per domain). The curation endgame: how many
    // tokens of each domain, and WHICH documents carry them.
    "o16_token_domain_mix" -> ((s, dir) => {
      val ws = TextOps.tokens(col("text"))
      val d = docs(s, dir).select(col("doc_id"), col("source"),
          size(ws).cast("long").as("n_tokens"),
          round(TextOps.qualityScore(ws), 6).as("quality"))
        .withColumn("_ord", -col("quality"))
      graft.ops.Split.tokenBudgetMix(d, "source", "n_tokens", "_ord",
          "doc_id", budgetNum = 2, budgetDen = 5)
        .groupBy("source")
        .agg(count(lit(1)).as("n_docs_sel"), sum("n_tokens").as("tok_sel"),
          max("tok_budget").as("tok_budget"),
          max("tok_domain").as("tok_domain"))
    }),

    "o13_token_budget" -> ((s, dir) => {
      val ws = TextOps.tokens(col("text"))
      val d = docs(s, dir).select(col("doc_id"),
          size(ws).cast("int").as("n_tokens"),
          round(TextOps.qualityScore(ws), 6).as("quality"))
        .withColumn("_ord", -col("quality"))
      graft.ops.Split.globalCumSum(d, "n_tokens", "_ord", "doc_id")
        .filter(col("cum") <= 15000)
        .select(col("doc_id"), col("n_tokens"), col("quality"),
          col("cum").cast("long").as("cum_tokens"))
    }),

    "o8_pack_sequences" -> ((s, dir) => {
      val budget = 512
      val d = docs(s, dir).select(col("doc_id"), col("source"),
        size(TextOps.tokens(col("text"))).as("n_tokens"))
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy("source").orderBy(desc("n_tokens"), col("doc_id"))
        .rowsBetween(org.apache.spark.sql.expressions.Window.unboundedPreceding, 0)
      d.withColumn("cum", sum("n_tokens").over(w))
        .withColumn("bin",
          floor((col("cum") - col("n_tokens")) / lit(budget.toDouble)).cast("long"))
        .groupBy("source", "bin")
        .agg(count(lit(1)).as("n_docs"),
          sum("n_tokens").cast("long").as("sum_tokens"))
    }),

    // Verbatim-span duplication (the exact-substring dedup signal of
    // Lee et al. 2022, at a fixed 10-token operating point instead of a
    // suffix array): per doc, how many distinct 10-gram word spans also
    // appear verbatim in some other doc. Hash-first (the shuffle carries
    // longs, never span strings); shared-span detection is one partial-
    // aggregated groupBy; the attach back to docs is a keyed join. No
    // broadcast anywhere — at 100 TB the shared-span set is itself large.
    "d13_span_dup" -> ((s, dir) => Dedup.spanDupCounts(docs(s, dir), n = 10)),

    // Exact-substring span REMOVAL — the cleaned-corpus end state of the
    // Lee et al. chain (d13 finds the signal, c2 emits the result): every
    // duplicated 10-token span cut from all-but-one occurrence, the full
    // cleaned text hash-compared verbatim.
    "c2_cut_spans" -> ((s, dir) => Dedup.cutSpans(docs(s, dir), n = 10)),

    // DECONTAMINATION REMOVAL — the action d32's scan implies: the corpus
    // side (doc_id >= 50) rewritten with every 10-token window that also
    // occurs verbatim in the eval set (doc_id < 50) cut out, overlapping
    // windows merging into one run. No canonical keeper: the eval set
    // keeps its text by definition, every matching corpus occurrence is
    // cut. Gate: the eval-fingerprint join, the per-doc interval union,
    // and the kept-token reconstruction (c2's kernel, cross-corpus).
    "c9_decontam_clean" -> ((s, dir) =>
      Dedup.cutEvalSpans(
        docs(s, dir).filter(col("doc_id") >= LdsEvalSplit),
        docs(s, dir).filter(col("doc_id") < LdsEvalSplit), n = 10)),

    // ANY-LENGTH span removal — the Lee et al. production semantics ("cut
    // every duplicated run >= L tokens", their L=50) rather than c2's cut-
    // every-shared-window: same one shingle pass, but merged cut windows
    // are only removed when the merged run spans >= 30 tokens, so short
    // incidental repeats survive and long verbatim boilerplate disappears
    // wholesale. The d15 doubling ladder is the survey step that picks the
    // threshold; the kernel (CutSpansExpr min_run) does the interval union.
    "c4_cut_long_spans" -> ((s, dir) =>
      Dedup.cutLongSpans(docs(s, dir), n = 10, minRun = 30)),

    // SELF-TUNING span removal — c4 with the minRun threshold chosen from
    // the corpus itself: the d15 doubling ladder surveys verbatim-run
    // mass, the smallest rung affecting <= 5% of docs becomes minRun
    // (boilerplate is rare by definition; a rung eating more is cutting
    // idioms), then the c4 kernel removes at that operating point. At
    // sf0.01 the survey picks 40 (47/45/25 docs fire at 10/20/40 vs the
    // 25-doc cap). The chosen rung rides along as `min_run` so the gate
    // hashes the CHOICE as well as the cut.
    "c5_cut_spans_auto" -> ((s, dir) =>
      Dedup.cutSpansAuto(docs(s, dir), n = 10,
        ladder = Seq(10, 20, 40, 80), fracDen = 20L)),

    // Multi-n sweep over the same corpus in ONE tokenize/char-hash pass:
    // the practical step from a fixed n toward exact-substring dedup — a
    // span verbatim at n=40 is a much stronger duplication signal than one
    // at n=10, and the sweep bounds each doc's verbatim-run length.
    "d14_span_sweep" -> ((s, dir) =>
      Dedup.spanDupCountsSweep(docs(s, dir), ns = Seq(10, 20, 40))),

    // Doubling-ladder summary of the sweep: per doc, the largest width that
    // still fires bounds its longest verbatim run within 2x — the per-doc
    // number a decontamination pass thresholds on, still one text pass.
    "d15_max_dup_span" -> ((s, dir) => Dedup.maxDupSpan(docs(s, dir))),

    // GENERALIZED longest duplicate substring (suffix-array-class, Lee et
    // al. 2022): per cross-doc pair, the exact longest common token run —
    // arbitrary length (d15's ladder only brackets it within 2x).
    // Anchor-diagonal method: k-gram fingerprint anchors meet via an
    // equi-join; a shared L-token run = L−k+1 consecutive hits on one
    // (pair, diagonal); longest island + k−1 = L. Gate: the fingerprints,
    // the island fold, the +k−1 arithmetic, and the (len, start_a,
    // start_b) tie-breaks — an off-by-one anywhere shifts every row.
    "d31_longest_dup" -> ((s, dir) =>
      Dedup.longestDupSpan(docs(s, dir), k = LdsK, minLen = LdsMinLen,
        maxAnchorFreq = LdsMaxFreq)),

    // EVAL-SET DECONTAMINATION (the cross-corpus d31): per (corpus doc,
    // eval doc) pair, the exact longest shared token run — the scan that
    // decides whether a benchmark answer leaked into training data. The
    // corpus anchor side is pruned by a left-semi join against the eval
    // fingerprints BEFORE any wide work (the 100-TB shape: downstream
    // cost ∝ contamination candidates, not corpus size) and capped by
    // anchor frequency like d31. Gate: the semi-join pruning, the
    // corpus-side-only cap, the island fold, and the per-pair tie order.
    "d32_decontam" -> ((s, dir) =>
      Dedup.crossDupSpan(
        docs(s, dir).filter(col("doc_id") >= LdsEvalSplit),
        docs(s, dir).filter(col("doc_id") < LdsEvalSplit),
        k = LdsK, minLen = LdsMinLen, maxAnchorFreq = LdsMaxFreq)),

    // EVAL-SIDE DIRTINESS — the GPT-3 appendix-C dirty/clean split
    // metric: per eval document, how many of its 3-gram windows occur
    // anywhere in the training corpus, the integer coverage fraction,
    // and the dirty flag. d32 says which TRAINING docs to clean; this
    // says which BENCHMARK items are compromised — the row an eval
    // harness reads to publish results on the clean split. Gate: the
    // window counts, the per-position hit counting, the floor-division
    // fraction, and the flag.
    "d34_eval_dirtiness" -> ((s, dir) =>
      Dedup.evalDirtiness(
        docs(s, dir).filter(col("doc_id") < LdsEvalSplit),
        docs(s, dir).filter(col("doc_id") >= LdsEvalSplit), k = 3)),

    // exact-verify stage of the dedup funnel: Levenshtein on normalized
    // text over the LSH candidate pairs only (quadratic cost bounded by
    // the recall stage, never corpus-wide).
    "d18_editdist_verify" -> ((s, dir) =>
      Dedup.editDistanceVerify(docs(s, dir), maxRel = 0.3)),

    // the "show me the boilerplate" readout: top-10 most-shared 10-token
    // spans with one example occurrence's verbatim text (extracted only
    // for the winners — the heavy path never materializes span strings).
    "d17_top_spans" -> ((s, dir) =>
      Dedup.topSharedSpans(docs(s, dir), n = 10, topK = 10)),

    // Incremental dedup against a PERSISTED signature store — the
    // operational 100-TB shape: a production pipeline dedups a daily delta
    // against the existing corpus, not the corpus against itself. The
    // store build shingles the corpus ONCE and persists its LSH bucket
    // rows bucketed + sorted on the join key (band, band_key); the
    // incremental query then shingles ONLY the new batch and sort-merge
    // joins it against the bucket-aligned store read — zero re-shingling
    // of the old corpus and ZERO Exchange (and zero Sort) on the store
    // side; the only shuffle is the tiny delta aligning itself to the
    // store's bucketing (PlanAudit/PlanAuditSpec prove the plan shape).
    // Gate split: docs >= 50 are the standing corpus, docs < 50 the batch.
    "d20_incremental_dedup" -> ((s, dir) => {
      val store = standingSigs(buildSigStore(s, dir, "graft_sigstore_d20_"))
      val deltaB = sigBuckets(docs(s, dir).filter(col("doc_id") < 50))
        .select(col("band"), col("band_key"), col("doc_id").as("doc_new"))
      store.hint("merge").join(deltaB, Seq("band", "band_key"))
        .groupBy("doc_new", "doc_old")
        .agg(count(lit(1)).as("n_bands"))
    }),

    // The STREAMING face of d20: the new batch arrives as a stream and
    // LSH-probes the same persisted bucketed store via a stream-static
    // join. Per-row `graft_lsh_bands` computes each delta doc's band keys
    // with NO streaming aggregation (the signature is a pure function of
    // the text), so the probe is stateless — no watermark, no state store;
    // each micro-batch plans the bucket-aligned store read. Band matches
    // land in the sink and one batch rollup produces exactly d20's output
    // (same oracle) — continuous-ingest dedup against the standing corpus.
    "e9_stream_incremental" -> ((s, dir) => {
      val store = standingSigs(buildSigStore(s, dir, "graft_sigstore_e9_"))
      graft.streaming.StreamingWindows.withStatePartitions(s, 4) {
        val delta = Tables.docStream(s, dir)
          .filter(col("doc_id") < 50)
          .select(col("doc_id").as("doc_new"),
            posexplode(Dedup.lshBandsPerRow(col("text")))
              .as(Seq("band", "band_key")))
        val matches = delta.join(store, Seq("band", "band_key"))
        graft.streaming.StreamingWindows.runToMemory(matches, "e9_mem",
          org.apache.spark.sql.streaming.OutputMode.Append())
          .groupBy("doc_new", "doc_old")
          .agg(count(lit(1)).as("n_bands"))
      }
    }),

    // Store MAINTENANCE — the third leg of the incremental-dedup lifecycle
    // (d20 builds + probes the store, e9 probes it continuously, d21 folds
    // the probed delta INTO it so tomorrow's batch probes an up-to-date
    // corpus). The append repartitions the delta by the store's own bucket
    // hash, so rows land in the right buckets WITHOUT rewriting the
    // standing table, and subsequent probe joins stay Exchange-free on the
    // store side (each append defers the sorted-scan ordering to a periodic
    // compaction — Bucketing.appendBucketed documents the tradeoff). Gate:
    // the post-append store rollup must equal a full-corpus rebuild —
    // identical band populations prove no row was lost, duplicated, or
    // mis-bucketed by the append path.
    "d21_store_append" -> ((s, dir) => {
      val store = buildSigStore(s, dir, "graft_sigstore_d21_")
      graft.ops.Bucketing.appendBucketed(
        sigBuckets(docs(s, dir).filter(col("doc_id") < 50)),
        store.name("sig_bkt"), nBuckets = 8, keys = SigKeys)
      sigRollup(store)
    }),

    // The d21 maintenance leg as a STREAM — continuous store upkeep: the
    // delta arrives as a stream and each micro-batch's LSH bucket rows
    // are folded into the bucketed store through foreachBatch, where the
    // micro-batch is a BATCH frame (the full shingle→minhash→bucket chain
    // plus the bucket-hash-aligned append run unchanged per batch). Gate:
    // the post-stream rollup must hash-equal a full-corpus rebuild (d21's
    // oracle) — no row lost, duplicated, or mis-bucketed by the streaming
    // path either.
    "e11_stream_append" -> ((s, dir) => {
      val store = buildSigStore(s, dir, "graft_sigstore_e11_")
      graft.streaming.StreamingWindows.runPhase(
          Tables.docStream(s, dir).filter(col("doc_id") < 50), "e11") {
        (batch, _) =>
          graft.ops.Bucketing.appendBucketed(sigBuckets(batch),
            store.name("sig_bkt"), nBuckets = 8, keys = SigKeys)
      }
      // The appends ran in Spark's CLONED micro-batch session, so the
      // rollup reads the table after a refresh (Bucketing.Store.read).
      sigRollup(store)
    }),

    // e11 hardened to EXACTLY-ONCE under micro-batch replay. Structured
    // Streaming's contract after a restart is redelivery of the in-flight
    // micro-batch — same batchId, same rows — so an unguarded foreachBatch
    // append doubles the replayed batch. Here every append goes through the
    // committed-batchId ledger (Bucketing.appendBucketedExactlyOnce), and
    // the gate REPLAYS the stream's final micro-batch explicitly: the
    // ledger must turn the redelivery into a no-op, or the rollup below
    // double-counts every row of batch 0 and hash-misses the single-append
    // oracle (same oracle as d21/e11 — a full-corpus rebuild).
    "e12_exactly_once_append" -> ((s, dir) => {
      val store = buildSigStore(s, dir, "graft_sigstore_e12_")
      def append(batch: DataFrame, id: Long): Boolean =
        store.append("sig_bkt", nBuckets = 8, keys = SigKeys, id)(
          sigBuckets(batch))
      val last = graft.streaming.StreamingWindows.runPhase(
          Tables.docStream(s, dir).filter(col("doc_id") < 50), "e12") {
        (batch, id) => append(batch, id); ()
      }
      // Redeliver the last micro-batch (the restart-replay shape): the
      // returned false is the ledger skipping the duplicate append.
      require(!append(docs(s, dir).filter(col("doc_id") < 50), last),
        "ledger failed to suppress a replayed micro-batch")
      sigRollup(store)
    }),

    // THE PRODUCTION LOOP, composed end-to-end as ONE stream: each
    // micro-batch of arriving documents is quality-GATED (t16's Gopher
    // conjunction), dedup-PROBED against the standing signature store
    // (d20's criterion — ≥ 2 agreeing LSH bands against any standing
    // doc; intra-delta dups are the periodic batch fold's job, as in
    // d20/e9), and the survivors land in a curated doc store through
    // the exactly-once ledger (e12's replay suppression, re-proven here
    // by an explicit redelivery of the final micro-batch). Gate: the
    // curated store's per-lang rollup must hash-equal the batch
    // expression of the same policy — one doc wrongly gated, wrongly
    // matched, lost, or double-appended flips the rollup. Integer
    // columns only, so the gate needs no FP pinning.
    "e14_stream_curation" -> ((s, dir) => {
      val store = standingSigs(buildSigStore(s, dir, "graft_sigstore_e14_"))
      val cur = Tables.store(s, "graft_curated_e14_", dir)
      // Bootstrap the curated table's bucket layout with an empty slice so
      // every micro-batch append validates against one standing spec.
      cur.write(docs(s, dir).select("doc_id", "lang", "n_chars").limit(0),
        "docs_bkt", nBuckets = 8, keys = Seq("doc_id"))
      // The per-batch policy: Gopher gate, then the stateless store probe
      // (the e9 shape — band keys are a pure function of the text).
      def curate(batch: DataFrame): DataFrame = {
        // localCheckpoint: 'passed' feeds both the band derivation and
        // the anti-join — without it each micro-batch's files are
        // re-scanned and the gate re-evaluated twice per append. Eager
        // and lineage-cutting; blocks are ContextCleaner-owned.
        val passed = batch.filter(TextOps.gopherPass(col("text")))
          .localCheckpoint()
        val bands = passed.select(col("doc_id"),
          posexplode(Dedup.lshBandsPerRow(col("text")))
            .as(Seq("band", "band_key")))
        val dup = bands.join(store, Seq("band", "band_key"))
          .groupBy("doc_id", "doc_old").agg(count(lit(1)).as("nb"))
          .filter(col("nb") >= 2).select("doc_id").distinct()
        passed.join(dup, Seq("doc_id"), "left_anti")
          .select(col("doc_id"), col("lang"), col("n_chars"))
      }
      def append(b: DataFrame, id: Long): Boolean =
        cur.append("docs_bkt", nBuckets = 8, keys = Seq("doc_id"), id)(
          curate(b))
      val last = graft.streaming.StreamingWindows.runPhase(
          Tables.docStream(s, dir).filter(col("doc_id") < 50), "e14") {
        (batch, id) => append(batch, id); ()
      }
      require(!append(docs(s, dir).filter(col("doc_id") < 50), last),
        "ledger failed to suppress a replayed micro-batch")
      cur.read("docs_bkt")
        .groupBy("lang")
        .agg(count(lit(1)).as("n_docs"), sum("doc_id").as("sum_ids"),
          sum("n_chars").as("sum_chars"))
    }),

    // STREAMING DECONTAMINATION — d32 finds and c9 cuts at rest; a
    // production pipeline decontaminates ON INGEST, before anything
    // contaminated ever lands in the corpus store. The eval-fingerprint
    // set (bounded by the benchmark) is extracted ONCE and persisted as
    // the STATIC side; each arriving micro-batch of corpus docs runs the
    // c9 cut kernel against it (stream-static keyed join + codegen'd
    // interval-union rewrite) and the cleaned per-doc rows land in a
    // bucketed store through the e12 exactly-once ledger, re-proven here
    // by an explicit redelivery of the final micro-batch. Gate: the
    // store's per-doc (n_tokens, n_kept, n_cuts) rows must hash-equal
    // the BATCH expression of the same policy (c9's oracle minus the
    // cleaned text) — one doc wrongly cut, lost, or double-appended
    // flips its row.
    "e19_stream_decontam" -> ((s, dir) => {
      val evalFp = graft.engine.Caches.persisted(Dedup.evalFingerprints(
        docs(s, dir).filter(col("doc_id") < LdsEvalSplit), n = 10))
      val cur = Tables.store(s, "graft_decontam_e19_", dir)
      def clean(batch: DataFrame): DataFrame =
        Dedup.cutEvalSpansAgainst(batch, evalFp, n = 10)
          .select(col("doc_id"), col("n_tokens"), col("n_kept"),
            col("n_cuts"))
      // Bootstrap the bucket layout with an empty slice so every
      // micro-batch append validates against one standing spec.
      cur.write(clean(docs(s, dir).limit(0)), "clean_bkt", nBuckets = 8,
        keys = Seq("doc_id"))
      def append(b: DataFrame, id: Long): Boolean =
        cur.append("clean_bkt", nBuckets = 8, keys = Seq("doc_id"), id)(
          clean(b))
      val last = graft.streaming.StreamingWindows.runPhase(
          Tables.docStream(s, dir).filter(col("doc_id") >= LdsEvalSplit),
          "e19") {
        (batch, id) => append(batch, id); ()
      }
      require(!append(docs(s, dir).filter(col("doc_id") >= LdsEvalSplit),
        last), "ledger failed to suppress a replayed micro-batch")
      cur.read("clean_bkt")
        .select("doc_id", "n_tokens", "n_kept", "n_cuts")
    }),

    // STREAMING SEQUENCE PACKING — o26's concat-and-chunk contract under
    // CONTINUOUS ingest: each micro-batch emits its o27 segment manifest
    // shifted by the CARRY (the token offset the stream has packed to so
    // far — one scalar of cross-batch state), so a context window left
    // partial at a batch boundary is CONTINUED by the next batch's first
    // segments, never padded or restarted. Manifests land bucketed by
    // window id through the e12 exactly-once ledger (final batch replayed
    // — must be a no-op; a double-append would double every boundary
    // window's segments), and the report is a zero-exchange rollup of the
    // bucketed store. Gate: the rollup must hash-equal BATCH o26 over the
    // whole corpus — the stream and the batch engine must agree on every
    // window to the token.
    "e20_stream_pack" -> ((s, dir) => {
      val cur = Tables.store(s, "graft_pack_e20_", dir)
      cur.write(
        graft.ops.Split.packManifest(docs(s, dir).limit(0), "text",
          "doc_id", 512),
        "seg_bkt", nBuckets = 8, keys = Seq("bin_id"))
      // Cross-batch state machine: graft.streaming.PackingStream (the
      // ADVICE-r17 hardening, redelivery-tested in ExactlyOnceSpec) —
      // ledger keyed on the phase id, carry advanced only on a real
      // append.
      var st = graft.streaming.PackingStream.Fresh
      def pack(batch: DataFrame, id: Long): Unit = {
        val m = graft.engine.Caches.persisted(
          graft.ops.Split.packManifest(batch, "text", "doc_id", 512,
            st.carry))
        st = graft.streaming.PackingStream.step(m, cur.name("seg_bkt"),
          nBuckets = 8, ledgerDir = cur.ledger(), ledgerId = id, st = st)
      }
      graft.streaming.StreamingWindows.runPhase(
        docWindow(s, dir, 0L, 250L), "e20a", 0)(pack)
      graft.streaming.StreamingWindows.runPhase(
        docWindow(s, dir, 250L, Long.MaxValue), "e20b", 1)(pack)
      // Redeliver the final micro-batch under its committed ledger id:
      // the append must be suppressed (a deliberately WRONG offset rides
      // the replay, so a ledger failure corrupts a window and flips the
      // hash instead of passing silently).
      val replayed = cur.append("seg_bkt", nBuckets = 8,
          keys = Seq("bin_id"), st.lastLedgerId)(
        graft.ops.Split.packManifest(
          docs(s, dir).filter(col("doc_id") >= 250L), "text", "doc_id",
          512))
      require(!replayed, "ledger failed to suppress a replayed micro-batch")
      cur.read("seg_bkt")
        .groupBy("bin_id")
        .agg(count(lit(1)).as("n_docs"), sum("len").as("n_tokens"),
          min("doc_id").as("first_doc"), max("doc_id").as("last_doc"))
    }),

    // STREAMING CONTAINMENT PROBE — d35's excerpt/boilerplate signal on
    // INGEST (the duplication that arrives continuously): the capped
    // distinct window-hash store is built ONCE over the corpus (bucketed
    // on the hash — the store side of every per-batch probe join stays
    // Exchange-free), each arriving micro-batch explodes its docs'
    // per-row window hashes (a pure function of the text — e9's
    // stateless stream-static pattern: no watermark, no state store) and
    // probes the store; matched pairs land in the sink and ONE batch
    // pass runs d35's verify tail over the collected candidates. Gate:
    // the result must hash-equal BATCH d35 over the same corpus (same
    // oracle text) — the stream may neither miss a candidate pair
    // (a dropped match loses a containment row) nor invent one that
    // survives verification differently.
    "e21_stream_containment" -> ((s, dir) => {
      val st = Tables.store(s, "graft_contstore_e21_", dir)
      st.write(
        Dedup.cappedWindowOcc(Dedup.windowOcc(docs(s, dir), 10), 64)
          .select(col("h"), col("doc_id").as("doc_old")),
        "win_bkt", nBuckets = 8, keys = Seq("h"))
      val store = st.read("win_bkt")
      graft.streaming.StreamingWindows.withStatePartitions(s, 4) {
        val delta = Tables.docStream(s, dir)
          .select(col("doc_id").as("doc_new"),
            explode(Dedup.windowHashesPerRow(col("text"), 10)).as("h"))
        val matches = delta.join(store, Seq("h"))
          .filter(col("doc_new") =!= col("doc_old"))
          .select("doc_new", "doc_old")
        val cand = graft.streaming.StreamingWindows.runToMemory(
          matches, "e21_mem",
          org.apache.spark.sql.streaming.OutputMode.Append())
          .select(least(col("doc_new"), col("doc_old")).as("doc_a"),
            greatest(col("doc_new"), col("doc_old")).as("doc_b"))
          .distinct()
        Dedup.relations(Dedup.scored(docs(s, dir), cand))
      }
    }),

    // CONTAINMENT-GUARDED INGEST — the action e21's probe implies (the
    // c-family contract on the streaming side: e21 scans arriving docs
    // for containment, e22 ACTS before anything lands): per micro-batch,
    // arrivals are probed against the STANDING corpus' capped window-hash
    // store, the candidate pairs run c10's verify tail, and each arrival
    // is decided — QUARANTINED with full provenance if it is mostly
    // inside some standing doc (cont ≥ 0.8, jaccard < 0.8 — an arrival
    // that CONTAINS a standing doc still lands: longer new versions are
    // content, not duplication), else LANDED. Decisions append to one
    // bucketed store through the e12 exactly-once ledger (final batch
    // replayed — must be a no-op) and the readout is the STORE, not the
    // plan. Gate: the batch expression of the same policy — a wrongly
    // quarantined/landed arrival, lost provenance, or double-appended
    // decision flips its row.
    "e22_containment_ingest" -> ((s, dir) => {
      val standing = graft.engine.Caches.persisted(
        docs(s, dir).filter(col("doc_id") >= LdsEvalSplit))
      val store = Tables.store(s, "graft_ingest_e22_", dir)
      // Standing capped window-hash store (the e21 probe side, standing
      // slice only — the cap is a property of the standing corpus).
      store.write(
        Dedup.cappedWindowOcc(Dedup.windowOcc(standing, 10), 64)
          .select(col("h"), col("doc_id").as("doc_b")),
        "win_bkt", nBuckets = 8, keys = Seq("h"))
      val winStore = store.read("win_bkt")
      // Decision store: one row per arrival, landed or quarantined.
      def decide(batch: DataFrame): DataFrame =
        arrivalDecisions(batch, standing.unionByName(batch), winStore)
      store.write(decide(docs(s, dir).limit(0)), "ingest_bkt", nBuckets = 8,
        keys = Seq("doc_id"))
      def append(b: DataFrame, id: Long): Boolean =
        store.append("ingest_bkt", nBuckets = 8, keys = Seq("doc_id"), id)(
          decide(b))
      val last = graft.streaming.StreamingWindows.runPhase(
          Tables.docStream(s, dir).filter(col("doc_id") < LdsEvalSplit),
          "e22") {
        (batch, id) => append(batch, id); ()
      }
      require(!append(docs(s, dir).filter(col("doc_id") < LdsEvalSplit),
        last), "ledger failed to suppress a replayed micro-batch")
      store.read("ingest_bkt")
        .select("doc_id", "landed", "keeper_id", "n_containers",
          "max_cont_e6")
    }),

    // SELF-EXTENDING containment ingest — closes e22's build-once seam
    // (an arrival that is an excerpt of an EARLIER ARRIVAL sailed
    // through, because landed arrivals never joined the standing
    // window-hash store): after each ingest window, the landed arrivals'
    // capped window hashes are d21-appended INTO the store under the same
    // exactly-once ledger discipline, so the next window's probe sees
    // standing ∪ previously-landed — and each extension is followed by an
    // IN-PLACE compaction of win_bkt (the b7 rewrite under the store's
    // own name), so the next window's decide reads one file per bucket
    // instead of one more file per bucket per extension forever (the r19
    // retention gap). Two explicit windows (the e20 phase
    // pattern — phase-disambiguated ledger ids): A = doc_id [0,25),
    // B = [25,50), with every fifth B arrival REPLACED by a 30-token
    // excerpt of its (doc_id−25) phase-A neighbor — the quote-an-earlier-
    // arrival shape that MUST quarantine here and provably lands under
    // e22's standing-only policy. The decision store is then COMPACTED
    // back to one file per bucket (b7's lifecycle on the ingest store —
    // every append added a file per touched bucket) and the readout is
    // the COMPACTED store: a compaction that loses, duplicates, or
    // mis-buckets one decision flips its row. Gate: the sequential batch
    // replay of the same policy — each window decided against standing ∪
    // previously-landed, caps computed per appended slice.
    "e23_containment_ingest_ext" -> ((s, dir) => {
      val base = docs(s, dir)
      val standing = graft.engine.Caches.persisted(
        base.filter(col("doc_id") >= LdsEvalSplit))
      // Phase-B excerpt rewrite (the d22 deliberate-corpus discipline):
      // ids 27/32/37/42/47 become 30-token excerpts of ids 2/7/12/17/22.
      // Persisted: mutate() joins this frame once per ingest window plus
      // the replay probe — unpersisted, every window re-scanned the base
      // corpus and re-ran the regex tokenize (the e24 exSrc fix, r21).
      val exSrc = graft.engine.Caches.persisted(
        base.filter(col("doc_id") < 25)
          .select((col("doc_id") + 25).as("doc_id"),
            array_join(slice(split(lower(col("text")), "\\s+"), 1, 30), " ")
              .as("_ex")))
      def mutate(b: DataFrame): DataFrame =
        b.join(exSrc, Seq("doc_id"), "left")
          .withColumn("text",
            when(col("doc_id") % 5 === 2 && col("_ex").isNotNull, col("_ex"))
              .otherwise(col("text")))
          .drop("_ex")
      val arrAll = graft.engine.Caches.persisted(
        mutate(base.filter(col("doc_id") < LdsEvalSplit)))
      val store = Tables.store(s, "graft_ingest_e23_", dir)
      // Standing capped window-hash store (e22's build; the cap is a
      // property of each appended slice — standing here, each window's
      // landed arrivals below).
      graft.engine.PhaseTimer.time("build") {
        store.write(
          Dedup.cappedWindowOcc(Dedup.windowOcc(standing, 10), 64)
            .select(col("h"), col("doc_id").as("doc_b")),
          "win_bkt", nBuckets = 8, keys = Seq("h"))
      }
      // Decide against the CURRENT store — resolved fresh per batch, so
      // each window's probe sees every extension committed before it.
      def decide(batch0: DataFrame): DataFrame = {
        // Persisted: the window's mutated batch feeds the candidate
        // explode AND the final doc_id join — unpersisted, each re-read
        // the micro-batch source and re-ran the mutate join (guide §1.2).
        val batch = graft.engine.Caches.persisted(mutate(batch0))
        arrivalDecisions(batch, standing.unionByName(arrAll),
          store.read("win_bkt"))
      }
      store.write(decide(base.limit(0)), "ingest_bkt", nBuckets = 8,
        keys = Seq("doc_id"))
      def append(b: DataFrame, id: Long): Boolean =
        store.append("ingest_bkt", nBuckets = 8, keys = Seq("doc_id"), id)(
          decide(b))
      def ingest(b: DataFrame, id: Long): Unit = { append(b, id); () }
      // Store EXTENSION: the window's landed arrivals (read back from the
      // COMMITTED decision store — the loop is driven by what actually
      // landed, not by in-memory state), their capped window hashes
      // appended under the extension ledger.
      def extend(lo: Long, hi: Long, id: Long): Boolean = {
        val appended = store.append("win_bkt", nBuckets = 8, keys = Seq("h"),
            id, ledger = "extend") {
          val landed = store.read("ingest_bkt")
            .filter(col("landed") && col("doc_id") >= lo && col("doc_id") < hi)
            .select("doc_id")
          Dedup.cappedWindowOcc(
              Dedup.windowOcc(arrAll.join(landed, Seq("doc_id")), 10), 64)
            .select(col("h"), col("doc_id").as("doc_b"))
        }
        // COMPACT the self-extending store back to one file per bucket
        // under its own name (the b7 in-place rewrite applied to win_bkt —
        // without it every extension leaves one more file per touched
        // bucket FOREVER, and each window's probe pays an ever-deeper
        // per-bucket merge): the NEXT window's decide reads the compacted
        // store. A suppressed replay appended nothing, so it compacts
        // nothing.
        if (appended)
          graft.ops.Bucketing.rewriteBucketedInPlace(s, store.db, "win_bkt",
            Seq("h"), 8)(identity)
        appended
      }
      graft.engine.PhaseTimer.time("stream") {
        graft.streaming.StreamingWindows.runPhase(
          docWindow(s, dir, 0L, 25L), "e23a", 0)(ingest)
      }
      graft.engine.PhaseTimer.time("extend") {
        require(extend(0L, 25L, 0L), "phase-A store extension did not append")
      }
      val last = graft.engine.PhaseTimer.time("stream") {
        graft.streaming.StreamingWindows.runPhase(
          docWindow(s, dir, 25L, LdsEvalSplit), "e23b", 1)(ingest)
      }
      graft.engine.PhaseTimer.time("extend") {
        require(extend(25L, LdsEvalSplit, 1L),
          "phase-B store extension did not append")
      }
      // Replay probes: the final ingest window AND the phase-A extension
      // redelivered under their committed ids must both be suppressed (the
      // extension replay would double every landed-A store row, and the
      // ingest replay rides a full-arrival-set batch whose decisions
      // would flip rows if appended).
      require(!append(base.filter(col("doc_id") < LdsEvalSplit), last),
        "ledger failed to suppress a replayed ingest window")
      require(!extend(0L, 25L, 0L),
        "ledger failed to suppress a replayed store extension")
      // Compaction leg: every append left a file per touched bucket;
      // compact back to one file per bucket and read the RESULT from the
      // compacted store (BucketingSpec pins the file counts).
      graft.engine.PhaseTimer.time("compact") {
        graft.ops.Bucketing.compactBucketed(s,
          store.dir("ingest_bkt").toString, store.fresh("ingest_cmp"),
          nBuckets = 8, keys = Seq("doc_id"))
      }
      store.read("ingest_cmp")
        .select("doc_id", "landed", "keeper_id", "n_containers",
          "max_cont_e6")
    }),

    // BATCH↔STREAM CURATION PARITY — the seam c12 and e14 leave open:
    // c12 composes the batch curation funnel, e14 streams a subset of its
    // legs, and nothing pinned the two pipelines to EACH OTHER — the
    // place where micro-batch boundaries silently change drop decisions.
    // Here c12's corpus is streamed through THREE id-ordered ingest
    // windows ([50,150), [150,300), [300,∞) — the e20/e23 phase pattern),
    // each window's per-doc stage decisions made against window ∪
    // accumulated store and appended exactly-once into a bucketed
    // decision store:
    //  - gopher: per-row, stateless — boundary-invariant by construction;
    //  - exact-collapse: keep iff the text is unseen among the store's
    //    keepers AND the doc is the min id for that text within its own
    //    window — equal to the batch min-id collapse BECAUSE windows
    //    arrive in ascending id order (the first window holding a text
    //    holds its global-min id);
    //  - decontam: anti-join against the STATIC eval fingerprints —
    //    stateless.
    // The containment stage is deliberately NOT decided per window: its
    // policy is symmetric (the SHORTER side drops regardless of arrival
    // order), so a per-window irrevocable decision is order-dependent by
    // construction — the honest streaming answer is decide-at-compaction:
    // one batch containment pass over the accumulated stage-3 survivors,
    // then the pack. A replay probe re-delivers the last window under its
    // committed id (must be suppressed). The readout is c12's EXACT
    // one-row funnel contract computed FROM THE STORE — the oracle is
    // c12's oracle verbatim: one decision changed by a window boundary,
    // one row lost or doubled by the appends, and the funnel flips.
    "e24_curation_parity" -> ((s, dir) => {
      val all = docs(s, dir)
      // Persisted: mutate() joins this frame once per ingest window (and
      // once more for the replay probe) — unpersisted, every window paid
      // a fresh full-corpus scan + regex tokenization just to rebuild the
      // same excerpt table (guide §1.2).
      val exSrc = graft.engine.Caches.persisted(
        all.select((col("doc_id") - 1).as("doc_id"),
          array_join(slice(split(lower(col("text")), "\\s+"), 1, 30), " ")
            .as("_ex")))
      def mutate(b: DataFrame): DataFrame =
        b.join(exSrc, Seq("doc_id"), "left")
          .withColumn("text",
            when(col("doc_id") % 10 === 3 && col("_ex").isNotNull,
              col("_ex")).otherwise(col("text")))
          .select("doc_id", "text")
      val evalFp = graft.engine.Caches.persisted(Dedup.evalFingerprints(
        all.filter(col("doc_id") < LdsEvalSplit), 10))
      val store = Tables.store(s, "graft_cur_e24_", dir)
      // Per-window stage decisions against window ∪ accumulated store.
      def decide(batch0: DataFrame): DataFrame = {
        // Persisted: b1 feeds THREE consumers inside the window's one
        // decide job (the text-keyed min, the decontam explode, and the
        // final join) — unpersisted, each re-read the micro-batch source
        // and re-ran the mutate join + gopher regex gate (guide §1.2).
        val b1 = graft.engine.Caches.persisted(
          mutate(batch0).filter(TextOps.gopherPass(col("text"))))
        val keepers = store.read("stage_bkt")
          .filter(col("exact_kept")).select("text").distinct()
          .withColumn("_seen", lit(true))
        val minIn = b1.groupBy("text").agg(min("doc_id").as("_min_id"))
        val dirty = b1.select(col("doc_id"),
            explode(Dedup.windowHashesPerRow(col("text"), 10)).as("h"))
          .join(evalFp, Seq("h"))
          .select("doc_id").distinct().withColumn("_dirty", lit(true))
        b1.join(minIn, Seq("text"))
          .join(keepers, Seq("text"), "left")
          .join(dirty, Seq("doc_id"), "left")
          .select(col("doc_id"), col("text"),
            (col("_seen").isNull && col("doc_id") === col("_min_id"))
              .as("exact_kept"),
            col("_dirty").isNull.as("decontam_kept"))
      }
      // Schema seed WITHOUT reading the store (decide() consults the
      // store's keepers, and the table doesn't exist yet).
      store.write(
        mutate(all.limit(0)).withColumn("exact_kept", lit(true))
          .withColumn("decontam_kept", lit(true)),
        "stage_bkt", nBuckets = 8, keys = Seq("doc_id"))
      // The decisions are built inside the exactly-once step, so a
      // replayed window pays no (discarded) decide pass; they are PINNED
      // against the PRE-append store before the write touches that same
      // store (the read side must never observe files its own append is
      // creating).
      def append(b: DataFrame, id: Long): Boolean =
        store.append("stage_bkt", nBuckets = 8, keys = Seq("doc_id"), id)(
          decide(b).localCheckpoint())
      def ingest(b: DataFrame, id: Long): Unit = { append(b, id); () }
      graft.engine.PhaseTimer.time("stream") {
        graft.streaming.StreamingWindows.runPhase(
          docWindow(s, dir, LdsEvalSplit, 150L), "e24a", 0)(ingest)
        graft.streaming.StreamingWindows.runPhase(
          docWindow(s, dir, 150L, 300L), "e24b", 1)(ingest)
        val last = graft.streaming.StreamingWindows.runPhase(
          docWindow(s, dir, 300L, Long.MaxValue), "e24c", 2)(ingest)
        // Replay probe: the last committed window redelivered under its id
        // (with the decisions recomputed against the post-advance store —
        // deliberately wrong, exactly what a restart does) must not append.
        require(!append(all.filter(col("doc_id") >= 300L), last),
          "ledger failed to suppress a replayed ingest window")
      }
      // The decision store accreted one file per touched bucket per
      // window; compact it IN PLACE (the e23 win_bkt discipline) so the
      // decide tail — and every later consumer — reads one file per
      // bucket. "Decide at compaction" is then literal: the containment
      // pass runs over the store the compaction just rewrote.
      graft.engine.PhaseTimer.time("compact") {
        graft.ops.Bucketing.rewriteBucketedInPlace(s, store.db, "stage_bkt",
          Seq("doc_id"), 8)(identity)
      }
      // Decide-at-compaction tail over the accumulated store: one batch
      // containment pass over the stage-3 survivors, then the pack —
      // c12's stages 4-5.
      val stages = graft.engine.Caches.persisted(store.read("stage_bkt")
        .select("doc_id", "text", "exact_kept", "decontam_kept"))
      val (s3, tail) = graft.engine.PhaseTimer.time("tail") {
        val s3x = stages.filter(col("exact_kept") && col("decontam_kept"))
          .select("doc_id", "text")
          .localCheckpoint()
        (s3x, containmentPackFunnel(s3x))
      }
      all.filter(col("doc_id") >= LdsEvalSplit)
        .agg(count(lit(1)).as("n_total"))
        .crossJoin(stages.agg(count(lit(1)).as("after_gopher")))
        .crossJoin(stages.filter(col("exact_kept"))
          .agg(count(lit(1)).as("after_exact")))
        .crossJoin(s3.agg(count(lit(1)).as("after_decontam")))
        .crossJoin(tail)
    }),

    // SKEW-HARDENED dedup — the LSH chain under a deliberately viral span:
    // 30% of the corpus is REPLACED by one shared boilerplate block, so
    // those docs' signatures agree in every band and each band's hot
    // (band, band_key) bucket holds 30% of the corpus — the worst-case
    // hot-bucket shape a licence footer produces at 100 TB. The pair join
    // runs through the UNIFIED salted path (hot-only by default: the
    // bucket histogram's auto threshold routes just the viral buckets
    // through salting, engaged at plan time, not left to AQE), and the
    // oracle is the PLAIN join over the same skewed corpus — hash
    // equality proves salting changes the task layout, never the result.
    "d22_skewed_dedup" -> ((s, dir) => {
      val skewed = docs(s, dir).withColumn("text",
        when(col("doc_id") % 10 < 3, lit(Boilerplate)).otherwise(col("text")))
      Dedup.candidatePairs(
          Dedup.lshBuckets(Dedup.minhashSignatures(Dedup.shingleHashes(skewed))),
          Dedup.Hot(salts = 8))
        .groupBy("doc_a")
        .agg(count(lit(1)).as("n_pairs"), sum("doc_b").as("sum_b"),
          max("n_bands").as("max_bands"))
    }),

    // d22's skew scenario through the HOT-ONLY salted path — the 100 TB
    // form: the bucket histogram routes only the viral buckets (> 50
    // rows here; each holds 30% of the corpus) through salting, the long
    // tail takes the plain keyed join, and the union must STILL
    // hash-equal the plain join over everything. Build-side replication
    // shrinks from salts × corpus to salts × hot-slice.
    "d23_salted_hot" -> ((s, dir) => {
      val skewed = docs(s, dir).withColumn("text",
        when(col("doc_id") % 10 < 3, lit(Boilerplate)).otherwise(col("text")))
      Dedup.candidatePairs(
          Dedup.lshBuckets(Dedup.minhashSignatures(Dedup.shingleHashes(skewed))),
          Dedup.Hot(salts = 8, threshold = Some(50L)))
        .groupBy("doc_a")
        .agg(count(lit(1)).as("n_pairs"), sum("doc_b").as("sum_b"),
          max("n_bands").as("max_bands"))
    }),

    // PRE-DEDUP GUARD — d22's viral corpus through the exact-dedup →
    // LSH composition (one declared operator, not a prose
    // recommendation): identical texts collapse to one multiplicity-
    // carrying representative BEFORE pair enumeration, so the viral 30%
    // contributes ONE doc to the LSH stage and the pair set stays linear
    // in distinct texts — d22/d23 carry near-dup skew; this removes
    // exact-dup skew at the source. Gate: the exact collapse (keeper =
    // min doc_id, copy counts), the rep-only LSH chain, and the
    // multiplicity attach on both pair sides.
    "d33_guarded_dedup" -> ((s, dir) => {
      val skewed = docs(s, dir).withColumn("text",
        when(col("doc_id") % 10 < 3, lit(Boilerplate)).otherwise(col("text")))
      Dedup.guardedCandidatePairs(skewed)
        .groupBy("doc_a")
        .agg(count(lit(1)).as("n_pairs"), sum("doc_b").as("sum_b"),
          max("n_bands").as("max_bands"), max("copies_a").as("copies_a"),
          sum("copies_b").as("sum_copies_b"))
    }),

    // The FULL multi-batch lifecycle — e9/d20/d21 each gate one leg; this
    // gates the loop closing: ingest batch 1 (doc_id in [100,200)) probes
    // the standing store (doc_id >= 200), its bucket rows are d21-appended
    // INTO the store, then batch 2 (doc_id < 100) probes the UPDATED store
    // via a freshly planned stream-static join. The oracle demands the
    // batch2-vs-batch1 collision pairs — matches that exist ONLY if the
    // append actually lands in the bucket layout the next probe reads
    // (e.g. docs (87,134) and (61,185) at sf0.01), so a lost, duplicated,
    // or mis-bucketed append row flips the rollup. Each probe is the e9
    // stateless stream-static shape; the final union is band-level rows
    // from both probes rolled up once.
    "e10_multibatch_lifecycle" -> ((s, dir) => {
      val store = buildSigStore(s, dir, "graft_sigstore_e10_", minDocId = 200)
      def probe(lo: Long, hi: Long): DataFrame =
        graft.streaming.StreamingWindows.withStatePartitions(s, 4) {
          val delta = docWindow(s, dir, lo, hi)
            .select(col("doc_id").as("doc_new"),
              posexplode(Dedup.lshBandsPerRow(col("text")))
                .as(Seq("band", "band_key")))
          // Re-read the table INSIDE the probe so the second probe plans
          // against the post-append file listing, not a stale snapshot.
          graft.streaming.StreamingWindows.runToMemory(
            delta.join(standingSigs(store), Seq("band", "band_key")),
            "e10_mem", org.apache.spark.sql.streaming.OutputMode.Append())
        }
      val batch1Matches = probe(100, 200)
      graft.ops.Bucketing.appendBucketed(sigBuckets(
          docs(s, dir).filter(col("doc_id") >= 100 && col("doc_id") < 200)),
        store.name("sig_bkt"), nBuckets = 8, keys = SigKeys)
      val batch2Matches = probe(0, 100)
      batch1Matches.union(batch2Matches)
        .groupBy("doc_new", "doc_old")
        .agg(count(lit(1)).as("n_bands"))
    }),

    // STREAMING SNAPSHOT-STORE INGEST — s13's transactional core under
    // continuous arrival: each micro-batch COMMITS one version (the
    // single manifest rename publishes that batch's whole file set
    // atomically — a reader never sees half a batch), and every version
    // stays readable afterward. Gate: the per-version rollups — v1 must
    // equal exactly batch 1's rows even though v2 landed after it, and
    // v2 the union; a leaked, lost, or double-published file flips a
    // checksum.
    "e18_stream_snapshot" -> ((s, dir) => {
      val store = Tables.scratch("e18_snap_" + Tables.dirTag(dir))
      graft.io.SnapshotStore.reset(store)
      var versions = List.empty[Int]
      def commit(batch: DataFrame, id: Long): Unit =
        versions ::= graft.io.SnapshotStore.commit(
          batch.select("doc_id", "n_chars"), store)
      val stream = Tables.docStream(s, dir)
      graft.streaming.StreamingWindows.runPhase(
        stream.filter(pmod(col("doc_id"), lit(2)) === 0), "e18a", 0)(commit)
      graft.streaming.StreamingWindows.runPhase(
        stream.filter(pmod(col("doc_id"), lit(2)) === 1), "e18b", 1)(commit)
      versions.sorted.map { v =>
        graft.io.SnapshotStore.readVersion(s, store, v)
          .agg(count(lit(1)).as("n_docs"), sum("doc_id").as("sum_ids"),
            sum("n_chars").as("sum_chars"))
          .select(lit(v).as("version"), col("n_docs"), col("sum_ids"),
            col("sum_chars"))
      }.reduce(_ unionByName _)
    }),

    // STREAMING HEAVY HITTERS — the t5 frequent-tokens report under
    // CONTINUOUS ingest: a bounded SpaceSaving sketch (m = 16 rows over a
    // 31-token vocabulary, so eviction and floor-credit re-entry really
    // happen at every SF) is the cross-batch state, folded per micro-batch
    // by ops/HeavyHitters.mergeSpaceSaving. The gate hashes the SKETCH
    // STATE itself — counts, errors, membership — against the oracle's
    // replay of the same merge algebra, plus the classic bound booleans
    // vs exact corpus counts.
    "e17_stream_topk" -> ((s, dir) => {
      var state: DataFrame = null
      var floor = 0L
      def fold(batch: DataFrame, id: Long): Unit = {
        val bc = batch
          .select(explode(TextOps.tokens(col("text"))).as("token"))
          .groupBy("token").agg(count(lit(1)).as("bc"))
        val st =
          if (state != null) state
          else bc.select(col("token"), lit(null).cast("long").as("cnt"),
            lit(null).cast("long").as("err")).limit(0)
        val (ns, nf) = graft.ops.HeavyHitters.mergeSpaceSaving(
          st, floor, bc, m = 16)
        state = ns; floor = nf
      }
      val stream = Tables.docStream(s, dir)
      graft.streaming.StreamingWindows.runPhase(
        stream.filter(pmod(col("doc_id"), lit(2)) === 0), "e17a", 0)(fold)
      graft.streaming.StreamingWindows.runPhase(
        stream.filter(pmod(col("doc_id"), lit(2)) === 1), "e17b", 1)(fold)
      val exact = docs(s, dir)
        .select(explode(TextOps.tokens(col("text"))).as("token"))
        .groupBy("token").agg(count(lit(1)).as("true_cnt"))
      state.join(exact, "token")
        .select(col("token"), col("cnt"), col("err"), col("true_cnt"),
          (col("cnt") >= col("true_cnt")).as("ok_hi"),
          (col("cnt") - col("err") <= col("true_cnt")).as("ok_lo"))
    }),

    // SimHash-family cluster resolution. Gate operating point is
    // maxHamming = 0: hamming-0 components are exactly simhash-equality
    // classes, so the oracle is a plain GROUP BY (no recursive closure —
    // the round-2 trap where a 16-bit-prefix graph made the transitive
    // closure quadratic). The Spark side still runs the real
    // min-label-propagation loop; wider radii share that code path and
    // are spec-covered (DedupTextSpec).
    "d9_simhash_clusters" -> ((s, dir) =>
      Dedup.simhashClusters(docs(s, dir), maxHamming = 0)),

    // Wider-radius operating point (hamming <= 3, 16-bit prefix blocking),
    // gated on a bounded sub-corpus (doc_id < 200) so the oracle's
    // recursive-CTE transitive closure stays tractable at every SF — the
    // full-corpus closure is the round-2 quadratic trap. The Spark side
    // runs the identical production path (simhash -> blocked hamming join
    // -> min-label propagation); only the input is narrowed, via a filter
    // that pushes down to the parquet scan.
    "d10_simhash_clusters_r3" -> ((s, dir) =>
      Dedup.simhashClusters(docs(s, dir).filter(col("doc_id") < 200),
        maxHamming = 3)),

    // The capstone corpus-cleaning pipeline, composed from the operator
    // library: drop near-dup non-keepers (anti-join against d8's cluster
    // map), keep docs whose quality clears the bar and whose predicted
    // language agrees with the label. Per-row quality/langid arithmetic is
    // bit-identical across engines (no aggregation inside the predicate).
    "c1_clean_corpus" -> ((s, dir) => {
      val d = docs(s, dir)
      val nonKeepers = Dedup.dupClusters(d)
        .filter(col("doc_id") =!= col("keep_id")).select("doc_id")
      val ws = TextOps.tokens(col("text"))
      d.withColumn("quality", TextOps.qualityScore(ws))
        .withColumn("pred", TextOps.predictedLang(ws))
        .join(nonKeepers, Seq("doc_id"), "left_anti")
        .filter(col("quality") >= 0.3 && col("pred") === col("lang"))
        .groupBy("lang")
        .agg(count(lit(1)).as("n_docs"),
          round(avg("quality"), 6).as("avg_quality"),
          sum("n_chars").as("sum_chars"))
    }),

    // PER-DOCUMENT DROP PROVENANCE — the row-level complement of c3's
    // funnel counts: for every document c1 would drop, WHICH rules fired
    // (bitmask: 1 = near-dup non-keeper, 2 = quality, 4 = langid) and,
    // for dup drops, the cluster keeper it lost to. The review artifact
    // a curation run ships when someone asks "why is my page gone?" —
    // same predicates, same arithmetic as c1, so provenance and funnel
    // and cleaned corpus can never disagree.
    "c8_drop_provenance" -> ((s, dir) => {
      val d = docs(s, dir)
      val ws = TextOps.tokens(col("text"))
      d.withColumn("quality", TextOps.qualityScore(ws))
        .withColumn("pred", TextOps.predictedLang(ws))
        .join(Dedup.dupClusters(d), Seq("doc_id"), "left")
        .withColumn("dup_drop",
          col("keep_id").isNotNull && col("keep_id") =!= col("doc_id"))
        .withColumn("q_drop", col("quality") < 0.3)
        .withColumn("lang_drop", col("pred") =!= col("lang"))
        .filter(col("dup_drop") || col("q_drop") || col("lang_drop"))
        .select(col("doc_id"),
          (when(col("dup_drop"), lit(1)).otherwise(lit(0)) +
            when(col("q_drop"), lit(2)).otherwise(lit(0)) +
            when(col("lang_drop"), lit(4)).otherwise(lit(0)))
            .cast("int").as("reason_mask"),
          when(col("dup_drop"), col("keep_id")).as("keeper_id"))
    }),

    // Pipeline OBSERVABILITY for the c1 cleaning cascade: per-stage funnel
    // accounting (total → survives dedup → survives quality → survives
    // langid) in ONE corpus pass — the drop report every production
    // cleaning run ships with, and the first thing checked when a corpus
    // shrinks unexpectedly. Same predicates, same arithmetic as c1, so the
    // funnel numbers are exactly c1's population. Scale shape: the flags
    // are a pure map over the doc scan (plus c1's own dedup chain for the
    // keeper set); the rollup is a single partial-aggregated one-row agg.
    "c3_filter_funnel" -> ((s, dir) => {
      val d = docs(s, dir)
      val nonKeepers = Dedup.dupClusters(d)
        .filter(col("doc_id") =!= col("keep_id"))
        .select(col("doc_id"), lit(1).as("_dup"))
      val ws = TextOps.tokens(col("text"))
      d.withColumn("quality", TextOps.qualityScore(ws))
        .withColumn("pred", TextOps.predictedLang(ws))
        .join(nonKeepers, Seq("doc_id"), "left_outer")
        .select(col("_dup").isNull.as("keep1"),
          (col("quality") >= 0.3).as("q_ok"),
          (col("pred") === col("lang")).as("l_ok"))
        .agg(count(lit(1)).as("n_total"),
          sum(when(col("keep1"), 1L).otherwise(0L)).as("after_dedup"),
          sum(when(col("keep1") && col("q_ok"), 1L).otherwise(0L))
            .as("after_quality"),
          sum(when(col("keep1") && col("q_ok") && col("l_ok"), 1L).otherwise(0L))
            .as("after_langid"))
    }),

    // MinHash signature union per source cluster via the single-buffer
    // graft_vec_min aggregate: sig(A ∪ B) = element-wise min(sig(A), sig(B)),
    // so corpus slices can be near-dup-compared without re-shingling text.
    // Output is exploded to one (source, k, sig_k) row per signature slot:
    // the driver's oracle harness sorts columns with pandas, which cannot
    // order an ARRAY<BIGINT> column (round-2 red row).
    "d6_sig_union" -> ((s, dir) => {
      val d = docs(s, dir)
      val sig = Dedup.minhashSignatures(Dedup.shingleHashes(d))
      sig.select(col("doc_id"),
          array((0 until Dedup.K).map(k => col(s"s$k")): _*).as("sig"))
        .join(d.select("doc_id", "source"), "doc_id")
        .groupBy("source")
        .agg(graft.functions.VectorMinAgg.column(col("sig")).as("sig_union"),
          count(lit(1)).as("n_docs"))
        .select(col("source"), col("n_docs"),
          posexplode(col("sig_union")).as(Seq("k", "sig_k")))
        .select("source", "k", "sig_k", "n_docs")
    })
  )

  /** c11's containment-SPECTRUM corpus (shared by c13's standing slice):
    * every doc_id % 10 == 7 doc is replaced by a 20-token excerpt of its
    * doc_id−5 neighbor plus m of its own tokens, m stepping 3/6/9/12 by
    * decade, so containment mass sits on every survey rung.
    */
  private def containmentSpectrum(base: DataFrame): DataFrame = {
    val src = base.select((col("doc_id") + 5).as("doc_id"),
      slice(split(lower(col("text")), "\\s+"), 1, 20).as("_src"))
    val m = (lit(3) * (lit(1) +
      pmod(expr("doc_id div 10"), lit(4)))).cast("int")
    base.join(src, Seq("doc_id"), "left")
      .withColumn("text",
        when(col("doc_id") % 10 === 7 && col("_src").isNotNull,
          array_join(concat(col("_src"),
            slice(split(lower(col("text")), "\\s+"), lit(1), m)), " "))
          .otherwise(col("text")))
      .select("doc_id", "text")
  }

  /** The ingest decide of c13/e22/e23: one row per arrival, LANDED or
    * QUARANTINED by [[Dedup.arrivalContainmentDrops]] at `minContE6`, with
    * its provenance (zeros for a landed arrival). `store` is the capped
    * standing window store of (h, doc_b) rows the arrivals probe; `all`
    * holds the text of both sides for the verify tail.
    */
  private def arrivalDecisions(arrivals: DataFrame, all: DataFrame,
      store: DataFrame, minContE6: Long = 800000L): DataFrame = {
    val drops = Dedup.arrivalContainmentDrops(all,
      Dedup.arrivalPairs(arrivals, store, 10), minContE6)
    arrivals.select("doc_id").join(drops, Seq("doc_id"), "left")
      .select(col("doc_id"), col("keeper_id").isNull.as("landed"),
        col("keeper_id"),
        coalesce(col("n_containers"), lit(0L)).as("n_containers"),
        coalesce(col("max_cont_e6"), lit(0L)).as("max_cont_e6"))
  }

  /** c12's stages 4-5, shared with e24's decide-at-compaction tail: drop
    * c10's containment drops from the stage-3 survivors (materialized —
    * the survivor set feeds its funnel count and the packing, whose
    * cumsum alone launches several jobs), then sequence-pack them (o27's
    * manifest). One row: after_containment and the packed stream's
    * window/segment/token totals plus a boundary checksum.
    */
  private def containmentPackFunnel(s3: DataFrame): DataFrame = {
    val s4 = s3.join(Dedup.containmentDrops(s3).select("doc_id"),
        Seq("doc_id"), "left_anti")
      .localCheckpoint()
    s4.agg(count(lit(1)).as("after_containment"))
      .crossJoin(graft.ops.Split.packManifest(s4, "text", "doc_id", 512)
        .agg(countDistinct("bin_id").as("n_windows"),
          count(lit(1)).as("n_segments"),
          sum("len").as("n_tokens"),
          sum(col("bin_id") * col("len") + col("doc_offset") +
            col("win_offset")).as("pack_checksum")))
  }

  /** The incremental-dedup queries' signature store `prefix`: the
    * standing corpus (doc_id >= minDocId) shingled ONCE, its LSH bucket
    * rows written bucketed + sorted on the join key as `sig_bkt`.
    */
  private def buildSigStore(s: SparkSession, dir: String, prefix: String,
      minDocId: Long = 50): Bucketing.Store = {
    val store = Tables.store(s, prefix, dir)
    store.write(sigBuckets(t(s, dir, "documents")
      .filter(col("doc_id") >= minDocId)), "sig_bkt", nBuckets = 8,
      keys = SigKeys)
    store
  }

  /** A signature store's bucket keys. */
  private val SigKeys = Seq("band", "band_key")

  /** LSH bucket rows of `docs` — the signature store's row shape. */
  private def sigBuckets(docs: DataFrame): DataFrame =
    Dedup.lshBuckets(Dedup.minhashSignatures(Dedup.shingleHashes(docs)))

  /** The store's signature rows with `doc_id` renamed `doc_old`: the
    * probe side of every incremental-dedup join. */
  private def standingSigs(store: Bucketing.Store): DataFrame =
    store.read("sig_bkt")
      .select(col("band"), col("band_key"), col("doc_id").as("doc_old"))

  /** Per-band rollup of the store's signature rows (d21/e11/e12's gate:
    * equal to a full-corpus rebuild's). */
  private def sigRollup(store: Bucketing.Store): DataFrame =
    store.read("sig_bkt")
      .groupBy("band")
      .agg(count(lit(1)).as("n_rows"),
        countDistinct("doc_id").as("n_docs"),
        sum("band_key").as("sum_keys"))

  /** `documents` streamed over doc_id in [lo, hi). */
  private def docWindow(s: SparkSession, dir: String, lo: Long,
      hi: Long): DataFrame =
    Tables.docStream(s, dir).filter(col("doc_id") >= lo && col("doc_id") < hi)

  // ---- oracle ------------------------------------------------------------

  /** Bounded-sub-corpus shingle hashes (doc_id < 200): the d10/d25/d26
    * discipline under which exact pairwise ground truth is tractable at
    * every SF.
    */
  private def boundedShingles(s: SparkSession, dir: String): DataFrame =
    Dedup.shingleHashes(docs(s, dir).filter(col("doc_id") < 200))
      .persistTracked()

  /** Exact pairwise Jaccard (integer j_e6) over every shared-shingle pair
    * of the bounded corpus — the d25/d26 ground truth.
    */
  private def boundedJaccardTruth(sh: DataFrame): DataFrame = {
    val counts = sh.groupBy("doc_id").agg(count(lit(1)).as("n_sh"))
    sh.select(col("doc_id").as("doc_a"), col("h"))
      .join(sh.select(col("doc_id").as("doc_b"), col("h")), "h")
      .filter(col("doc_a") < col("doc_b"))
      .groupBy("doc_a", "doc_b").agg(count(lit(1)).as("inter"))
      .join(counts.select(col("doc_id").as("doc_a"), col("n_sh").as("n_a")), "doc_a")
      .join(counts.select(col("doc_id").as("doc_b"), col("n_sh").as("n_b")), "doc_b")
      .withColumn("j_e6",
        expr("(inter * 1000000) div (n_a + n_b - inter)"))
      .select("doc_a", "doc_b", "j_e6").persistTracked()
  }

  private val wsSql = """string_split_regex(lower(text), '\s+')"""

  private def toksSrcFrom(src: String): String =
    s"toks AS (SELECT doc_id, $wsSql AS ws FROM $src)"

  /** The c12 batch-curation funnel as one DuckDB query — SHARED by c12
    * (the batch composition) and e24 (the streamed path): batch-stream
    * parity is literally "both hash against this one contract".
    */
  private lazy val curationFunnelSql =
    s"""WITH ex AS (
       |  SELECT doc_id - 1 AS doc_id,
       |    array_to_string(
       |      string_split_regex(lower(text), '\\s+')[1:30], ' ') AS ex_text
       |  FROM documents),
         |corpus AS (
         |  SELECT d.doc_id,
         |    CASE WHEN d.doc_id % 10 = 3 AND ex.ex_text IS NOT NULL
         |      THEN ex.ex_text ELSE d.text END AS text
         |  FROM documents d LEFT JOIN ex USING (doc_id)
         |  WHERE d.doc_id >= $LdsEvalSplit),
         |gt AS (SELECT doc_id, text,
         |  string_split_regex(
         |    regexp_replace(lower(text), '^\\s+|\\s+$$', '', 'g'), '\\s+') AS ws
         |  FROM corpus),
         |gm AS (SELECT doc_id, text, len(ws) AS n,
         |  CAST(list_sum(list_transform(ws, w -> len(w))) AS DOUBLE)
         |    / len(ws) AS mwl,
         |  len(list_filter(ws, w -> list_contains($stopList, w))) AS stops,
         |  CAST(len(list_distinct(ws)) AS DOUBLE) / len(ws) AS dr,
         |  CAST(len(list_filter(ws, w -> regexp_matches(w, '[a-z]')))
         |    AS DOUBLE) / len(ws) AS ar
         |  FROM gt),
         |s1 AS (SELECT doc_id, text FROM gm
         |  WHERE n BETWEEN 25 AND 90 AND mwl >= 3.5 AND mwl <= 5.0
         |    AND stops >= 2 AND dr >= 0.35 AND ar >= 0.8),
         |s2 AS (SELECT doc_id, text FROM s1
         |  WHERE doc_id IN (SELECT min(doc_id) FROM s1 GROUP BY text)),
         |et AS (SELECT doc_id, string_split_regex(lower(text), '\\s+') AS ws
         |       FROM documents WHERE doc_id < $LdsEvalSplit),
         |esh AS (
         |  SELECT unnest(list_transform(range(1, greatest(len(ws) - 8, 1)),
         |    i -> ws[i] || ' ' || ws[i + 1] || ' ' || ws[i + 2] || ' ' ||
         |         ws[i + 3] || ' ' || ws[i + 4] || ' ' || ws[i + 5] || ' ' ||
         |         ws[i + 6] || ' ' || ws[i + 7] || ' ' || ws[i + 8] || ' ' ||
         |         ws[i + 9])) AS shingle
         |  FROM et),
         |evw AS (SELECT DISTINCT ${Hashing.polyHashSql("shingle")} AS h FROM esh),
         |s2t AS (SELECT doc_id, string_split_regex(lower(text), '\\s+') AS ws
         |        FROM s2),
         |s2sh AS (
         |  SELECT doc_id,
         |    unnest(list_transform(range(1, greatest(len(ws) - 8, 1)),
         |    i -> ws[i] || ' ' || ws[i + 1] || ' ' || ws[i + 2] || ' ' ||
         |         ws[i + 3] || ' ' || ws[i + 4] || ' ' || ws[i + 5] || ' ' ||
         |         ws[i + 6] || ' ' || ws[i + 7] || ' ' || ws[i + 8] || ' ' ||
         |         ws[i + 9])) AS shingle
         |  FROM s2t),
         |s2w AS (SELECT DISTINCT doc_id, ${Hashing.polyHashSql("shingle")} AS h FROM s2sh),
         |dirty AS (SELECT DISTINCT doc_id FROM s2w JOIN evw USING (h)),
         |s3 AS (SELECT doc_id, text FROM s2
         |  WHERE doc_id NOT IN (SELECT doc_id FROM dirty)),
         |t3 AS (SELECT doc_id, string_split_regex(lower(text), '\\s+') AS ws
         |       FROM s3),
         |sh3 AS (
         |  SELECT doc_id,
         |    unnest(list_transform(range(1, greatest(len(ws) - 1, 1)),
         |      i -> ws[i] || ' ' || ws[i + 1] || ' ' || ws[i + 2])) AS shingle
         |  FROM t3),
         |h3 AS (SELECT DISTINCT doc_id, ${Hashing.polyHashSql("shingle")} AS h FROM sh3),
         |w3 AS (
         |  SELECT doc_id,
         |    unnest(list_transform(range(1, greatest(len(ws) - 8, 1)),
         |    i -> ws[i] || ' ' || ws[i + 1] || ' ' || ws[i + 2] || ' ' ||
         |         ws[i + 3] || ' ' || ws[i + 4] || ' ' || ws[i + 5] || ' ' ||
         |         ws[i + 6] || ' ' || ws[i + 7] || ' ' || ws[i + 8] || ' ' ||
         |         ws[i + 9])) AS shingle
         |  FROM t3),
         |hw3 AS (SELECT DISTINCT doc_id, ${Hashing.polyHashSql("shingle")} AS h FROM w3),
         |okw3 AS (SELECT h FROM hw3 GROUP BY h
         |         HAVING count(*) >= 2 AND count(*) <= 64),
         |cand3 AS (
         |  SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
         |  FROM hw3 a JOIN okw3 USING (h) JOIN hw3 b USING (h)
         |  WHERE a.doc_id < b.doc_id),
         |cnt3 AS (SELECT doc_id, count(*) AS n_sh FROM h3 GROUP BY doc_id),
         |int3 AS (
         |  SELECT c.doc_a, c.doc_b, count(*) AS n_inter
         |  FROM cand3 c
         |    JOIN h3 a ON a.doc_id = c.doc_a
         |    JOIN h3 b ON b.doc_id = c.doc_b AND b.h = a.h
         |  GROUP BY 1, 2),
         |m3 AS (
         |  SELECT i.doc_a, i.doc_b,
         |    round(CAST(n_inter AS DOUBLE) / ca.n_sh, 6) AS cont_a,
         |    round(CAST(n_inter AS DOUBLE) / cb.n_sh, 6) AS cont_b,
         |    round(CAST(n_inter AS DOUBLE) / (ca.n_sh + cb.n_sh - n_inter), 6) AS jaccard,
         |    ca.n_sh AS n_a, cb.n_sh AS n_b
         |  FROM int3 i
         |    JOIN cnt3 ca ON ca.doc_id = i.doc_a
         |    JOIN cnt3 cb ON cb.doc_id = i.doc_b),
         |dr3 AS (
         |  SELECT
         |    CASE WHEN cont_a > cont_b THEN doc_a
         |         WHEN cont_b > cont_a THEN doc_b
         |         WHEN n_a < n_b THEN doc_a
         |         WHEN n_b < n_a THEN doc_b
         |         ELSE greatest(doc_a, doc_b) END AS doc_id
         |  FROM m3
         |  WHERE jaccard < 0.8 AND greatest(cont_a, cont_b) >= 0.8),
         |s4 AS (SELECT doc_id, text FROM s3
         |  WHERE doc_id NOT IN (SELECT doc_id FROM dr3)),
         |p0 AS (SELECT doc_id,
         |  len(string_split_regex(lower(text), '\\s+')) AS nt FROM s4),
         |pc AS (SELECT doc_id, nt,
         |  CAST(sum(nt) OVER (ORDER BY doc_id) AS BIGINT) AS cum FROM p0),
         |pv AS (SELECT doc_id, cum - nt AS s, cum AS e FROM pc WHERE nt > 0),
         |pb AS (SELECT doc_id, s, e,
         |  unnest(range(s // 512, (e - 1) // 512 + 1)) AS bin FROM pv),
         |po AS (SELECT bin, doc_id, s, greatest(s, bin * 512) AS seg_s,
         |  least(e, (bin + 1) * 512) - greatest(s, bin * 512) AS t FROM pb),
         |pk AS (SELECT count(DISTINCT bin) AS n_windows,
         |  count(*) AS n_segments, CAST(sum(t) AS BIGINT) AS n_tokens,
         |  CAST(sum(bin * t + (seg_s - s) + (seg_s - bin * 512)) AS BIGINT)
         |    AS pack_checksum
         |  FROM po)
         |SELECT (SELECT count(*) FROM corpus) AS n_total,
         |  (SELECT count(*) FROM s1) AS after_gopher,
         |  (SELECT count(*) FROM s2) AS after_exact,
         |  (SELECT count(*) FROM s3) AS after_decontam,
         |  (SELECT count(*) FROM s4) AS after_containment,
         |  n_windows, n_segments, n_tokens, pack_checksum
         |FROM pk""".stripMargin

  /** The o26 packing report — whitespace token counts, one running sum in
    * doc-id order, integer window intervals. Shared verbatim by the batch
    * (o26) and streaming (e20) legs: both must produce this exact table.
    */
  // d35/e21 shared oracle: window-shared candidates (frequency-capped
  // 10-token window hashes — NOT the Jaccard-biased LSH generator),
  // then d5's verify chain with both containment directions and the
  // rounded-threshold classification.
  private lazy val containmentReportSql =
    s"""WITH $toksSrc, $shSrc, $hashedSrc,
         |sh10 AS (
         |  SELECT doc_id,
         |    unnest(list_transform(range(1, greatest(len(ws) - 8, 1)),
         |      i -> ws[i] || ' ' || ws[i + 1] || ' ' || ws[i + 2] || ' ' ||
         |           ws[i + 3] || ' ' || ws[i + 4] || ' ' || ws[i + 5] || ' ' ||
         |           ws[i + 6] || ' ' || ws[i + 7] || ' ' || ws[i + 8] || ' ' ||
         |           ws[i + 9])) AS shingle
         |  FROM toks),
         |h10 AS (SELECT DISTINCT doc_id, ${Hashing.polyHashSql("shingle")} AS h FROM sh10),
         |okw AS (SELECT h FROM h10 GROUP BY h
         |        HAVING count(*) >= 2 AND count(*) <= 64),
         |cand AS (
         |  SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
         |  FROM h10 a JOIN okw USING (h) JOIN h10 b USING (h)
         |  WHERE a.doc_id < b.doc_id),
         |counts AS (SELECT doc_id, count(*) AS n_sh FROM hashed GROUP BY doc_id),
         |inter AS (
         |  SELECT c.doc_a, c.doc_b, count(*) AS n_inter
         |  FROM cand c
         |    JOIN hashed a ON a.doc_id = c.doc_a
         |    JOIN hashed b ON b.doc_id = c.doc_b AND b.h = a.h
         |  GROUP BY 1, 2),
         |m AS (
         |  SELECT i.doc_a, i.doc_b,
         |    round(CAST(n_inter AS DOUBLE) / ca.n_sh, 6) AS cont_a,
         |    round(CAST(n_inter AS DOUBLE) / cb.n_sh, 6) AS cont_b,
         |    round(CAST(n_inter AS DOUBLE) / (ca.n_sh + cb.n_sh - n_inter), 6) AS jaccard
         |  FROM inter i
         |    JOIN counts ca ON ca.doc_id = i.doc_a
         |    JOIN counts cb ON cb.doc_id = i.doc_b)
         |SELECT doc_a, doc_b, cont_a, cont_b, jaccard,
         |  CASE WHEN jaccard >= 0.8 THEN 'near_dup'
         |       WHEN greatest(cont_a, cont_b) >= 0.8 THEN 'containment'
         |       ELSE 'overlap' END AS relation
         |FROM m""".stripMargin

  private lazy val packReportSql =
    s"""WITH $toksSrc,
       |n AS (SELECT doc_id, len(ws) AS nt FROM toks),
       |c AS (SELECT doc_id, nt,
       |        CAST(sum(nt) OVER (ORDER BY doc_id) AS BIGINT) AS cum FROM n),
       |iv AS (SELECT doc_id, cum - nt AS s, cum AS e FROM c WHERE nt > 0),
       |bx AS (SELECT doc_id, s, e,
       |        unnest(range(s // 512, (e - 1) // 512 + 1)) AS bin FROM iv),
       |ov AS (SELECT bin, doc_id,
       |        least(e, (bin + 1) * 512) - greatest(s, bin * 512) AS t
       |       FROM bx)
       |SELECT CAST(bin AS BIGINT) AS bin_id, count(*) AS n_docs,
       |  CAST(sum(t) AS BIGINT) AS n_tokens,
       |  min(doc_id) AS first_doc, max(doc_id) AS last_doc
       |FROM ov GROUP BY bin""".stripMargin

  private val toksSrc = toksSrcFrom("documents")

  /** Tokens of the TRIMMED text — the t16/t17/e14 tokenization (edge
    * whitespace would add phantom "" tokens to every ratio denominator;
    * see TextOps.gopherRules).
    */
  private val trimToksSrc =
    """ttoks AS (SELECT doc_id,
      |  string_split_regex(
      |    regexp_replace(lower(text), '^\s+|\s+$', '', 'g'), '\s+') AS ws
      |  FROM documents)""".stripMargin

  /** Word-3-gram shingles per doc (non-distinct; empty below 3 tokens). */
  private val shSrc =
    """sh AS (
      |  SELECT doc_id,
      |    unnest(list_transform(range(1, greatest(len(ws) - 1, 1)),
      |      i -> ws[i] || ' ' || ws[i + 1] || ' ' || ws[i + 2])) AS shingle
      |  FROM toks)""".stripMargin

  /** Hash-first distinct, mirroring Dedup.shingleHashes. */
  private val hashedSrc =
    s"hashed AS (SELECT DISTINCT doc_id, ${Hashing.polyHashSql("shingle")} AS h FROM sh)"

  private val sigSrc = {
    val mins = (0 until Dedup.K).map(k =>
      s"min(${Hashing.minhashPermSql("h", k)}) AS s$k").mkString(", ")
    s"sig AS (SELECT doc_id, $mins FROM hashed GROUP BY doc_id)"
  }

  private def bandKeySql(b: Int): String =
    (0 until Dedup.Rows).map(r => s"s${b * Dedup.Rows + r}")
      .foldLeft("CAST(0 AS BIGINT)")((acc, s) =>
        s"(($acc * ${Hashing.PolyBase} + $s) % ${Hashing.PolyMod})")

  private val bucketsSrc = {
    val parts = (0 until Dedup.Bands).map(b =>
      s"SELECT doc_id, $b AS band, ${bandKeySql(b)} AS band_key FROM sig")
    s"buckets AS (${parts.mkString(" UNION ALL ")})"
  }

  private val pairsSrc =
    """pairs AS (
      |  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
      |         count(DISTINCT a.band) AS n_bands
      |  FROM buckets a JOIN buckets b
      |    ON a.band = b.band AND a.band_key = b.band_key AND a.doc_id < b.doc_id
      |  GROUP BY 1, 2)""".stripMargin

  private val minhashChain =
    s"$toksSrc, $shSrc, $hashedSrc, $sigSrc, $bucketsSrc, $pairsSrc"

  /** Shared d25/d26 oracle prefix: the bounded corpus' minhash chain plus
    * exact pairwise ground truth (`truth(doc_a, doc_b, j_e6)`) — mirrors
    * [[boundedShingles]] + [[boundedJaccardTruth]].
    */
  private lazy val boundedTruthCtes: String =
    s"""bdocs AS (SELECT * FROM documents WHERE doc_id < 200),
       |${toksSrcFrom("bdocs")}, $shSrc, $hashedSrc, $sigSrc, $bucketsSrc, $pairsSrc,
       |cnt AS (SELECT doc_id, count(*) AS n_sh FROM hashed GROUP BY 1),
       |itr AS (SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, count(*) AS inter
       |  FROM hashed a JOIN hashed b ON a.h = b.h AND a.doc_id < b.doc_id
       |  GROUP BY 1, 2),
       |truth AS (SELECT doc_a, doc_b,
       |    CAST((inter * 1000000) // (ca.n_sh + cb.n_sh - inter) AS BIGINT) AS j_e6
       |  FROM itr JOIN cnt ca ON itr.doc_a = ca.doc_id
       |    JOIN cnt cb ON itr.doc_b = cb.doc_id)""".stripMargin

  /** t15's DSIR weight chain (hashing, +1 smoothing, round(lr, 9), per-doc
    * dot round(…, 6) — replicates dsirLogWeights exactly), ending in
    * `dsirw(doc_id, log_w, n_tokens)`; shared by t15 and o17.
    */
  private val dsirChain =
    s"""$toksSrc,
       |dtoks AS (SELECT t.doc_id, d.lang = 'en' AS tgt, unnest(t.ws) AS w
       |          FROM toks t JOIN documents d ON t.doc_id = d.doc_id),
       |dhashed AS (SELECT doc_id, tgt,
       |  ${Hashing.polyHashSql("w")} % 64 AS bucket FROM dtoks),
       |dbr AS (SELECT bucket,
       |    sum(CASE WHEN tgt THEN 1 ELSE 0 END) AS tn, count(*) AS rn
       |  FROM dhashed GROUP BY bucket),
       |dtot AS (SELECT sum(CASE WHEN tgt THEN 1 ELSE 0 END) AS tt,
       |    count(*) AS rt FROM dhashed),
       |dlr AS (SELECT bucket,
       |    round(ln(CAST(tn + 1 AS DOUBLE) / CAST(tt + 64 AS DOUBLE))
       |        - ln(CAST(rn + 1 AS DOUBLE) / CAST(rt + 64 AS DOUBLE)), 9) AS lr
       |  FROM dbr CROSS JOIN dtot),
       |dtf AS (SELECT doc_id, bucket, count(*) AS tf
       |       FROM dhashed GROUP BY doc_id, bucket),
       |dlre AS (SELECT bucket, CAST(round(lr * 1e9) AS BIGINT) AS lr_e9
       |  FROM dlr),
       |dsums AS (SELECT doc_id, CAST(sum(tf * lr_e9) AS BIGINT) AS w_e9,
       |    CAST(sum(tf) AS BIGINT) AS n_tokens
       |  FROM dtf JOIN dlre USING (bucket) GROUP BY doc_id),
       |dsirw AS (SELECT doc_id,
       |    CAST(CASE WHEN w_e9 < 0 THEN -((-w_e9 + 500) // 1000)
       |      ELSE (w_e9 + 500) // 1000 END AS DOUBLE) / 1e6 AS log_w,
       |    n_tokens
       |  FROM dsums)""".stripMargin

  /** The d22 viral span: all-lowercase, whitespace-only tokens (survives
    * the ws tokenizer identically in both engines), long enough to carry
    * a full shingle set of its own.
    */
  private[queries] val Boilerplate =
    "this content is provided as is without warranty of any kind express " +
      "or implied subscribe to our newsletter for the latest updates " +
      "terms of service apply to all visitors copyright all rights " +
      "reserved do not reproduce or redistribute without prior written " +
      "permission from the publisher"

  /** Shared d21/e11 oracle: the full-corpus band rollup the post-append
    * store must hash-equal.
    */
  private val storeRollupOracle =
    s"""WITH $toksSrc, $shSrc, $hashedSrc, $sigSrc, $bucketsSrc
       |SELECT band, count(*) AS n_rows,
       |  count(DISTINCT doc_id) AS n_docs,
       |  CAST(sum(band_key) AS BIGINT) AS sum_keys
       |FROM buckets
       |GROUP BY 1""".stripMargin

  /** Shared d20/e9 oracle: cross-boundary band collisions (batch and
    * streaming must produce the identical rollup).
    */
  private val incrementalOracle =
    s"""WITH $toksSrc, $shSrc, $hashedSrc, $sigSrc, $bucketsSrc
       |SELECT a.doc_id AS doc_new, b.doc_id AS doc_old,
       |  count(*) AS n_bands
       |FROM buckets a JOIN buckets b
       |  ON a.band = b.band AND a.band_key = b.band_key
       |WHERE a.doc_id < 50 AND b.doc_id >= 50
       |GROUP BY 1, 2""".stripMargin

  private val stopList = TextOps.Stopwords.map(w => s"'$w'").mkString("[", ", ", "]")

  /** SQL form of [[TextOps.gopherPass]]'s all-rules conjunction over a
    * token-list expression `ws` — shared by the t16/t17/e14 oracles so
    * the thresholds live in one place on the oracle side too.
    */
  private def gopherPassSql(ws: String): String = {
    val mwl = s"(CAST(list_sum(list_transform($ws, w -> len(w))) AS DOUBLE) / len($ws))"
    s"(len($ws) BETWEEN 25 AND 90)" +
      s" AND $mwl >= 3.5 AND $mwl <= 5.0" +
      s" AND len(list_filter($ws, w -> list_contains($stopList, w))) >= 2" +
      s" AND (CAST(len(list_distinct($ws)) AS DOUBLE) / len($ws)) >= 0.35" +
      s" AND (CAST(len(list_filter($ws, w -> regexp_matches(w, '[a-z]')))" +
      s" AS DOUBLE) / len($ws)) >= 0.8"
  }
  private def markerList(l: String) =
    TextOps.LangMarkers(l).map(w => s"'$w'").mkString("[", ", ", "]")
  private def hitsSql(l: String) =
    s"CAST(len(list_filter(ws, w -> list_contains(${markerList(l)}, w))) AS INT)"

  val oracle: Map[String, String] = Map(
    "t1_tokens" ->
      s"""WITH $toksSrc
         |SELECT doc_id, CAST(len(ws) AS INT) AS n_tokens,
         |  CAST(len(regexp_extract_all(lower(text), '[a-z]+[0-9]*')) AS INT) AS n_subwords,
         |  CAST(len(text) AS INT) AS len_chars
         |FROM toks JOIN documents USING (doc_id)""".stripMargin,
    "t8_bpe_token_count" ->
      """SELECT doc_id,
        |  CAST(len(regexp_extract_all(lower(text),
        |    ' ?[a-z]+| ?[0-9]+| ?[^a-z0-9 ]+')) AS INT) AS n_bpe
        |FROM documents""".stripMargin,
    "t13_bpe_train" -> graft.ops.Bpe.oracleSql(nMerges = 8),
    "t18_fertility" -> graft.ops.Bpe.oracleSqlFertility(nMerges = 8),
    "t13b_bpe_batched" -> graft.ops.Bpe.oracleSqlBatched(
      rounds = 8, window = 48, batchCap = 16),
    "t14_bpe_stream" -> graft.ops.Bpe.oracleSqlStreams(
      rounds = 4, window = 32, batchCap = 12),
    "t14b_bpe_stream_prod" -> graft.ops.Bpe.oracleSqlStreams(
      rounds = 8, window = 48, batchCap = 16),
    "t9_gopher_repetition" ->
      s"""WITH $toksSrc,
         |m AS (
         |  SELECT doc_id, len(ws) AS n_words,
         |    CAST(len(list_distinct(ws)) AS DOUBLE) / len(ws) AS dr,
         |    CAST(list_max(list_transform(list_distinct(ws),
         |      w -> len(list_filter(ws, x -> x = w)))) AS DOUBLE) / len(ws) AS ts
         |  FROM toks)
         |SELECT doc_id, CAST(n_words AS INT) AS n_words,
         |  round(dr, 6) AS distinct_ratio,
         |  round(ts, 6) AS top_share,
         |  (ts > 0.2 OR dr < 0.5) AS flagged
         |FROM m""".stripMargin,
    // t27: counts and the repair chain GENERATED from the same ordered
    // pair list the engine folds — the SQL can never drift from the
    // Scala side.
    "t27_mojibake_fix" -> {
      val counts = TextOps.MojibakeFixes.map { case (m, _) =>
        s"(len(t) - len(replace(t, '$m', ''))) // ${m.length}"
      }.mkString("\n         |     + ").stripMargin
      val fixed = TextOps.MojibakeFixes.foldLeft("t") { case (acc, (m, f)) =>
        s"replace($acc, '$m', '${f.replace("'", "''")}')"
      }
      s"""WITH injected AS (
         |  SELECT doc_id, text ||
         |    CASE WHEN doc_id % 3 = 0 THEN ' cafÃ© rÃ©sumÃ©'
         |         WHEN doc_id % 3 = 1 THEN ' donâ€™t seÃ±or â€œquoted'
         |         ELSE ' clean tail' END AS t
         |  FROM documents)
         |SELECT doc_id,
         |  CAST($counts AS BIGINT) AS n_fixed,
         |  $fixed AS fixed
         |FROM injected""".stripMargin
    },
    "t10_pii_redact" ->
      """WITH withpii AS (
        |  SELECT doc_id,
        |    text || ' contact doc' || CAST(doc_id AS VARCHAR)
        |      || '@example.com ip 10.' || CAST(doc_id % 250 AS VARCHAR)
        |      || '.0.1 tel 555-'
        |      || lpad(CAST(doc_id % 10000 AS VARCHAR), 4, '0') AS t
        |  FROM documents)
        |SELECT doc_id,
        |  CAST(len(regexp_extract_all(t,
        |    '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}')) AS INT) AS n_emails,
        |  CAST(len(regexp_extract_all(t,
        |    '\b[0-9]{1,3}(?:\.[0-9]{1,3}){3}\b')) AS INT) AS n_ips,
        |  CAST(len(regexp_extract_all(t,
        |    '\b[0-9]{3}-[0-9]{4}\b')) AS INT) AS n_phones,
        |  regexp_replace(regexp_replace(regexp_replace(t,
        |    '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}', '[EMAIL]', 'g'),
        |    '\b[0-9]{1,3}(?:\.[0-9]{1,3}){3}\b', '[IP]', 'g'),
        |    '\b[0-9]{3}-[0-9]{4}\b', '[PHONE]', 'g') AS redacted
        |FROM withpii""".stripMargin,
    "t12_hashed_tfvec" ->
      s"""WITH toks AS (
         |  SELECT doc_id, unnest($wsSql) AS w FROM documents),
         |hashed AS (SELECT doc_id,
         |  ${graft.functions.Hashing.polyHashSql("w")} % 16 AS bucket FROM toks),
         |tf AS (SELECT doc_id, bucket, count(*) AS tf
         |       FROM hashed GROUP BY doc_id, bucket),
         |ranked AS (
         |  SELECT doc_id, bucket, tf,
         |    row_number() OVER (PARTITION BY doc_id ORDER BY tf DESC, bucket) AS rk
         |  FROM tf),
         |agg AS (
         |  SELECT doc_id, round(sqrt(sum(CAST(tf AS DOUBLE) * tf)), 6) AS l2,
         |    count(*) AS n_buckets
         |  FROM tf GROUP BY doc_id)
         |SELECT a.doc_id, CAST(r.bucket AS INT) AS top_bucket, r.tf AS top_tf,
         |  a.n_buckets, a.l2
         |FROM agg a JOIN ranked r ON r.doc_id = a.doc_id AND r.rk = 1""".stripMargin,
    "t11_chunk" ->
      s"""WITH $toksSrc,
         |st AS (
         |  SELECT doc_id, ws,
         |    unnest(range(1, greatest(len(ws), 1) + 1, 24)) AS start
         |  FROM toks)
         |SELECT doc_id, CAST((start - 1) // 24 AS INT) AS chunk_id,
         |  CAST(least(32, len(ws) - start + 1) AS INT) AS n_tokens,
         |  array_to_string(ws[start:start+31], ' ') AS chunk_text
         |FROM st""".stripMargin,
    "w2_quality_bins" ->
      s"""WITH $toksSrc,
         |m AS (SELECT doc_id,
         |  CAST(len(list_filter(ws, w -> list_contains($stopList, w))) AS DOUBLE) / len(ws) AS stop_ratio,
         |  CAST(list_sum(list_transform(ws, w -> len(w))) AS DOUBLE) / len(ws) AS awl,
         |  len(ws) AS n FROM toks),
         |scored AS (
         |  SELECT d.doc_id, d.source,
         |    round(0.5 * m.stop_ratio + 0.3 * least(1.0, CAST(m.n AS DOUBLE) / 100.0)
         |          + 0.2 * (m.awl / 10.0), 6) AS q
         |  FROM documents d JOIN m ON d.doc_id = m.doc_id),
         |binned AS (
         |  SELECT source, q,
         |    ntile(4) OVER (PARTITION BY source ORDER BY q, doc_id) AS bin
         |  FROM scored)
         |SELECT source, CAST(bin AS INT) AS bin, count(*) AS n_docs,
         |  round(sum(q), 6) AS sum_q, round(min(q), 6) AS min_q,
         |  round(max(q), 6) AS max_q
         |FROM binned GROUP BY source, bin""".stripMargin,
    "t2_quality" ->
      s"""WITH $toksSrc,
         |m AS (SELECT doc_id,
         |  CAST(len(list_filter(ws, w -> list_contains($stopList, w))) AS DOUBLE) / len(ws) AS stop_ratio,
         |  CAST(list_sum(list_transform(ws, w -> len(w))) AS DOUBLE) / len(ws) AS awl,
         |  len(ws) AS n FROM toks)
         |SELECT doc_id, round(stop_ratio, 6) AS stop_ratio,
         |  round(awl, 6) AS avg_word_len,
         |  round(0.5 * stop_ratio + 0.3 * least(1.0, CAST(n AS DOUBLE) / 100.0)
         |        + 0.2 * (awl / 10.0), 6) AS quality
         |FROM m""".stripMargin,
    // t24: the same three total orders as window row_numbers; DuckDB's
    // row_number over (signal DESC, doc_id) is the globalRowNumber
    // contract exactly.
    "t24_borda_blend" ->
      s"""WITH $toksSrc,
         |m AS (SELECT t.doc_id, d.n_chars,
         |  CAST(round(round(
         |    0.5 * (CAST(len(list_filter(ws, w -> list_contains($stopList, w))) AS DOUBLE) / len(ws))
         |    + 0.3 * least(1.0, CAST(len(ws) AS DOUBLE) / 100.0)
         |    + 0.2 * ((CAST(list_sum(list_transform(ws, w -> len(w))) AS DOUBLE) / len(ws)) / 10.0),
         |    6) * 1e6) AS BIGINT) AS q_e6,
         |  CAST(len(regexp_extract_all(lower(d.text),
         |    ' ?[a-z]+| ?[0-9]+| ?[^a-z0-9 ]+')) AS BIGINT) AS bpe_toks
         |  FROM toks t JOIN documents d ON t.doc_id = d.doc_id),
         |r AS (SELECT doc_id,
         |  row_number() OVER (ORDER BY q_e6 DESC, doc_id) AS r_quality,
         |  row_number() OVER (ORDER BY n_chars DESC, doc_id) AS r_len,
         |  row_number() OVER (ORDER BY bpe_toks DESC, doc_id) AS r_toks
         |  FROM m)
         |SELECT doc_id, r_quality, r_len, r_toks,
         |  r_quality + r_len + r_toks AS borda
         |FROM r""".stripMargin,
    "t3_langid" ->
      s"""WITH $toksSrc,
         |h AS (SELECT doc_id, ${hitsSql("en")} AS en, ${hitsSql("de")} AS de,
         |             ${hitsSql("es")} AS es, ${hitsSql("fr")} AS fr FROM toks)
         |SELECT d.doc_id, d.lang,
         |  CASE WHEN en >= de AND en >= es AND en >= fr THEN 'en'
         |       WHEN de >= es AND de >= fr THEN 'de'
         |       WHEN es >= fr THEN 'es' ELSE 'fr' END AS pred,
         |  en AS en_hits
         |FROM documents d JOIN h ON d.doc_id = h.doc_id""".stripMargin,
    "t4_fingerprint" ->
      s"""WITH $toksSrc, $shSrc, $hashedSrc,
         |fps AS (SELECT doc_id,
         |  ${Hashing.polyHashSql("trim(regexp_replace(lower(text), '\\s+', ' ', 'g'))")} AS fp
         |  FROM documents),
         |mins AS (SELECT doc_id, min(h) AS min_shingle
         |         FROM hashed GROUP BY doc_id)
         |SELECT f.doc_id, f.fp, m.min_shingle
         |FROM fps f LEFT JOIN mins m ON f.doc_id = m.doc_id""".stripMargin,
    "d1_exact_dedup" ->
      """SELECT min(doc_id) AS keep_id, count(*) AS n_copies
        |FROM documents GROUP BY text""".stripMargin,
    // t15: hashing, smoothing, and rounding replicate the engine exactly —
    // bucket = polyhash(w) % 64; θ = (cnt+1)/(total+64) double division of
    // exact integers; per-bucket log-ratio round(…, 9); per-doc dot
    // product round(…, 6) (the t6 discipline).
    "t15_dsir_weights" ->
      s"""WITH $dsirChain
         |SELECT doc_id, log_w, n_tokens FROM dsirw""".stripMargin,
    // o17: t15's chain, then the Gumbel-top-k selection — u from the same
    // seed-prefixed polynomial id hash as the engine (digit-nonlinear: a
    // single LCG step would lattice-correlate consecutive ids' draws).
    // The (h + 0.5)/p division is the same IEEE operation on identical
    // exact inputs in both engines, so only ln contributes FP noise
    // (~1 ulp; key rounds to 6 dp).
    "o17_importance_resample" -> {
      val u = s"((${Hashing.polyHashSql("'41-' || CAST(doc_id AS VARCHAR)")})" +
        s" + 0.5) / ${Hashing.PolyMod}.0"
      s"""WITH $dsirChain,
         |sel AS (SELECT doc_id, log_w, n_tokens,
         |    round(log_w - ln(-ln($u)), 6) AS gumbel_key
         |  FROM dsirw)
         |SELECT * FROM sel ORDER BY gumbel_key DESC, doc_id LIMIT 64""".stripMargin
    },
    // t17: per-doc metrics are the t2/t4/t8/t16 oracle fragments joined
    // in one scan; the rollup re-rounds avg(6-dp quality) to 6 dp.
    "t17_corpus_report" ->
      s"""WITH $trimToksSrc,
         |m AS (SELECT t.doc_id, d.source, len(ws) AS nw,
         |  len(regexp_extract_all(lower(d.text),
         |    ' ?[a-z]+| ?[0-9]+| ?[^a-z0-9 ]+')) AS nb,
         |  round(
         |    0.5 * (CAST(len(list_filter(ws, w -> list_contains($stopList, w))) AS DOUBLE) / len(ws))
         |    + 0.3 * least(1.0, CAST(len(ws) AS DOUBLE) / 100.0)
         |    + 0.2 * ((CAST(list_sum(list_transform(ws, w -> len(w))) AS DOUBLE) / len(ws)) / 10.0),
         |    6) AS q,
         |  ${Hashing.polyHashSql("trim(regexp_replace(lower(d.text), '\\s+', ' ', 'g'))")} AS fp,
         |  CASE WHEN ${gopherPassSql("ws")} THEN 1 ELSE 0 END AS p
         |  FROM ttoks t JOIN documents d USING (doc_id))
         |SELECT source, count(*) AS n_docs,
         |  CAST(sum(nw) AS BIGINT) AS n_tokens,
         |  CAST(sum(nb) AS BIGINT) AS n_bpe_tokens,
         |  round(avg(q), 6) AS mean_quality,
         |  count(DISTINCT fp) AS n_unique_texts,
         |  CAST(sum(p) AS BIGINT) AS n_gopher_pass
         |FROM m GROUP BY source""".stripMargin,
    // o18: d8's reach closure for the cluster map, singletons = own id,
    // split = the engine's exact LCG bucket of the cluster id.
    "o18_cluster_split" ->
      s"""WITH RECURSIVE $minhashChain,
         |vp AS (SELECT doc_a, doc_b FROM pairs WHERE n_bands >= 2),
         |edges AS (
         |  SELECT doc_a, doc_b FROM vp
         |  UNION SELECT doc_b, doc_a FROM vp),
         |reach(id, label) AS (
         |  SELECT doc_a AS id, doc_a AS label FROM edges
         |  UNION
         |  SELECT e.doc_a, r.label FROM edges e JOIN reach r ON e.doc_b = r.id),
         |comp AS (SELECT id AS doc_id, min(label) AS keep_id
         |         FROM reach GROUP BY id),
         |cl AS (SELECT d.doc_id,
         |    coalesce(c.keep_id, d.doc_id) AS cluster_id
         |  FROM documents d LEFT JOIN comp c USING (doc_id))
         |SELECT doc_id, cluster_id,
         |  CASE WHEN ${Hashing.lcgSql("cluster_id", 13L, 10L)} < 8
         |    THEN 'train' ELSE 'test' END AS split
         |FROM cl""".stripMargin,
    // t16: every rule is an exact integer ratio — int/int double division
    // and integer comparisons agree bit-for-bit across engines, so the
    // flags need no FP pinning; the two reported ratios round to 6 dp.
    "t16_gopher_rules" ->
      s"""WITH $trimToksSrc,
         |m AS (SELECT doc_id, len(ws) AS n,
         |  CAST(list_sum(list_transform(ws, w -> len(w))) AS DOUBLE)
         |    / len(ws) AS mwl,
         |  len(list_filter(ws, w -> list_contains($stopList, w))) AS stops,
         |  CAST(len(list_distinct(ws)) AS DOUBLE) / len(ws) AS dr,
         |  CAST(len(list_filter(ws, w -> regexp_matches(w, '[a-z]')))
         |    AS DOUBLE) / len(ws) AS ar
         |  FROM ttoks)
         |SELECT doc_id, CAST(n AS INT) AS n_words,
         |  round(mwl, 6) AS mean_word_len, CAST(stops AS INT) AS stop_hits,
         |  round(dr, 6) AS distinct_ratio,
         |  (n BETWEEN 25 AND 90) AS ok_words,
         |  (mwl >= 3.5 AND mwl <= 5.0) AS ok_mwl,
         |  stops >= 2 AS ok_stop, dr >= 0.35 AS ok_rep, ar >= 0.8 AS ok_alpha,
         |  ((n BETWEEN 25 AND 90) AND mwl >= 3.5 AND mwl <= 5.0
         |    AND stops >= 2 AND dr >= 0.35 AND ar >= 0.8) AS pass
         |FROM m""".stripMargin,
    "t6_unigram_logprob" ->
      s"""WITH $toksSrc,
         |toks2 AS (SELECT doc_id, unnest(ws) AS w FROM toks),
         |freq AS (SELECT w, count(*) AS wn FROM toks2 GROUP BY w),
         |tot AS (SELECT count(*) AS n FROM toks2)
         |SELECT doc_id,
         |  round(avg(-ln(CAST(wn AS DOUBLE) / n)), 6) AS avg_neg_logp,
         |  count(*) AS n_tokens
         |FROM toks2 JOIN freq USING (w) CROSS JOIN tot
         |GROUP BY doc_id""".stripMargin,
    "o11_group_split" ->
      s"""WITH s AS (
         |  SELECT source,
         |    CASE WHEN ${graft.functions.Hashing.polyHashSql("source")} % 10 < 8
         |      THEN 'train' ELSE 'test' END AS split
         |  FROM documents)
         |SELECT split, count(*) AS n_docs,
         |  count(DISTINCT source) AS n_sources
         |FROM s GROUP BY split""".stripMargin,
    "o5_stratified_split" -> {
      val shuf = Hashing.lcgSql("doc_id", 7L, Hashing.LcgM)
      s"""WITH numbered AS (
         |  SELECT lang,
         |    row_number() OVER (PARTITION BY lang ORDER BY $shuf, doc_id) AS grn
         |  FROM documents),
         |counts AS (SELECT lang, count(*) AS gn FROM documents GROUP BY lang)
         |SELECT n.lang, count(*) AS n,
         |  CAST(sum(CASE WHEN grn <= floor(0.8 * gn) THEN 1 ELSE 0 END) AS BIGINT) AS n_train
         |FROM numbered n JOIN counts c ON n.lang = c.lang
         |GROUP BY n.lang""".stripMargin
    },
    "o22_kfold" -> {
      val shuf = Hashing.lcgSql("doc_id", 19L, Hashing.LcgM)
      s"""WITH numbered AS (
         |  SELECT lang, doc_id,
         |    row_number() OVER (PARTITION BY lang ORDER BY $shuf, doc_id) AS grn
         |  FROM documents)
         |SELECT lang, CAST((grn - 1) % 5 AS INT) AS fold, count(*) AS n,
         |  CAST(sum(doc_id) AS BIGINT) AS sum_ids
         |FROM numbered GROUP BY 1, 2""".stripMargin
    },
    "o23_global_sample" -> {
      val shuf = Hashing.lcgSql("doc_id", 23L, Hashing.LcgM)
      s"""SELECT doc_id, lang, n_chars FROM documents
         |ORDER BY $shuf, doc_id LIMIT 64""".stripMargin
    },
    "o24_balanced_shards" ->
      """WITH numbered AS (
        |  SELECT doc_id, n_chars,
        |    row_number() OVER (ORDER BY n_chars DESC, doc_id) AS rn
        |  FROM documents),
        |a AS (
        |  SELECT doc_id, n_chars,
        |    CAST(CASE WHEN ((rn - 1) // 8) % 2 = 0 THEN (rn - 1) % 8
        |      ELSE 7 - ((rn - 1) % 8) END AS INT) AS shard
        |  FROM numbered)
        |SELECT shard, count(*) AS n_docs,
        |  CAST(sum(n_chars) AS BIGINT) AS sum_chars,
        |  CAST(sum(doc_id) AS BIGINT) AS sum_ids
        |FROM a GROUP BY shard""".stripMargin,
    // t25: the same ascending per-source rank + exact integer Gini; the
    // moment sums cast back from HUGEINT, the final floor division in
    // integer space on both sides.
    "t25_gini" ->
      """WITH ranked AS (
        |  SELECT source, n_chars,
        |    row_number() OVER (PARTITION BY source
        |                       ORDER BY n_chars, doc_id) AS rk
        |  FROM documents),
        |a AS (
        |  SELECT source, count(*) AS n_docs,
        |    CAST(sum(n_chars) AS BIGINT) AS sum_size,
        |    CAST(sum(rk * n_chars) AS BIGINT) AS s1
        |  FROM ranked GROUP BY source)
        |SELECT source, n_docs, sum_size,
        |  CAST(((2 * s1 - (n_docs + 1) * sum_size) * 1000000)
        |    // (n_docs * sum_size) AS BIGINT) AS gini_e6
        |FROM a""".stripMargin,
    "o6_sample_per_key" -> {
      val shuf = Hashing.lcgSql("doc_id", 11L, Hashing.LcgM)
      s"""WITH cells AS (
         |  SELECT doc_id, lang || '|' || source AS cell FROM documents),
         |ranked AS (
         |  SELECT cell, doc_id,
         |    row_number() OVER (PARTITION BY cell ORDER BY $shuf, doc_id) AS rn
         |  FROM cells)
         |SELECT cell, doc_id FROM ranked WHERE rn <= 5""".stripMargin
    },
    "d2_minhash_lsh" -> {
      val matches = (0 until Dedup.K).map(k =>
        s"CASE WHEN sa.s$k = sb.s$k THEN 1 ELSE 0 END").mkString(" + ")
      s"""WITH $minhashChain
         |SELECT p.doc_a, p.doc_b, p.n_bands,
         |  round(($matches) / ${Dedup.K}.0, 6) AS est_jaccard
         |FROM pairs p
         |  JOIN sig sa ON p.doc_a = sa.doc_id
         |  JOIN sig sb ON p.doc_b = sb.doc_id""".stripMargin
    },
    "c1_clean_corpus" ->
      s"""WITH RECURSIVE $minhashChain,
         |edges AS (
         |  SELECT doc_a, doc_b FROM pairs
         |  UNION SELECT doc_b, doc_a FROM pairs),
         |reach(id, label) AS (
         |  SELECT doc_a AS id, doc_a AS label FROM edges
         |  UNION
         |  SELECT e.doc_a, r.label FROM edges e JOIN reach r ON e.doc_b = r.id),
         |nonkeepers AS (
         |  SELECT id AS doc_id FROM reach GROUP BY id
         |  HAVING id <> min(label)),
         |m AS (SELECT doc_id,
         |  CAST(len(list_filter(ws, w -> list_contains($stopList, w))) AS DOUBLE) / len(ws) AS stop_ratio,
         |  CAST(list_sum(list_transform(ws, w -> len(w))) AS DOUBLE) / len(ws) AS awl,
         |  len(ws) AS n FROM toks),
         |q AS (SELECT doc_id,
         |  0.5 * stop_ratio + 0.3 * least(1.0, CAST(n AS DOUBLE) / 100.0)
         |    + 0.2 * (awl / 10.0) AS quality FROM m),
         |h AS (SELECT doc_id, ${hitsSql("en")} AS en, ${hitsSql("de")} AS de,
         |             ${hitsSql("es")} AS es, ${hitsSql("fr")} AS fr FROM toks),
         |pr AS (SELECT doc_id,
         |  CASE WHEN en >= de AND en >= es AND en >= fr THEN 'en'
         |       WHEN de >= es AND de >= fr THEN 'de'
         |       WHEN es >= fr THEN 'es' ELSE 'fr' END AS pred FROM h)
         |SELECT d.lang, count(*) AS n_docs,
         |  round(avg(quality), 6) AS avg_quality,
         |  CAST(sum(n_chars) AS BIGINT) AS sum_chars
         |FROM documents d JOIN q USING (doc_id) JOIN pr USING (doc_id)
         |WHERE d.doc_id NOT IN (SELECT doc_id FROM nonkeepers)
         |  AND quality >= 0.3 AND pred = d.lang
         |GROUP BY d.lang""".stripMargin,
    // c8: the same chain, with the component map kept whole (keeper =
    // min label) so dup drops can name the doc they lost to.
    "c8_drop_provenance" ->
      s"""WITH RECURSIVE $minhashChain,
         |edges AS (
         |  SELECT doc_a, doc_b FROM pairs
         |  UNION SELECT doc_b, doc_a FROM pairs),
         |reach(id, label) AS (
         |  SELECT doc_a AS id, doc_a AS label FROM edges
         |  UNION
         |  SELECT e.doc_a, r.label FROM edges e JOIN reach r ON e.doc_b = r.id),
         |comp AS (
         |  SELECT id AS doc_id, min(label) AS keep_id FROM reach GROUP BY id),
         |m AS (SELECT doc_id,
         |  CAST(len(list_filter(ws, w -> list_contains($stopList, w))) AS DOUBLE) / len(ws) AS stop_ratio,
         |  CAST(list_sum(list_transform(ws, w -> len(w))) AS DOUBLE) / len(ws) AS awl,
         |  len(ws) AS n FROM toks),
         |q AS (SELECT doc_id,
         |  0.5 * stop_ratio + 0.3 * least(1.0, CAST(n AS DOUBLE) / 100.0)
         |    + 0.2 * (awl / 10.0) AS quality FROM m),
         |h AS (SELECT doc_id, ${hitsSql("en")} AS en, ${hitsSql("de")} AS de,
         |             ${hitsSql("es")} AS es, ${hitsSql("fr")} AS fr FROM toks),
         |pr AS (SELECT doc_id,
         |  CASE WHEN en >= de AND en >= es AND en >= fr THEN 'en'
         |       WHEN de >= es AND de >= fr THEN 'de'
         |       WHEN es >= fr THEN 'es' ELSE 'fr' END AS pred FROM h)
         |SELECT d.doc_id,
         |  CAST(CASE WHEN c.keep_id IS NOT NULL AND c.keep_id <> d.doc_id
         |         THEN 1 ELSE 0 END
         |     + CASE WHEN quality < 0.3 THEN 2 ELSE 0 END
         |     + CASE WHEN pred <> d.lang THEN 4 ELSE 0 END AS INT) AS reason_mask,
         |  CASE WHEN c.keep_id IS NOT NULL AND c.keep_id <> d.doc_id
         |    THEN c.keep_id END AS keeper_id
         |FROM documents d JOIN q USING (doc_id) JOIN pr USING (doc_id)
         |LEFT JOIN comp c USING (doc_id)
         |WHERE (c.keep_id IS NOT NULL AND c.keep_id <> d.doc_id)
         |   OR quality < 0.3 OR pred <> d.lang""".stripMargin,
    "c3_filter_funnel" ->
      s"""WITH RECURSIVE $minhashChain,
         |edges AS (
         |  SELECT doc_a, doc_b FROM pairs
         |  UNION SELECT doc_b, doc_a FROM pairs),
         |reach(id, label) AS (
         |  SELECT doc_a AS id, doc_a AS label FROM edges
         |  UNION
         |  SELECT e.doc_a, r.label FROM edges e JOIN reach r ON e.doc_b = r.id),
         |nonkeepers AS (
         |  SELECT id AS doc_id FROM reach GROUP BY id
         |  HAVING id <> min(label)),
         |m AS (SELECT doc_id,
         |  CAST(len(list_filter(ws, w -> list_contains($stopList, w))) AS DOUBLE) / len(ws) AS stop_ratio,
         |  CAST(list_sum(list_transform(ws, w -> len(w))) AS DOUBLE) / len(ws) AS awl,
         |  len(ws) AS n FROM toks),
         |q AS (SELECT doc_id,
         |  0.5 * stop_ratio + 0.3 * least(1.0, CAST(n AS DOUBLE) / 100.0)
         |    + 0.2 * (awl / 10.0) AS quality FROM m),
         |h AS (SELECT doc_id, ${hitsSql("en")} AS en, ${hitsSql("de")} AS de,
         |             ${hitsSql("es")} AS es, ${hitsSql("fr")} AS fr FROM toks),
         |pr AS (SELECT doc_id,
         |  CASE WHEN en >= de AND en >= es AND en >= fr THEN 'en'
         |       WHEN de >= es AND de >= fr THEN 'de'
         |       WHEN es >= fr THEN 'es' ELSE 'fr' END AS pred FROM h)
         |SELECT CAST(count(*) AS BIGINT) AS n_total,
         |  CAST(sum(CASE WHEN nk.doc_id IS NULL THEN 1 ELSE 0 END) AS BIGINT)
         |    AS after_dedup,
         |  CAST(sum(CASE WHEN nk.doc_id IS NULL AND quality >= 0.3
         |    THEN 1 ELSE 0 END) AS BIGINT) AS after_quality,
         |  CAST(sum(CASE WHEN nk.doc_id IS NULL AND quality >= 0.3
         |    AND pred = d.lang THEN 1 ELSE 0 END) AS BIGINT) AS after_langid
         |FROM documents d
         |LEFT JOIN nonkeepers nk USING (doc_id)
         |JOIN q USING (doc_id) JOIN pr USING (doc_id)""".stripMargin,
    "d20_incremental_dedup" -> incrementalOracle,
    "e9_stream_incremental" -> incrementalOracle,
    // e14: the batch expression of the streaming curation policy — the
    // Gopher conjunction AND no ≥2-band match into the standing (≥ 50)
    // corpus, rolled up per lang over the surviving delta (< 50) docs.
    "e14_stream_curation" ->
      s"""WITH $toksSrc, $shSrc, $hashedSrc, $sigSrc, $bucketsSrc, $trimToksSrc,
         |dup AS (SELECT DISTINCT doc_id FROM (
         |  SELECT a.doc_id, b.doc_id AS o, count(*) AS nb
         |  FROM buckets a JOIN buckets b
         |    ON a.band = b.band AND a.band_key = b.band_key
         |  WHERE a.doc_id < 50 AND b.doc_id >= 50
         |  GROUP BY 1, 2) WHERE nb >= 2),
         |surv AS (
         |  SELECT d.doc_id, d.lang, d.n_chars
         |  FROM documents d JOIN ttoks t USING (doc_id)
         |  WHERE d.doc_id < 50
         |    AND ${gopherPassSql("t.ws")}
         |    AND d.doc_id NOT IN (SELECT doc_id FROM dup))
         |SELECT lang, count(*) AS n_docs,
         |  CAST(sum(doc_id) AS BIGINT) AS sum_ids,
         |  CAST(sum(n_chars) AS BIGINT) AS sum_chars
         |FROM surv GROUP BY lang""".stripMargin,
    // The lifecycle union: batch 1 ([100,200)) against the standing corpus
    // (>= 200) it probed, plus batch 2 (< 100) against standing ∪ batch 1
    // (>= 100) — the second disjunct's batch1 rows exist only via the
    // append. Batch-internal pairs are absent on BOTH sides: the engine's
    // store never contains the probing batch, and the oracle's predicate
    // keeps doc_new and doc_old in disjoint ranges.
    // e18: version 1 = batch 1's slice exactly (isolation under the
    // later commit), version 2 = the cumulative union.
    "e18_stream_snapshot" ->
      """SELECT CAST(1 AS INT) AS version, count(*) AS n_docs,
        |  CAST(sum(doc_id) AS BIGINT) AS sum_ids,
        |  CAST(sum(n_chars) AS BIGINT) AS sum_chars
        |FROM documents WHERE doc_id % 2 = 0
        |UNION ALL
        |SELECT CAST(2 AS INT), count(*), CAST(sum(doc_id) AS BIGINT),
        |  CAST(sum(n_chars) AS BIGINT)
        |FROM documents""".stripMargin,
    // e17: the SpaceSaving merge algebra replayed exactly — batch 1 from
    // the empty state (floor 0), prune to 16 by (cnt desc, token), floor
    // = max evicted; batch 2 merges on top (entering tokens credited the
    // floor). The final 16-row sketch state hash-matches bit-for-bit.
    "e17_stream_topk" ->
      s"""WITH $toksSrc,
         |tok AS (SELECT doc_id, unnest(ws) AS token FROM toks),
         |b1 AS (SELECT token, count(*) AS bc FROM tok
         |       WHERE doc_id % 2 = 0 GROUP BY 1),
         |b2 AS (SELECT token, count(*) AS bc FROM tok
         |       WHERE doc_id % 2 = 1 GROUP BY 1),
         |m1 AS (SELECT token, bc AS cnt, CAST(0 AS BIGINT) AS err,
         |    row_number() OVER (ORDER BY bc DESC, token) AS rk FROM b1),
         |s1 AS (SELECT token, cnt, err FROM m1 WHERE rk <= 16),
         |f1 AS (SELECT coalesce(max(cnt), 0) AS fl FROM m1 WHERE rk > 16),
         |m2 AS (SELECT coalesce(s1.token, b2.token) AS token,
         |    CASE WHEN s1.token IS NULL THEN f1.fl + b2.bc
         |         ELSE s1.cnt + coalesce(b2.bc, 0) END AS cnt,
         |    CASE WHEN s1.token IS NULL THEN f1.fl ELSE s1.err END AS err
         |  FROM s1 FULL OUTER JOIN b2 ON s1.token = b2.token CROSS JOIN f1),
         |r2 AS (SELECT token, cnt, err,
         |    row_number() OVER (ORDER BY cnt DESC, token) AS rk FROM m2),
         |s2 AS (SELECT token, cnt, err FROM r2 WHERE rk <= 16),
         |ex AS (SELECT token, count(*) AS true_cnt FROM tok GROUP BY 1)
         |SELECT s2.token, CAST(s2.cnt AS BIGINT) AS cnt,
         |  CAST(s2.err AS BIGINT) AS err, ex.true_cnt,
         |  s2.cnt >= ex.true_cnt AS ok_hi,
         |  s2.cnt - s2.err <= ex.true_cnt AS ok_lo
         |FROM s2 JOIN ex USING (token)""".stripMargin,
    "e10_multibatch_lifecycle" ->
      s"""WITH $toksSrc, $shSrc, $hashedSrc, $sigSrc, $bucketsSrc
         |SELECT a.doc_id AS doc_new, b.doc_id AS doc_old,
         |  count(*) AS n_bands
         |FROM buckets a JOIN buckets b
         |  ON a.band = b.band AND a.band_key = b.band_key
         |WHERE (a.doc_id >= 100 AND a.doc_id < 200 AND b.doc_id >= 200)
         |   OR (a.doc_id < 100 AND b.doc_id >= 100)
         |GROUP BY 1, 2""".stripMargin,
    "d21_store_append" -> storeRollupOracle,
    "d22_skewed_dedup" ->
      s"""WITH skdocs AS (
         |  SELECT doc_id,
         |    CASE WHEN doc_id % 10 < 3 THEN '$Boilerplate' ELSE text END AS text
         |  FROM documents),
         |${toksSrcFrom("skdocs")}, $shSrc, $hashedSrc, $sigSrc, $bucketsSrc, $pairsSrc
         |SELECT doc_a, count(*) AS n_pairs, CAST(sum(doc_b) AS BIGINT) AS sum_b,
         |  max(n_bands) AS max_bands
         |FROM pairs GROUP BY doc_a""".stripMargin,
    // d33: the composed SQL — exact collapse to min-doc_id reps with
    // copy counts, the SAME minhash chain over reps only, multiplicity
    // attached to both pair sides.
    "d33_guarded_dedup" ->
      s"""WITH skdocs AS (
         |  SELECT doc_id,
         |    CASE WHEN doc_id % 10 < 3 THEN '$Boilerplate' ELSE text END AS text
         |  FROM documents),
         |reps AS (
         |  SELECT min(doc_id) AS doc_id, text, count(*) AS n_copies
         |  FROM skdocs GROUP BY text),
         |${toksSrcFrom("reps")}, $shSrc, $hashedSrc, $sigSrc, $bucketsSrc, $pairsSrc,
         |jp AS (
         |  SELECT p.doc_a, p.doc_b, p.n_bands,
         |    ra.n_copies AS copies_a, rb.n_copies AS copies_b
         |  FROM pairs p
         |    JOIN reps ra ON p.doc_a = ra.doc_id
         |    JOIN reps rb ON p.doc_b = rb.doc_id)
         |SELECT doc_a, count(*) AS n_pairs, CAST(sum(doc_b) AS BIGINT) AS sum_b,
         |  max(n_bands) AS max_bands, max(copies_a) AS copies_a,
         |  CAST(sum(copies_b) AS BIGINT) AS sum_copies_b
         |FROM jp GROUP BY doc_a""".stripMargin,
    // d23: hot-only salting must not change a single pair — the oracle is
    // the SAME plain join over the same skewed corpus as d22.
    "d23_salted_hot" ->
      s"""WITH skdocs AS (
         |  SELECT doc_id,
         |    CASE WHEN doc_id % 10 < 3 THEN '$Boilerplate' ELSE text END AS text
         |  FROM documents),
         |${toksSrcFrom("skdocs")}, $shSrc, $hashedSrc, $sigSrc, $bucketsSrc, $pairsSrc
         |SELECT doc_a, count(*) AS n_pairs, CAST(sum(doc_b) AS BIGINT) AS sum_b,
         |  max(n_bands) AS max_bands
         |FROM pairs GROUP BY doc_a""".stripMargin,
    // Batch append and streaming append must leave the store in the SAME
    // state as a full rebuild.
    "e11_stream_append" -> storeRollupOracle,
    "e12_exactly_once_append" -> storeRollupOracle,
    "d8_dup_clusters" ->
      s"""WITH RECURSIVE $minhashChain,
         |edges AS (
         |  SELECT doc_a, doc_b FROM pairs
         |  UNION SELECT doc_b, doc_a FROM pairs),
         |reach(id, label) AS (
         |  SELECT doc_a AS id, doc_a AS label FROM edges
         |  UNION
         |  SELECT e.doc_a, r.label FROM edges e JOIN reach r ON e.doc_b = r.id)
         |SELECT id AS doc_id, min(label) AS keep_id
         |FROM reach GROUP BY id""".stripMargin,
    "d19_keep_longest" ->
      s"""WITH RECURSIVE $minhashChain,
         |edges AS (
         |  SELECT doc_a, doc_b FROM pairs
         |  UNION SELECT doc_b, doc_a FROM pairs),
         |reach(id, label) AS (
         |  SELECT doc_a AS id, doc_a AS label FROM edges
         |  UNION
         |  SELECT e.doc_a, r.label FROM edges e JOIN reach r ON e.doc_b = r.id),
         |comp AS (
         |  SELECT id AS doc_id, min(label) AS cluster_id FROM reach GROUP BY id),
         |j AS (
         |  SELECT c.cluster_id, c.doc_id, d.n_chars
         |  FROM comp c JOIN documents d USING (doc_id)),
         |rk AS (
         |  SELECT cluster_id, doc_id, n_chars, row_number() OVER (
         |    PARTITION BY cluster_id ORDER BY n_chars DESC, doc_id) AS rk
         |  FROM j),
         |sz AS (SELECT cluster_id, count(*) AS n_members FROM j GROUP BY cluster_id)
         |SELECT r.cluster_id, r.doc_id AS keep_doc, r.n_chars AS keep_chars,
         |  sz.n_members
         |FROM rk r JOIN sz USING (cluster_id)
         |WHERE r.rk = 1""".stripMargin,
    "d11_dup_clusters_star" ->
      s"""WITH RECURSIVE $minhashChain,
         |edges AS (
         |  SELECT doc_a, doc_b FROM pairs
         |  UNION SELECT doc_b, doc_a FROM pairs),
         |reach(id, label) AS (
         |  SELECT doc_a AS id, doc_a AS label FROM edges
         |  UNION
         |  SELECT e.doc_a, r.label FROM edges e JOIN reach r ON e.doc_b = r.id)
         |SELECT id AS doc_id, min(label) AS keep_id
         |FROM reach GROUP BY id""".stripMargin,
    // d30: triangles enumerated id-ordered (x<y<z — orientation-free;
    // the engine's degree-ordered enumeration yields the same set), then
    // exploded to per-node counts. All-BIGINT lcc floor division.
    "d30_triangles" ->
      s"""WITH $minhashChain,
         |e AS (
         |  SELECT least(doc_a, doc_b) AS a, greatest(doc_a, doc_b) AS b
         |  FROM pairs WHERE doc_a <> doc_b GROUP BY 1, 2),
         |deg AS (
         |  SELECT node, count(*) AS deg FROM (
         |    SELECT a AS node FROM e UNION ALL SELECT b AS node FROM e) u
         |  GROUP BY 1),
         |tri AS (
         |  SELECT e1.a AS x, e1.b AS y, e2.b AS z
         |  FROM e e1 JOIN e e2 ON e2.a = e1.b
         |    JOIN e e3 ON e3.a = e1.a AND e3.b = e2.b),
         |tn AS (
         |  SELECT node, count(*) AS n_tri FROM (
         |    SELECT x AS node FROM tri UNION ALL SELECT y FROM tri
         |    UNION ALL SELECT z FROM tri) u
         |  GROUP BY 1)
         |SELECT d.node AS doc_id, CAST(d.deg AS BIGINT) AS deg,
         |  CAST(coalesce(tn.n_tri, 0) AS BIGINT) AS n_tri,
         |  CAST(CASE WHEN d.deg >= 2 THEN
         |      (2 * coalesce(tn.n_tri, 0) * 1000000) // (d.deg * (d.deg - 1))
         |    ELSE 0 END AS BIGINT) AS lcc_e6
         |FROM deg d LEFT JOIN tn USING (node)""".stripMargin,
    "d3_simhash" -> simhashSql,
    "t7_tfidf_top_term" ->
      s"""WITH $toksSrc,
         |tf AS (SELECT doc_id, unnest(ws) AS w FROM toks),
         |tfc AS (SELECT doc_id, w, count(*) AS tf FROM tf GROUP BY doc_id, w),
         |dfc AS (SELECT w, count(*) AS df FROM tfc GROUP BY w),
         |tot AS (SELECT count(*) AS n FROM documents),
         |scored AS (
         |  SELECT doc_id, w, round(tf * ln(CAST(n AS DOUBLE) / df), 6) AS tfidf
         |  FROM tfc JOIN dfc USING (w) CROSS JOIN tot),
         |ranked AS (
         |  SELECT doc_id, w, tfidf,
         |    row_number() OVER (PARTITION BY doc_id
         |                       ORDER BY tfidf DESC, w DESC) AS rn
         |  FROM scored)
         |SELECT doc_id, w AS top_term, tfidf FROM ranked WHERE rn = 1""".stripMargin,
    "o7_weighted_mix" -> {
      val lcg = Hashing.lcgSql("doc_id", 99L, 1000L)
      s"""SELECT source, count(*) AS n_total,
         |  CAST(sum(CASE WHEN $lcg <
         |    (CAST(regexp_extract(source, 'src(\\d+)', 1) AS INT) % 10 + 1) * 100
         |    THEN 1 ELSE 0 END) AS BIGINT) AS n_sampled
         |FROM documents GROUP BY source""".stripMargin
    },
    "t5_freq_tokens" ->
      s"""WITH $toksSrc,
         |toks2 AS (SELECT doc_id, unnest(ws) AS w FROM toks)
         |SELECT count(*) AS n_tokens, CAST(20 AS BIGINT) AS n_reported,
         |  CAST(0 AS BIGINT) AS n_violations
         |FROM toks2""".stripMargin,
    "d9_simhash_clusters" ->
      s"""WITH simh AS ($simhashSql),
         |g AS (SELECT simhash, min(doc_id) AS keep_id
         |      FROM simh GROUP BY simhash HAVING count(*) >= 2)
         |SELECT s.doc_id, g.keep_id
         |FROM simh s JOIN g USING (simhash)""".stripMargin,
    "d13_span_dup" ->
      s"""WITH $toksSrc,
         |sh10 AS (
         |  SELECT doc_id,
         |    unnest(list_transform(range(1, greatest(len(ws) - 8, 1)),
         |      i -> ws[i] || ' ' || ws[i + 1] || ' ' || ws[i + 2] || ' ' ||
         |           ws[i + 3] || ' ' || ws[i + 4] || ' ' || ws[i + 5] || ' ' ||
         |           ws[i + 6] || ' ' || ws[i + 7] || ' ' || ws[i + 8] || ' ' ||
         |           ws[i + 9])) AS shingle
         |  FROM toks),
         |h10 AS (SELECT DISTINCT doc_id, ${graft.functions.Hashing.polyHashSql("shingle")} AS h FROM sh10),
         |shared AS (SELECT h FROM h10 GROUP BY h HAVING count(*) >= 2)
         |SELECT doc_id, count(*) AS n_dup_spans
         |FROM h10 JOIN shared USING (h)
         |GROUP BY doc_id""".stripMargin,
    "d14_span_sweep" ->
      s"""WITH $toksSrc,
         |sw AS (
         |  SELECT doc_id, n,
         |    unnest(list_transform(range(1, greatest(len(ws) - n + 2, 1)),
         |      i -> array_to_string(ws[i:i+n-1], ' '))) AS shingle
         |  FROM toks CROSS JOIN (VALUES (10), (20), (40)) AS nn(n)),
         |h AS (SELECT DISTINCT doc_id, n,
         |        ${graft.functions.Hashing.polyHashSql("shingle")} AS h FROM sw),
         |shared AS (SELECT n, h FROM h GROUP BY n, h HAVING count(*) >= 2)
         |SELECT doc_id, CAST(n AS INT) AS n, count(*) AS n_dup_spans
         |FROM h JOIN shared USING (n, h)
         |GROUP BY doc_id, n""".stripMargin,
    "d15_max_dup_span" ->
      s"""WITH $toksSrc,
         |sw AS (
         |  SELECT doc_id, n,
         |    unnest(list_transform(range(1, greatest(len(ws) - n + 2, 1)),
         |      i -> array_to_string(ws[i:i+n-1], ' '))) AS shingle
         |  FROM toks CROSS JOIN (VALUES (5), (10), (20), (40), (80)) AS nn(n)),
         |h AS (SELECT DISTINCT doc_id, n,
         |        ${graft.functions.Hashing.polyHashSql("shingle")} AS h FROM sw),
         |shared AS (SELECT n, h FROM h GROUP BY n, h HAVING count(*) >= 2)
         |SELECT doc_id, CAST(max(n) AS INT) AS max_dup_n
         |FROM h JOIN shared USING (n, h)
         |GROUP BY doc_id""".stripMargin,
    // d31: the identical anchor-diagonal computation — per-position
    // k-gram polyhash anchors, the 2..LdsMaxFreq anchor-frequency band
    // (the engine's hub cap, replicated so the gate pins the capped
    // semantics), cross-doc equi-join, gaps-and-islands per
    // (pair, diagonal) (pa − row_number is the island key), then the
    // per-pair argmax with the (len DESC, start_a, start_b) tie order.
    "d31_longest_dup" ->
      s"""WITH $toksSrc,
         |anch AS (
         |  SELECT doc_id, pos,
         |    ${graft.functions.Hashing.polyHashSql(
               s"array_to_string(ws[pos:pos+$LdsK-1], ' ')")} AS h
         |  FROM (SELECT doc_id, ws,
         |          unnest(range(1, greatest(len(ws) - $LdsK + 2, 1))) AS pos
         |        FROM toks)),
         |pairable AS (
         |  SELECT h FROM anch GROUP BY h
         |  HAVING count(*) >= 2 AND count(*) <= $LdsMaxFreq),
         |kept AS (SELECT a.* FROM anch a JOIN pairable USING (h)),
         |pairs AS (
         |  SELECT a.doc_id AS da, b.doc_id AS db, a.pos AS pa, b.pos AS pb
         |  FROM kept a JOIN kept b USING (h) WHERE a.doc_id < b.doc_id),
         |isl AS (
         |  SELECT da, db, pa, pb,
         |    pa - row_number() OVER (PARTITION BY da, db, pa - pb
         |                            ORDER BY pa) AS grp,
         |    pa - pb AS diag
         |  FROM pairs),
         |runs AS (
         |  SELECT da, db, count(*) + $LdsK - 1 AS len,
         |    min(pa) AS sa, min(pb) AS sb
         |  FROM isl GROUP BY da, db, diag, grp),
         |best AS (
         |  SELECT da, db, len, sa, sb,
         |    row_number() OVER (PARTITION BY da, db
         |                       ORDER BY len DESC, sa, sb) AS rk
         |  FROM runs)
         |SELECT da AS doc_a, db AS doc_b, CAST(len AS BIGINT) AS len_tokens,
         |  CAST(sa AS BIGINT) AS start_a, CAST(sb AS BIGINT) AS start_b
         |FROM best WHERE rk = 1 AND len >= $LdsMinLen""".stripMargin,
    // d32: the d31 kernel across the corpus/eval split — eval-side anchors
    // uncapped, corpus side semi-joined to eval fingerprints then
    // frequency-capped, the same island fold and tie order.
    "d32_decontam" ->
      s"""WITH $toksSrc,
         |anch AS (
         |  SELECT doc_id, pos,
         |    ${graft.functions.Hashing.polyHashSql(
               s"array_to_string(ws[pos:pos+$LdsK-1], ' ')")} AS h
         |  FROM (SELECT doc_id, ws,
         |          unnest(range(1, greatest(len(ws) - $LdsK + 2, 1))) AS pos
         |        FROM toks)),
         |ea AS (SELECT * FROM anch WHERE doc_id < $LdsEvalSplit),
         |ca0 AS (
         |  SELECT c.* FROM anch c
         |  JOIN (SELECT DISTINCT h FROM ea) eh USING (h)
         |  WHERE c.doc_id >= $LdsEvalSplit),
         |capd AS (SELECT h FROM ca0 GROUP BY h
         |         HAVING count(*) <= $LdsMaxFreq),
         |ca AS (SELECT c.* FROM ca0 c JOIN capd USING (h)),
         |pairs AS (
         |  SELECT c.doc_id AS da, e.doc_id AS db, c.pos AS pa, e.pos AS pb
         |  FROM ca c JOIN ea e USING (h)),
         |isl AS (
         |  SELECT da, db, pa, pb,
         |    pa - row_number() OVER (PARTITION BY da, db, pa - pb
         |                            ORDER BY pa) AS grp,
         |    pa - pb AS diag
         |  FROM pairs),
         |runs AS (
         |  SELECT da, db, count(*) + $LdsK - 1 AS len,
         |    min(pa) AS sa, min(pb) AS sb
         |  FROM isl GROUP BY da, db, diag, grp),
         |best AS (
         |  SELECT da, db, len, sa, sb,
         |    row_number() OVER (PARTITION BY da, db
         |                       ORDER BY len DESC, sa, sb) AS rk
         |  FROM runs)
         |SELECT da AS doc_id, db AS eval_id, CAST(len AS BIGINT) AS len_tokens,
         |  CAST(sa AS BIGINT) AS start_doc, CAST(sb AS BIGINT) AS start_eval
         |FROM best WHERE rk = 1 AND len >= $LdsMinLen""".stripMargin,
    "d18_editdist_verify" ->
      s"""WITH $minhashChain,
         |norm AS (SELECT doc_id,
         |  trim(regexp_replace(lower(text), '\\s+', ' ', 'g')) AS t FROM documents)
         |SELECT c.doc_a, c.doc_b,
         |  CAST(levenshtein(a.t, b.t) AS BIGINT) AS lev,
         |  round(CAST(levenshtein(a.t, b.t) AS DOUBLE) / greatest(len(a.t), len(b.t)), 6) AS rel
         |FROM pairs c
         |  JOIN norm a ON a.doc_id = c.doc_a
         |  JOIN norm b ON b.doc_id = c.doc_b
         |WHERE round(CAST(levenshtein(a.t, b.t) AS DOUBLE) / greatest(len(a.t), len(b.t)), 6) <= 0.3""".stripMargin,
    "d17_top_spans" ->
      s"""WITH $toksSrc,
         |st AS (SELECT doc_id, ws,
         |  unnest(range(1, greatest(len(ws) - 8, 1))) AS i FROM toks),
         |sh AS (SELECT doc_id, CAST(i - 1 AS INT) AS pos,
         |  array_to_string(ws[i:i+9], ' ') AS shingle FROM st),
         |h AS (SELECT doc_id, pos, ${graft.functions.Hashing.polyHashSql("shingle")} AS h FROM sh),
         |perdoc AS (SELECT h, doc_id, count(*) AS n_occ, min(pos) AS min_pos
         |           FROM h GROUP BY h, doc_id),
         |agg AS (
         |  SELECT h, count(*) AS n_docs, CAST(sum(n_occ) AS BIGINT) AS n_occurrences,
         |    min(struct_pack(d := doc_id, p := min_pos)) AS first
         |  FROM perdoc GROUP BY h HAVING count(*) >= 2),
         |top AS (SELECT * FROM agg ORDER BY n_docs DESC, h LIMIT 10)
         |SELECT t.h, t.n_docs, t.n_occurrences, t.first.d AS doc_id,
         |  array_to_string(k.ws[t.first.p + 1 : t.first.p + 10], ' ') AS span_text
         |FROM top t JOIN toks k ON k.doc_id = t.first.d""".stripMargin,
    "c2_cut_spans" ->
      s"""WITH $toksSrc,
         |st AS (SELECT doc_id, ws,
         |  unnest(range(1, greatest(len(ws) - 8, 1))) AS i FROM toks),
         |occ AS (SELECT doc_id, CAST(i - 1 AS INT) AS pos,
         |  ${graft.functions.Hashing.polyHashSql("array_to_string(ws[i:i+9], ' ')")} AS h
         |  FROM st),
         |agg AS (
         |  SELECT h, min(struct_pack(d := doc_id, p := pos)) AS first
         |  FROM occ GROUP BY h HAVING count(*) >= 2),
         |cuts AS (
         |  SELECT o.doc_id, o.pos FROM occ o JOIN agg a USING (h)
         |  WHERE NOT (o.doc_id = a.first.d AND o.pos = a.first.p)),
         |ncuts AS (SELECT doc_id, count(*) AS n_cuts FROM cuts GROUP BY doc_id),
         |tok AS (SELECT doc_id, ws, unnest(range(1, len(ws) + 1)) AS i FROM toks),
         |kept AS (
         |  SELECT t.doc_id, t.i, t.ws[t.i] AS w FROM tok t
         |  WHERE NOT EXISTS (SELECT 1 FROM cuts c
         |    WHERE c.doc_id = t.doc_id AND c.pos <= t.i - 1 AND t.i - 1 < c.pos + 10)),
         |fin AS (
         |  SELECT doc_id, count(*) AS n_kept,
         |    string_agg(w, ' ' ORDER BY i) AS cleaned_text
         |  FROM kept GROUP BY doc_id)
         |SELECT t.doc_id, CAST(len(t.ws) AS INT) AS n_tokens,
         |  CAST(coalesce(f.n_kept, 0) AS INT) AS n_kept,
         |  CAST(coalesce(nc.n_cuts, 0) AS INT) AS n_cuts,
         |  coalesce(f.cleaned_text, '') AS cleaned_text
         |FROM toks t
         |  LEFT JOIN fin f USING (doc_id)
         |  LEFT JOIN ncuts nc USING (doc_id)""".stripMargin,
    // e19: the BATCH expression of streaming decontamination — exactly
    // c9's cut arithmetic (the micro-batched kernel must leave the store
    // as if the whole corpus were cleaned at rest), minus the cleaned
    // text (the store carries the per-doc cut accounting).
    "e19_stream_decontam" ->
      s"""WITH $toksSrc,
         |ct AS (SELECT * FROM toks WHERE doc_id >= $LdsEvalSplit),
         |st AS (SELECT doc_id, ws,
         |  unnest(range(1, greatest(len(ws) - 8, 1))) AS i FROM ct),
         |occ AS (SELECT doc_id, CAST(i - 1 AS INT) AS pos,
         |  ${graft.functions.Hashing.polyHashSql("array_to_string(ws[i:i+9], ' ')")} AS h
         |  FROM st),
         |est AS (SELECT ws, unnest(range(1, greatest(len(ws) - 8, 1))) AS i
         |        FROM toks WHERE doc_id < $LdsEvalSplit),
         |eh AS (SELECT DISTINCT
         |  ${graft.functions.Hashing.polyHashSql("array_to_string(ws[i:i+9], ' ')")} AS h
         |  FROM est),
         |cuts AS (SELECT o.doc_id, o.pos FROM occ o JOIN eh USING (h)),
         |ncuts AS (SELECT doc_id, count(*) AS n_cuts FROM cuts GROUP BY doc_id),
         |tok AS (SELECT doc_id, ws, unnest(range(1, len(ws) + 1)) AS i FROM ct),
         |kept AS (
         |  SELECT t.doc_id, t.i FROM tok t
         |  WHERE NOT EXISTS (SELECT 1 FROM cuts c
         |    WHERE c.doc_id = t.doc_id AND c.pos <= t.i - 1 AND t.i - 1 < c.pos + 10)),
         |fin AS (SELECT doc_id, count(*) AS n_kept FROM kept GROUP BY doc_id)
         |SELECT t.doc_id, CAST(len(t.ws) AS INT) AS n_tokens,
         |  CAST(coalesce(f.n_kept, 0) AS INT) AS n_kept,
         |  CAST(coalesce(nc.n_cuts, 0) AS INT) AS n_cuts
         |FROM ct t
         |  LEFT JOIN fin f USING (doc_id)
         |  LEFT JOIN ncuts nc USING (doc_id)""".stripMargin,
    // c9: c2's cut/reconstruct kernel over the corpus side only, with the
    // cut set = every corpus window whose fingerprint occurs in the eval
    // side (no canonical keeper).
    "c9_decontam_clean" ->
      s"""WITH $toksSrc,
         |ct AS (SELECT * FROM toks WHERE doc_id >= $LdsEvalSplit),
         |st AS (SELECT doc_id, ws,
         |  unnest(range(1, greatest(len(ws) - 8, 1))) AS i FROM ct),
         |occ AS (SELECT doc_id, CAST(i - 1 AS INT) AS pos,
         |  ${graft.functions.Hashing.polyHashSql("array_to_string(ws[i:i+9], ' ')")} AS h
         |  FROM st),
         |est AS (SELECT ws, unnest(range(1, greatest(len(ws) - 8, 1))) AS i
         |        FROM toks WHERE doc_id < $LdsEvalSplit),
         |eh AS (SELECT DISTINCT
         |  ${graft.functions.Hashing.polyHashSql("array_to_string(ws[i:i+9], ' ')")} AS h
         |  FROM est),
         |cuts AS (SELECT o.doc_id, o.pos FROM occ o JOIN eh USING (h)),
         |ncuts AS (SELECT doc_id, count(*) AS n_cuts FROM cuts GROUP BY doc_id),
         |tok AS (SELECT doc_id, ws, unnest(range(1, len(ws) + 1)) AS i FROM ct),
         |kept AS (
         |  SELECT t.doc_id, t.i, t.ws[t.i] AS w FROM tok t
         |  WHERE NOT EXISTS (SELECT 1 FROM cuts c
         |    WHERE c.doc_id = t.doc_id AND c.pos <= t.i - 1 AND t.i - 1 < c.pos + 10)),
         |fin AS (
         |  SELECT doc_id, count(*) AS n_kept,
         |    string_agg(w, ' ' ORDER BY i) AS cleaned_text
         |  FROM kept GROUP BY doc_id)
         |SELECT t.doc_id, CAST(len(t.ws) AS INT) AS n_tokens,
         |  CAST(coalesce(f.n_kept, 0) AS INT) AS n_kept,
         |  CAST(coalesce(nc.n_cuts, 0) AS INT) AS n_cuts,
         |  coalesce(f.cleaned_text, '') AS cleaned_text
         |FROM ct t
         |  LEFT JOIN fin f USING (doc_id)
         |  LEFT JOIN ncuts nc USING (doc_id)""".stripMargin,
    "c4_cut_long_spans" ->
      s"""WITH $toksSrc,
         |st AS (SELECT doc_id, ws,
         |  unnest(range(1, greatest(len(ws) - 8, 1))) AS i FROM toks),
         |occ AS (SELECT doc_id, CAST(i - 1 AS INT) AS pos,
         |  ${graft.functions.Hashing.polyHashSql("array_to_string(ws[i:i+9], ' ')")} AS h
         |  FROM st),
         |agg AS (
         |  SELECT h, min(struct_pack(d := doc_id, p := pos)) AS first
         |  FROM occ GROUP BY h HAVING count(*) >= 2),
         |cuts AS (
         |  SELECT o.doc_id, o.pos FROM occ o JOIN agg a USING (h)
         |  WHERE NOT (o.doc_id = a.first.d AND o.pos = a.first.p)),
         |brk AS (
         |  SELECT doc_id, pos,
         |    CASE WHEN pos > coalesce(max(pos + 10) OVER (
         |      PARTITION BY doc_id ORDER BY pos
         |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), -1)
         |    THEN 1 ELSE 0 END AS b
         |  FROM cuts),
         |isl AS (
         |  SELECT doc_id, pos,
         |    sum(b) OVER (PARTITION BY doc_id ORDER BY pos) AS gid
         |  FROM brk),
         |runs AS (
         |  SELECT doc_id, min(pos) AS s, max(pos) + 10 AS e
         |  FROM isl GROUP BY doc_id, gid
         |  HAVING max(pos) + 10 - min(pos) >= 30),
         |ncuts AS (SELECT doc_id, count(*) AS n_cuts FROM runs GROUP BY doc_id),
         |tok AS (SELECT doc_id, ws, unnest(range(1, len(ws) + 1)) AS i FROM toks),
         |kept AS (
         |  SELECT t.doc_id, t.i, t.ws[t.i] AS w FROM tok t
         |  WHERE NOT EXISTS (SELECT 1 FROM runs r
         |    WHERE r.doc_id = t.doc_id AND r.s <= t.i - 1 AND t.i - 1 < r.e)),
         |fin AS (
         |  SELECT doc_id, count(*) AS n_kept,
         |    string_agg(w, ' ' ORDER BY i) AS cleaned_text
         |  FROM kept GROUP BY doc_id)
         |SELECT t.doc_id, CAST(len(t.ws) AS INT) AS n_tokens,
         |  CAST(coalesce(f.n_kept, 0) AS INT) AS n_kept,
         |  CAST(coalesce(nc.n_cuts, 0) AS INT) AS n_cuts,
         |  coalesce(f.cleaned_text, '') AS cleaned_text
         |FROM toks t
         |  LEFT JOIN fin f USING (doc_id)
         |  LEFT JOIN ncuts nc USING (doc_id)""".stripMargin,
    // c5 = the c4 cut body with the threshold a SCALAR SUBQUERY over the
    // d15 ladder survey: chosen = min rung whose >=rung doc count is at
    // most N // 20 (else the widest rung). Same integer rule as
    // Dedup.autoMinRun; same sweep CTEs as the passing d15 oracle.
    "c5_cut_spans_auto" ->
      s"""WITH $toksSrc,
         |sw AS (
         |  SELECT doc_id, n,
         |    unnest(list_transform(range(1, greatest(len(ws) - n + 2, 1)),
         |      i -> array_to_string(ws[i:i+n-1], ' '))) AS shingle
         |  FROM toks CROSS JOIN (VALUES (10), (20), (40), (80)) AS nn(n)),
         |hh AS (SELECT DISTINCT doc_id, n,
         |        ${graft.functions.Hashing.polyHashSql("shingle")} AS h FROM sw),
         |sh2 AS (SELECT n, h FROM hh GROUP BY n, h HAVING count(*) >= 2),
         |md AS (SELECT doc_id, max(n) AS mx
         |       FROM hh JOIN sh2 USING (n, h) GROUP BY doc_id),
         |chosen AS (
         |  SELECT coalesce(min(w), 80) AS w
         |  FROM (VALUES (10), (20), (40), (80)) AS lw(w)
         |  WHERE (SELECT count(*) FROM md WHERE mx >= w)
         |        <= (SELECT count(*) FROM documents) // 20),
         |st AS (SELECT doc_id, ws,
         |  unnest(range(1, greatest(len(ws) - 8, 1))) AS i FROM toks),
         |occ AS (SELECT doc_id, CAST(i - 1 AS INT) AS pos,
         |  ${graft.functions.Hashing.polyHashSql("array_to_string(ws[i:i+9], ' ')")} AS h
         |  FROM st),
         |agg AS (
         |  SELECT h, min(struct_pack(d := doc_id, p := pos)) AS first
         |  FROM occ GROUP BY h HAVING count(*) >= 2),
         |cuts AS (
         |  SELECT o.doc_id, o.pos FROM occ o JOIN agg a USING (h)
         |  WHERE NOT (o.doc_id = a.first.d AND o.pos = a.first.p)),
         |brk AS (
         |  SELECT doc_id, pos,
         |    CASE WHEN pos > coalesce(max(pos + 10) OVER (
         |      PARTITION BY doc_id ORDER BY pos
         |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), -1)
         |    THEN 1 ELSE 0 END AS b
         |  FROM cuts),
         |isl AS (
         |  SELECT doc_id, pos,
         |    sum(b) OVER (PARTITION BY doc_id ORDER BY pos) AS gid
         |  FROM brk),
         |runs AS (
         |  SELECT doc_id, min(pos) AS s, max(pos) + 10 AS e
         |  FROM isl GROUP BY doc_id, gid
         |  HAVING max(pos) + 10 - min(pos) >= (SELECT w FROM chosen)),
         |ncuts AS (SELECT doc_id, count(*) AS n_cuts FROM runs GROUP BY doc_id),
         |tok AS (SELECT doc_id, ws, unnest(range(1, len(ws) + 1)) AS i FROM toks),
         |kept AS (
         |  SELECT t.doc_id, t.i, t.ws[t.i] AS w FROM tok t
         |  WHERE NOT EXISTS (SELECT 1 FROM runs r
         |    WHERE r.doc_id = t.doc_id AND r.s <= t.i - 1 AND t.i - 1 < r.e)),
         |fin AS (
         |  SELECT doc_id, count(*) AS n_kept,
         |    string_agg(w, ' ' ORDER BY i) AS cleaned_text
         |  FROM kept GROUP BY doc_id)
         |SELECT t.doc_id, CAST(len(t.ws) AS INT) AS n_tokens,
         |  CAST(coalesce(f.n_kept, 0) AS INT) AS n_kept,
         |  CAST(coalesce(nc.n_cuts, 0) AS INT) AS n_cuts,
         |  coalesce(f.cleaned_text, '') AS cleaned_text,
         |  CAST((SELECT w FROM chosen) AS INT) AS min_run
         |FROM toks t
         |  LEFT JOIN fin f USING (doc_id)
         |  LEFT JOIN ncuts nc USING (doc_id)""".stripMargin,
    "d12_contamination" ->
      s"""WITH $toksSrc, $shSrc, $hashedSrc,
         |ev AS (SELECT DISTINCT h FROM hashed WHERE doc_id < 50),
         |tr AS (SELECT doc_id, h FROM hashed WHERE doc_id >= 50)
         |SELECT doc_id, count(*) AS n_shared
         |FROM tr JOIN ev USING (h)
         |GROUP BY doc_id HAVING count(*) >= 3""".stripMargin,
    // d34: per-position 3-gram hashes (the sh CTE with the position kept),
    // eval positions counted against the DISTINCT training hash set, the
    // same floor-division fraction and flag as the engine.
    "d34_eval_dirtiness" ->
      s"""WITH $toksSrc,
         |shp AS (
         |  SELECT doc_id, i AS pos,
         |    ${Hashing.polyHashSql("ws[i] || ' ' || ws[i + 1] || ' ' || ws[i + 2]")} AS h
         |  FROM (SELECT doc_id, ws,
         |          unnest(range(1, greatest(len(ws) - 1, 1))) AS i
         |        FROM toks)),
         |ev AS (SELECT doc_id AS eval_id, pos, h FROM shp WHERE doc_id < 50),
         |tr AS (SELECT DISTINCT h FROM shp WHERE doc_id >= 50),
         |d AS (SELECT eval_id, count(*) AS n_dirty
         |      FROM ev JOIN tr USING (h) GROUP BY eval_id),
         |w AS (SELECT doc_id AS eval_id,
         |        CAST(greatest(len(ws) - 2, 0) AS BIGINT) AS n_windows
         |      FROM toks WHERE doc_id < 50)
         |SELECT w.eval_id, w.n_windows,
         |  CAST(coalesce(d.n_dirty, 0) AS BIGINT) AS n_dirty,
         |  CAST(CASE WHEN w.n_windows > 0
         |    THEN coalesce(d.n_dirty, 0) * 1000000 // w.n_windows
         |    ELSE 0 END AS BIGINT) AS dirtiness_e6,
         |  coalesce(d.n_dirty, 0) > 0 AS is_dirty
         |FROM w LEFT JOIN d USING (eval_id)""".stripMargin,
    // o26: the identical packing arithmetic — whitespace token counts,
    // one running sum in doc-id order, integer window intervals.
    "o26_sequence_pack" -> packReportSql,
    // e20: the stream must converge to EXACTLY the batch packing — same
    // oracle; any carry drift or double-appended boundary window diverges.
    "e20_stream_pack" -> packReportSql,
    // o27: the same packing interval arithmetic emitted per SEGMENT —
    // the o26 CTEs minus the rollup, plus the two offset projections.
    "o27_pack_manifest" ->
      s"""WITH $toksSrc,
         |n AS (SELECT doc_id, len(ws) AS nt FROM toks),
         |c AS (SELECT doc_id, nt,
         |        CAST(sum(nt) OVER (ORDER BY doc_id) AS BIGINT) AS cum FROM n),
         |iv AS (SELECT doc_id, cum - nt AS s, cum AS e FROM c WHERE nt > 0),
         |bx AS (SELECT doc_id, s, e,
         |        unnest(range(s // 512, (e - 1) // 512 + 1)) AS bin FROM iv)
         |SELECT CAST(bin AS BIGINT) AS bin_id, doc_id,
         |  CAST(greatest(s, bin * 512) - s AS BIGINT) AS doc_offset,
         |  CAST(greatest(s, bin * 512) - bin * 512 AS BIGINT) AS win_offset,
         |  CAST(least(e, (bin + 1) * 512) - greatest(s, bin * 512) AS BIGINT)
         |    AS len
         |FROM bx""".stripMargin,
    // o28: the o27 segment arithmetic joined against the positional
    // token stream (same polyhash-mod-vocab ids as t12), each window's
    // ids concatenated in window-index order.
    "o28_pack_tokens" ->
      s"""WITH $toksSrc,
         |n AS (SELECT doc_id, len(ws) AS nt FROM toks),
         |c AS (SELECT doc_id, nt,
         |        CAST(sum(nt) OVER (ORDER BY doc_id) AS BIGINT) AS cum FROM n),
         |iv AS (SELECT doc_id, cum - nt AS s, cum AS e FROM c WHERE nt > 0),
         |bx AS (SELECT doc_id, s, e,
         |        unnest(range(s // 512, (e - 1) // 512 + 1)) AS bin FROM iv),
         |sg AS (SELECT bin, doc_id,
         |        greatest(s, bin * 512) - s AS doff,
         |        greatest(s, bin * 512) - bin * 512 AS woff,
         |        least(e, (bin + 1) * 512) - greatest(s, bin * 512) AS len
         |       FROM bx),
         |tk AS (SELECT t.doc_id, t.i - 1 AS pos,
         |        ${graft.functions.Hashing.polyHashSql("t.ws[t.i]")} % 32768 AS tid
         |       FROM (SELECT doc_id, ws, unnest(range(1, len(ws) + 1)) AS i
         |             FROM toks) t),
         |wt AS (SELECT sg.bin, sg.woff + tk.pos - sg.doff AS widx, tk.tid
         |       FROM sg JOIN tk ON tk.doc_id = sg.doc_id
         |        AND tk.pos >= sg.doff AND tk.pos < sg.doff + sg.len)
         |SELECT CAST(bin AS BIGINT) AS bin_id, count(*) AS n_tokens,
         |  CAST(sum(tid) AS BIGINT) AS sum_tid,
         |  string_agg(CAST(tid AS VARCHAR), ' ' ORDER BY widx) AS tok_str
         |FROM wt GROUP BY bin""".stripMargin,
    // o29: o28's window oracle + the shard-directory arithmetic the
    // read-back recovers from the partition layout.
    "o29_pack_sharded" ->
      s"""WITH $toksSrc,
         |n AS (SELECT doc_id, len(ws) AS nt FROM toks),
         |c AS (SELECT doc_id, nt,
         |        CAST(sum(nt) OVER (ORDER BY doc_id) AS BIGINT) AS cum FROM n),
         |iv AS (SELECT doc_id, cum - nt AS s, cum AS e FROM c WHERE nt > 0),
         |bx AS (SELECT doc_id, s, e,
         |        unnest(range(s // 512, (e - 1) // 512 + 1)) AS bin FROM iv),
         |sg AS (SELECT bin, doc_id,
         |        greatest(s, bin * 512) - s AS doff,
         |        greatest(s, bin * 512) - bin * 512 AS woff,
         |        least(e, (bin + 1) * 512) - greatest(s, bin * 512) AS len
         |       FROM bx),
         |tk AS (SELECT t.doc_id, t.i - 1 AS pos,
         |        ${graft.functions.Hashing.polyHashSql("t.ws[t.i]")} % 32768 AS tid
         |       FROM (SELECT doc_id, ws, unnest(range(1, len(ws) + 1)) AS i
         |             FROM toks) t),
         |wt AS (SELECT sg.bin, sg.woff + tk.pos - sg.doff AS widx, tk.tid
         |       FROM sg JOIN tk ON tk.doc_id = sg.doc_id
         |        AND tk.pos >= sg.doff AND tk.pos < sg.doff + sg.len)
         |SELECT CAST(bin AS BIGINT) AS bin_id,
         |  CAST(bin % 4 AS INT) AS shard, count(*) AS n_tokens,
         |  CAST(sum(tid) AS BIGINT) AS sum_tid,
         |  string_agg(CAST(tid AS VARCHAR), ' ' ORDER BY widx) AS tok_str
         |FROM wt GROUP BY bin""".stripMargin,
    "o14_length_batching" ->
      """WITH num AS (
        |  SELECT doc_id, n_chars,
        |    row_number() OVER (ORDER BY n_chars, doc_id) AS rn,
        |    count(*) OVER () AS n
        |  FROM documents),
        |b AS (SELECT *, CAST(((rn - 1) * 8) // n AS INT) AS bucket FROM num),
        |bb AS (SELECT *, (bucket * n + 7) // 8 AS bstart FROM b),
        |x AS (SELECT bucket,
        |    CAST(((rn - 1) - bstart) // 16 AS INT) AS batch, n_chars
        |  FROM bb)
        |SELECT bucket, batch, count(*) AS n_docs,
        |  CAST(sum(n_chars) AS BIGINT) AS sum_len, max(n_chars) AS max_len,
        |  max(n_chars) * count(*) AS padded,
        |  CAST((sum(n_chars) * 1000000) // (max(n_chars) * count(*)) AS DOUBLE)
        |    / 1000000.0 AS efficiency
        |FROM x GROUP BY bucket, batch""".stripMargin,
    // o15: all-integer capped water-filling mirrors the engine exactly —
    // integer sqrt of n·10¹² (double sqrt + one-step fixup), saturation
    // scan via prefix/suffix sums in the n/s priority order, BIGINT
    // shares / remainders, largest-remainder rank (ties → source), LCG
    // selection order. No FP anywhere a quota could flip.
    "o15_temperature_mix" ->
      s"""WITH c AS (SELECT source, count(*) AS n FROM documents GROUP BY source),
         |w AS (SELECT source, n,
         |    t1 + CASE WHEN (t1+1)*(t1+1) <= x THEN 1 ELSE 0 END AS s
         |  FROM (SELECT source, n, x,
         |      t0 - CASE WHEN t0*t0 > x THEN 1 ELSE 0 END AS t1
         |    FROM (SELECT source, n, CAST(n AS BIGINT) * 1000000000000 AS x,
         |        CAST(floor(sqrt(CAST(CAST(n AS BIGINT) * 1000000000000 AS DOUBLE))) AS BIGINT) AS t0
         |      FROM c))),
         |w2 AS (SELECT source, n, s, (n * 1000000) // s AS pri FROM w),
         |tot AS (SELECT CAST(sum(n) AS BIGINT) AS tn FROM w2),
         |sc AS (SELECT source, n, s, (tn * 2) // 5 AS k,
         |    CAST(COALESCE(sum(n) OVER (ORDER BY pri, source
         |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS BIGINT) AS pc,
         |    CAST(sum(s) OVER (ORDER BY pri, source
         |      ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING) AS BIGINT) AS ws
         |  FROM w2 CROSS JOIN tot),
         |sc2 AS (SELECT *, s * (k - pc) >= n * ws AS sat FROM sc),
         |res AS (SELECT
         |    CAST(max(k) - sum(CASE WHEN sat THEN n ELSE 0 END) AS BIGINT) AS r,
         |    CAST(sum(CASE WHEN sat THEN 0 ELSE s END) AS BIGINT) AS wsum
         |  FROM sc2),
         |b AS (SELECT source, n, k,
         |    CASE WHEN sat THEN n ELSE (s * r) // wsum END AS q0,
         |    CASE WHEN sat THEN -1
         |         ELSE s * r - ((s * r) // wsum) * wsum END AS rem
         |  FROM sc2 CROSS JOIN res),
         |l AS (SELECT CAST(max(k) - sum(q0) AS BIGINT) AS lv FROM b),
         |q AS (SELECT source, n,
         |    least(q0 + CASE WHEN rk <= lv THEN 1 ELSE 0 END, n) AS quota
         |  FROM (SELECT *, row_number() OVER (ORDER BY rem DESC, source) AS rk
         |        FROM b) CROSS JOIN l),
         |sel AS (SELECT d.source, d.doc_id, q.quota, q.n,
         |    row_number() OVER (PARTITION BY d.source
         |      ORDER BY ${graft.functions.Hashing.lcgSql("d.doc_id", 13L, graft.functions.Hashing.LcgM)}, d.doc_id) AS srn
         |  FROM documents d JOIN q USING (source))
         |SELECT source, count(*) AS n_sel, CAST(max(quota) AS BIGINT) AS quota,
         |  CAST(max(n) AS BIGINT) AS n_domain, CAST(sum(doc_id) AS BIGINT) AS sum_ids
         |FROM sel WHERE srn <= quota GROUP BY source""".stripMargin,
    // o16: o15's integer water-filling (caps/weights in TOKENS, sqrt
    // scale 10^6) + o13's quality derivation, the greedy fill a running
    // per-domain token sum ordered (quality DESC, doc_id).
    "o16_token_domain_mix" ->
      s"""WITH $toksSrc,
         |m AS (SELECT doc_id,
         |  CAST(len(list_filter(ws, w -> list_contains($stopList, w))) AS DOUBLE) / len(ws) AS stop_ratio,
         |  CAST(list_sum(list_transform(ws, w -> len(w))) AS DOUBLE) / len(ws) AS awl,
         |  len(ws) AS n FROM toks),
         |qd AS (SELECT m.doc_id, d.source, CAST(n AS BIGINT) AS n_tokens,
         |  round(0.5 * stop_ratio + 0.3 * least(1.0, CAST(n AS DOUBLE) / 100.0)
         |        + 0.2 * (awl / 10.0), 6) AS quality
         |  FROM m JOIN documents d ON m.doc_id = d.doc_id),
         |caps AS (SELECT source, CAST(sum(n_tokens) AS BIGINT) AS n
         |         FROM qd GROUP BY source),
         |w AS (SELECT source, n,
         |    t1 + CASE WHEN (t1+1)*(t1+1) <= x THEN 1 ELSE 0 END AS s
         |  FROM (SELECT source, n, x,
         |      t0 - CASE WHEN t0*t0 > x THEN 1 ELSE 0 END AS t1
         |    FROM (SELECT source, n, n * 1000000 AS x,
         |        CAST(floor(sqrt(CAST(n * 1000000 AS DOUBLE))) AS BIGINT) AS t0
         |      FROM caps))),
         |w2 AS (SELECT source, n, s, (n * 1000000) // s AS pri FROM w),
         |tot AS (SELECT CAST(sum(n) AS BIGINT) AS tn FROM w2),
         |sc AS (SELECT source, n, s, (tn * 2) // 5 AS k,
         |    CAST(COALESCE(sum(n) OVER (ORDER BY pri, source
         |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS BIGINT) AS pc,
         |    CAST(sum(s) OVER (ORDER BY pri, source
         |      ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING) AS BIGINT) AS ws
         |  FROM w2 CROSS JOIN tot),
         |sc2 AS (SELECT *, s * (k - pc) >= n * ws AS sat FROM sc),
         |res AS (SELECT
         |    CAST(max(k) - sum(CASE WHEN sat THEN n ELSE 0 END) AS BIGINT) AS r,
         |    CAST(sum(CASE WHEN sat THEN 0 ELSE s END) AS BIGINT) AS wsum
         |  FROM sc2),
         |b AS (SELECT source, n, k,
         |    CASE WHEN sat THEN n ELSE (s * r) // wsum END AS q0,
         |    CASE WHEN sat THEN -1
         |         ELSE s * r - ((s * r) // wsum) * wsum END AS rem
         |  FROM sc2 CROSS JOIN res),
         |l AS (SELECT CAST(max(k) - sum(q0) AS BIGINT) AS lv FROM b),
         |qt AS (SELECT source, n,
         |    least(q0 + CASE WHEN rk <= lv THEN 1 ELSE 0 END, n) AS quota
         |  FROM (SELECT *, row_number() OVER (ORDER BY rem DESC, source) AS rk
         |        FROM b) CROSS JOIN l),
         |sel AS (SELECT qd.source, qd.n_tokens, qt.quota, qt.n AS cap,
         |    sum(qd.n_tokens) OVER (PARTITION BY qd.source
         |      ORDER BY qd.quality DESC, qd.doc_id) AS cum
         |  FROM qd JOIN qt USING (source))
         |SELECT source, count(*) AS n_docs_sel,
         |  CAST(sum(n_tokens) AS BIGINT) AS tok_sel,
         |  CAST(max(quota) AS BIGINT) AS tok_budget,
         |  CAST(max(cap) AS BIGINT) AS tok_domain
         |FROM sel WHERE cum <= quota GROUP BY source""".stripMargin,
    "o13_token_budget" ->
      s"""WITH $toksSrc,
         |m AS (SELECT doc_id,
         |  CAST(len(list_filter(ws, w -> list_contains($stopList, w))) AS DOUBLE) / len(ws) AS stop_ratio,
         |  CAST(list_sum(list_transform(ws, w -> len(w))) AS DOUBLE) / len(ws) AS awl,
         |  len(ws) AS n FROM toks),
         |q AS (SELECT doc_id, CAST(n AS INT) AS n_tokens,
         |  round(0.5 * stop_ratio + 0.3 * least(1.0, CAST(n AS DOUBLE) / 100.0)
         |        + 0.2 * (awl / 10.0), 6) AS quality FROM m),
         |c AS (SELECT doc_id, n_tokens, quality,
         |  sum(n_tokens) OVER (ORDER BY quality DESC, doc_id) AS cum FROM q)
         |SELECT doc_id, n_tokens, quality, CAST(cum AS BIGINT) AS cum_tokens
         |FROM c WHERE cum <= 15000""".stripMargin,
    "o8_pack_sequences" ->
      s"""WITH $toksSrc,
         |d AS (
         |  SELECT t.doc_id, doc.source, len(t.ws) AS n_tokens
         |  FROM toks t JOIN documents doc ON t.doc_id = doc.doc_id),
         |c AS (
         |  SELECT doc_id, source, n_tokens,
         |    sum(n_tokens) OVER (PARTITION BY source
         |      ORDER BY n_tokens DESC, doc_id
         |      ROWS UNBOUNDED PRECEDING) AS cum
         |  FROM d)
         |SELECT source,
         |  CAST(floor((cum - n_tokens) / 512.0) AS BIGINT) AS bin,
         |  count(*) AS n_docs, CAST(sum(n_tokens) AS BIGINT) AS sum_tokens
         |FROM c GROUP BY 1, 2""".stripMargin,
    "d10_simhash_clusters_r3" ->
      s"""WITH RECURSIVE simh_all AS ($simhashSql),
         |simh AS (SELECT * FROM simh_all WHERE doc_id < 200),
         |pairs AS (
         |  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b
         |  FROM simh a JOIN simh b
         |    ON (a.simhash >> 16) = (b.simhash >> 16) AND a.doc_id < b.doc_id
         |  WHERE bit_count(xor(a.simhash, b.simhash)) <= 3),
         |edges AS (
         |  SELECT doc_a, doc_b FROM pairs
         |  UNION SELECT doc_b AS doc_a, doc_a AS doc_b FROM pairs),
         |reach(id, label) AS (
         |  SELECT doc_a AS id, doc_a AS label FROM edges
         |  UNION
         |  SELECT e.doc_a, r.label FROM edges e JOIN reach r ON e.doc_b = r.id)
         |SELECT id AS doc_id, min(label) AS keep_id
         |FROM reach GROUP BY id""".stripMargin,
    "d4_simhash_pairs" ->
      s"""WITH simh AS ($simhashSql)
         |SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
         |  CAST(bit_count(xor(a.simhash, b.simhash)) AS INT) AS hamming
         |FROM simh a JOIN simh b
         |  ON (a.simhash >> 16) = (b.simhash >> 16) AND a.doc_id < b.doc_id
         |WHERE bit_count(xor(a.simhash, b.simhash)) <= 8""".stripMargin,
    "d6_sig_union" -> {
      val mins = (0 until Dedup.K).map(k => s"min(s$k) AS m$k").mkString(", ")
      val branches = (0 until Dedup.K).map(k =>
        s"SELECT source, CAST($k AS INT) AS k, m$k AS sig_k, n_docs FROM u")
      s"""WITH $toksSrc, $shSrc, $hashedSrc, $sigSrc,
         |u AS (SELECT d.source, $mins, count(*) AS n_docs
         |      FROM sig JOIN documents d USING (doc_id)
         |      GROUP BY d.source)
         |${branches.mkString("\n UNION ALL ")}""".stripMargin
    },
    "d5_ngram_jaccard" ->
      s"""WITH $minhashChain,
         |counts AS (SELECT doc_id, count(*) AS n_sh FROM hashed GROUP BY doc_id),
         |inter AS (
         |  SELECT p.doc_a, p.doc_b, count(*) AS n_inter
         |  FROM pairs p
         |    JOIN hashed a ON a.doc_id = p.doc_a
         |    JOIN hashed b ON b.doc_id = p.doc_b AND b.h = a.h
         |  WHERE p.n_bands >= 2
         |  GROUP BY 1, 2)
         |SELECT i.doc_a, i.doc_b,
         |  round(CAST(n_inter AS DOUBLE) / (ca.n_sh + cb.n_sh - n_inter), 6) AS jaccard
         |FROM inter i
         |  JOIN counts ca ON ca.doc_id = i.doc_a
         |  JOIN counts cb ON cb.doc_id = i.doc_b""".stripMargin,
    // d35: window-shared candidates (frequency-capped 10-token window
    // hashes — NOT the Jaccard-biased LSH generator), then d5's verify
    // chain with both containment directions and the rounded-threshold
    // classification.
    "d35_containment" -> containmentReportSql,
    // e21: the stream must converge to EXACTLY the batch containment
    // report — same oracle; a dropped or invented candidate pair, or
    // a divergent verify, flips a row.
    "e21_stream_containment" -> containmentReportSql,
    // c10: d35's scored chain (window-shared candidates + verify tail,
    // here with the set sizes kept for the tie-break), the containment
    // drop policy, and the per-dropped-doc provenance rollup.
    "c10_containment_drop" ->
      s"""WITH $toksSrc, $shSrc, $hashedSrc,
         |sh10 AS (
         |  SELECT doc_id,
         |    unnest(list_transform(range(1, greatest(len(ws) - 8, 1)),
         |      i -> ws[i] || ' ' || ws[i + 1] || ' ' || ws[i + 2] || ' ' ||
         |           ws[i + 3] || ' ' || ws[i + 4] || ' ' || ws[i + 5] || ' ' ||
         |           ws[i + 6] || ' ' || ws[i + 7] || ' ' || ws[i + 8] || ' ' ||
         |           ws[i + 9])) AS shingle
         |  FROM toks),
         |h10 AS (SELECT DISTINCT doc_id, ${Hashing.polyHashSql("shingle")} AS h FROM sh10),
         |okw AS (SELECT h FROM h10 GROUP BY h
         |        HAVING count(*) >= 2 AND count(*) <= 64),
         |cand AS (
         |  SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
         |  FROM h10 a JOIN okw USING (h) JOIN h10 b USING (h)
         |  WHERE a.doc_id < b.doc_id),
         |counts AS (SELECT doc_id, count(*) AS n_sh FROM hashed GROUP BY doc_id),
         |inter AS (
         |  SELECT c.doc_a, c.doc_b, count(*) AS n_inter
         |  FROM cand c
         |    JOIN hashed a ON a.doc_id = c.doc_a
         |    JOIN hashed b ON b.doc_id = c.doc_b AND b.h = a.h
         |  GROUP BY 1, 2),
         |m AS (
         |  SELECT i.doc_a, i.doc_b,
         |    round(CAST(n_inter AS DOUBLE) / ca.n_sh, 6) AS cont_a,
         |    round(CAST(n_inter AS DOUBLE) / cb.n_sh, 6) AS cont_b,
         |    round(CAST(n_inter AS DOUBLE) / (ca.n_sh + cb.n_sh - n_inter), 6) AS jaccard,
         |    ca.n_sh AS n_a, cb.n_sh AS n_b
         |  FROM inter i
         |    JOIN counts ca ON ca.doc_id = i.doc_a
         |    JOIN counts cb ON cb.doc_id = i.doc_b),
         |drops AS (
         |  SELECT
         |    CASE WHEN cont_a > cont_b THEN doc_a
         |         WHEN cont_b > cont_a THEN doc_b
         |         WHEN n_a < n_b THEN doc_a
         |         WHEN n_b < n_a THEN doc_b
         |         ELSE greatest(doc_a, doc_b) END AS doc_id,
         |    CASE WHEN cont_a > cont_b THEN doc_b
         |         WHEN cont_b > cont_a THEN doc_a
         |         WHEN n_a < n_b THEN doc_b
         |         WHEN n_b < n_a THEN doc_a
         |         ELSE least(doc_a, doc_b) END AS container,
         |    CAST(round(greatest(cont_a, cont_b) * 1e6) AS BIGINT) AS cont_e6
         |  FROM m
         |  WHERE jaccard < 0.8 AND greatest(cont_a, cont_b) >= 0.8)
         |SELECT doc_id, min(container) AS keeper_id,
         |  count(*) AS n_containers, max(cont_e6) AS max_cont_e6
         |FROM drops GROUP BY doc_id""".stripMargin,
    // c11 = the c10 drop chain over the containment-SPECTRUM corpus with
    // the threshold a SCALAR SUBQUERY over the rung-ladder survey: chosen
    // = min rung whose would-drop doc count is at most N // 20 (else the
    // widest rung). Same integer rule as Dedup.containmentDropsAuto; all
    // containments compared in exact e6 integer space.
    "c11_containment_auto" ->
      s"""WITH ex AS (
         |  SELECT doc_id + 5 AS doc_id,
         |    string_split_regex(lower(text), '\\s+')[1:20] AS src
         |  FROM documents),
         |corpus AS (
         |  SELECT d.doc_id,
         |    CASE WHEN d.doc_id % 10 = 7 AND ex.src IS NOT NULL
         |      THEN array_to_string(list_concat(ex.src,
         |        string_split_regex(lower(d.text), '\\s+')
         |          [1:(3 * (1 + (d.doc_id // 10) % 4))]), ' ')
         |      ELSE d.text END AS text
         |  FROM documents d LEFT JOIN ex USING (doc_id)),
         |${toksSrcFrom("corpus")}, $shSrc, $hashedSrc,
         |sh10 AS (
         |  SELECT doc_id,
         |    unnest(list_transform(range(1, greatest(len(ws) - 8, 1)),
         |      i -> ws[i] || ' ' || ws[i + 1] || ' ' || ws[i + 2] || ' ' ||
         |           ws[i + 3] || ' ' || ws[i + 4] || ' ' || ws[i + 5] || ' ' ||
         |           ws[i + 6] || ' ' || ws[i + 7] || ' ' || ws[i + 8] || ' ' ||
         |           ws[i + 9])) AS shingle
         |  FROM toks),
         |h10 AS (SELECT DISTINCT doc_id, ${Hashing.polyHashSql("shingle")} AS h FROM sh10),
         |okw AS (SELECT h FROM h10 GROUP BY h
         |        HAVING count(*) >= 2 AND count(*) <= 64),
         |cand AS (
         |  SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
         |  FROM h10 a JOIN okw USING (h) JOIN h10 b USING (h)
         |  WHERE a.doc_id < b.doc_id),
         |counts AS (SELECT doc_id, count(*) AS n_sh FROM hashed GROUP BY doc_id),
         |inter AS (
         |  SELECT c.doc_a, c.doc_b, count(*) AS n_inter
         |  FROM cand c
         |    JOIN hashed a ON a.doc_id = c.doc_a
         |    JOIN hashed b ON b.doc_id = c.doc_b AND b.h = a.h
         |  GROUP BY 1, 2),
         |m AS (
         |  SELECT i.doc_a, i.doc_b,
         |    round(CAST(n_inter AS DOUBLE) / ca.n_sh, 6) AS cont_a,
         |    round(CAST(n_inter AS DOUBLE) / cb.n_sh, 6) AS cont_b,
         |    round(CAST(n_inter AS DOUBLE) / (ca.n_sh + cb.n_sh - n_inter), 6) AS jaccard,
         |    ca.n_sh AS n_a, cb.n_sh AS n_b
         |  FROM inter i
         |    JOIN counts ca ON ca.doc_id = i.doc_a
         |    JOIN counts cb ON cb.doc_id = i.doc_b),
         |dr AS (
         |  SELECT
         |    CASE WHEN cont_a > cont_b THEN doc_a
         |         WHEN cont_b > cont_a THEN doc_b
         |         WHEN n_a < n_b THEN doc_a
         |         WHEN n_b < n_a THEN doc_b
         |         ELSE greatest(doc_a, doc_b) END AS doc_id,
         |    CASE WHEN cont_a > cont_b THEN doc_b
         |         WHEN cont_b > cont_a THEN doc_a
         |         WHEN n_a < n_b THEN doc_b
         |         WHEN n_b < n_a THEN doc_a
         |         ELSE least(doc_a, doc_b) END AS container,
         |    CAST(round(greatest(cont_a, cont_b) * 1e6) AS BIGINT) AS cont_e6
         |  FROM m WHERE jaccard < 0.8),
         |md AS (SELECT doc_id, max(cont_e6) AS mx FROM dr GROUP BY doc_id),
         |chosen AS (
         |  SELECT coalesce(min(r), 900000) AS r
         |  FROM (VALUES (600000), (700000), (800000), (900000)) lr(r)
         |  WHERE (SELECT count(*) FROM md WHERE mx >= r)
         |        <= (SELECT count(*) FROM corpus) // 20)
         |SELECT doc_id, min(container) AS keeper_id,
         |  count(*) AS n_containers, max(cont_e6) AS max_cont_e6,
         |  CAST((SELECT r FROM chosen) AS BIGINT) AS min_cont_e6
         |FROM dr WHERE cont_e6 >= (SELECT r FROM chosen)
         |GROUP BY doc_id""".stripMargin,
    // c13: ONE rung — chosen by the c11 ladder survey over the STANDING
    // spectrum — governs the arrival decide: the survey CTEs are c11's
    // restricted to standing-internal pairs, the arrival pass is e22's
    // with the 0.8 fiat replaced by the chosen rung compared in exact e6
    // integer space.
    "c13_containment_unified" ->
      s"""WITH ex AS (
         |  SELECT doc_id + 5 AS doc_id,
         |    string_split_regex(lower(text), '\\s+')[1:20] AS src
         |  FROM documents),
         |exa AS (
         |  SELECT (doc_id - 100) // 2 AS doc_id,
         |    array_to_string(
         |      string_split_regex(lower(text), '\\s+')[1:30], ' ') AS ex_text
         |  FROM documents WHERE doc_id >= 100 AND doc_id % 2 = 0),
         |corpus AS (
         |  SELECT d.doc_id,
         |    CASE WHEN d.doc_id % 10 = 7 AND ex.src IS NOT NULL
         |      THEN array_to_string(list_concat(ex.src,
         |        string_split_regex(lower(d.text), '\\s+')
         |          [1:(3 * (1 + (d.doc_id // 10) % 4))]), ' ')
         |      ELSE d.text END AS text
         |  FROM documents d LEFT JOIN ex USING (doc_id)
         |  WHERE d.doc_id >= $LdsEvalSplit
         |  UNION ALL
         |  SELECT d.doc_id,
         |    CASE WHEN d.doc_id % 5 = 2 AND exa.ex_text IS NOT NULL
         |      THEN exa.ex_text ELSE d.text END AS text
         |  FROM documents d LEFT JOIN exa USING (doc_id)
         |  WHERE d.doc_id < $LdsEvalSplit),
         |${toksSrcFrom("corpus")}, $shSrc, $hashedSrc,
         |sh10 AS (
         |  SELECT doc_id,
         |    unnest(list_transform(range(1, greatest(len(ws) - 8, 1)),
         |      i -> ws[i] || ' ' || ws[i + 1] || ' ' || ws[i + 2] || ' ' ||
         |           ws[i + 3] || ' ' || ws[i + 4] || ' ' || ws[i + 5] || ' ' ||
         |           ws[i + 6] || ' ' || ws[i + 7] || ' ' || ws[i + 8] || ' ' ||
         |           ws[i + 9])) AS shingle
         |  FROM toks),
         |h10 AS (SELECT DISTINCT doc_id, ${Hashing.polyHashSql("shingle")} AS h FROM sh10),
         |counts AS (SELECT doc_id, count(*) AS n_sh FROM hashed GROUP BY doc_id),
         |okw AS (SELECT h FROM h10 WHERE doc_id >= $LdsEvalSplit
         |        GROUP BY h HAVING count(*) >= 2 AND count(*) <= 64),
         |cand AS (
         |  SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
         |  FROM h10 a JOIN okw USING (h) JOIN h10 b USING (h)
         |  WHERE a.doc_id < b.doc_id AND a.doc_id >= $LdsEvalSplit),
         |inter AS (
         |  SELECT c.doc_a, c.doc_b, count(*) AS n_inter
         |  FROM cand c
         |    JOIN hashed a ON a.doc_id = c.doc_a
         |    JOIN hashed b ON b.doc_id = c.doc_b AND b.h = a.h
         |  GROUP BY 1, 2),
         |m AS (
         |  SELECT i.doc_a, i.doc_b,
         |    round(CAST(n_inter AS DOUBLE) / ca.n_sh, 6) AS cont_a,
         |    round(CAST(n_inter AS DOUBLE) / cb.n_sh, 6) AS cont_b,
         |    round(CAST(n_inter AS DOUBLE) / (ca.n_sh + cb.n_sh - n_inter), 6) AS jaccard,
         |    ca.n_sh AS n_a, cb.n_sh AS n_b
         |  FROM inter i
         |    JOIN counts ca ON ca.doc_id = i.doc_a
         |    JOIN counts cb ON cb.doc_id = i.doc_b),
         |dr AS (
         |  SELECT
         |    CASE WHEN cont_a > cont_b THEN doc_a
         |         WHEN cont_b > cont_a THEN doc_b
         |         WHEN n_a < n_b THEN doc_a
         |         WHEN n_b < n_a THEN doc_b
         |         ELSE greatest(doc_a, doc_b) END AS doc_id,
         |    CAST(round(greatest(cont_a, cont_b) * 1e6) AS BIGINT) AS cont_e6
         |  FROM m WHERE jaccard < 0.8),
         |md AS (SELECT doc_id, max(cont_e6) AS mx FROM dr GROUP BY doc_id),
         |chosen AS (
         |  SELECT coalesce(min(r), 900000) AS r
         |  FROM (VALUES (600000), (700000), (800000), (900000)) lr(r)
         |  WHERE (SELECT count(*) FROM md WHERE mx >= r)
         |        <= (SELECT count(*) FROM corpus
         |            WHERE doc_id >= $LdsEvalSplit) // 20),
         |okws AS (SELECT h FROM h10 WHERE doc_id >= $LdsEvalSplit
         |         GROUP BY h HAVING count(*) <= 64),
         |candA AS (
         |  SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
         |  FROM h10 a JOIN okws USING (h) JOIN h10 b USING (h)
         |  WHERE a.doc_id < $LdsEvalSplit AND b.doc_id >= $LdsEvalSplit),
         |interA AS (
         |  SELECT c.doc_a, c.doc_b, count(*) AS n_inter
         |  FROM candA c
         |    JOIN hashed a ON a.doc_id = c.doc_a
         |    JOIN hashed b ON b.doc_id = c.doc_b AND b.h = a.h
         |  GROUP BY 1, 2),
         |mA AS (
         |  SELECT i.doc_a, i.doc_b,
         |    round(CAST(n_inter AS DOUBLE) / ca.n_sh, 6) AS cont_a,
         |    round(CAST(n_inter AS DOUBLE) / (ca.n_sh + cb.n_sh - n_inter), 6) AS jaccard
         |  FROM interA i
         |    JOIN counts ca ON ca.doc_id = i.doc_a
         |    JOIN counts cb ON cb.doc_id = i.doc_b),
         |drops AS (
         |  SELECT doc_a AS doc_id, min(doc_b) AS keeper_id,
         |    count(*) AS n_containers,
         |    CAST(max(round(cont_a * 1e6)) AS BIGINT) AS max_cont_e6
         |  FROM mA WHERE jaccard < 0.8
         |    AND CAST(round(cont_a * 1e6) AS BIGINT) >= (SELECT r FROM chosen)
         |  GROUP BY doc_a)
         |SELECT d.doc_id, dp.doc_id IS NULL AS landed, dp.keeper_id,
         |  coalesce(dp.n_containers, 0) AS n_containers,
         |  coalesce(dp.max_cont_e6, 0) AS max_cont_e6,
         |  CAST((SELECT r FROM chosen) AS BIGINT) AS min_cont_e6
         |FROM documents d LEFT JOIN drops dp ON d.doc_id = dp.doc_id
         |WHERE d.doc_id < $LdsEvalSplit""".stripMargin,
    // c12: the staged funnel replayed literally — each stage's survivor
    // set a CTE feeding the next (gopher = t16's rule text, exact = d33's
    // min-id keeper, decontam = d32's window signal as a drop, containment
    // = c10's chain over stage-3 survivors, pack = o26/o27's interval
    // CTEs over stage-4 survivors), with the one-row report assembled
    // from scalar subqueries.
    "c12_curation_pipeline" -> curationFunnelSql,
    // e24: batch↔stream parity — the streamed path must converge to the
    // BATCH curation funnel bit-for-bit, so the oracle IS c12's: any
    // micro-batch boundary that changes a stage decision, or an append
    // that loses/doubles a row, flips the shared one-row contract.
    "e24_curation_parity" -> curationFunnelSql,
    // e22: the batch expression of the containment-guarded ingest — the
    // c10 chain with candidates restricted to (arrival, standing) pairs,
    // the cap computed on the STANDING slice only, the drop side pinned
    // to the arrival, and every arrival emitted with its landed/
    // quarantined decision + provenance.
    "e22_containment_ingest" ->
      s"""WITH $toksSrc, $shSrc, $hashedSrc,
         |sh10 AS (
         |  SELECT doc_id,
         |    unnest(list_transform(range(1, greatest(len(ws) - 8, 1)),
         |      i -> ws[i] || ' ' || ws[i + 1] || ' ' || ws[i + 2] || ' ' ||
         |           ws[i + 3] || ' ' || ws[i + 4] || ' ' || ws[i + 5] || ' ' ||
         |           ws[i + 6] || ' ' || ws[i + 7] || ' ' || ws[i + 8] || ' ' ||
         |           ws[i + 9])) AS shingle
         |  FROM toks),
         |h10 AS (SELECT DISTINCT doc_id, ${Hashing.polyHashSql("shingle")} AS h FROM sh10),
         |okws AS (SELECT h FROM h10 WHERE doc_id >= $LdsEvalSplit
         |         GROUP BY h HAVING count(*) <= 64),
         |cand AS (
         |  SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
         |  FROM h10 a JOIN okws USING (h) JOIN h10 b USING (h)
         |  WHERE a.doc_id < $LdsEvalSplit AND b.doc_id >= $LdsEvalSplit),
         |counts AS (SELECT doc_id, count(*) AS n_sh FROM hashed GROUP BY doc_id),
         |inter AS (
         |  SELECT c.doc_a, c.doc_b, count(*) AS n_inter
         |  FROM cand c
         |    JOIN hashed a ON a.doc_id = c.doc_a
         |    JOIN hashed b ON b.doc_id = c.doc_b AND b.h = a.h
         |  GROUP BY 1, 2),
         |m AS (
         |  SELECT i.doc_a, i.doc_b,
         |    round(CAST(n_inter AS DOUBLE) / ca.n_sh, 6) AS cont_a,
         |    round(CAST(n_inter AS DOUBLE) / (ca.n_sh + cb.n_sh - n_inter), 6) AS jaccard
         |  FROM inter i
         |    JOIN counts ca ON ca.doc_id = i.doc_a
         |    JOIN counts cb ON cb.doc_id = i.doc_b),
         |drops AS (
         |  SELECT doc_a AS doc_id, min(doc_b) AS keeper_id,
         |    count(*) AS n_containers,
         |    CAST(max(round(cont_a * 1e6)) AS BIGINT) AS max_cont_e6
         |  FROM m WHERE jaccard < 0.8 AND cont_a >= 0.8
         |  GROUP BY doc_a)
         |SELECT d.doc_id, dr.doc_id IS NULL AS landed, dr.keeper_id,
         |  coalesce(dr.n_containers, 0) AS n_containers,
         |  coalesce(dr.max_cont_e6, 0) AS max_cont_e6
         |FROM documents d LEFT JOIN drops dr ON d.doc_id = dr.doc_id
         |WHERE d.doc_id < $LdsEvalSplit""".stripMargin,
    // e23: the SEQUENTIAL batch replay of the self-extending policy over
    // the excerpt-rewritten corpus — window A ([0,25)) decided against the
    // standing store, its landed docs' capped window hashes folded in,
    // window B ([25,50)) decided against standing ∪ landed-A (each store
    // slice capped within itself). The excerpt ids (%5==2 in B) must
    // quarantine against their window-A sources — pairs that exist ONLY
    // through the extension.
    "e23_containment_ingest_ext" ->
      s"""WITH ex AS (
         |  SELECT doc_id + 25 AS doc_id,
         |    array_to_string(
         |      string_split_regex(lower(text), '\\s+')[1:30], ' ') AS ex_text
         |  FROM documents WHERE doc_id < 25),
         |corpus AS (
         |  SELECT d.doc_id,
         |    CASE WHEN d.doc_id % 5 = 2 AND ex.ex_text IS NOT NULL
         |      THEN ex.ex_text ELSE d.text END AS text
         |  FROM documents d LEFT JOIN ex USING (doc_id)),
         |${toksSrcFrom("corpus")}, $shSrc, $hashedSrc,
         |sh10 AS (
         |  SELECT doc_id,
         |    unnest(list_transform(range(1, greatest(len(ws) - 8, 1)),
         |      i -> ws[i] || ' ' || ws[i + 1] || ' ' || ws[i + 2] || ' ' ||
         |           ws[i + 3] || ' ' || ws[i + 4] || ' ' || ws[i + 5] || ' ' ||
         |           ws[i + 6] || ' ' || ws[i + 7] || ' ' || ws[i + 8] || ' ' ||
         |           ws[i + 9])) AS shingle
         |  FROM toks),
         |h10 AS (SELECT DISTINCT doc_id, ${Hashing.polyHashSql("shingle")} AS h FROM sh10),
         |okws AS (SELECT h FROM h10 WHERE doc_id >= $LdsEvalSplit
         |         GROUP BY h HAVING count(*) <= 64),
         |counts AS (SELECT doc_id, count(*) AS n_sh FROM hashed GROUP BY doc_id),
         |candA AS (
         |  SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
         |  FROM h10 a JOIN okws USING (h) JOIN h10 b USING (h)
         |  WHERE a.doc_id < 25 AND b.doc_id >= $LdsEvalSplit),
         |interA AS (
         |  SELECT c.doc_a, c.doc_b, count(*) AS n_inter
         |  FROM candA c
         |    JOIN hashed a ON a.doc_id = c.doc_a
         |    JOIN hashed b ON b.doc_id = c.doc_b AND b.h = a.h
         |  GROUP BY 1, 2),
         |mA AS (
         |  SELECT i.doc_a, i.doc_b,
         |    round(CAST(n_inter AS DOUBLE) / ca.n_sh, 6) AS cont_a,
         |    round(CAST(n_inter AS DOUBLE) / (ca.n_sh + cb.n_sh - n_inter), 6) AS jaccard
         |  FROM interA i
         |    JOIN counts ca ON ca.doc_id = i.doc_a
         |    JOIN counts cb ON cb.doc_id = i.doc_b),
         |dropsA AS (
         |  SELECT doc_a AS doc_id, min(doc_b) AS keeper_id,
         |    count(*) AS n_containers,
         |    CAST(max(round(cont_a * 1e6)) AS BIGINT) AS max_cont_e6
         |  FROM mA WHERE jaccard < 0.8 AND cont_a >= 0.8
         |  GROUP BY doc_a),
         |landedA AS (SELECT doc_id FROM corpus WHERE doc_id < 25
         |            AND doc_id NOT IN (SELECT doc_id FROM dropsA)),
         |okwA AS (SELECT h FROM h10 JOIN landedA USING (doc_id)
         |         GROUP BY h HAVING count(*) <= 64),
         |candB AS (
         |  SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
         |  FROM h10 a JOIN h10 b USING (h)
         |  WHERE a.doc_id >= 25 AND a.doc_id < $LdsEvalSplit
         |    AND ((b.doc_id >= $LdsEvalSplit AND h IN (SELECT h FROM okws))
         |      OR (b.doc_id IN (SELECT doc_id FROM landedA)
         |          AND h IN (SELECT h FROM okwA)))),
         |interB AS (
         |  SELECT c.doc_a, c.doc_b, count(*) AS n_inter
         |  FROM candB c
         |    JOIN hashed a ON a.doc_id = c.doc_a
         |    JOIN hashed b ON b.doc_id = c.doc_b AND b.h = a.h
         |  GROUP BY 1, 2),
         |mB AS (
         |  SELECT i.doc_a, i.doc_b,
         |    round(CAST(n_inter AS DOUBLE) / ca.n_sh, 6) AS cont_a,
         |    round(CAST(n_inter AS DOUBLE) / (ca.n_sh + cb.n_sh - n_inter), 6) AS jaccard
         |  FROM interB i
         |    JOIN counts ca ON ca.doc_id = i.doc_a
         |    JOIN counts cb ON cb.doc_id = i.doc_b),
         |dropsB AS (
         |  SELECT doc_a AS doc_id, min(doc_b) AS keeper_id,
         |    count(*) AS n_containers,
         |    CAST(max(round(cont_a * 1e6)) AS BIGINT) AS max_cont_e6
         |  FROM mB WHERE jaccard < 0.8 AND cont_a >= 0.8
         |  GROUP BY doc_a),
         |drops AS (SELECT * FROM dropsA UNION ALL SELECT * FROM dropsB)
         |SELECT d.doc_id, dr.doc_id IS NULL AS landed, dr.keeper_id,
         |  coalesce(dr.n_containers, 0) AS n_containers,
         |  coalesce(dr.max_cont_e6, 0) AS max_cont_e6
         |FROM documents d LEFT JOIN drops dr ON d.doc_id = dr.doc_id
         |WHERE d.doc_id < $LdsEvalSplit""".stripMargin,
    "d25_lsh_calibration" ->
      s"""WITH $boundedTruthCtes,
         |candj AS (SELECT c.doc_a, c.doc_b, coalesce(t.j_e6, 0) AS j_e6
         |  FROM (SELECT DISTINCT doc_a, doc_b FROM pairs) c
         |  LEFT JOIN truth t ON c.doc_a = t.doc_a AND c.doc_b = t.doc_b),
         |th AS (SELECT CAST(unnest([0, 100000, 500000, 900000]) AS BIGINT) AS t_e6),
         |ta AS (SELECT t_e6, count(CASE WHEN j_e6 >= t_e6 THEN 1 END) AS n_true
         |  FROM th CROSS JOIN truth GROUP BY 1),
         |ca2 AS (SELECT t_e6, count(*) AS n_cand,
         |    count(CASE WHEN j_e6 >= t_e6 THEN 1 END) AS n_hit
         |  FROM th CROSS JOIN candj GROUP BY 1)
         |SELECT t_e6, n_true, n_cand, n_hit,
         |  CAST((n_hit * 1000000) // greatest(n_true, 1) AS BIGINT) AS recall_e6,
         |  CAST((n_hit * 1000000) // greatest(n_cand, 1) AS BIGINT) AS precision_e6
         |FROM ta JOIN ca2 USING (t_e6)""".stripMargin,
    "d26_minhash_estimate" -> {
      val matchesSql = (0 until Dedup.K)
        .map(k => s"(CASE WHEN a.s$k = b.s$k THEN 1 ELSE 0 END)")
        .mkString(" + ")
      s"""WITH $boundedTruthCtes,
         |est AS (SELECT t.doc_a, t.doc_b, t.j_e6,
         |    $matchesSql AS matches
         |  FROM truth t JOIN sig a ON t.doc_a = a.doc_id
         |    JOIN sig b ON t.doc_b = b.doc_id),
         |e2 AS (SELECT j_e6,
         |    CAST((matches * 1000000) // ${Dedup.K} AS BIGINT) AS est_e6
         |  FROM est),
         |e3 AS (SELECT CAST(j_e6 // 100000 AS INT) AS decile, j_e6, est_e6,
         |    abs(est_e6 - j_e6) AS abs_err FROM e2)
         |SELECT decile, count(*) AS n_pairs,
         |  CAST(sum(est_e6) AS BIGINT) AS sum_est_e6,
         |  CAST(sum(j_e6) AS BIGINT) AS sum_true_e6,
         |  CAST(sum(abs_err) AS BIGINT) AS sum_abs_err_e6,
         |  CAST(sum(abs_err) // count(*) AS BIGINT) AS mean_abs_err_e6
         |FROM e3 GROUP BY 1""".stripMargin
    },
    // d27: the engine's 10 all-integer power-iteration rounds, unrolled
    // (standard SQL bars aggregates in a recursive member; a fixed
    // iteration count unrolls losslessly). Every operation is BIGINT
    // floor division — bit-identical to the Spark loop by construction.
    "d27_dup_pagerank" -> {
      val rounds = (1 to 10).map { i =>
        s"""r$i AS (SELECT e.dst AS node,
           |    (SELECT 150000000000 // n FROM nfr)
           |      + CAST(sum(((r.r // d.deg) * 85) // 100) AS BIGINT) AS r
           |  FROM r${i - 1} r JOIN edges e ON r.node = e.src
           |    JOIN deg d ON d.src = e.src
           |  GROUP BY e.dst)""".stripMargin
      }.mkString(",\n")
      s"""WITH $minhashChain,
         |edges AS (SELECT doc_a AS src, doc_b AS dst FROM pairs
         |  UNION ALL SELECT doc_b AS src, doc_a AS dst FROM pairs),
         |deg AS (SELECT src, count(*) AS deg FROM edges GROUP BY src),
         |nfr AS (SELECT count(*) AS n FROM deg),
         |r0 AS (SELECT src AS node, 1000000000000 // n AS r
         |  FROM deg CROSS JOIN nfr),
         |$rounds
         |SELECT r.node AS doc_id, CAST(r.r AS BIGINT) AS r_e12,
         |  CAST(d.deg AS BIGINT) AS deg
         |FROM r10 r JOIN deg d ON d.src = r.node""".stripMargin
    },
    // d29: the full-corpus pair CTE orders doc_a < doc_b, and the split
    // point (100) orders every cross pair as (delta, standing) — so the
    // bipartite probe's result is exactly the cross slice of `pairs`.
    "d29_cross_corpus" ->
      s"""WITH $minhashChain,
         |x AS (SELECT doc_a AS doc_b2, doc_b AS doc_a2, n_bands
         |  FROM pairs WHERE doc_a < 100 AND doc_b >= 100 AND n_bands >= 2)
         |SELECT doc_b2 AS doc_b,
         |  CAST(max_by(doc_a2,
         |    CAST(n_bands AS BIGINT) * 1000000000000 - doc_a2) AS BIGINT)
         |    AS best_a,
         |  CAST(max(n_bands) AS BIGINT) AS best_bands,
         |  count(*) AS n_matches
         |FROM x GROUP BY doc_b2""".stripMargin,
    // d28: the full-recompute ground truth — the incremental fold must
    // land on EXACTLY the map d8's from-scratch recursion produces.
    "d28_cc_incremental" ->
      s"""WITH RECURSIVE $minhashChain,
         |edges AS (
         |  SELECT doc_a, doc_b FROM pairs
         |  UNION SELECT doc_b, doc_a FROM pairs),
         |reach(id, label) AS (
         |  SELECT doc_a AS id, doc_a AS label FROM edges
         |  UNION
         |  SELECT e.doc_a, r.label FROM edges e JOIN reach r ON e.doc_b = r.id)
         |SELECT id AS doc_id, min(label) AS keep_id
         |FROM reach GROUP BY id""".stripMargin,
    // d24: the d5 verify chain, jaccard-thresholded, endpoint sources
    // tagged, one rollup per unordered source pair.
    "d24_source_overlap" ->
      s"""WITH $minhashChain,
         |counts AS (SELECT doc_id, count(*) AS n_sh FROM hashed GROUP BY doc_id),
         |inter AS (
         |  SELECT p.doc_a, p.doc_b, count(*) AS n_inter
         |  FROM pairs p
         |    JOIN hashed a ON a.doc_id = p.doc_a
         |    JOIN hashed b ON b.doc_id = p.doc_b AND b.h = a.h
         |  WHERE p.n_bands >= 2
         |  GROUP BY 1, 2),
         |jac AS (
         |  SELECT i.doc_a, i.doc_b,
         |    round(CAST(n_inter AS DOUBLE) / (ca.n_sh + cb.n_sh - n_inter), 6) AS jaccard
         |  FROM inter i
         |    JOIN counts ca ON ca.doc_id = i.doc_a
         |    JOIN counts cb ON cb.doc_id = i.doc_b),
         |lab AS (
         |  SELECT least(da.source, db.source) AS src_a,
         |    greatest(da.source, db.source) AS src_b,
         |    CASE WHEN da.source <= db.source THEN j.doc_a ELSE j.doc_b END AS wit_a,
         |    CASE WHEN da.source <= db.source THEN j.doc_b ELSE j.doc_a END AS wit_b,
         |    j.jaccard
         |  FROM jac j
         |    JOIN documents da ON da.doc_id = j.doc_a
         |    JOIN documents db ON db.doc_id = j.doc_b
         |  WHERE j.jaccard >= 0.35)
         |, agg AS (
         |  SELECT src_a, src_b, count(*) AS n_pairs,
         |    CAST(sum(CAST(round(jaccard * 1000000, 0) AS BIGINT)) AS BIGINT)
         |      AS sum_e6,
         |    min(wit_a) AS min_doc_a, min(wit_b) AS min_doc_b
         |  FROM lab GROUP BY src_a, src_b)
         |SELECT src_a, src_b, n_pairs,
         |  CAST(sum_e6 // n_pairs
         |    + CASE WHEN (sum_e6 - (sum_e6 // n_pairs) * n_pairs) * 2
         |        >= n_pairs THEN 1 ELSE 0 END AS DOUBLE) / 1000000.0
         |    AS avg_jaccard,
         |  min_doc_a, min_doc_b
         |FROM agg""".stripMargin
  )

  private lazy val simhashSql: String = {
    val bitSums = (0 until Dedup.SimhashBits).map(i =>
      s"sum(CASE WHEN (h >> $i) % 2 = 1 THEN 1 ELSE -1 END) AS b$i").mkString(", ")
    val assemble = (0 until Dedup.SimhashBits).map(i =>
      s"CASE WHEN b$i > 0 THEN CAST(${1L << i} AS BIGINT) ELSE CAST(0 AS BIGINT) END").mkString(" + ")
    s"""WITH words AS (
       |  SELECT doc_id, unnest($wsSql) AS w FROM documents),
       |whashed AS (SELECT doc_id, ${Hashing.polyHashSql("w")} AS h FROM words),
       |bits AS (SELECT doc_id, $bitSums FROM whashed GROUP BY doc_id)
       |SELECT doc_id, $assemble AS simhash FROM bits""".stripMargin
  }
}
