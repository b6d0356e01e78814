package graft.ops

import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.{Column, DataFrame, SparkSession}

import graft.engine.Caches.Registered

/** Lexical (BM25) retrieval over the `documents` corpus — the sparse
  * complement of the dense-ANN family (`ops/Similarity.scala`): eval-set
  * decontamination lookups, lexical hard-negative mining, and
  * "find the training docs that answer this query" audits all key on it.
  *
  * Scale shape: the corpus side is an inverted index — per-(term, doc)
  * postings with tf and doc length — built with ONE (doc, term) shuffle and
  * reusable across every query batch. The query side is tiny by definition
  * (a query batch is human-scale), so every query-side join broadcasts and
  * the only per-query-batch cost is a semi-join-shrunk probe of the
  * postings. For a standing corpus, [[buildPostingStore]] persists the
  * index bucketed by term: probes then bucket-prune the term filter at
  * listing time and pay ZERO corpus shuffle (the j8/d21 lever, applied to
  * text search).
  *
  * Float discipline (COVERAGE.md "Oracle pinning"): the per-(term, doc)
  * BM25 contribution is one fixed-shape double expression, floor-scaled to
  * an e9 integer; per-(query, doc) scores are exact BIGINT sums of those —
  * reassociation-stable under any partition layout, rankable without FP
  * ties.
  */
object Retrieval {

  /** Inverted-index postings: one row per (doc_id, term) with the term
    * frequency. One shuffle (the tf groupBy). Doc length deliberately does
    * NOT ride along: carrying `size(tokens)` through the explode makes the
    * optimizer place that projection ABOVE the Generate, re-running the
    * regex split once per exploded TOKEN instead of once per doc — a
    * measured 7× slowdown on the build. Lengths live in the separate
    * [[docLengths]] norms table (the Lucene layout) and join onto the
    * query-shrunk hits at scoring time.
    */
  def postings(docs: DataFrame, idCol: String, textCol: String): DataFrame =
    docs.select(col(idCol).as("doc_id"),
        explode(TextOps.tokens(col(textCol))).as("term"))
      .groupBy("doc_id", "term")
      .agg(count(lit(1)).as("tf"))

  /** POSITIONAL postings: (doc_id, term, positions) with the sorted
    * 0-based token positions of every occurrence — the index phrase
    * search needs (Lucene's positions file). One explode + one groupBy;
    * positions sort inside the aggregate, so the array is canonical under
    * any shuffle order.
    */
  def positionalPostings(docs: DataFrame, idCol: String,
      textCol: String): DataFrame =
    docs.select(col(idCol).as("doc_id"),
        posexplode(TextOps.tokens(col(textCol))).as(Seq("pos", "term")))
      .groupBy("doc_id", "term")
      .agg(sort_array(collect_list(col("pos"))).as("positions"))

  /** Exact PHRASE search over [[positionalPostings]]: documents containing
    * the query's terms CONSECUTIVELY, with occurrence counts — the
    * retrieval capability a bag-of-words index cannot express ("new york"
    * vs "york new"). `phrases` is (query_id, terms ARRAY<STRING>); all
    * phrases must share one length k (the driver-side constant that
    * unrolls the join ladder).
    *
    * Algorithm: start from term 0's occurrence positions per (query,
    * doc); each step j intersects the surviving start-set with
    * (positions of term j shifted by −j) — after the last step the
    * start-set holds exactly the phrase occurrences. Per step ONE keyed
    * join on (query_id, doc_id) plus a broadcast of the bounded query
    * batch onto the postings (the b1 query-side discipline); the
    * position intersection is a codegen'd array op on two per-doc-sized
    * arrays. Docs drop out as soon as any prefix fails (`size > 0`
    * filter), so the ladder's frames shrink monotonically. At 100 TB
    * the cost is k keyed probes of the postings, each pruned to one
    * term's rows — never a corpus scan per query.
    */
  def phraseSearch(corpus: DataFrame, idCol: String, textCol: String,
      phrases: DataFrame, k: Int): DataFrame = {
    require(k >= 1, "phrase length must be >= 1")
    // Position-ROW form, not position-array form: each step is a pure
    // equi/semi join on (query_id, doc_id, start) with the occurrence
    // position shifted by −j at projection time — fully codegen'd, no
    // array lambda in the corpus-scale path (an array_intersect +
    // transform spelling is an interpreted per-element lambda, the t9
    // failure mode PlanAuditSpec gates).
    val occ = corpus.select(col(idCol).as("doc_id"),
        posexplode(graft.ops.TextOps.tokens(col(textCol)))
          .as(Seq("pos", "term")))
      .persistTracked()
    val qterms = phrases.select(col("query_id"),
      posexplode(col("terms")).as(Seq("j", "term")))
    // A (query, doc, p) row survives step j iff term j occurs at p + j —
    // after the last step the rows ARE the phrase occurrences.
    def side(j: Int) = occ
      .join(broadcast(qterms.filter(col("j") === j).select("query_id", "term")),
        "term")
      .select(col("query_id"), col("doc_id"), (col("pos") - j).as("p"))
    var cur = side(0)
    for (j <- 1 until k)
      cur = cur.join(side(j), Seq("query_id", "doc_id", "p"), "left_semi")
    cur.groupBy("query_id", "doc_id")
      .agg(count(lit(1)).as("_occ"))
      .groupBy("query_id")
      .agg(count(lit(1)).as("n_docs"),
        sum("doc_id").as("sum_ids"),
        sum("_occ").as("n_occ"),
        min("doc_id").as("min_doc"))
  }

  /** Per-doc token length ("norms"): one pass, one split per doc. */
  /** FIELDED postings (BM25F, simple-variant: Robertson et al. 2004) —
    * a hit in the TITLE (the first `titleLen` tokens, the web/doc-corpus
    * convention when no explicit field markup exists) is worth `wTitle`
    * body hits: tf̃ = Σ per-occurrence field weight, folded BEFORE the
    * saturation so a strong title match can't be drowned by body
    * repetition. Pair with [[fieldedDocLengths]] (same weights — the
    * length norm must live on the same scale) and score through the
    * unchanged [[bm25TopKFrom]]. Integer weights keep tf̃/dl̃ exact
    * BIGINTs (the e9 gate discipline).
    */
  def fieldedPostings(docs: DataFrame, idCol: String, textCol: String,
      titleLen: Int, wTitle: Int, wBody: Int): DataFrame =
    docs.select(col(idCol).as("doc_id"),
        posexplode(TextOps.tokens(col(textCol))).as(Seq("pos", "term")))
      .groupBy("doc_id", "term")
      .agg(sum(when(col("pos") < titleLen, lit(wTitle.toLong))
        .otherwise(lit(wBody.toLong))).as("tf"))

  /** Weighted document length matching [[fieldedPostings]]'s tf scale. */
  def fieldedDocLengths(docs: DataFrame, idCol: String, textCol: String,
      titleLen: Int, wTitle: Int, wBody: Int): DataFrame =
    docs.select(col(idCol).as("doc_id"),
        size(TextOps.tokens(col(textCol))).cast("long").as("_n"))
      .select(col("doc_id"),
        (least(col("_n"), lit(titleLen.toLong)) * wTitle +
          greatest(col("_n") - titleLen, lit(0L)) * wBody).as("dl"))

  def docLengths(docs: DataFrame, idCol: String, textCol: String): DataFrame =
    docs.select(col(idCol).as("doc_id"),
      size(TextOps.tokens(col(textCol))).cast("long").as("dl"))

  /** Corpus stats the BM25 weight needs: one row (n_docs, total_tokens). */
  def corpusStats(docLengths: DataFrame): DataFrame =
    docLengths.agg(count(lit(1)).as("n_docs"), sum("dl").as("total_tokens"))

  /** Per-term document frequency from the postings (postings are already
    * distinct per (doc, term), so df is a plain count).
    */
  def documentFrequencies(postings: DataFrame): DataFrame =
    postings.groupBy("term").agg(count(lit(1)).as("df"))

  /** The BM25 (k1, b) contribution of one posting against one query term,
    * floor-scaled to an e9 BIGINT. EXACT expression shape shared with the
    * SQL oracle:
    *   idf    = ln(1.0 + (nDocs − df + 0.5) / (df + 0.5))
    *   tfNorm = (tf · (k1+1)) / (tf + k1 · ((1−b) + b · (dl / avgdl)))
    *   e9     = floor(idf · tfNorm · 1e9)
    * with avgdl = totalTokens / nDocs (one double division). All literals
    * appear as the same decimal text in the oracle so both engines parse
    * the same nearest-double.
    */
  def contribE9(tf: Column, dl: Column, df: Column, nDocs: Column,
      totalTokens: Column, k1: Double, b: Double): Column = {
    val avgdl = totalTokens.cast("double") / nDocs.cast("double")
    val idf = log(lit(1.0) +
      (nDocs.cast("double") - df.cast("double") + lit(0.5)) /
        (df.cast("double") + lit(0.5)))
    val tfNorm = (tf.cast("double") * lit(k1 + 1)) /
      (tf.cast("double") + lit(k1) *
        (lit(1 - b) + lit(b) * (dl.cast("double") / avgdl)))
    floor(idf * tfNorm * lit(1e9)).cast("long")
  }

  /** BM25 top-k: score every corpus doc against every query (a query is a
    * bag of distinct terms) and keep the k best per query by exact integer
    * score, ties to the smaller doc_id.
    *
    * Join order is the scale story: the broadcast query-term probe shrinks
    * the postings to query-relevant rows FIRST, so the df join that
    * follows touches |qterms| terms, not the vocabulary, and broadcasts.
    * The final rank partitions by query_id — parallel across the query
    * batch, never a global sort.
    */
  def bm25TopK(docs: DataFrame, idCol: String, textCol: String,
      queries: DataFrame, k: Int,
      k1: Double = 1.2, b: Double = 0.75): DataFrame = {
    val post = postings(docs, idCol, textCol).persistTracked()
    // dl feeds two consumers (the one-row stats and the scoring join) —
    // unpersisted, each would re-tokenize the corpus.
    val dl = docLengths(docs, idCol, textCol).persistTracked()
    bm25TopKFrom(post, dl, queries, k, k1, b)
  }

  /** [[bm25TopK]] against PREBUILT postings + norms frames — the reuse
    * seam for multi-pass retrieval (RM3 scores twice against one index).
    * Caller owns the frames' persistence.
    */
  def bm25TopKFrom(post: DataFrame, dl: DataFrame,
      queries: DataFrame, k: Int,
      k1: Double = 1.2, b: Double = 0.75): DataFrame = {
    val stats = corpusStats(dl)
    val qterms = queries.select(col("query_id"), col("term")).distinct()
    // df is per-term, so computing it AFTER the query-term shrink yields
    // identical values while aggregating |qterm-postings| rows instead of
    // the whole vocabulary.
    val qpost = post.join(broadcast(qterms.select("term").distinct()), "term")
    val dfreq = documentFrequencies(qpost)
    scoreHits(
      post.join(broadcast(qterms), "term").join(broadcast(dfreq), "term"),
      dl, stats, k, k1, b)
  }

  /** PSEUDO-RELEVANCE FEEDBACK retrieval (the RM3 shape, tf-weighted): run
    * the query batch once, take each query's top `fbDocs` docs as assumed-
    * relevant, mine their postings for the `fbTerms` strongest terms the
    * query did NOT already contain (by summed tf across the feedback docs,
    * ties to the lexicographically smaller term), append them to the query,
    * and score again. Both passes run [[bm25TopKFrom]] against ONE postings
    * index; the feedback mining joins the ≤ |queries|·fbDocs feedback set
    * against the postings KEYED ON doc_id — cost tracks the feedback docs'
    * vocabulary, never the corpus. All ranking stays on exact e9-integer
    * scores; expansion term selection is integer tf — no FP anywhere a
    * term choice could flip.
    */
  def rm3TopK(docs: DataFrame, idCol: String, textCol: String,
      queries: DataFrame, fbDocs: Int, fbTerms: Int, k: Int,
      k1: Double = 1.2, b: Double = 0.75): DataFrame = {
    val post = postings(docs, idCol, textCol).persistTracked()
    val dl = docLengths(docs, idCol, textCol).persistTracked()
    // q0 feeds three consumers (pass 1, the anti-join, the union).
    val q0 = queries.select(col("query_id"), col("term")).distinct()
      .persistTracked()
    val fb = bm25TopKFrom(post, dl, q0, fbDocs, k1, b)
      .select("query_id", "doc_id")
    val wExp = Window.partitionBy("query_id")
      .orderBy(col("fb_tf").desc, col("term"))
    val exp = fb.join(post, "doc_id")
      .join(q0, Seq("query_id", "term"), "left_anti")
      .groupBy("query_id", "term").agg(sum("tf").as("fb_tf"))
      .withColumn("_rk", row_number().over(wExp))
      .filter(col("_rk") <= fbTerms)
      .select("query_id", "term")
    // exp is anti-joined against q0 and distinct per (query, term) by
    // construction — plain union keeps the distinct invariant.
    bm25TopKFrom(post, dl, q0.union(exp), k, k1, b)
  }

  /** Shared scoring tail: join the norms table onto the QUERY-SHRUNK hits
    * (keyed on doc_id — the join cost tracks the hit set, and the
    * (query_id, doc_id) aggregation reuses the doc_id hash partitioning
    * with no further exchange), score, rank per query.
    */
  private def scoreHits(hits: DataFrame, docLengths: DataFrame,
      stats: DataFrame, k: Int, k1: Double, b: Double): DataFrame = {
    val scored = hits.join(docLengths, "doc_id")
      .crossJoin(broadcast(stats))
      .withColumn("c_e9", contribE9(col("tf"), col("dl"), col("df"),
        col("n_docs"), col("total_tokens"), k1, b))
      .groupBy("query_id", "doc_id")
      .agg(sum("c_e9").as("score_e9"), count(lit(1)).as("n_terms_hit"))
    val w = Window.partitionBy("query_id")
      .orderBy(col("score_e9").desc, col("doc_id"))
    scored.withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
      .select("query_id", "rank", "doc_id", "score_e9", "n_terms_hit")
  }

  /** Queries-from-docs helper: each doc with `pred` becomes a query whose
    * terms are its own distinct tokens (the contamination-lookup shape —
    * "which training docs does this eval item retrieve").
    */
  def queriesFromDocs(docs: DataFrame, idCol: String, textCol: String,
      pred: Column): DataFrame =
    docs.filter(pred)
      .select(col(idCol).as("query_id"),
        explode(TextOps.tokens(col(textCol))).as("term"))
      .distinct()

  /** Persist the inverted index as a STANDING STORE: postings bucketed +
    * sorted by term (`<db>.postings`), per-term df bucketed by term
    * (`<db>.term_stats`), corpus totals as one row (`<db>.corpus_stats`).
    * The corpus-side shuffle is paid once here; every subsequent probe
    * joins on term against an already-hash-distributed layout, and an
    * equality/IN term predicate bucket-prunes the scan at listing time
    * (RetrievalSpec asserts SelectedBucketsCount < numBuckets).
    */
  def buildPostingStore(spark: SparkSession, docs: DataFrame, idCol: String,
      textCol: String, db: String, dbLoc: String, nBuckets: Int): Unit = {
    // Opening the store clears its append ledger: a fresh build
    // invalidates all append history.
    val store = Bucketing.Store.open(spark, db, dbLoc)
    val post = postings(docs, idCol, textCol).persistTracked()
    val dl = docLengths(docs, idCol, textCol).persistTracked()
    val Seq(postT, termT, docT, corpusT) =
      Seq("postings", "term_stats", "doc_stats", "corpus_stats").map(store.fresh)
    // Four disjoint tables — write them as concurrent jobs (§2.6); norms
    // bucket by doc_id, the scoring-side join key, so a probe's dl join
    // is exchange-free on the store side.
    concurrently(
      () => Bucketing.writeBucketed(post, postT, nBuckets, Seq("term")),
      () => Bucketing.writeBucketed(documentFrequencies(post), termT,
        nBuckets, Seq("term")),
      () => Bucketing.writeBucketed(dl, docT, nBuckets, Seq("doc_id")),
      () => corpusStats(dl).write.mode("overwrite").format("parquet")
        .saveAsTable(corpusT))
  }

  /** The append ledger's location inside a store's db directory. */
  def appendLedger(dbLoc: String): java.io.File =
    Bucketing.Store.ledgerDir(dbLoc, "append")

  /** Run independent store-table writes as CONCURRENT jobs (guide §2.6:
    * actions are only sequential because the driver calls them
    * sequentially — submitting independent writes from a small thread
    * pool lets each job's tail back-fill the executors the others free).
    * The four store tables are disjoint outputs, so content is identical
    * to the sequential form; any failure propagates (first cause) and the
    * pool never outlives the call. Spark's scheduler (FIFO) and
    * SessionCatalog are thread-safe for jobs/DDL on DISTINCT tables —
    * this must never be used for two writes touching the SAME table.
    */
  private def concurrently(work: (() => Unit)*): Unit = {
    val pool = java.util.concurrent.Executors.newFixedThreadPool(work.size)
    try {
      val futs = work.map(w => pool.submit(new java.util.concurrent.Callable[Unit] {
        def call(): Unit = w()
      }))
      futs.foreach { f =>
        try f.get()
        catch { case e: java.util.concurrent.ExecutionException =>
          throw e.getCause
        }
      }
    } finally { pool.shutdownNow(); () }
  }

  /** Index MAINTENANCE: fold a delta corpus into a standing
    * [[buildPostingStore]] store. EVERYTHING appends — the segment model
    * of a real inverted index (Lucene's): postings and norms land
    * bucket-aligned in the standing layout (the d21 discipline), and the
    * derived GLOBAL stats append as PER-BATCH PARTIALS — the delta's own
    * df rows into the term-bucketed `term_stats` and the delta's one
    * (n_docs, total_tokens) row into `corpus_stats`. Append doc_ids are
    * disjoint from the standing corpus by contract, so df and the totals
    * are additive, and [[termStatsOf]]/[[corpusStatsOf]] (the probe's
    * read views) sum the partials exactly. An append therefore costs
    * O(delta) — full stop: the previous design re-AGGREGATED the whole
    * postings store into a fresh term_stats (and re-scanned every norm
    * row for two totals) on EVERY delta append, an O(store) stats pass
    * that dwarfs the delta at 100 TB. [[compactPostingStore]] folds the
    * accumulated partials back to one row per term (the same lifecycle
    * that restores one file per bucket). RetrievalSpec proves the
    * appended store's VIEWS equal a fresh full build, and the compacted
    * store raw-equal, table by table.
    */
  def appendPostingStore(spark: SparkSession, delta: DataFrame, idCol: String,
      textCol: String, db: String, nBuckets: Int,
      ledgerDir: java.io.File, batchId: Long): Unit = {
    // REPLAY SAFETY (the d21/e12 committed-batchId discipline): a driver
    // retry of an already-committed batch is suppressed entirely —
    // re-appending would silently double every delta posting AND the
    // appended stats partials. The marker publishes only after all four
    // appends land (a death before it replays the batch).
    Bucketing.exactlyOnce(ledgerDir, batchId, s"posting-store append into $db") {
      // The delta's postings/norms each feed TWO appends (rows + their
      // stats partial) — persist, or each consumer re-tokenizes the delta.
      val post = postings(delta, idCol, textCol).persistTracked()
      val dl = docLengths(delta, idCol, textCol).persistTracked()
      // Four disjoint-table appends as concurrent jobs (§2.6).
      concurrently(
        () => Bucketing.appendBucketed(post, s"$db.postings", nBuckets,
          Seq("term")),
        () => Bucketing.appendBucketed(dl, s"$db.doc_stats", nBuckets,
          Seq("doc_id")),
        () => Bucketing.appendBucketed(documentFrequencies(post),
          s"$db.term_stats", nBuckets, Seq("term")),
        () => corpusStats(dl).write.mode("append").format("parquet")
          .saveAsTable(s"$db.corpus_stats"))
    }
    ()
  }

  /** The canonical per-term df view over a store's (possibly partial)
    * `term_stats` rows: appends add one partial row per (batch, term), so
    * the true df is the SUM per term. The groupBy runs on the bucketed
    * term key — Exchange-free — and on a freshly built or compacted store
    * it folds single rows (a no-op by value). `pre` narrows the scan
    * (term pushdown / semi-join) BEFORE the fold.
    */
  private[graft] def termStatsOf(spark: SparkSession, db: String)
      (pre: DataFrame => DataFrame): DataFrame =
    pre(spark.table(s"$db.term_stats"))
      .groupBy("term").agg(sum("df").as("df"))

  /** The one-row corpus-totals view over the (possibly partial)
    * `corpus_stats` rows — same fold as [[termStatsOf]], over a
    * #appends-row table.
    */
  private[graft] def corpusStatsOf(spark: SparkSession, db: String): DataFrame =
    spark.table(s"$db.corpus_stats")
      .agg(sum("n_docs").as("n_docs"),
        sum("total_tokens").as("total_tokens"))

  /** Store MAINTENANCE: COMPACTION. Each [[appendPostingStore]] adds one
    * file per touched bucket; after N appends every probe pays an N-way
    * per-bucket merge Sort. Compaction rewrites each bucketed table from
    * its own current files back to the one-file-per-bucket sorted layout
    * — ONE read + ONE write per table (the rewrite lands in a
    * same-bucketing side table that is catalog-RENAMEd over the original;
    * no second copy, no corpus shuffle: the repartition inside
    * [[Bucketing.writeBucketed]] re-buckets rows that are already
    * hash-placed, which AQE executes as a local rewrite). The derived
    * stats FOLD here too: appends accumulate per-batch df/total PARTIALS
    * (one row per batch per term — the segment model), and compaction
    * sums them back to the canonical one row per term / one corpus row —
    * the same read view the probe computes ([[termStatsOf]]), made
    * physical. The append ledger is NOT touched: compaction changes
    * layout, not content (the folded views are value-identical), so
    * committed batches stay committed.
    */
  def compactPostingStore(spark: SparkSession, db: String,
      nBuckets: Int): Unit =
    // Four disjoint-table rewrites as concurrent jobs (§2.6): each is a
    // small fixed cost (read + write + catalog rename), so overlapping
    // them collapses the compact phase's serial job chain.
    concurrently(
      () => rewriteStoreTable(spark, db, "postings", Seq("term"),
        nBuckets)(identity),
      () => rewriteStoreTable(spark, db, "doc_stats", Seq("doc_id"),
        nBuckets)(identity),
      () => rewriteStoreTable(spark, db, "term_stats", Seq("term"),
        nBuckets)(_.groupBy("term").agg(sum("df").as("df"))),
      // corpus_stats is a plain one-row-per-batch parquet table (no
      // buckets): fold to one row through an eager checkpoint so the
      // overwrite never reads the files it is replacing.
      () => corpusStatsOf(spark, db).localCheckpoint()
        .write.mode("overwrite").format("parquet")
        .saveAsTable(s"$db.corpus_stats"))

  /** Store MAINTENANCE: targeted DELETE (the right-to-be-forgotten path).
    * Removing documents from a TERM-bucketed inverted index is a rewrite
    * by construction — the doomed postings are scattered across every
    * term bucket — so the honest cost is one anti-join rewrite of
    * `postings` and `doc_stats` (delete set broadcast; the rewrite stays
    * bucket-aligned, no corpus shuffle) plus a global-stats update: df,
    * n_docs, and avgdl all shift when documents leave, and a store that
    * kept serving the old stats would leak the deleted documents'
    * statistics. The stats rebuild reads the rewritten bucketed postings
    * (per-term groupBy, ZERO exchanges on the bucketing) — a full-index
    * stats pass is the RIGHT cost here, unlike the append case: the
    * delete already rewrites O(store) bytes, so an O(store) stats pass
    * changes nothing asymptotically, and rebuilding from the rewritten
    * postings also folds any accumulated per-batch stats partials back to
    * canonical single rows for free. (An incremental subtract —
    * term_stats − df(doomed postings) — was built and measured in r22:
    * it needs the SAME two full postings scans plus an extra checkpoint,
    * merge join, and catalog rename per delete, and lost to this form at
    * bench scale while winning nothing at 100 TB.)
    */
  def deleteFromPostingStore(spark: SparkSession, db: String, nBuckets: Int,
      deleteIds: DataFrame): Unit = {
    val del = deleteIds.select(col("doc_id")).distinct()
    // Two concurrent phases (§2.6): the anti-join rewrites are disjoint,
    // and the stats rebuilds each read ONE rewritten table, so they run
    // after the barrier — never against a table mid-rewrite.
    concurrently(
      () => rewriteStoreTable(spark, db, "postings", Seq("term"), nBuckets)(
        _.join(broadcast(del), Seq("doc_id"), "left_anti")),
      () => rewriteStoreTable(spark, db, "doc_stats", Seq("doc_id"),
        nBuckets)(_.join(broadcast(del), Seq("doc_id"), "left_anti")))
    concurrently(
      () => Bucketing.writeBucketed(
        documentFrequencies(spark.table(s"$db.postings")),
        s"$db.term_stats", nBuckets, Seq("term")),
      () => corpusStats(spark.table(s"$db.doc_stats"))
        .write.mode("overwrite").format("parquet")
        .saveAsTable(s"$db.corpus_stats"))
  }

  /** [[Bucketing.rewriteBucketedInPlace]] under the store's historical
    * local name (the single-read-single-write side-table rewrite with a
    * servable copy at every crash point — ADVICE r12). */
  private def rewriteStoreTable(spark: SparkSession, db: String, tbl: String,
      keys: Seq[String], nBuckets: Int)
      (transform: DataFrame => DataFrame): Unit =
    Bucketing.rewriteBucketedInPlace(spark, db, tbl, keys, nBuckets)(transform)

  /** BM25 top-k against a [[buildPostingStore]] store. Two probe shapes,
    * chosen by the query batch's distinct-vocabulary size, measured with a
    * BOUNDED limit(cap+1) probe so the driver never holds more than cap+1
    * terms regardless of workload:
    *  - ≤ `maxPushdownTerms`: collect the term list and push it as an IN
    *    predicate over the bucket column — the scan bucket-prunes at
    *    listing time, so the probe reads only buckets that can hold a
    *    query term (at 100 TB the probe cost tracks the query batch, not
    *    the corpus).
    *  - beyond the cap (a pathological million-term batch): a left-semi
    *    join against the distinct query terms — no driver materialization
    *    at all, the plan stays fully lazy, and AQE picks broadcast vs
    *    shuffled semi by the term frame's actual size. Bucket pruning is
    *    lost, but a batch that large touches most buckets anyway.
    */
  def bm25FromStore(spark: SparkSession, db: String, queries: DataFrame,
      k: Int, k1: Double = 1.2, b: Double = 0.75,
      maxPushdownTerms: Int = 10000): DataFrame = {
    val qterms = queries.select(col("query_id"), col("term")).distinct()
      .persistTracked()
    val terms = qterms.select("term").distinct()
    val probe = terms.limit(maxPushdownTerms + 1)
      .collect().map(_.getString(0))
    // term_stats/corpus_stats read through their partial-folding views
    // (appends land per-batch stats partials — the segment model): the
    // df fold is an Exchange-free groupBy on the bucketed term key over
    // the query-pruned slice, and the totals fold is one row per append.
    val (post, dfreq) =
      if (probe.length <= maxPushdownTerms) {
        val termList = probe.sorted
        (spark.table(s"$db.postings")
           .filter(col("term").isin(termList: _*)),
         termStatsOf(spark, db)(_.filter(col("term").isin(termList: _*))))
      } else
        (spark.table(s"$db.postings").join(terms, Seq("term"), "left_semi"),
         termStatsOf(spark, db)(_.join(terms, Seq("term"), "left_semi")))
    val stats = corpusStatsOf(spark, db)
    scoreHits(post.join(dfreq, "term").join(broadcast(qterms), "term"),
      spark.table(s"$db.doc_stats"), stats, k, k1, b)
  }
}
