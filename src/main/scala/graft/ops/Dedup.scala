package graft.ops

import org.apache.spark.sql.functions._
import org.apache.spark.sql.{Column, DataFrame}

import graft.functions.Hashing

import graft.engine.Caches.Registered

/** Deduplication operators for LLM-scale corpora over `documents`:
  * exact (hash-group), MinHash+LSH near-dup (shingle → K minhashes → banded
  * buckets → bucket-join — never all-pairs), SimHash, exact n-gram
  * Jaccard verification of LSH candidates, and containment scoring and
  * removal.
  *
  * Scale design: every stage is a groupBy/join on bounded keys. The LSH
  * bucket join replaces the O(N²) pair enumeration with joins on
  * (band, bandKey); one builder, [[candidatePairs]], makes every LSH pair
  * set, and its `skew` choice salts hot buckets known at plan time (AQE's
  * skew-join split handles the rest); signatures are K=16 longs per doc.
  * Containment is one pipeline of public seams — [[windowOcc]] →
  * [[cappedWindowOcc]] → [[windowPairs]] or [[arrivalPairs]] → [[scored]]
  * → [[relations]] or [[dropRows]] → [[dropRollup]] — that the d35, c10,
  * c11 operators and the c12/c13/e21–e24 queries compose.
  */
object Dedup {

  val K = 16 // minhash permutations
  val Bands = 4
  val Rows = K / Bands
  val ShingleN = 3

  /** Exact dedup: canonical keeper (min doc_id) per identical text. */
  def exact(docs: DataFrame): DataFrame =
    docs.groupBy("text")
      .agg(min("doc_id").as("keep_id"), count(lit(1)).as("n_copies"))
      .select("keep_id", "n_copies")

  /** (doc_id, shingle-hash h) — distinct word-ShingleN-grams, polyhashed.
    * Hash-first, then PER-ROW array_distinct: h is deduped within each
    * doc's array before the explode, and doc_id differs across rows, so
    * the exploded pairs are globally distinct WITH ZERO SHUFFLE — the
    * previous `.distinct()` exchanged every exploded hash corpus-wide to
    * dedup pairs that were already unique per doc (guide §2.4: a distinct
    * on data that is already unique is an accidental exchange). (Min over
    * the hash multiset equals min over the distinct-string set, so minhash
    * semantics are unchanged; the DuckDB oracle does the same.)
    */
  def shingleHashes(docs: DataFrame): DataFrame =
    docs
      .select(col("doc_id"),
        explode(array_distinct(graft.functions.PolyShinglesExpr.column(
          lower(col("text")), ShingleN))).as("h"))

  /** WINNOWING fingerprints (Schleimer, Wilkerson, Aiken, SIGMOD 2003):
    * from the ORDERED shingle-hash sequence, take the min of every window
    * of `w` consecutive hashes and distinct the picks. The guarantee: any
    * shared run of ≥ w+n−1 tokens between two documents shares at least
    * one fingerprint, at ~2/(w+1) the density of the full shingle set —
    * the classic sparse-but-sound local fingerprinting for
    * plagiarism/contamination scans (MOSS). Positions are dropped (the
    * common set-based simplification); the value set still carries the
    * guarantee.
    *
    * Pure per-row kernel work — no explode, no shuffle: at 100 TB the
    * fingerprint extraction is a map-only pass. The extraction is the
    * native `graft_winnow` monotonic-deque kernel (O(len) per doc inside
    * whole-stage codegen); the HOF spelling
    * (`transform(sequence, i -> array_min(slice))`) evaluates an
    * interpreted lambda per window with an O(w) slice each.
    */
  def winnowedFingerprints(docs: DataFrame, w: Int): DataFrame =
    docs
      .select(col("*"),
        graft.functions.WinnowExpr.fpsColumn(lower(col("text")), ShingleN, w)
          .as("_wn"))
      .select(col("*"), col("_wn.n_shingles").as("n_shingles"),
        col("_wn.fps").as("fps"))
      .drop("_wn")
      .filter(col("n_shingles") >= w)

  /** K-column minhash signature per doc: one groupBy with K min-aggregates
    * (map-side partial aggregation keeps shuffle width at K longs per doc).
    */
  def minhashSignatures(sh: DataFrame): DataFrame =
    sh.groupBy("doc_id")
      .agg(min(Hashing.minhashPerm(col("h"), 0)).as("s0"),
        (1 until K).map(k => min(Hashing.minhashPerm(col("h"), k)).as(s"s$k")): _*)

  /** Band key: polynomial combine of the band's Rows signature values. */
  private def bandKey(b: Int): Column =
    (0 until Rows).map(r => col(s"s${b * Rows + r}"))
      .foldLeft(lit(0L): Column)((acc, s) => pmod(acc * Hashing.PolyBase + s, lit(Hashing.PolyMod)))

  /** (doc_id, band, band_key): LSH bucket assignment, Bands rows per doc.
    * One posexplode pass — a per-band union would rescan (and without a
    * cache, recompute) the signature frame once per band.
    */
  def lshBuckets(sig: DataFrame): DataFrame =
    sig.select(col("doc_id"),
      posexplode(array((0 until Bands).map(bandKey): _*)).as(Seq("band", "band_key")))

  /** Per-row LSH band keys — the STREAMING form of
    * [[minhashSignatures]]+[[lshBuckets]] (a delta stream cannot run an
    * unbounded groupBy, but the signature is a pure function of the text;
    * see [[graft.functions.LshBandsExpr]]). `posexplode` the result to get
    * the same (band, band_key) rows the batch path emits.
    */
  def lshBandsPerRow(text: Column): Column =
    graft.functions.LshBandsExpr.column(lower(text), ShingleN, K, Bands)

  /** How [[candidatePairs]] joins the bucket rows. `Plain` is the keyed
    * self-join. `Hot` is the known-skew escape hatch for the LSH chain:
    * one viral span (boilerplate footer, licence block) shared by a large
    * slice of the corpus collapses those docs into the same (band,
    * band_key) buckets, and the plain self-join lands the whole hot
    * bucket on one task. `Hot` salts only the buckets holding more than
    * `threshold` rows ([[Skew.saltedJoinHot]]); without a threshold the
    * bucket histogram picks its own, max(floor, 8× mean bucket size). The
    * long tail takes the plain keyed join, so build-side replication is
    * S × hot-slice, proportional to the skew and not to the corpus. AQE's
    * runtime skew-split handles moderate skew without this; the explicit
    * form is for skew known at plan time.
    */
  sealed trait BucketSkew
  case object Plain extends BucketSkew
  final case class Hot(salts: Int, threshold: Option[Long] = None)
    extends BucketSkew

  /** Candidate pairs (doc_a < doc_b) sharing ≥1 LSH bucket, with the count
    * of shared bands. Join is on (band, band_key) — never a cross product.
    * Each doc emits exactly one bucket row per band, so a pair can meet at
    * most once per band and plain count == count distinct — sparing the
    * distinct's extra aggregation pass. (Oracle keeps COUNT(DISTINCT); the
    * values are identical.) Every `skew` meets each pair exactly once, so
    * the result is row-identical across them (the d22/d23 gates).
    */
  def candidatePairs(buckets: DataFrame, skew: BucketSkew = Plain): DataFrame = {
    // A salted join reads the bucket frame in its histogram, four hot/cold
    // semi/anti legs and both join sides — persist it or each leg re-runs
    // the whole LSH chain upstream.
    val bk = if (skew == Plain) buckets else graft.engine.Caches.persisted(buckets)
    val keys = Seq("band", "band_key")
    val a = bk.select(col("band"), col("band_key"), col("doc_id").as("doc_a"))
    val b = bk.select(col("band"), col("band_key"), col("doc_id").as("doc_b"))
    val joined = skew match {
      case Plain => a.join(b, keys)
      case Hot(salts, None) => Skew.saltedJoinHot(a, b, keys, salts)
      case Hot(salts, Some(t)) => Skew.saltedJoinHot(a, b, keys, salts, t)
    }
    joined
      .filter(col("doc_a") < col("doc_b"))
      .groupBy("doc_a", "doc_b")
      .agg(count(col("band")).as("n_bands"))
  }

  /** d33: PRE-DEDUP GUARD — exact dedup composed IN FRONT of the LSH
    * chain as one operator. Real pipelines cut exact-duplicate mass
    * before pair enumeration: a viral corpus (d22's shape — 30% of docs
    * share ONE text) makes the plain chain's hot bucket quadratic in the
    * viral mass (the salted path carries it, but the pair set itself
    * still grows ~|viral|²), while collapsing identical texts to one
    * representative FIRST removes the hot bucket entirely — the viral
    * mass contributes ONE doc to the LSH stage, and downstream cost is
    * linear in distinct texts. Each representative (keeper = min doc_id
    * per text) carries its multiplicity (`copies_a`/`copies_b`), so the
    * collapsed mass stays accounted: expanding a rep pair by its copy
    * counts reproduces every underlying doc pair.
    *
    * Scale shape: one exact groupBy on the text hash, then the standard
    * shingle → signature → banded-bucket chain over representatives only
    * — no salting needed because the guard removes the very skew d22/d23
    * defend against (the salted path remains the answer for NEAR-dup
    * skew, where texts differ but signatures agree).
    */
  def guardedCandidatePairs(docs: DataFrame): DataFrame = {
    // Consumed by the LSH chain and both multiplicity attaches.
    val reps = docs.groupBy("text")
      .agg(min("doc_id").as("doc_id"), count(lit(1)).as("n_copies"))
      .persistTracked()
    candidatePairs(lshBuckets(minhashSignatures(shingleHashes(
        reps.select("doc_id", "text")))))
      .join(reps.select(col("doc_id").as("doc_a"),
        col("n_copies").as("copies_a")), "doc_a")
      .join(reps.select(col("doc_id").as("doc_b"),
        col("n_copies").as("copies_b")), "doc_b")
      // using-column joins float their key first; pin the pair layout
      .select("doc_a", "doc_b", "n_bands", "copies_a", "copies_b")
  }

  /** Estimated Jaccard from signature agreement for candidate pairs. */
  def estimatedJaccard(pairs: DataFrame, sig: DataFrame): DataFrame = {
    val sa = sig.toDF(sig.columns.map(c => if (c == "doc_id") "doc_a" else s"a_$c"): _*)
    val sb = sig.toDF(sig.columns.map(c => if (c == "doc_id") "doc_b" else s"b_$c"): _*)
    val matches = (0 until K).map(k =>
      when(col(s"a_s$k") === col(s"b_s$k"), 1).otherwise(0))
      .reduce(_ + _)
    pairs.join(sa, "doc_a").join(sb, "doc_b")
      .withColumn("est_jaccard", round(matches.cast("double") / K, 6))
      .select("doc_a", "doc_b", "n_bands", "est_jaccard")
  }

  /** MinHash-LSH near-dup pipeline end-to-end. The signature frame is
    * persisted: it feeds the bucket self-join AND both sides of the
    * estimate join — without it Spark recomputes the shingle pipeline 4×.
    */
  def minhashLsh(docs: DataFrame): DataFrame = {
    val sig = graft.engine.Caches.persisted(
      minhashSignatures(shingleHashes(docs)))
    estimatedJaccard(candidatePairs(lshBuckets(sig)), sig)
  }

  /** Duplicate-cluster resolution: connected components over the LSH
    * candidate graph, so every near-dup group gets one canonical keeper
    * (the min doc_id in the component) — the step that turns candidate
    * pairs into an actionable drop list.
    *
    * Min-label propagation: each round, every vertex takes the min label
    * among itself and its neighbors — one hash join + min-aggregate per
    * round, converging in O(component diameter) rounds. LSH dup clusters
    * are near-cliques (diameter ≤ ~3), so the loop exits after 2-4 cheap
    * rounds; labels are monotonically non-increasing, so the fixpoint
    * check is an exact count of changed rows. No GraphX, no driver-side
    * adjacency — at 100 TB every round is a keyed shuffle.
    */
  def dupClusters(docs: DataFrame): DataFrame =
    connectedComponents(
      candidatePairs(lshBuckets(minhashSignatures(shingleHashes(docs))))
        .select("doc_a", "doc_b"))

  /** CROSS-CORPUS near-dup — the BIPARTITE form of the LSH chain: probe
    * corpus `b`'s bucket rows against standing corpus `a`'s, never
    * self-joining either side. This is fuzzy decontamination /
    * cross-source dedup (drop B docs already represented in A): where
    * [[contamination]] matches exact shingles, this matches at the
    * signature level (≥ `minBands` agreeing LSH bands). Against running
    * [[candidatePairs]] on A ∪ B and filtering, the bipartite join never
    * materializes A×A or B×B candidate pairs — at 100 TB, A's buckets
    * are the standing store (d20's bucketed table) and the probe cost
    * tracks the DELTA, exactly the incremental-dedup shape.
    */
  def crossCorpusPairs(a: DataFrame, b: DataFrame,
      minBands: Int = 2): DataFrame = {
    val ab = lshBuckets(minhashSignatures(shingleHashes(a)))
      .select(col("band"), col("band_key"), col("doc_id").as("doc_a"))
    val bb = lshBuckets(minhashSignatures(shingleHashes(b)))
      .select(col("band"), col("band_key"), col("doc_id").as("doc_b"))
    bb.join(ab, Seq("band", "band_key"))
      .groupBy("doc_b", "doc_a")
      .agg(count(col("band")).as("n_bands"))
      .filter(col("n_bands") >= minBands)
  }

  /** Per-B-doc rollup of [[crossCorpusPairs]]: the best standing match
    * (most agreeing bands, ties → lowest A id — max(struct) argmax, no
    * window sort) and the match count. A row per MATCHED B doc is the
    * drop list cross-source dedup acts on.
    */
  def crossCorpusMatches(a: DataFrame, b: DataFrame,
      minBands: Int = 2): DataFrame =
    crossCorpusPairs(a, b, minBands)
      .groupBy("doc_b")
      .agg(max(struct(col("n_bands").as("nb"), (-col("doc_a")).as("na"),
          col("doc_a").as("a"))).as("m"),
        count(lit(1)).as("n_matches"))
      .select(col("doc_b"), col("m.a").as("best_a"),
        col("m.nb").as("best_bands"), col("n_matches"))

  /** INCREMENTAL connected components — the cluster-map maintenance leg
    * of the standing-store lifecycle (d20/d21 maintain SIGNATURES
    * incrementally; this maintains the CLUSTER MAP): fold a delta's new
    * pair edges into an existing (doc_id, keep_id) assignment WITHOUT
    * re-reading the standing corpus' pairs. The standing map's rows are
    * themselves connectivity-preserving star edges (every member — root
    * included, via its self-row — is connected to its component's root,
    * and the root IS the component's min id), so min-label propagation
    * over (star edges ∪ delta pairs) reaches exactly the components —
    * and exactly the min-id labels — a full recompute over
    * (old pairs ∪ delta pairs) would: the d28 gate hash-proves it. Cost
    * scales with |standing map| + |delta pairs| (one row per standing
    * DOC, not per standing PAIR — the map is already the quotient), and
    * near-clique components converge in the fused first round.
    */
  def connectedComponentsIncremental(standing: DataFrame,
      deltaPairs: DataFrame): DataFrame =
    connectedComponents(
      standing.select(col("doc_id").as("doc_a"), col("keep_id").as("doc_b"))
        .unionByName(deltaPairs.select("doc_a", "doc_b")))

  /** Canonical-document selection: per duplicate cluster, keep the member
    * with the highest score (ties → lowest doc_id) — the production form
    * of "drop near-dups" (keep-longest / keep-highest-quality), where
    * min-id keeps are only a tie-break of last resort.
    *
    * `clusters` is a (doc_id, keep_id) cluster map (e.g. [[dupClusters]]);
    * `score` is evaluated against `docs`' columns. One keyed join + one
    * max(struct) aggregate — argmax without a window sort, so at 100 TB
    * this is two shuffles of (id, score) pairs, never a per-cluster sort.
    * Reference behavior: the pipeline keeps samples in scan order
    * (feature_extractor.py:42-47 iterates the per-scene zip and takes
    * rows as encountered); a score-ranked keeper is the deliberate,
    * order-independent form of that choice.
    */
  def keepBest(docs: DataFrame, clusters: DataFrame, score: Column): DataFrame =
    clusters.select(col("doc_id"), col("keep_id").as("cluster_id"))
      .join(docs.select(col("doc_id"), score.as("_score")), Seq("doc_id"))
      .groupBy("cluster_id")
      .agg(max(struct(col("_score").as("s"), (-col("doc_id")).as("nd"),
          col("doc_id").as("d"))).as("m"),
        count(lit(1)).as("n_members"))
      .select(col("cluster_id"), col("m.d").as("keep_doc"),
        col("m.s").as("keep_score"), col("n_members"))

  /** SimHash variant: same component resolution over the hamming-join
    * pair graph. Radius 0 short-circuits the iterative loop entirely:
    * hamming-0 edges are simhash-equality pairs, so every component is an
    * equality clique and the component minimum is just `min(doc_id)` per
    * simhash group — one aggregate + one keyed join, no fixpoint rounds.
    * Wider radii run the real propagation (gated by d10 at radius 3).
    */
  def simhashClusters(docs: DataFrame, maxHamming: Int): DataFrame =
    if (maxHamming == 0) {
      val sh = simhash(docs).persistTracked()
      val groups = sh.groupBy("simhash")
        .agg(min("doc_id").as("keep_id"), count(lit(1)).as("_n"))
        .filter(col("_n") >= 2)
      sh.join(groups, "simhash").select("doc_id", "keep_id")
    } else connectedComponents(
      simhashPairs(simhash(docs), maxHamming).select("doc_a", "doc_b"))

  /** Components of any undirected (doc_a, doc_b) pair frame. */
  def connectedComponents(pairs: DataFrame): DataFrame = {
    // Symmetrize + add self-loops in ONE pass over the pair pipeline (a
    // union of the frame with its swap would evaluate the expensive,
    // un-persisted candidate pipeline twice before the persist below could
    // help). The self-loops make a vertex's own label part of its
    // neighborhood, so every propagation round is just join + min-groupBy —
    // no second "keep my own label" join. 4 rows per pair instead of 2;
    // for the near-clique graphs dedup produces, |V| << |E|, so the
    // volume cost is small against a whole join stage per round.
    val edges = pairs
      .select(explode(array(
        struct(col("doc_a"), col("doc_b")),
        struct(col("doc_b").as("doc_a"), col("doc_a").as("doc_b")),
        struct(col("doc_a"), col("doc_a").as("doc_b")),
        struct(col("doc_b").as("doc_a"), col("doc_b")))).as("e"))
      .select(col("e.doc_a").as("src"), col("e.doc_b").as("dst"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    // Fused first round: with labels initialized to the vertex id, round 1
    // of min-label propagation is exactly min over the self-inclusive
    // neighborhood — one groupBy over edges, no join. Near-clique dup
    // graphs then converge on the first LOOP iteration.
    // localCheckpoint (not persist): round N's logical plan would otherwise
    // embed rounds 1..N-1 — the data is short-circuited by the cache, but
    // Catalyst still re-analyzes the ever-growing tree, and on
    // high-diameter (chain) graphs the planning time ends up dwarfing the
    // per-round jobs. Lineage truncation keeps every round's plan flat
    // (persisted edges ⋈ checkpointed labels), and lazy (eager = false)
    // makes the convergence aggregate the materializing action — one job
    // per round, not two.
    var labels = edges.groupBy("src").agg(min("dst").as("label"))
      .localCheckpoint(false)
    // Labels are monotonically non-increasing, so the label SUM is a
    // complete convergence witness: unchanged sum == no label moved. One
    // cheap aggregate per round instead of a join + count.
    var prevSum = labels.agg(sum("label")).head.getLong(0)
    var converged = false
    while (!converged) {
      // TWO propagation hops per action: each driver round-trip (job
      // submit + convergence head) costs more than an extra in-job
      // shuffle stage, so doubling the hop count halves the loop's
      // dominant fixed cost. Convergence stays sound — labels are
      // monotonically non-increasing, so an unchanged sum after a 2-hop
      // step certifies the 1-hop fixpoint too.
      val hop = edges
        .join(labels.select(col("src").as("dst"), col("label")), "dst")
        .groupBy("src").agg(min("label").as("label"))
      val next = edges
        .join(hop.select(col("src").as("dst"), col("label")), "dst")
        .groupBy("src").agg(min("label").as("label"))
        .localCheckpoint(false)
      val nextSum = next.agg(sum("label")).head.getLong(0)
      // The convergence aggregate materialized next's checkpoint; the
      // superseded round's locally-checkpointed blocks are dead from here —
      // release them, or high-diameter graphs accumulate one block set per
      // round until GC.
      labels.unpersist()
      labels = next
      converged = nextSum == prevSum
      prevSum = nextSum
    }
    edges.unpersist()
    labels.select(col("src").as("doc_id"), col("label").as("keep_id"))
  }

  /** High-diameter variant of [[connectedComponents]]: alternating
    * large-star/small-star rounds (the public two-phase MapReduce CC
    * algorithm of Kiveris et al., SoCC'14), converging in O(log n) rounds
    * on ANY graph shape — min-label propagation is O(diameter), which
    * degrades to O(n) joins on chain-shaped dup graphs (template drift
    * A~B~C~…). Propagation stays the fast path for the near-clique graphs
    * LSH dedup usually produces (diameter ≤ ~3 → 1-2 cheaper rounds);
    * choose this one when the candidate graph may contain long chains.
    *
    * Each round is a constant number of keyed shuffles over the edge set
    * (no driver-side adjacency, no GraphX); the edge set never grows —
    * both stars re-point each edge at a neighborhood minimum. Each round's
    * edge state is `localCheckpoint`ed, not just persisted: the loop's
    * self-unions/self-joins double the *logical plan* every round, and
    * without lineage truncation the analyzer blows up (gigabyte plan
    * strings / O(2^rounds) tree walks) long before the data does.
    */
  def connectedComponentsStar(pairs: DataFrame): DataFrame =
    connectedComponentsStarRounds(pairs)._1

  /** [[connectedComponentsStar]] + the round count, exposed so tests can
    * assert the O(log n) convergence bound on adversarial (chain) graphs.
    */
  def connectedComponentsStarRounds(
      pairs: DataFrame, maxRounds: Int = 64): (DataFrame, Int) = {
    val MD = org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK
    // All vertices (kept aside: star rounds drop vertices whose component
    // collapses around them — roots re-enter the output via this frame).
    // Not persisted: its one reader is the final left-anti union.
    val verts = pairs.select(col("doc_a").as("u"))
      .union(pairs.select(col("doc_b").as("u")))
      .distinct()
    // Canonical directed edge state: u > v, distinct, self-loops dropped.
    // localCheckpoint (eager) truncates lineage so round N's plan does not
    // embed rounds 1..N-1; it also serves as the per-round cache.
    // Lazy checkpoint: the count right below is the materializing action,
    // so initialization is one job instead of two.
    var edges = pairs.filter(col("doc_a") =!= col("doc_b"))
      .select(greatest(col("doc_a"), col("doc_b")).as("u"),
        least(col("doc_a"), col("doc_b")).as("v"))
      .distinct()
      .localCheckpoint(false)
    var edgeCount = edges.count()
    var rounds = 0
    var converged = edgeCount == 0
    while (!converged && rounds < maxRounds) {
      rounds += 1
      // Large-star: every neighbor w strictly above u re-points at
      // m = min(N(u) ∪ {u}). Output keeps the u > v invariant (w > u ≥ m).
      val sym = edges.union(edges.select(col("v").as("u"), col("u").as("v")))
      val ls = sym
        .join(sym.groupBy("u").agg(min("v").as("mn"))
          .select(col("u"), least(col("u"), col("mn")).as("m")), "u")
        .filter(col("v") > col("u"))
        .select(col("v").as("u"), col("m").as("v"))
        .distinct()
        .persist(MD)
      // Small-star: every smaller neighbor (and u itself) re-points at the
      // minimum of u's smaller neighborhood.
      val ssMin = ls.groupBy("u").agg(min("v").as("m"))
      val next = ls.join(ssMin, "u")
        .select(col("v").as("u"), col("m").as("v"))
        .union(ssMin.select(col("u"), col("m").as("v")))
        .filter(col("u") =!= col("v"))
        .distinct()
        .localCheckpoint(false)
      // Fixpoint = the round was a set-level no-op. Both frames are
      // canonical distinct sets, so next == edges ⟺ |next ∪ edges| ==
      // |edges| == |next| — ONE aggregate action yields |union| and
      // |next| together (and materializes the lazy checkpoint), replacing
      // the former count + left-anti probe (3 jobs/round → 1). Checking
      // "no length-2 path" alone would NOT be enough (a source with two
      // root targets passes it one round early). At the fixpoint the edge
      // set is a star forest centered at component minima.
      val row = next.withColumn("_new", lit(1L))
        .union(edges.withColumn("_new", lit(0L)))
        .groupBy("u", "v").agg(max("_new").as("_n"))
        .agg(count(lit(1)).as("n_union"), sum("_n").as("n_next"))
        .head()
      val unionCount = row.getLong(0)
      // sum over zero groups is NULL (both frames empty — a fully
      // collapsed component emptied the edge set last round).
      val nextCount = if (row.isNullAt(1)) 0L else row.getLong(1)
      converged = unionCount == edgeCount && nextCount == edgeCount
      ls.unpersist()
      // The fixpoint aggregate materialized next's checkpoint; drop the
      // superseded round's blocks (same hygiene as the propagation loop).
      edges.unpersist()
      edges = next
      edgeCount = nextCount
    }
    // Star forest -> labels: sources point at their root; roots (and
    // isolated vertices) map to themselves.
    val labels = edges.select(col("u").as("doc_id"), col("v").as("keep_id"))
      .union(verts.join(edges.select("u"), Seq("u"), "left_anti")
        .select(col("u").as("doc_id"), col("u").as("keep_id")))
    (labels, rounds)
  }

  /** Verbatim-span duplication counts (the exact-substring dedup signal of
    * Lee et al. 2022 at a fixed n-token operating point, not a suffix
    * array): per doc, how many of its distinct n-gram word spans appear
    * verbatim in at least one other doc. Hash-first — the shuffle carries
    * longs, never span strings; shared-span detection is one
    * partial-aggregated groupBy; the attach back is a keyed join. No
    * broadcast anywhere: at corpus scale the shared-span set is itself
    * large.
    */
  def spanDupCounts(docs: DataFrame, n: Int): DataFrame = {
    // Per-row array_distinct ⇒ globally distinct (doc_id, h) pairs with
    // no corpus-wide distinct exchange (the shingleHashes rationale).
    val sh = docs.select(col("doc_id"),
        explode(windowHashesPerRow(col("text"), n)).as("h"))
      .persistTracked()
    val shared = sh.groupBy("h")
      .agg(count(lit(1)).as("nd")).filter(col("nd") >= 2).select("h")
    sh.join(shared, "h")
      .groupBy("doc_id").agg(count(lit(1)).as("n_dup_spans"))
  }

  /** Multi-n verbatim-span sweep (toward Lee et al. 2022 exact-substring
    * dedup): [[spanDupCounts]] at several window widths at once, sharing ONE
    * tokenize/char-hash pass via [[graft.functions.MultiShinglesExpr]] —
    * extra widths cost per-token integer folds, never another traversal of
    * the corpus text. Output: (doc_id, n, n_dup_spans) for every width with
    * at least one shared span. Same scale shape as the single-n operator:
    * the shuffle carries packed (n, hash) longs only, shared-span detection
    * is one partial-aggregated groupBy, no broadcast of anything
    * corpus-sized.
    */
  def spanDupCountsSweep(docs: DataFrame, ns: Seq[Int]): DataFrame = {
    // Per-row array_distinct ⇒ globally distinct (doc_id, nh) pairs with
    // no corpus-wide distinct exchange (the shingleHashes rationale; nh
    // packs (n, hash), so within-doc dedup is per (width, hash) pair).
    val sh = docs.select(col("doc_id"),
        explode(array_distinct(graft.functions.MultiShinglesExpr.column(
          lower(col("text")), ns))).as("nh"))
      .persistTracked()
    val shared = sh.groupBy("nh")
      .agg(count(lit(1)).as("nd")).filter(col("nd") >= 2).select("nh")
    sh.join(shared, "nh")
      .groupBy(col("doc_id"), shiftright(col("nh"), 32).cast("int").as("n"))
      .agg(count(lit(1)).as("n_dup_spans"))
  }

  /** Per-doc longest-duplicated-span bound via a doubling ladder over
    * [[spanDupCountsSweep]]: any sub-span of a shared span is itself shared,
    * so the largest ladder width that still fires for a doc bounds its
    * longest verbatim run within a factor of 2 (run length ∈ [max_dup_n,
    * 2·max_dup_n) for consecutive doubling widths). This is the per-doc
    * summary a decontamination pass thresholds on — "drop docs with a
    * verbatim run ≥ 40 tokens" — without a suffix array, and it still costs
    * ONE pass over the corpus text.
    */
  def maxDupSpan(docs: DataFrame,
      ladder: Seq[Int] = Seq(5, 10, 20, 40, 80)): DataFrame =
    spanDupCountsSweep(docs, ladder)
      .groupBy("doc_id").agg(max("n").as("max_dup_n"))

  /** Generalized longest-duplicate-substring (the suffix-array-CLASS
    * result of Lee et al. 2022 "Deduplicating Training Data Makes
    * Language Models Better", computed Spark-first): for every cross-doc
    * pair sharing verbatim text, the length and positions of their
    * LONGEST common token run — arbitrary length, not [[maxDupSpan]]'s
    * discrete doubling ladder. Instead of a distributed suffix array
    * (sequential construction, global order), anchor every token
    * position with its k-gram PolyHash fingerprint and meet anchors via
    * an equi-join on the fingerprint: two docs sharing a verbatim run of
    * L ≥ k tokens share exactly L−k+1 anchor hits on ONE diagonal
    * (pos_a − pos_b constant), so the longest run is k−1 plus the
    * longest CONSECUTIVE island per (pair, diagonal) — a per-group
    * in-row fold, the d14 sweep-line shape. Exact modulo PolyHash
    * collisions, which the oracle shares by construction (and which
    * cannot fake a run without colliding on every window of a diagonal).
    *
    * Scale shape: anchors ≈ one row per corpus token but carrying only
    * (doc, pos, hash64) — the shuffle never moves span strings; the
    * self-join is KEYED on the fingerprint (never all-pairs) and its
    * per-key hub is BOUNDED by the `maxAnchorFreq` frequency ceiling (see
    * below); the island fold is in-row per (pair, diagonal); the final
    * argmax is a map-side-combined max(struct). Output: (doc_a, doc_b,
    * len_tokens, start_a, start_b), 1-based token positions, longest run
    * per pair with len ≥ minLen; ties → smallest start_a, then smallest
    * start_b.
    *
    * Hub discipline: a fingerprint occurring f times corpus-wide yields
    * O(f²) join rows, so one viral k-gram (a boilerplate footer shared by
    * a million docs) would quadratically explode the self-join. One
    * aggregate over the anchor frame keeps only fingerprints with
    * 2 ≤ frequency ≤ `maxAnchorFreq`: singletons cannot form a pair
    * (dropping them ALSO spares the join most of its shuffle — unique
    * k-grams dominate natural text), and an above-cap k-gram is
    * definitionally boilerplate, not pair-specific duplication. Per-key
    * join output is thereby ≤ maxAnchorFreq², independent of corpus
    * size. SEMANTICS under the cap: a run containing a viral window is
    * reported as its longest cap-clean sub-run (each dropped anchor
    * splits the diagonal island it sat on) — the frequency-capped
    * degradation the Lee et al. pipeline accepts for the same reason;
    * pairs sharing ONLY boilerplate drop out entirely, which is the
    * desired report. The oracle replicates the cap, so the gate pins
    * these semantics, not just the happy path.
    */
  def longestDupSpan(docs: DataFrame, k: Int, minLen: Int,
      maxAnchorFreq: Int = 512): DataFrame = {
    require(k >= 2 && minLen >= k, s"need k >= 2 and minLen >= k")
    require(maxAnchorFreq >= 2,
      s"maxAnchorFreq < 2 would drop every pairable fingerprint")
    val anch = anchorsOf(docs, k).persistTracked()
    val pairable = anch.groupBy("h").agg(count(lit(1)).as("af"))
      .filter(col("af") >= 2 && col("af") <= maxAnchorFreq)
      .select("h")
    val kept = anch.join(pairable, "h")
    val pairs = kept.as("a").join(kept.as("b"), "h")
      .filter(col("a.doc_id") < col("b.doc_id"))
      .select(col("a.doc_id").as("doc_a"), col("b.doc_id").as("doc_b"),
        col("a.pos").as("pa"), col("b.pos").as("pb"))
    longestRunPerPair(pairs, k, minLen)
  }

  /** CROSS-CORPUS DECONTAMINATION (d32) — the eval-set leakage scan every
    * training pipeline runs before a benchmark claim (Lee et al. 2022 §6.2;
    * the GPT-3 appendix-C procedure): for each (corpus doc, eval doc) pair
    * sharing verbatim text, the exact longest common token run — the
    * cross-frame form of [[longestDupSpan]], same anchor-diagonal kernel.
    *
    * Scale shape — better than d31's, because the eval side is BOUNDED
    * (benchmarks are thousands of docs, the corpus is the 100-TB side):
    * corpus anchors first pass a LEFT-SEMI join against the distinct eval
    * fingerprints (broadcastable at real scale), so everything downstream
    * of the first filter is proportional to the CONTAMINATION CANDIDATES,
    * not the corpus; the corpus-side frequency cap then bounds viral
    * boilerplate hubs exactly as in d31 (eval-side anchors are left
    * uncapped — the eval set is bounded, and capping it would let a
    * boilerplate-looking eval answer escape the scan). Output: (doc_id,
    * eval_id, len_tokens, start_doc, start_eval), 1-based, longest run
    * per pair with len ≥ minLen; ties → smallest start_doc, then
    * smallest start_eval.
    */
  def crossDupSpan(corpus: DataFrame, evalDocs: DataFrame, k: Int,
      minLen: Int, maxAnchorFreq: Int = 512): DataFrame = {
    require(k >= 2 && minLen >= k, s"need k >= 2 and minLen >= k")
    val ea = anchorsOf(evalDocs, k).persistTracked()
    val ca = anchorsOf(corpus, k)
      .join(ea.select("h").distinct(), Seq("h"), "left_semi")
      .persistTracked()
    val capped = ca.join(
      ca.groupBy("h").agg(count(lit(1)).as("af"))
        .filter(col("af") <= maxAnchorFreq).select("h"), "h")
    val pairs = capped.as("c").join(ea.as("e"), "h")
      .select(col("c.doc_id").as("doc_a"), col("e.doc_id").as("doc_b"),
        col("c.pos").as("pa"), col("e.pos").as("pb"))
    longestRunPerPair(pairs, k, minLen)
      .withColumnsRenamed(Map("doc_a" -> "doc_id", "doc_b" -> "eval_id",
        "start_a" -> "start_doc", "start_b" -> "start_eval"))
  }

  /** Per-position k-gram PolyHash anchors: (doc_id, pos [1-based], h). */
  private def anchorsOf(docs: DataFrame, k: Int): DataFrame =
    docs.select(col("doc_id"),
        posexplode(graft.functions.PolyShinglesExpr.column(
          lower(col("text")), k)))
      .select(col("doc_id"), (col("pos") + 1).cast("int").as("pos"),
        col("col").as("h"))

  /** The shared d31/d32 diagonal-island kernel over anchor-hit pairs
    * (doc_a, doc_b, pa, pb): longest consecutive island per (pair,
    * diagonal) via one in-row fold over the position-sorted hits
    * (strictly-greater keeps the EARLIEST best start, the per-diagonal
    * tie rule), then the per-pair argmax with the (len, start_a, start_b)
    * tie order.
    */
  private def longestRunPerPair(pairs: DataFrame, k: Int,
      minLen: Int): DataFrame = {
    val runs = pairs.withColumn("diag", col("pa") - col("pb"))
      .groupBy("doc_a", "doc_b", "diag")
      .agg(sort_array(collect_list(col("pa"))).as("ps"))
      .withColumn("r", expr(
        """aggregate(ps,
          |  named_struct('prev', -2, 'cur', 0, 'curs', 0,
          |               'best', 0, 'bests', 0),
          |  (acc, p) -> named_struct(
          |    'prev', p,
          |    'cur',  IF(p = acc.prev + 1, acc.cur + 1, 1),
          |    'curs', IF(p = acc.prev + 1, acc.curs, p),
          |    'best', IF(IF(p = acc.prev + 1, acc.cur + 1, 1) > acc.best,
          |               IF(p = acc.prev + 1, acc.cur + 1, 1), acc.best),
          |    'bests', IF(IF(p = acc.prev + 1, acc.cur + 1, 1) > acc.best,
          |                IF(p = acc.prev + 1, acc.curs, p), acc.bests)))"""
          .stripMargin))
      .select(col("doc_a"), col("doc_b"),
        (col("r.best") + k - 1).as("len"),
        col("r.bests").as("sa"), (col("r.bests") - col("diag")).as("sb"))
    runs.groupBy("doc_a", "doc_b")
      .agg(max(struct(col("len"), (-col("sa")).as("nsa"),
        (-col("sb")).as("nsb"), col("sa"), col("sb"))).as("m"))
      .filter(col("m.len") >= minLen)
      .select(col("doc_a"), col("doc_b"),
        col("m.len").cast("long").as("len_tokens"),
        col("m.sa").cast("long").as("start_a"),
        col("m.sb").cast("long").as("start_b"))
  }

  /** Data-driven minRun for [[cutLongSpans]]: the smallest [[maxDupSpan]]
    * ladder width whose affected-doc share is at most 1/fracDen of the
    * corpus (none qualifying → the widest rung). Rationale: verbatim
    * boilerplate is RARE by definition — if a threshold flags more than
    * ~5% of documents, it is eating common idioms, not boilerplate — so
    * the survey walks down the ladder until the affected share looks like
    * boilerplate. The survey rollup is ≤ #ladder rows; collecting it is a
    * model-sized driver decision (the kmeans-collect class), and the rule
    * is pure integer arithmetic — reproducible in any engine.
    */
  def autoMinRun(docs: DataFrame, ladder: Seq[Int], fracDen: Long): Int = {
    val nDocs = docs.count()
    val byMax = maxDupSpan(docs, ladder).groupBy("max_dup_n")
      .agg(count(lit(1)).as("c")).collect()
      .map(r => r.getInt(0) -> r.getLong(1)).toMap
    val sortedLadder = ladder.sorted
    sortedLadder.find(w =>
        sortedLadder.filter(_ >= w).map(byMax.getOrElse(_, 0L)).sum
          <= nDocs / fracDen)
      .getOrElse(sortedLadder.last)
  }

  /** [[cutLongSpans]] at the [[autoMinRun]]-chosen operating point — the
    * self-tuning form of the Lee et al. removal: one extra survey pass
    * (the d15 ladder) picks minRun from the corpus's own verbatim-run
    * mass instead of a hand-set constant; the removal itself is exactly
    * the c4 kernel. Output adds the constant `min_run` column so the
    * choice is part of the gated result.
    */
  def cutSpansAuto(docs: DataFrame, n: Int, ladder: Seq[Int],
      fracDen: Long): DataFrame = {
    require(ladder.nonEmpty && ladder.min >= n,
      s"ladder rungs must be >= n=$n (runs shorter than a window are invisible)")
    val chosen = autoMinRun(docs, ladder, fracDen)
    cutLongSpans(docs, n, chosen).withColumn("min_run", lit(chosen))
  }

  /** Exact-substring span REMOVAL — the end state of the Lee et al. 2022
    * deduplicate-text-datasets pipeline, not just its signal: emit a cleaned
    * corpus where every duplicated n-token span is cut from all-but-one
    * occurrence (the canonical first (doc_id, pos) occurrence keeps its
    * text; every other occurrence's n-token window is removed, overlapping
    * windows merging into one cut run — so a shared 30-token run disappears
    * wholesale from the non-canonical docs).
    *
    * Scale shape: one posexplode pass over the corpus text (hash-first —
    * the shuffles carry (long, int) pairs, never span strings), one
    * partial-aggregated groupBy to find shared hashes + their canonical
    * occurrence, one keyed join back, and a per-doc collect_set of cut
    * starts bounded by the doc's own token count. The token-level interval
    * union is one codegen'd `graft_cut_spans` call per row (a HOF spelling
    * would be an interpreted per-token × per-cut lambda — the t9 failure
    * mode), zero additional shuffle. At 100 TB nothing corpus-sized is
    * broadcast and the text is traversed exactly twice (shingle pass +
    * rewrite pass).
    */
  def cutSpans(docs: DataFrame, n: Int): DataFrame =
    docsWithCutStarts(docs, n)
      .withColumn("z",
        graft.functions.CutSpansExpr.column(col("t"), col("cuts_arr"), n))
      .select(col("doc_id"),
        col("z.n_tokens").as("n_tokens"),
        col("z.n_kept").as("n_kept"),
        size(col("cuts_arr")).as("n_cuts"),
        col("z.cleaned").as("cleaned_text"))

  /** DECONTAMINATION REMOVAL (c9) — the action [[crossDupSpan]]'s scan
    * implies: emit the corpus with every n-token window that ALSO occurs
    * verbatim in the eval set cut out (overlapping windows merge into one
    * run, the [[cutSpans]] kernel). Unlike cutSpans there is no canonical
    * keeper — the eval set retains its text by definition, so EVERY
    * matching corpus occurrence is cut.
    *
    * Scale shape: one shingle pass over the corpus, one keyed join of the
    * corpus (doc, pos, hash) rows against the DISTINCT eval fingerprints
    * (bounded by the benchmark size — broadcastable at real scale), a
    * per-doc collect_set of cut starts bounded by the doc's own length,
    * and the codegen'd `graft_cut_spans` interval union per row. Nothing
    * corpus-sized shuffles twice and the text is traversed exactly twice
    * (shingle pass + rewrite pass), the c2 discipline.
    */
  def cutEvalSpans(corpus: DataFrame, evalDocs: DataFrame, n: Int): DataFrame =
    cutEvalSpansAgainst(corpus, evalFingerprints(evalDocs, n), n)

  /** The STATIC side of eval-set decontamination: the distinct n-token
    * window fingerprints of the eval docs — bounded by the benchmark
    * size, so it persists/broadcasts once and every corpus batch (or
    * stream micro-batch — e19) joins against the same frame instead of
    * re-shingling the eval set per batch.
    */
  def evalFingerprints(evalDocs: DataFrame, n: Int): DataFrame =
    evalDocs.select(explode(graft.functions.PolyShinglesExpr.column(
        lower(col("text")), n)).as("h"))
      .distinct()

  /** d34: EVAL-SIDE DIRTINESS REPORT (the GPT-3 appendix-C dirty/clean
    * split metric, Brown et al. 2020): per EVAL document, how many of its
    * k-gram windows occur anywhere in the training corpus, the integer
    * coverage fraction, and the dirty flag. d32 answers the TRAINING-side
    * question (which corpus docs carry eval text — for removal); this
    * answers the eval-side one (which benchmark items are compromised —
    * for reporting results on the clean split).
    *
    * Scale shape: the corpus shingle stream is LEFT-SEMI-pruned by the
    * bounded eval fingerprint set (broadcast — benchmarks are small by
    * construction) BEFORE the distinct, so everything downstream is
    * bounded by eval fingerprint mass, never corpus mass — d32's
    * discipline. One corpus pass, one bounded keyed join, one
    * eval-bounded rollup.
    */
  def evalDirtiness(evalDocs: DataFrame, corpus: DataFrame,
      k: Int): DataFrame = {
    val evOcc = evalDocs.select(col("doc_id").as("eval_id"),
        posexplode(graft.functions.PolyShinglesExpr.column(
          lower(col("text")), k)).as(Seq("pos", "h")))
      .persistTracked()
    val trHits = corpus.select(explode(graft.functions.PolyShinglesExpr
        .column(lower(col("text")), k)).as("h"))
      .join(broadcast(evOcc.select("h").distinct()), Seq("h"), "left_semi")
      .distinct()
    val dirty = evOcc.join(trHits, Seq("h"), "left_semi")
      .groupBy("eval_id").agg(count(lit(1)).as("n_dirty"))
    evalDocs.select(col("doc_id").as("eval_id"),
        size(graft.functions.PolyShinglesExpr.column(lower(col("text")), k))
          .cast("long").as("n_windows"))
      .join(dirty, Seq("eval_id"), "left")
      .na.fill(0L, Seq("n_dirty"))
      .select(col("eval_id"), col("n_windows"), col("n_dirty"),
        when(col("n_windows") > 0,
          expr("n_dirty * 1000000 div n_windows")).otherwise(lit(0L))
          .as("dirtiness_e6"),
        (col("n_dirty") > 0).as("is_dirty"))
  }

  /** [[cutEvalSpans]] against an ALREADY-EXTRACTED fingerprint set — the
    * per-batch kernel of streaming decontamination (e19): one shingle
    * pass over the batch, the keyed join against the standing
    * fingerprints, the codegen'd interval-union rewrite.
    */
  def cutEvalSpansAgainst(corpus: DataFrame, evalHashes: DataFrame,
      n: Int): DataFrame = {
    val occ = corpus.select(col("doc_id"),
      posexplode(graft.functions.PolyShinglesExpr.column(
        lower(col("text")), n)).as(Seq("pos", "h")))
    val eh = evalHashes
    val cuts = occ.join(eh, "h")
      .groupBy("doc_id").agg(collect_set(col("pos")).as("cut_starts"))
    corpus.select(col("doc_id"), lower(col("text")).as("t"))
      .join(cuts, Seq("doc_id"), "left")
      .withColumn("cuts_arr",
        coalesce(col("cut_starts"), expr("CAST(array() AS ARRAY<INT>)")))
      .withColumn("z",
        graft.functions.CutSpansExpr.column(col("t"), col("cuts_arr"), n))
      .select(col("doc_id"),
        col("z.n_tokens").as("n_tokens"),
        col("z.n_kept").as("n_kept"),
        size(col("cuts_arr")).as("n_cuts"),
        col("z.cleaned").as("cleaned_text"))
  }

  /** ANY-LENGTH exact-substring removal — [[cutSpans]] generalized from the
    * fixed n-token operating point to "remove every duplicated run of
    * >= minRun tokens" (the Lee et al. 2022 production threshold, 50 tokens
    * there, without a suffix array): the same shared-n-window cut starts,
    * but the kernel first merges overlapping windows into maximal runs and
    * cuts ONLY runs spanning >= minRun tokens — short incidental repeats
    * (a common phrase, a shared idiom) survive, long verbatim boilerplate
    * is removed wholesale.
    *
    * Why this equals any-length removal: a run of R >= minRun tokens
    * duplicated elsewhere makes every one of its R-n+1 n-token windows a
    * shared span, and their merged extent is exactly R — so the run is
    * detected and cut IN FULL, for any R, from one fixed-n shingle pass
    * (the d15 doubling ladder is the survey instrument that picks minRun:
    * its per-doc max_dup_n bounds tell you where the corpus's verbatim-run
    * mass sits). Chains that stitch overlapping matches against DIFFERENT
    * partners also merge — strictly more conservative cleaning, the same
    * behavior as the suffix-array tool's overlapping-range union. Cost is
    * identical to [[cutSpans]]: two corpus passes, long-only shuffles,
    * per-row codegen'd rewrite.
    */
  def cutLongSpans(docs: DataFrame, n: Int, minRun: Int): DataFrame =
    docsWithCutStarts(docs, n)
      .withColumn("z",
        graft.functions.CutSpansExpr.column(col("t"), col("cuts_arr"), n, minRun))
      .select(col("doc_id"),
        col("z.n_tokens").as("n_tokens"),
        col("z.n_kept").as("n_kept"),
        col("z.n_cut_runs").as("n_cuts"),
        col("z.cleaned").as("cleaned_text"))

  /** Shared front half of [[cutSpans]]/[[cutLongSpans]]: every doc with its
    * lowercased text and the sorted-set of cut-window start positions
    * (non-canonical occurrences of shared n-token spans).
    */
  private def docsWithCutStarts(docs: DataFrame, n: Int): DataFrame = {
    // Persisted because both the shared-span agg and the cut join consume
    // it; like kmeans's `v`, it relies on the sweep harnesses (Bench/
    // Verify) calling clearCache between queries for cleanup.
    val occ = docs.select(col("doc_id"),
        posexplode(graft.functions.PolyShinglesExpr.column(
          lower(col("text")), n)).as(Seq("pos", "h")))
      .persistTracked()
    // Shared spans (>= 2 occurrences, within- OR cross-doc) and their
    // canonical keeper occurrence — min (doc_id, pos), matching d17's
    // example-occurrence choice.
    val shared = occ.groupBy("h")
      .agg(count(lit(1)).as("n_occ"),
        min(struct(col("doc_id"), col("pos"))).as("first"))
      .filter(col("n_occ") >= 2)
    // Every non-canonical occurrence of a shared span starts a cut window.
    val cuts = occ.join(shared.select("h", "first"), "h")
      .filter(!(col("doc_id") === col("first.doc_id") &&
        col("pos") === col("first.pos")))
      .groupBy("doc_id").agg(collect_set(col("pos")).as("cut_starts"))
    docs.select(col("doc_id"), lower(col("text")).as("t"))
      .join(cuts, Seq("doc_id"), "left")
      .withColumn("cuts_arr",
        coalesce(col("cut_starts"), expr("CAST(array() AS ARRAY<INT>)")))
  }

  /** Edit-distance verification of LSH candidate pairs: the exact-verify
    * stage of the dedup funnel (LSH recalls candidates cheaply; Levenshtein
    * on the whitespace-normalized text confirms them). Quadratic-per-pair
    * cost is paid ONLY on the candidate set — at 100 TB the funnel shape
    * (bucketed recall → per-pair verify) is what makes an O(n²·len²)
    * metric usable at all. Output keeps pairs with relative distance
    * (lev / max len) ≤ maxRel.
    */
  def editDistanceVerify(docs: DataFrame, maxRel: Double): DataFrame = {
    // No persist on the signature frame: unlike minhashLsh (which reuses it
    // on three sides), this pipeline consumes it exactly once — caching it
    // would be pure cache pressure in a 120-query sweep.
    val sig = minhashSignatures(shingleHashes(docs))
    val cands = candidatePairs(lshBuckets(sig))
    val norm = docs.select(col("doc_id"),
      TextOps.normalized(col("text")).as("t")) // same contract as fingerprint
    cands
      .join(norm.select(col("doc_id").as("doc_a"), col("t").as("ta")), "doc_a")
      .join(norm.select(col("doc_id").as("doc_b"), col("t").as("tb")), "doc_b")
      .withColumn("lev", levenshtein(col("ta"), col("tb")).cast("long"))
      .withColumn("rel", round(col("lev").cast("double") /
        greatest(length(col("ta")), length(col("tb"))), 6))
      .filter(col("rel") <= maxRel)
      .select("doc_a", "doc_b", "lev", "rel")
  }

  /** Top shared verbatim spans WITH their text — the "show me the
    * boilerplate" tool on top of [[spanDupCounts]]'s counts: the `topK`
    * n-gram spans appearing in the most distinct docs, each carrying one
    * example occurrence's verbatim text. Hash-first end-to-end: positions
    * ride the same posexplode as the hashes, the heavy groupBys carry
    * (hash, doc, pos) longs only, and the span STRINGS are materialized
    * only for the topK winners — a broadcast join back to the ≤topK
    * example docs, then a slice/concat readout. At 100 TB the corpus text
    * is traversed once and re-read only for the handful of winners.
    */
  def topSharedSpans(docs: DataFrame, n: Int, topK: Int): DataFrame = {
    val sh = docs.select(col("doc_id"),
      posexplode(graft.functions.PolyShinglesExpr.column(
        lower(col("text")), n)).as(Seq("pos", "h")))
    val perDoc = sh.groupBy("h", "doc_id")
      .agg(count(lit(1)).as("n_occ"), min("pos").as("min_pos"))
    val top = perDoc.groupBy("h")
      .agg(count(lit(1)).as("n_docs"),
        sum("n_occ").as("n_occurrences"),
        min(struct(col("doc_id"), col("min_pos"))).as("first"))
      .filter(col("n_docs") >= 2)
      .orderBy(desc("n_docs"), col("h"))
      .limit(topK)
      .select(col("h"), col("n_docs"), col("n_occurrences"),
        col("first.doc_id").as("doc_id"), col("first.min_pos").as("pos"))
    docs.join(broadcast(top), "doc_id")
      .select(col("h"), col("n_docs"), col("n_occurrences"), col("doc_id"),
        concat_ws(" ", slice(split(lower(col("text")), "\\s+"),
          col("pos") + 1, lit(n))).as("span_text"))
  }

  /** Benchmark-contamination scan: train docs sharing at least `minShared`
    * distinct shingles with the evaluation set. The eval side of an LLM
    * pipeline is tiny against the corpus (benchmarks vs 100 TB), so its
    * distinct shingle-hash set is BROADCAST — the corpus-side scan stays a
    * narrow shingle+probe with one partial-aggregated groupBy, no
    * corpus-wide shuffle of shingles.
    */
  def contamination(train: DataFrame, eval: DataFrame,
      minShared: Long): DataFrame = {
    val evalSh = shingleHashes(eval).select("h").distinct()
    shingleHashes(train) // distinct (doc_id, h), so count = distinct shared
      .join(broadcast(evalSh), "h")
      .groupBy("doc_id").agg(count(lit(1)).as("n_shared"))
      .filter(col("n_shared") >= minShared)
  }

  val SimhashBits = 32

  /** 32-bit SimHash over (multiplicity-weighted) word hashes. */
  def simhash(docs: DataFrame): DataFrame = {
    val words = docs.select(col("doc_id"),
      explode(TextOps.tokens(col("text"))).as("w"))
      .select(col("doc_id"), Hashing.polyHash(col("w")).as("h"))
    val bitExprs = (0 until SimhashBits).map(i =>
      sum(when(shiftright(col("h"), i) % 2 === 1, 1).otherwise(-1)).as(s"b$i"))
    val bitSums = words.groupBy("doc_id").agg(bitExprs.head, bitExprs.tail: _*)
    bitSums.select(col("doc_id"),
      (0 until SimhashBits).map(i =>
        when(col(s"b$i") > 0, lit(1L << i)).otherwise(lit(0L)))
        .reduce(_ + _).as("simhash"))
  }

  /** Near-dup pairs by SimHash: block on the top-16-bit prefix, verify with
    * hamming ≤ maxHamming via bit_count(xor). Blocking keeps the join keyed.
    * Radius 0 blocks on the FULL hash — identical-simhash pairs agree on
    * every bit, so equality blocking is exact there and skips the wide
    * prefix groups a 16-bit key produces on template-heavy corpora.
    */
  def simhashPairs(sh: DataFrame, maxHamming: Int): DataFrame = {
    val block: Column => Column =
      if (maxHamming == 0) identity else shiftright(_, 16)
    val a = sh.select(block(col("simhash")).as("pfx"),
      col("doc_id").as("doc_a"), col("simhash").as("sh_a"))
    val b = sh.select(block(col("simhash")).as("pfx"),
      col("doc_id").as("doc_b"), col("simhash").as("sh_b"))
    a.join(b, "pfx").filter(col("doc_a") < col("doc_b"))
      .withColumn("hamming", bit_count(col("sh_a").bitwiseXOR(col("sh_b"))))
      .filter(col("hamming") <= maxHamming)
      .select("doc_a", "doc_b", "hamming")
  }

  /** Exact n-gram Jaccard for LSH candidate pairs (the verify stage of
    * near-dup dedup): |A∩B| via a shingle-hash join, never a cross product.
    * The hash frame is persisted — it feeds the signature pipeline, both
    * intersection sides, and the per-doc counts.
    */
  def ngramJaccard(docs: DataFrame, minBands: Int = 2): DataFrame =
    verifiedOverlap(docs, minBands)
      .select(col("doc_a"), col("doc_b"),
        round(col("n_inter").cast("double") /
          (col("n_a") + col("n_b") - col("n_inter")), 6).as("jaccard"))

  /** d35: CONTAINMENT scoring — the asymmetric complement of d5's
    * Jaccard (Broder 1997's containment c(A,B) = |A∩B|/|A|): a short
    * excerpt quoted inside a long document scores near-zero Jaccard (the
    * union is dominated by the long side) but containment ≈ 1 on the
    * short side — the quote/boilerplate/excerpt duplication symmetric
    * measures cannot see. Candidates deliberately do NOT come from the
    * MinHash-LSH generator (whose collision probability tracks Jaccard —
    * it would miss exactly the low-J/high-c pairs this operator exists
    * for): any pair sharing ONE verbatim `winN`-token window is a
    * candidate, with window hashes above `maxWindowFreq` docs dropped
    * (the d31 hub discipline — viral boilerplate would otherwise build a
    * quadratic bucket). Emits both containment directions, the Jaccard
    * for reference, and the [[relations]] classification.
    *
    * Every containment operator composes the same seams: [[windowOcc]] →
    * [[cappedWindowOcc]] → [[windowPairs]] (or the ingest probe,
    * [[arrivalPairs]]) → [[scored]] → [[relations]] or [[dropRows]] →
    * [[dropRollup]]. Scale shape: one distinct-window pass, a
    * frequency-capped keyed self-join on the window hash (pairs bounded
    * by cap² per window), then d5's verify tail on the candidate slice
    * only.
    */
  def ngramContainment(docs: DataFrame, winN: Int = 10,
      maxWindowFreq: Int = 64): DataFrame =
    relations(scored(docs,
      windowPairs(cappedWindowOcc(windowOcc(docs, winN), maxWindowFreq))))

  /** The per-row distinct `winN`-token window-hash array — the pure
    * function of the text both d35's batch candidate pass and e21's
    * streaming probe explode (per-row, stateless: the streaming side
    * needs no aggregation to compute it).
    */
  def windowHashesPerRow(textCol: Column, winN: Int): Column =
    array_distinct(graft.functions.PolyShinglesExpr.column(
      lower(textCol), winN))

  /** Distinct (doc_id, h) window-hash occurrences WITHOUT a corpus-wide
    * shuffle: the per-row array_distinct (windowHashesPerRow) already
    * dedups h within each doc, and doc_id differs across rows, so the
    * exploded pairs are globally distinct by construction (guide §2.4: a
    * distinct on data that is already unique is an accidental exchange).
    */
  def windowOcc(docs: DataFrame, winN: Int): DataFrame =
    docs.select(col("doc_id"),
      explode(windowHashesPerRow(col("text"), winN)).as("h"))

  /** [[windowOcc]] restricted to hashes at or under the frequency cap —
    * the capped occurrence frame every containment candidate pass self-
    * or probe-joins, and the frame the ingest queries store (the cap
    * bounds a window's pair fan-out at cap²). The cap reads `occ` twice,
    * in its frequency aggregate and in the join, so `occ` is persisted
    * here; the capped frame is the caller's to persist when it has
    * several consumers (c13's survey and ingest probe).
    */
  def cappedWindowOcc(occ: DataFrame, maxWindowFreq: Int): DataFrame = {
    val o = graft.engine.Caches.persisted(occ)
    o.join(
      o.groupBy("h").agg(count(lit(1)).as("wf"))
        .filter(col("wf") <= maxWindowFreq).select("h"), "h")
  }

  /** The batch candidate pass: every (doc_a < doc_b) pair of documents
    * sharing one capped window — a keyed self-join on the window hash.
    */
  def windowPairs(capped: DataFrame): DataFrame =
    capped.as("a").join(capped.as("b"), "h")
      .filter(col("a.doc_id") < col("b.doc_id"))
      .select(col("a.doc_id").as("doc_a"), col("b.doc_id").as("doc_b"))
      .distinct()

  /** The ingest candidate pass: arrivals' `winN`-token windows probe a
    * capped standing store of (h, doc_b) rows, giving every distinct
    * (arrival, standing) pair that shares a window. The pair is oriented
    * by role, not by id: doc_a is always the arriving side, the side
    * [[arrivalContainmentDrops]] may drop.
    */
  def arrivalPairs(arrivals: DataFrame, store: DataFrame,
      winN: Int): DataFrame =
    arrivals.select(col("doc_id").as("doc_a"),
        explode(windowHashesPerRow(col("text"), winN)).as("h"))
      .join(store, Seq("h"))
      .select("doc_a", "doc_b").distinct()

  /** d5's verify tail over a (doc_a, doc_b) candidate set: both rounded
    * containment directions, the Jaccard, and the exact shingle-set sizes
    * (the drop side's tie-break key). Every threshold downstream compares
    * these 6-dp ROUNDED values, so a decision is bit-stable cross-engine.
    */
  def scored(docs: DataFrame, cand: DataFrame): DataFrame =
    verifiedOverlapOf(docs, cand)
      .select(col("doc_a"), col("doc_b"),
        round(col("n_inter").cast("double") / col("n_a"), 6).as("cont_a"),
        round(col("n_inter").cast("double") / col("n_b"), 6).as("cont_b"),
        round(col("n_inter").cast("double") /
          (col("n_a") + col("n_b") - col("n_inter")), 6).as("jaccard"),
        col("n_a"), col("n_b"))

  /** The near-dup band: these pairs belong to the dedup chain (c1), never
    * to a containment drop. */
  private def nearDup: Column = col("jaccard") >= 0.8

  /** A 6-dp rounded score as its lossless e6 integer. */
  private def e6(score: Column): Column = round(score * 1e6, 0).cast("long")

  /** d35's classification of [[scored]] pairs: `near_dup` (high Jaccard),
    * `containment` (one side mostly inside the other), `overlap`.
    */
  def relations(pairs: DataFrame): DataFrame =
    pairs.select(col("doc_a"), col("doc_b"), col("cont_a"), col("cont_b"),
      col("jaccard"),
      when(nearDup, "near_dup")
        .when(greatest(col("cont_a"), col("cont_b")) >= 0.8, "containment")
        .otherwise("overlap").as("relation"))

  /** c10's drop side of every non-near-dup [[scored]] pair: the CONTAINED
    * side is dropped — the side with the higher containment, which is by
    * construction the shorter document (cont = n_inter / n_own; same
    * n_inter, smaller set ⇒ larger cont); exact containment ties break to
    * the smaller shingle set, then to the LARGER doc_id (the survivor is
    * the smaller id, c8's keeper convention). One row per pair:
    * (doc_id, container, cont_e6), the pair's max containment in exact e6
    * integers. Lazy; a caller reading it twice materializes it (c11).
    */
  def dropRows(pairs: DataFrame): DataFrame = {
    val dropA = when(col("cont_a") =!= col("cont_b"), col("cont_a") > col("cont_b"))
      .when(col("n_a") =!= col("n_b"), col("n_a") < col("n_b"))
      .otherwise(col("doc_a") > col("doc_b"))
    pairs.filter(!nearDup)
      .select(when(dropA, col("doc_a")).otherwise(col("doc_b")).as("doc_id"),
        when(dropA, col("doc_b")).otherwise(col("doc_a")).as("container"),
        e6(greatest(col("cont_a"), col("cont_b"))).as("cont_e6"))
  }

  /** One report row per dropped doc with c8's provenance contract: the
    * deterministic keeper witness (min container id), how many containers
    * matched, and the strongest containment in exact e6 integer space. A
    * container that is itself contained elsewhere still appears as a
    * keeper witness — drops are pairwise facts; the transitive sweep is
    * the caller's policy (exactly like c8, where a keeper may itself fail
    * the quality rule).
    */
  def dropRollup(rows: DataFrame): DataFrame =
    rows.groupBy("doc_id")
      .agg(min("container").as("keeper_id"),
        count(lit(1)).as("n_containers"),
        max("cont_e6").as("max_cont_e6"))

  /** c10: CONTAINMENT REMOVAL — the action d35's scan implies (the
    * c-family discipline: every scan gets its removal — d32→c9, c1→c8):
    * [[dropRows]] of d35's candidates at rounded containment ≥
    * `minContE6`, rolled up per dropped doc. Scale shape: d35's
    * candidates (frequency-capped keyed self-join, cap² bound per window)
    * + one keyed rollup over the drop slice — no new corpus-wide work.
    */
  def containmentDrops(docs: DataFrame, winN: Int = 10,
      maxWindowFreq: Int = 64, minContE6: Long = 800000L): DataFrame =
    dropRollup(dropRows(scored(docs,
        windowPairs(cappedWindowOcc(windowOcc(docs, winN), maxWindowFreq))))
      .filter(col("cont_e6") >= minContE6))

  /** e22's drop policy: [[containmentDrops]] with the dropped side PINNED
    * to `doc_a` (the ARRIVING document of an [[arrivalPairs]] pair). An
    * arrival is quarantined iff it is mostly inside some standing doc
    * (rounded cont_a ≥ `minContE6` in e6 integers) without being a
    * near-dup (that band belongs to the dedup chain); an arrival that
    * CONTAINS a standing doc is NOT dropped (new longer versions of
    * standing content must land). The threshold is an e6 integer because
    * a corpus-DERIVED operating point arrives in that form (c13 applies
    * c11's surveyed rung unchanged), and comparing the 6-dp containment
    * as its lossless integer keeps the cut bit-reproducible in any
    * engine. Same provenance contract as c10 ([[dropRollup]]).
    */
  def arrivalContainmentDrops(all: DataFrame, cand: DataFrame,
      minContE6: Long = 800000L): DataFrame =
    dropRollup(scored(all, cand).filter(!nearDup)
      .select(col("doc_a").as("doc_id"), col("doc_b").as("container"),
        e6(col("cont_a")).as("cont_e6"))
      .filter(col("cont_e6") >= minContE6))

  /** c11: [[containmentDrops]] at a CORPUS-DERIVED operating point — the
    * c5 chosen-rung discipline applied to the containment threshold:
    * instead of a hand-set minContE6, a ladder of e6-integer rungs surveys
    * the corpus's own containment mass (per would-be-dropped doc, its max
    * pairwise containment over d35's scored chain) and the SMALLEST rung
    * whose drop count is at most 1/fracDen of the corpus becomes the
    * threshold (none qualifying → the widest rung). Rationale mirrors
    * autoMinRun: excerpt/boilerplate duplication is rare by definition —
    * a rung that would drop more than ~5% of documents is classifying
    * ordinary topical overlap as containment, not quoting. The chosen
    * rung rides along as `min_cont_e6`, so the gate hashes the CHOICE as
    * well as the drops. All comparisons run in exact e6 integer space
    * (each 6-dp containment recovers its integer form losslessly) — the
    * survey and the cut are bit-reproducible in any engine.
    *
    * Scale shape: the drop rows are computed ONCE and feed both the
    * survey and the cut; the survey rollup is ≤ |ladder| rows, a
    * model-sized driver decision (the kmeans-collect class).
    */
  def containmentDropsAuto(docs: DataFrame, winN: Int = 10,
      maxWindowFreq: Int = 64, ladder: Seq[Long] = ContainmentLadder,
      fracDen: Long = 20L): DataFrame = {
    // Materialized (eager localCheckpoint): the frame is tiny (one row per
    // drop-candidate pair) and feeds two separate actions — the survey
    // collect and the cut — and a lazy persist would leave the whole
    // scored chain (with its nested candidate/verify caches) under the
    // second action's lineage, re-deriving it.
    val rows = dropRows(scored(docs,
        windowPairs(cappedWindowOcc(windowOcc(docs, winN), maxWindowFreq))))
      .localCheckpoint()
    val chosen = surveyContainmentRung(rows, docs.count(), ladder, fracDen)
    dropRollup(rows.filter(col("cont_e6") >= chosen))
      .withColumn("min_cont_e6", lit(chosen))
  }

  /** The default e6-integer threshold ladder of the c11 survey. */
  val ContainmentLadder: Seq[Long] =
    Seq(600000L, 700000L, 800000L, 900000L)

  /** The c11 rung survey, exposed so the BATCH-derived operating point can
    * be applied to OTHER passes (the c13 unification: one rung chosen from
    * the corpus's containment mass governs the batch cut, the c12 curation
    * stage, and the ingest decide alike): per rung, how many docs the cut
    * would drop; the smallest rung dropping at most `nDocs/fracDen` wins
    * (none qualifying → the widest). The rollup is ≤ |ladder| rows — a
    * model-sized driver decision (the kmeans-collect class).
    */
  def surveyContainmentRung(dropRows: DataFrame, nDocs: Long,
      ladder: Seq[Long] = ContainmentLadder, fracDen: Long = 20L): Long = {
    require(ladder.nonEmpty, "the containment survey needs a threshold ladder")
    val sortedLadder = ladder.sorted
    val byRung = dropRows.groupBy("doc_id").agg(max("cont_e6").as("mx"))
      .select(explode(array(sortedLadder.map(lit): _*)).as("r"), col("mx"))
      .filter(col("mx") >= col("r"))
      .groupBy("r").agg(count(lit(1)).as("c"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    sortedLadder.find(r => byRung.getOrElse(r, 0L) <= nDocs / fracDen)
      .getOrElse(sortedLadder.last)
  }

  /** Shared verify core of d5/d35: exact shingle-set overlap counted per
    * candidate pair, both set sizes attached. Returns (doc_a, doc_b,
    * n_inter, n_a, n_b).
    */
  private def verifiedOverlap(docs: DataFrame, minBands: Int): DataFrame = {
    // Standard two-stage dedup prunes before the (shingle-level) verify
    // join: only candidates colliding in >= minBands bands are worth exact
    // verification — single-band collisions are overwhelmingly false
    // positives at the 4x4 banding operating point.
    val cand = candidatePairs(lshBuckets(minhashSignatures(shingleHashes(docs))))
      .filter(col("n_bands") >= minBands).select("doc_a", "doc_b")
    verifiedOverlapOf(docs, cand)
  }

  private def verifiedOverlapOf(docs: DataFrame, cand0: DataFrame): DataFrame = {
    val cand = cand0.persistTracked()
    // Verify only against the shingles of docs that survived candidate
    // generation (a semi-join): persisting the FULL corpus shingle frame
    // costs more than one recompute at bench scale, and at 100 TB caching
    // the corpus' shingles is not an option at all — re-deriving the tiny
    // candidate slice is the scalable shape. Candidate volume is ~LSH
    // collision rate × corpus, orders of magnitude under the corpus itself.
    val candDocs = cand.select(col("doc_a").as("doc_id"))
      .union(cand.select(col("doc_b").as("doc_id"))).distinct()
    // Semi-join BEFORE shingling: only candidate docs' text is re-parsed,
    // so the second pass is proportional to the candidate slice, not the
    // corpus.
    val sh = shingleHashes(docs.join(candDocs, Seq("doc_id"), "left_semi"))
      .persistTracked()
    val counts = sh.groupBy("doc_id").agg(count(lit(1)).as("n_sh"))
    val inter = cand
      .join(sh.select(col("doc_id").as("doc_a"), col("h")), "doc_a")
      .join(sh.select(col("doc_id").as("doc_b"), col("h")), Seq("doc_b", "h"))
      .groupBy("doc_a", "doc_b").agg(count(lit(1)).as("n_inter"))
    inter
      .join(counts.select(col("doc_id").as("doc_a"), col("n_sh").as("n_a")), "doc_a")
      .join(counts.select(col("doc_id").as("doc_b"), col("n_sh").as("n_b")), "doc_b")
  }

  /** o18: NEAR-DUP-SAFE SPLIT — train/test assignment where every
    * near-duplicate CLUSTER lands entirely in one split, closing the
    * leakage channel o11's group split (same source → same split) does
    * not: near-identical documents from DIFFERENT sources still leak a
    * test answer into train if split independently (the published
    * dedup-before-split concern, e.g. Lee et al. 2022 §6 train/test
    * overlap). Every doc gets its connected-component id ([[dupClusters]]
    * min-label; singletons are their own cluster), and the split is a
    * deterministic LCG bucket of the CLUSTER id — one hash decides for
    * all members.
    *
    * Scale shape: the CC chain's per-round keyed shuffles (never
    * all-pairs, no driver adjacency) + one left join of the corpus
    * against the cluster map (clustered docs only — at web scale a few
    * percent of the corpus) + a narrow map for the bucket. Same LCG
    * stream as every split op — layout- and retry-invariant.
    */
  def clusterSafeSplit(docs: DataFrame, seed: Long, nBuckets: Int,
      trainBuckets: Int, minBands: Int = 2): DataFrame = {
    // Cluster on VERIFIED candidates only (>= minBands agreeing bands —
    // the d5 pruning convention): single-band collisions are
    // overwhelmingly false positives, and connected components chain
    // false edges transitively — an unverified edge set could merge a
    // large corpus fraction into one cluster, and the single
    // cluster-level coin would then send that whole fraction to one
    // split (an intended 80/20 becomes arbitrary).
    val cl = connectedComponents(
      candidatePairs(lshBuckets(minhashSignatures(shingleHashes(docs))))
        .filter(col("n_bands") >= minBands).select("doc_a", "doc_b"))
    docs.select(col("doc_id"))
      .join(cl, Seq("doc_id"), "left")
      .withColumn("cluster_id", coalesce(col("keep_id"), col("doc_id")))
      .withColumn("split",
        when(graft.functions.Hashing.lcg(col("cluster_id"), seed,
          nBuckets) < trainBuckets, "train").otherwise("test"))
      .select(col("doc_id"), col("cluster_id"), col("split"))
  }

  /** d24: CROSS-SOURCE OVERLAP MATRIX — the corpus-observability readout
    * over the verified near-dup pairs: for every (source, source) pair
    * (unordered, lexicographic), how many verified duplicate pairs link
    * them, how similar they are on average, and a deterministic witness
    * pair. This is the "which crawl snapshots / vendors duplicate each
    * other" report that decides what a pipeline ingests at all — dedup
    * tells you WHAT to drop; this tells you WHERE the duplication comes
    * from.
    *
    * Scale shape: rides [[ngramJaccard]]'s banded-LSH + semi-joined
    * verify chain (never all-pairs), then two keyed joins tag the pair
    * endpoints with their sources (shuffle carries (doc_id, source)
    * only) and one groupBy of the tagged pairs builds the matrix —
    * output is |sources|², independent of corpus size. The witness
    * columns are independent min aggregates over the SIDE-ALIGNED doc
    * ids (min_doc_a always belongs to src_a — not necessarily the same
    * pair as min_doc_b, but each deterministic and source-correct);
    * avg_jaccard is accumulated in EXACT e6 integer space (each 6-dp
    * jaccard recovers its integer form losslessly, the sum is an
    * associative long, and one round-half-up integer division produces
    * the mean) — the t15 reassociation discipline: no double sum whose
    * value could depend on partitioning/merge order at scale.
    */
  def sourceOverlap(docs: DataFrame, srcCol: String, minJaccard: Double,
      minBands: Int = 2): DataFrame = {
    val pairs = ngramJaccard(docs, minBands)
      .filter(col("jaccard") >= minJaccard)
    val srcs = docs.select(col("doc_id"), col(srcCol))
    pairs
      .join(srcs.select(col("doc_id").as("doc_a"), col(srcCol).as("sa")),
        "doc_a")
      .join(srcs.select(col("doc_id").as("doc_b"), col(srcCol).as("sb")),
        "doc_b")
      .select(least(col("sa"), col("sb")).as("src_a"),
        greatest(col("sa"), col("sb")).as("src_b"),
        // witness docs SWAP WITH their sources: when the pair normalizes
        // to (sb, sa), doc_b is the src_a-side doc — without the swap a
        // consumer dereferencing min_doc_a would fetch a document from
        // the WRONG source.
        when(col("sa") <= col("sb"), col("doc_a")).otherwise(col("doc_b"))
          .as("wit_a"),
        when(col("sa") <= col("sb"), col("doc_b")).otherwise(col("doc_a"))
          .as("wit_b"),
        col("jaccard"))
      .groupBy("src_a", "src_b")
      .agg(count(lit(1)).as("n_pairs"),
        sum(round(col("jaccard") * 1e6, 0).cast("long")).as("_sum_e6"),
        min("wit_a").as("min_doc_a"), min("wit_b").as("min_doc_b"))
      // round-half-up mean without 2*sum (which could overflow a long at
      // ~1e12 pairs/group): q = floor(sum/n), then +1 iff remainder >= n/2.
      .withColumn("avg_jaccard",
        (expr("_sum_e6 div n_pairs") +
          when(expr("(_sum_e6 - (_sum_e6 div n_pairs) * n_pairs) * 2") >=
            col("n_pairs"), 1L).otherwise(0L)).cast("double") / 1e6)
      .drop("_sum_e6")
  }
}
