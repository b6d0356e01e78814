package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.engine.Caches
import graft.ops.{Dedup, Retrieval, Similarity}

/** The caller-owned persist contract (engine/Caches.scala): operators
  * register their corpus-scale persisted intermediates; after the caller
  * materializes the result and calls releaseAll, none of those cached
  * RDDs may remain in `sparkContext.getPersistentRDDs`. Asserted on the
  * three operator families the round-9/10 review flagged: the span-cut
  * chain (docsWithCutStarts), kmeans, and the IVF-PQ search family.
  */
class CacheHygieneSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark
  import spark.implicits._

  private def docs = Seq(
    (0L, "alpha beta gamma delta epsilon zeta eta theta iota kappa"),
    (1L, "alpha beta gamma delta epsilon zeta eta theta iota kappa"),
    (2L, "one two three four five six seven eight nine ten"),
    (3L, "completely different text with no shared spans at all here")
  ).toDF("doc_id", "text")

  private def vecs = (0L until 20L).map(i =>
    (i, Array.tabulate(8)(j => (i * 8 + j).toFloat / 100f), (i % 3).toInt))
    .toDF("vec_id", "embedding", "label")

  /** Run op → materialize → releaseAll; assert the operator registered at
    * least one intermediate (unless it is not meant to: `registers`) and
    * that releaseAll leaves none of the RDD ids it added still persisted.
    */
  private def assertHygiene(name: String, registers: Boolean = true)
      (op: => org.apache.spark.sql.DataFrame): Unit = {
    Caches.releaseAll() // clean slate
    val before = spark.sparkContext.getPersistentRDDs.keySet
    val out = op
    // Full-width materialization (the Bench/Verify shape): a count() lets
    // Catalyst prune columns past the cached subtree and the cache never
    // builds, which would make this spec vacuous.
    out.write.format("noop").mode("overwrite").save()
    if (registers)
      assert(Caches.trackedCount > 0, s"$name registered no intermediates")
    val added = spark.sparkContext.getPersistentRDDs.keySet -- before
    assert(added.nonEmpty, s"$name persisted nothing")
    Caches.releaseAll()
    // Model-sized localCheckpoint blocks (fitOn's k-row centroid frames)
    // are ContextCleaner-owned by design — excluded from the leak set.
    val leaked = spark.sparkContext.getPersistentRDDs
      .filter { case (id, r) => added(id) && !isLocalCheckpoint(r) }.keySet
    assert(leaked.isEmpty, s"$name leaked cached RDDs after release: $leaked")
    assert(Caches.trackedCount == 0)
  }

  /** RDD.isLocallyCheckpointed is private[spark] at the Scala level but
    * public bytecode — reflection keeps the spec on supported behavior.
    */
  private def isLocalCheckpoint(r: org.apache.spark.rdd.RDD[_]): Boolean =
    r.getClass.getMethods.find(_.getName == "isLocallyCheckpointed")
      .exists(_.invoke(r).asInstanceOf[Boolean])

  test("minhashLsh releases its signature cache") {
    assertHygiene("minhashLsh")(Dedup.minhashLsh(docs))
  }

  test("triangles releases its edge/degree/orientation caches") {
    assertHygiene("triangles")(graft.ops.Graph.triangles(
      Seq((1L, 2L), (1L, 3L), (2L, 3L), (3L, 4L)).toDF("doc_a", "doc_b")))
  }

  test("cutSpans chain releases the occurrence cache") {
    assertHygiene("cutSpans")(Dedup.cutSpans(docs, n = 3))
  }

  test("kmeans releases the corpus projection") {
    assertHygiene("kmeans")(Similarity.kmeans(vecs, k = 2, iters = 2))
  }

  test("ivfPqTop1 releases the corpus projection") {
    assertHygiene("ivfPqTop1")(
      Similarity.ivfPqTop1(vecs, k = 2, iters = 1, m = 2, nprobe = 1,
        nQueries = 2))
  }

  test("ivfPqResidualRerank releases corpus + residual caches") {
    assertHygiene("ivfPqResidualRerank")(
      Similarity.ivfPqResidualRerank(vecs, k = 2, iters = 1, m = 2,
        nprobe = 1, nQueries = 2, shortlist = 3))
  }

  test("simhashClusters at radius 0 releases its simhash frame") {
    assertHygiene("simhashClusters")(Dedup.simhashClusters(docs, maxHamming = 0))
  }

  test("phraseSearch releases its occurrence frame") {
    assertHygiene("phraseSearch")(Retrieval.phraseSearch(docs, "doc_id", "text",
      Seq((0L, Seq("alpha", "beta", "gamma"))).toDF("query_id", "terms"), k = 3))
  }

  test("star connected components keeps nothing persisted after release") {
    // Nothing to register: its per-round state is unpersisted in the loop
    // or ContextCleaner-owned local checkpoints.
    assertHygiene("connectedComponentsStar", registers = false)(
      Dedup.connectedComponentsStar(
        Seq((1L, 2L), (2L, 3L), (3L, 4L), (10L, 11L)).toDF("doc_a", "doc_b")))
  }
}
