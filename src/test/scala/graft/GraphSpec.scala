package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.ops.{Dedup, Graph}

class GraphSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark
  import spark.implicits._

  // Path a—b—c plus isolated pair d—e: distinct degrees, distinct
  // centralities (b must outrank a and c).
  private def pairs =
    Seq((1L, 2L), (2L, 3L), (10L, 11L)).toDF("doc_a", "doc_b")

  /** The engine's integer recurrence computed independently in plain
    * Scala over an adjacency map — same floor divisions, no Spark.
    */
  private def referenceRanks(edges: Seq[(Long, Long)], iters: Int): Map[Long, Long] = {
    val out = edges.groupBy(_._1).view.mapValues(_.map(_._2)).toMap
    val deg = out.view.mapValues(_.size.toLong).toMap
    val n = out.size.toLong
    var r = out.keys.map(v => v -> 1000000000000L / n).toMap
    for (_ <- 1 to iters) {
      val in = edges.groupBy(_._2).map { case (v, es) =>
        v -> es.map { case (u, _) => (r(u) / deg(u)) * 85 / 100 }.sum
      }
      r = r.keys.map(v => v -> (150000000000L / n + in.getOrElse(v, 0L))).toMap
    }
    r
  }

  test("pagerank matches the hand-computed integer recurrence") {
    val edges = Seq((1L, 2L), (2L, 1L), (2L, 3L), (3L, 2L),
      (10L, 11L), (11L, 10L))
    val got = Graph.pagerank(Graph.symmetrize(pairs), iters = 10)
      .select("node", "r_e12").as[(Long, Long)].collect().toMap
    assert(got == referenceRanks(edges, 10))
    // the path's center must outrank its leaves
    assert(got(2L) > got(1L) && got(2L) > got(3L))
    // symmetric positions tie exactly (integer arithmetic, no FP noise)
    assert(got(1L) == got(3L) && got(10L) == got(11L))
  }

  test("pagerank is partitioning-invariant (bit-identical ranks)") {
    val base = Graph.symmetrize(pairs)
    val a = Graph.pagerank(base, iters = 5)
      .select("node", "r_e12", "deg").as[(Long, Long, Long)].collect().toSet
    val b = Graph.pagerank(base.repartition(7, col("dst")), iters = 5)
      .select("node", "r_e12", "deg").as[(Long, Long, Long)].collect().toSet
    assert(a == b)
  }

  test("symmetrize emits both directions exactly once") {
    val e = Graph.symmetrize(pairs).as[(Long, Long)].collect().toSeq
    assert(e.size == 6 && e.toSet ==
      Set((1L, 2L), (2L, 1L), (2L, 3L), (3L, 2L), (10L, 11L), (11L, 10L)))
  }

  test("triangles: clique / path / isolated edge, dups and loops ignored") {
    // 4-clique {1,2,3,4} (4 triangles, every node in 3, lcc = 1) +
    // path 5—6—7 (an open wedge at 6, no triangle) + isolated edge 8—9.
    // Input includes a reversed duplicate and a self-loop — both must
    // vanish in canonicalization.
    val pairs = Seq(
      (1L, 2L), (1L, 3L), (1L, 4L), (2L, 3L), (2L, 4L), (3L, 4L),
      (2L, 1L), (5L, 5L), // reversed dup + self-loop
      (5L, 6L), (6L, 7L), (8L, 9L)
    ).toDF("doc_a", "doc_b")
    val got = Graph.triangles(pairs)
      .as[(Long, Long, Long, Long)].collect()
      .map(r => r._1 -> (r._2, r._3, r._4)).toMap
    assert(got.keySet == Set(1L, 2L, 3L, 4L, 5L, 6L, 7L, 8L, 9L))
    for (v <- 1L to 4L) assert(got(v) == ((3L, 3L, 1000000L)))
    assert(got(6L) == ((2L, 0L, 0L))) // open wedge: deg 2, lcc 0
    for (v <- Seq(5L, 7L, 8L, 9L)) assert(got(v) == ((1L, 0L, 0L)))
  }

  test("triangles reuse the canonical edge frame, not the upstream pipeline") {
    // The pair pipeline feeding triangles (LSH chain in d30) is expensive;
    // the operator must persist the canonical edge set and fan out from
    // the CACHE — the plan scans the registered frames' leaves (Scan
    // ExistingRDD) and never replays the upstream input (LocalTableScan).
    val pairs = Seq((1L, 2L), (1L, 3L), (2L, 3L)).toDF("doc_a", "doc_b")
    val plan = Graph.triangles(pairs).queryExecution.executedPlan.toString
    assert(plan.contains("Scan ExistingRDD"), plan)
    assert(!plan.contains("LocalTableScan"), plan)
    graft.engine.Caches.releaseAll()
  }

  test("triangles are partitioning-invariant") {
    val pairs = Seq((1L, 2L), (1L, 3L), (2L, 3L), (3L, 4L), (4L, 5L),
      (3L, 5L), (6L, 7L)).toDF("doc_a", "doc_b")
    val a = Graph.triangles(pairs)
      .as[(Long, Long, Long, Long)].collect().toSet
    val b = Graph.triangles(pairs.repartition(7, col("doc_b")))
      .as[(Long, Long, Long, Long)].collect().toSet
    assert(a == b && a.nonEmpty)
  }

  test("incremental CC equals the full recompute") {
    // Old graph: components {1,2,3} and {7,8}. Delta: edges joining a new
    // node 0 to 3 (merging into the first component), a new isolated pair
    // {20,21}, and a bridge 8—1 (merging the two OLD components — the
    // hard case: the fold must relabel a whole standing cluster).
    val oldPairs = Seq((1L, 2L), (2L, 3L), (7L, 8L)).toDF("doc_a", "doc_b")
    val delta = Seq((0L, 3L), (20L, 21L), (8L, 1L)).toDF("doc_a", "doc_b")
    val standing = Dedup.connectedComponents(oldPairs)
    val got = Dedup.connectedComponentsIncremental(standing, delta)
      .as[(Long, Long)].collect().toMap
    val full = Dedup.connectedComponents(
        oldPairs.unionByName(delta))
      .as[(Long, Long)].collect().toMap
    assert(got == full)
    assert(got(8L) == 0L && got(20L) == 20L) // merged + new components
  }
}
