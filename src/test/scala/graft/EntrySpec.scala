package graft

import org.scalatest.funsuite.AnyFunSuite

/** Locks the driver's smoke contract: SparkEntry.entry must return rows. */
class EntrySpec extends AnyFunSuite {
  test("flagship entry returns rows with the expected shape") {
    val df = SparkEntry.entry(TestSpark.spark)
    assert(df.columns.toSeq == Seq("station_id", "n", "mean_temp"))
    assert(df.count() > 0)
  }

  test("unknown query names fail up front, all of them listed") {
    SparkEntry.requireKnownQueries(Seq("d8_dup_clusters", "c13_containment_unified"))
    SparkEntry.requireKnownQueries(Nil)
    val e = intercept[IllegalArgumentException] {
      SparkEntry.requireKnownQueries(Seq("d8_dup_clusters", "d8_dup_clustrs", "nope", "nope"))
    }
    assert(e.getMessage.contains("unknown query name(s): d8_dup_clustrs, nope ("))
  }
}
