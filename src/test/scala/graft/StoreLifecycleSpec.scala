package graft

import scala.collection.mutable.ArrayBuffer

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

import graft.ops.Bucketing
import graft.queries.Tables
import graft.streaming.StreamingWindows

/** The store lifecycle every stateful query shares: the check → act →
  * commit step (`Bucketing.exactlyOnce`), the store handle
  * (`Bucketing.Store`, opened through `Tables.store`) and the phase runner
  * (`StreamingWindows.runPhase`) with its phase-disambiguated batch ids.
  */
class StoreLifecycleSpec extends AnyFunSuite with BeforeAndAfterAll {
  private lazy val spark = TestSpark.spark

  private val prefix = "graft_lifecycle_spec_"
  // Two sf dirs: they only tag the store names, nothing reads them.
  private val dirA = "/lifecycle-spec/sf_a"
  private val dirB = "/lifecycle-spec/sf_b"

  override def afterAll(): Unit =
    for (d <- Seq(dirA, dirB)) {
      val (db, loc) = Tables.storeAt(prefix, d)
      spark.sql(s"DROP DATABASE IF EXISTS $db CASCADE")
      Bucketing.clearDir(new java.io.File(loc))
    }

  private def rows(lo: Long, hi: Long): DataFrame =
    spark.range(lo, hi).select((col("id") % 7).as("k"), col("id").as("v"))

  private def tmpDir(name: String): java.io.File =
    java.nio.file.Files.createTempDirectory(name).toFile

  test("a committed id does not evaluate the body and returns false") {
    val ledger = tmpDir("graft-lifecycle-ledger")
    var runs = 0
    assert(Bucketing.exactlyOnce(ledger, 3L, "spec") { runs += 1 })
    assert(!Bucketing.exactlyOnce(ledger, 3L, "spec") { runs += 1 })
    assert(runs == 1)
    Bucketing.clearDir(ledger)
    // A store append for a committed id does not even build its frame.
    val store = Tables.store(spark, prefix, dirA)
    store.write(rows(0, 10), "t", 4, Seq("k"))
    assert(store.append("t", 4, Seq("k"), 0L)(rows(10, 20)))
    assert(!store.append("t", 4, Seq("k"), 0L)(
      throw new IllegalStateException("body evaluated for a committed id")))
    assert(store.read("t").count() == 20)
  }

  test("reopening a store clears its ledger, so batch 0 appends again") {
    val first = Tables.store(spark, prefix, dirA)
    assert(first.ledger().getParentFile == new java.io.File(first.location))
    first.write(rows(0, 10), "t", 4, Seq("k"))
    assert(first.append("t", 4, Seq("k"), 0L)(rows(10, 20)))
    assert(Bucketing.isCommitted(first.ledger(), 0L))
    val again = Tables.store(spark, prefix, dirA)
    assert(!Bucketing.isCommitted(again.ledger(), 0L))
    again.write(rows(0, 10), "t", 4, Seq("k"))
    assert(again.append("t", 4, Seq("k"), 0L)(rows(10, 20)))
    assert(again.read("t").count() == 20)
  }

  test("the second phase's first batch gets id 1,000,000 and is not suppressed") {
    val src = tmpDir("graft-lifecycle-src")
    rows(0, 20).coalesce(1).write.mode("overwrite").parquet(src.getPath)
    def stream = spark.readStream.schema("k BIGINT, v BIGINT").parquet(src.getPath)
    val store = Tables.store(spark, prefix, dirB)
    store.write(rows(0, 0), "t", 4, Seq("k"))
    val seen = ArrayBuffer.empty[(Long, Boolean)]
    def ingest(b: DataFrame, id: Long): Unit =
      seen += id -> store.append("t", 4, Seq("k"), id)(b)
    val lastA = StreamingWindows.runPhase(
      stream.filter(col("v") < 10), "lifecycle_spec_a", 0)(ingest)
    val lastB = StreamingWindows.runPhase(
      stream.filter(col("v") >= 10), "lifecycle_spec_b", 1)(ingest)
    // Both phases' queries deliver Spark batch id 0; one shared ledger
    // still sees two ids, and both appended.
    assert(seen.toSeq == Seq(0L -> true, 1000000L -> true))
    assert(lastA == 0L && lastB == 1000000L)
    assert(store.read("t").count() == 20)
    Bucketing.clearDir(src)
  }

  test("a phase whose source matches no files fails naming the phase") {
    val empty = tmpDir("graft-lifecycle-empty")
    val e = intercept[IllegalArgumentException] {
      StreamingWindows.runPhase(Tables.docStream(spark, empty.getPath),
        "lifecycle_spec_empty", 1)((_, _) => ())
    }
    assert(e.getMessage.contains("lifecycle_spec_empty"), e.getMessage)
    Bucketing.clearDir(empty)
  }

  test("the same prefix opened for two sf dirs gives two distinct stores") {
    val a = Tables.store(spark, prefix, dirA)
    val b = Tables.store(spark, prefix, dirB)
    assert(a.db == prefix + Tables.dirTag(dirA))
    assert(a.db != b.db && a.location != b.location)
    a.write(rows(0, 5), "t", 4, Seq("k"))
    b.write(rows(0, 9), "t", 4, Seq("k"))
    assert(a.read("t").count() == 5 && b.read("t").count() == 9)
  }
}
