package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.ops.EventWindows
import graft.queries.Tables
import graft.streaming.StreamingWindows

/** Structured Streaming windows must agree with the batch operators on the
  * same data (the batch forms are the oracle-checked ones).
  */
class StreamingSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark

  private lazy val eventsDir: String = {
    // materialize the µs-normalized events as a stream source dir
    val dir = java.nio.file.Files.createTempDirectory("graft_stream").toString
    Tables.events(spark, "/root/testdata/sf0.001").write.mode("overwrite").parquet(dir)
    dir
  }

  test("streaming tumbling window equals batch tumbling") {
    val batchDf = Tables.events(spark, "/root/testdata/sf0.001")
    val schema = spark.read.parquet(eventsDir).schema
    val stream = StreamingWindows.readEventStream(spark, eventsDir, schema)
    val got = StreamingWindows.runToMemory(
      StreamingWindows.tumbling(stream, "15 minutes", "1 hour"), "t_tumb")
      .select("wstart", "event_type", "n", "sum_value")
      .collect().map(_.toSeq).toSet
    val want = EventWindows.tumbling(batchDf, "15 minutes")
      .collect().map(_.toSeq).toSet
    assert(got == want)
  }

  test("streaming session windows cover the same events as batch sessions") {
    val batchDf = Tables.events(spark, "/root/testdata/sf0.001")
    val schema = spark.read.parquet(eventsDir).schema
    val stream = StreamingWindows.readEventStream(spark, eventsDir, schema)
    val got = StreamingWindows.runToMemory(
      StreamingWindows.sessions(stream, "30 minutes", "1 hour"), "t_sess")
    // same total events and same per-user session counts as the batch form
    val gotPerUser = got.groupBy("user_id")
      .agg(count(lit(1)).as("sessions"), sum("n_events").as("events"))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    val wantPerUser = EventWindows.sessions(batchDf, 30)
      .groupBy("user_id")
      .agg(count(lit(1)).as("sessions"), sum("n_events").as("events"))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    assert(gotPerUser == wantPerUser)
  }

  test("streaming bounded dedup emits each key exactly once despite duplicate files") {
    // Two copies of the corpus land as separate files — the re-crawl case;
    // the second copy must be fully absorbed by the per-key state.
    val dir = java.nio.file.Files.createTempDirectory("graft_dedup").toString
    val ev = Tables.events(spark, "/root/testdata/sf0.001")
    ev.write.mode("overwrite").parquet(dir)
    ev.write.mode("append").parquet(dir)
    val schema = spark.read.parquet(dir).schema
    val stream = StreamingWindows.readEventStream(spark, dir, schema)
    val got = StreamingWindows.runToMemory(
      graft.streaming.StreamingDedup.distinctKeysBounded(
        stream, "ts", "90 days", Seq("user_id", "event_type")),
      "t_dedup", org.apache.spark.sql.streaming.OutputMode.Append())
      .collect().map(_.toSeq).toList
    val want = ev.select("user_id", "event_type").distinct()
      .collect().map(_.toSeq).toList
    assert(got.sortBy(_.toString) == want.sortBy(_.toString)) // once per key, no dupes
  }

  test("throwaway checkpoints go on tmpfs only when the temp dir is the default /tmp") {
    val shm = java.nio.file.Files.createTempDirectory("graft_shm").toFile
    val noShm = new java.io.File(shm, "absent")
    assert(StreamingWindows.checkpointRoot("/tmp", shm) == shm.getPath)
    assert(StreamingWindows.checkpointRoot("/tmp/", shm) == shm.getPath)
    assert(StreamingWindows.checkpointRoot("/tmp", noShm) == "/tmp")
    assert(StreamingWindows.checkpointRoot("/data/scratch", shm) == "/data/scratch")
    assert(StreamingWindows.checkpointRoot("/tmp/run-1", shm) == "/tmp/run-1")
    shm.delete()
  }
}
