package graft.streaming

import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{OutputMode, StreamingQuery, Trigger}
import org.apache.spark.sql.types.StructType
import org.apache.spark.sql.{DataFrame, SparkSession}

/** Structured Streaming forms of the event-window operators: the same
  * tumbling/sliding/session aggregations as graft.ops.EventWindows, driven
  * incrementally with watermarks. At cluster scale these run `readStream`
  * over arriving parquet/kafka; here the same plans are smoke-driven from
  * files with a memory sink (spark_guide.md pattern).
  */
object StreamingWindows {

  /** File-based stream over a directory of parquet events. */
  def readEventStream(spark: SparkSession, dir: String, schema: StructType): DataFrame =
    spark.readStream.schema(schema).parquet(dir)

  /** Tumbling-window counts with a watermark bounding state. */
  def tumbling(events: DataFrame, width: String, watermark: String): DataFrame =
    events
      .withWatermark("ts", watermark)
      .groupBy(window(col("ts"), width).as("w"), col("event_type"))
      .agg(count(lit(1)).as("n"), round(sum("value"), 3).as("sum_value"))
      .select(col("w.start").as("wstart"), col("event_type"), col("n"), col("sum_value"))

  /** Sliding-window counts with a watermark. */
  def sliding(events: DataFrame, width: String, slide: String, watermark: String): DataFrame =
    events
      .withWatermark("ts", watermark)
      .groupBy(window(col("ts"), width, slide).as("w"), col("event_type"))
      .agg(count(lit(1)).as("n"), round(sum("value"), 3).as("sum_value"))
      .select(col("w.start").as("wstart"), col("event_type"), col("n"), col("sum_value"))

  /** Session windows per user via the built-in session_window generator;
    * state is bounded by the watermark. (For custom state semantics use
    * KeyValueGroupedDataset.flatMapGroupsWithState.)
    */
  def sessions(events: DataFrame, gap: String, watermark: String): DataFrame =
    events
      .withWatermark("ts", watermark)
      .groupBy(session_window(col("ts"), gap).as("w"), col("user_id"))
      .agg(count(lit(1)).as("n_events"), round(sum("value"), 3).as("sum_value"))
      .select(col("w.start").as("session_start"), col("w.end").as("session_end"),
        col("user_id"), col("n_events"), col("sum_value"))

  /** Run `body` with the session's shuffle-partition count (which fixes a
    * NEW streaming query's state-store partition count) temporarily set to
    * `n`, restoring the previous value after. Streaming state is
    * partitioned at query start and every microbatch commits one file per
    * state store per partition — at smoke/bench scale 32 partitions of
    * near-empty stores are pure commit overhead, and at cluster scale this
    * is the same lever, sized to keys-per-watermark-horizon instead.
    * Batch queries are unaffected (AQE coalesces their shuffles).
    *
    * ASSUMES the driver runs queries sequentially (the gate/bench contract):
    * the set/restore mutates the SHARED session conf, so concurrent query
    * execution on the same session would race and silently change another
    * query's partitioning — scope the override with `spark.newSession()`
    * if that ever changes.
    */
  def withStatePartitions[T](spark: SparkSession, n: Int)(body: => T): T = {
    val key = "spark.sql.shuffle.partitions"
    val prev = spark.conf.get(key)
    spark.conf.set(key, n.toString)
    try body finally spark.conf.set(key, prev)
  }

  /** Drive a streaming frame to completion against a memory sink named
    * `prefix` plus a unique suffix (a query run twice, or two sessions,
    * never collide on the sink's table) and return the materialized result.
    */
  def runToMemory(df: DataFrame, prefix: String,
      mode: OutputMode = OutputMode.Complete()): DataFrame = {
    val name = prefix + "_" + java.util.UUID.randomUUID().toString.replace("-", "")
    // RocksDB state store + changelog checkpointing for every stream this
    // engine starts. The default HDFS-backed store keeps all state as
    // in-memory hashmaps and snapshots one file per store per partition
    // per microbatch — both the e8 cost profile at smoke scale and, far
    // worse, an OOM ceiling at cluster scale where watermark-horizon state
    // exceeds executor heap. RocksDB spills state off-heap to local disk
    // (unbounded keys per partition), and changelog checkpointing commits
    // only the batch's delta instead of rewriting snapshots.
    val sc = df.sparkSession.conf
    sc.set("spark.sql.streaming.stateStore.providerClass",
      "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
    sc.set("spark.sql.streaming.stateStore.rocksdb.changelogCheckpointing.enabled",
      "true")
    // numRowsTotal bookkeeping issues a read-before-every-write; the
    // metric isn't worth 2x the state-op cost on the join/dedup paths.
    sc.set("spark.sql.streaming.stateStore.rocksdb.trackTotalNumberOfRows",
      "false")
    withThrowawayCheckpoint(name) { ck =>
      df.writeStream
        .outputMode(mode)
        .format("memory")
        .queryName(name)
        .option("checkpointLocation", ck)
        .trigger(Trigger.AvailableNow())
        .start()
    }
    df.sparkSession.table(name)
  }

  /** Drive a streaming frame to completion through `foreachBatch` — the
    * maintenance-sink path: each micro-batch arrives as a BATCH DataFrame
    * with the full batch API available (aggregations, bucketed-table
    * appends, arbitrary writers). Same throwaway-checkpoint hygiene as
    * [[runToMemory]]; a production stream points checkpointLocation at
    * durable storage (deployment config, not semantics).
    */
  def runForeachBatch(df: DataFrame, name: String)
      (f: (DataFrame, Long) => Unit): Unit =
    withThrowawayCheckpoint(name) { ck =>
      df.writeStream
        .foreachBatch(f)
        .option("checkpointLocation", ck)
        .trigger(Trigger.AvailableNow())
        .start()
    }

  /** Phase ids are `index * PhaseStride + Spark's batch id`: each phase
    * runs its own query, whose batch ids restart at 0, so ids of different
    * phases must not collide in a shared ledger. */
  val PhaseStride = 1000000L

  /** Run stream phase `index` (named `name`) through `foreachBatch`: `f`
    * receives each micro-batch with its phase-disambiguated id
    * (`index * PhaseStride` + Spark's batch id — a redelivered batch keeps
    * its id). Fails with the phase's name when its source delivered no
    * micro-batch (an AvailableNow stream whose source matched no files
    * delivers none), and returns the last id.
    */
  def runPhase(df: DataFrame, name: String, index: Int = 0)
      (f: (DataFrame, Long) => Unit): Long = {
    var last = -1L
    runForeachBatch(df, name) { (batch, id) =>
      last = index * PhaseStride + id
      f(batch, last)
    }
    require(last >= 0L, s"stream phase $name delivered no micro-batch " +
      "(stream source matched no files?)")
    last
  }

  /** Root directory for throwaway checkpoints, given the JVM's temp dir.
    * The offset/commit/state checkpoints of a drive-to-completion are dead
    * files, so when the temp dir is the platform default `/tmp` they go on
    * tmpfs (`shm`, when it exists) and the drive doesn't time their fsyncs.
    * A temp dir pointed anywhere else is honoured, so a run that confines
    * its scratch to one directory keeps its checkpoints there too. (A
    * production stream points its checkpoint at durable storage — the
    * location is deployment config, not semantics.)
    */
  def checkpointRoot(tmpdir: String,
      shm: java.io.File = new java.io.File("/dev/shm")): String =
    if (java.nio.file.Paths.get(tmpdir).normalize() == java.nio.file.Paths.get("/tmp") &&
        shm.isDirectory) shm.getPath
    else tmpdir

  /** Starts a stream on a fresh checkpoint directory under
    * [[checkpointRoot]], waits for it to finish and removes the directory.
    * Unique per run: a reused checkpoint would pin the FIRST run's source
    * path and offsets, which is exactly wrong for a throwaway drive.
    */
  private def withThrowawayCheckpoint(name: String)(start: String => StreamingQuery): Unit = {
    val ckDir = new java.io.File(checkpointRoot(System.getProperty("java.io.tmpdir")),
      s"graft-ck-$name-${java.util.UUID.randomUUID().toString.take(8)}")
    def rm(f: java.io.File): Unit = {
      Option(f.listFiles()).foreach(_.foreach(rm)); f.delete(); ()
    }
    try start(ckDir.getAbsolutePath).awaitTermination()
    finally rm(ckDir)
  }
}
