package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}

import graft.engine.Session
import graft.ops.Bucketing

/** Shared helpers for the declared query surface (SparkEntry.queries). */
object Tables {
  /** Fixture inputs mirroring the reference's source formats (tools/gen_fixtures.py). */
  val FixturesDir = "/root/repo/fixtures"

  /** Fixed per-purpose scratch dir under the system temp root. Sink-side
    * queries overwrite the SAME directory every invocation (Bench runs each
    * query twice per round) instead of leaking a fresh createTempDirectory
    * per run.
    */
  def scratch(name: String): String = {
    val d = new java.io.File(new java.io.File(
      System.getProperty("java.io.tmpdir"), "graft-scratch"), name)
    d.mkdirs()
    d.getAbsolutePath
  }

  /** Deterministic tag of the sf dir, appended to every stateful query's
    * scratch database/ledger/store name: a query invoked against two
    * DIFFERENT data dirs (a spec at sf0.001 while a Verify sweep runs
    * sf0.1) must not share — and reset — the same standing stores.
    * Within one dir the name stays fixed, preserving the
    * overwrite-don't-leak contract of [[scratch]]. The sanitizer collapses
    * every non-alphanumeric run to '_', so distinct raw paths CAN share a
    * sanitized form (/data/sf0.1 vs /data/sf0_1); a digest of the raw
    * path (MD5 prefix — stable across JVMs, unlike String.hashCode's
    * 32-bit spread) is appended so such pairs still get distinct stores.
    */
  def dirTag(dir: String): String = {
    val digest = java.security.MessageDigest.getInstance("MD5")
      .digest(dir.getBytes("UTF-8")).take(4).map("%02x".format(_)).mkString
    dir.replaceAll("[^A-Za-z0-9]+", "_").stripPrefix("_") + "_" + digest
  }

  /** Catalog name and directory of the store `prefix` for sf dir `dir`:
    * the name tagged with [[dirTag]], the directory under [[scratch]]. */
  def storeAt(prefix: String, dir: String): (String, String) = {
    val db = prefix + dirTag(dir)
    (db, scratch(db + "_db"))
  }

  /** Open the store `prefix` for sf dir `dir` ([[Bucketing.Store.open]]:
    * database created, ledgers cleared). */
  def store(spark: SparkSession, prefix: String, dir: String): Bucketing.Store = {
    val (db, loc) = storeAt(prefix, dir)
    Bucketing.Store.open(spark, db, loc)
  }

  /** Schema of `documents.parquet`, for the readers that must not probe it. */
  val DocumentsSchema =
    "doc_id BIGINT, text STRING, lang STRING, source STRING, n_chars BIGINT"

  /** `documents` as a stream ([[streamT]] at [[DocumentsSchema]]). */
  def docStream(spark: SparkSession, dir: String): DataFrame =
    streamT(spark, dir, "documents", DocumentsSchema)

  def t(spark: SparkSession, dir: String, name: String): DataFrame = {
    Session.prepare(spark)
    spark.read.parquet(s"$dir/$name.parquet")
  }

  /** Layout-aware STREAMING reader for `<name>.parquet`. The driver
    * testdata ships each table as a single FILE — a bare file path fails
    * Spark's "basePath must be a directory", so those stream as the data
    * dir plus a leaf-name glob. The ScaleProbe replicas are DIRECTORIES
    * of part files — there the leaf-name glob matches no part file and
    * the stream silently produces zero micro-batches (the bug that made
    * e10's 10× probe time only its store build), so directories stream
    * by their path directly. `schema` null ⇒ probe the batch reader's.
    */
  def streamT(spark: SparkSession, dir: String, name: String,
      schema: String = null): DataFrame = {
    Session.prepare(spark)
    val tbl = new java.io.File(dir, s"$name.parquet")
    val r = Option(schema) match {
      case Some(s) => spark.readStream.schema(s)
      case None => spark.readStream
        .schema(spark.read.parquet(tbl.toString).schema)
    }
    if (tbl.isDirectory) r.parquet(tbl.toString)
    else r.option("pathGlobFilter", s"$name.parquet").parquet(dir)
  }

  /** events.parquet's physical ts type has varied across testdata
    * generations: TIMESTAMP(NANOS) (which Spark only reads as a raw LONG
    * under nanosAsLong), native timestamp[us] without UTC adjustment
    * (read as TIMESTAMP_NTZ), or a UTC-adjusted timestamp. Probe the read
    * schema and normalize every variant to one canonical TimestampType in
    * the UTC session (micros-preserving in all three cases, so the DuckDB
    * oracle — which truncates nanos / reads naive micros — agrees
    * bit-for-bit regardless of generation).
    */
  def events(spark: SparkSession, dir: String): DataFrame = {
    Session.prepare(spark)
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    normalizeTs(spark.read.parquet(s"$dir/events.parquet"))
  }

  /** Canonicalize an events frame's ts column to TimestampType (see
    * events()). Shared with the streaming reader in queries/Events, which
    * must apply the identical rewrite to the file-stream schema.
    */
  def normalizeTs(df: DataFrame): DataFrame = {
    import org.apache.spark.sql.functions.{col, expr}
    import org.apache.spark.sql.types._
    df.schema("ts").dataType match {
      case LongType      => df.withColumn("ts", expr("timestamp_micros(ts div 1000)"))
      case TimestampType => df
      case _             => df.withColumn("ts", col("ts").cast(TimestampType))
    }
  }
}
