package graft.ops

import org.apache.spark.sql.functions.col
import org.apache.spark.sql.{DataFrame, SparkSession}

/** Bucketed-table helpers: the zero-shuffle co-located join path.
  *
  * At 100 TB the dominant cost of a fact-to-fact equi-join is shuffling both
  * sides. Writing each table bucketed (+ sorted) by the join key makes the
  * bucket id a physical property of the data: Spark's scan reports
  * HashPartitioning(key, nBuckets), EnsureRequirements sees both children
  * already distributed, and the sort-merge join runs with NO exchange — the
  * shuffle is paid once at write time and amortized over every subsequent
  * join/aggregation on that key.
  *
  * Bucket both sides with the SAME bucket count (or integer multiples with
  * `spark.sql.bucketing.coalesceBucketsInJoin.enabled`); keep
  * nBuckets ≈ cluster cores × small factor so each bucket is one task.
  */
object Bucketing {

  /** Write `df` as a bucketed, per-bucket-sorted table.
    *
    * The repartition aligns write tasks with bucket ids (both sides are
    * pmod(murmur3(keys), n)), so each bucket lands in exactly ONE file —
    * the layout Spark's scan needs to also trust the sortBy metadata and
    * skip the per-partition Sort at read time, and the difference between
    * n files and n × writeTasks files at cluster scale.
    */
  def writeBucketed(df: DataFrame, table: String, nBuckets: Int, keys: Seq[String]): Unit =
    df.repartition(nBuckets, keys.map(col): _*)
      .write
      .bucketBy(nBuckets, keys.head, keys.tail: _*)
      .sortBy(keys.head, keys.tail: _*)
      .mode("overwrite")
      .format("parquet")
      .saveAsTable(table)

  /** Append `df` into an existing bucketed table — store MAINTENANCE: a
    * delta's rows land in the SAME bucket layout the standing table was
    * written with (Spark validates the append's bucket spec against the
    * table's), so the table never rewrites and subsequent joins on the
    * bucket keys stay Exchange-free. Each append adds one file per touched
    * bucket, which forfeits the one-file-per-bucket sorted-scan guarantee:
    * readers keep the shuffle-free property but pay a per-bucket merge
    * Sort until a periodic [[writeBucketed]] compaction restores it — the
    * standard append-then-compact lifecycle of a 100-TB keyed store.
    */
  def appendBucketed(df: DataFrame, table: String, nBuckets: Int, keys: Seq[String]): Unit =
    df.repartition(nBuckets, keys.map(col): _*)
      .write
      .bucketBy(nBuckets, keys.head, keys.tail: _*)
      .sortBy(keys.head, keys.tail: _*)
      .mode("append")
      .format("parquet")
      .saveAsTable(table)

  /** Has `batchId` already been folded into the store this ledger guards?
    * The ledger is addressed by URI and resolved through the Hadoop
    * `FileSystem` API ([[fsFor]]) — on a shared filesystem a driver
    * restarted on a DIFFERENT node consults the same markers, which is
    * what makes the exactly-once appends cluster-restartable instead of
    * single-driver-correct.
    */
  def isCommitted(ledgerUri: String, batchId: Long): Boolean = {
    val (fs, dir) = fsFor(ledgerUri)
    fs.exists(new org.apache.hadoop.fs.Path(dir, s"batch-$batchId"))
  }

  /** [[isCommitted]] for a local ledger directory (spec/sandbox callers);
    * qualified to the LOCAL filesystem via `toURI` — a bare string path
    * would resolve against `fs.defaultFS` and silently address HDFS on a
    * cluster session.
    */
  def isCommitted(ledgerDir: java.io.File, batchId: Long): Boolean =
    isCommitted(ledgerDir.toURI.toString, batchId)

  /** Record `batchId` as committed: write-sync-rename through the ledger
    * URI's own FileSystem so a marker is either fully present or absent —
    * a crash mid-write can't leave a half-marker that a replay would
    * misread as committed. Durability discipline by scheme: the stream is
    * hsync'd only where it REPORTS the capability (HDFS-class schemes —
    * probing `StreamCapabilities` matters because `hsync()` on a
    * non-Syncable stream silently degrades to a buffered flush rather
    * than throwing); on LOCAL ledgers, whose `LocalFileSystem` streams are
    * never Syncable, the tmp marker's bytes are re-forced to disk through
    * NIO before the rename and the parent directory entry is fsynced
    * after it (POSIX requires the directory sync for the rename itself to
    * survive power loss — HDFS journals renames, so no equivalent call
    * exists or is needed there). Same marker discipline as Spark's own
    * HDFSMetadataLog/CheckpointFileManager rename commits.
    *
    * Re-commit of an existing marker is a no-op: a published marker is
    * NEVER unpublished (a delete-then-rename re-commit would reopen the
    * replay window if the process died between the two steps), so a
    * rename that fails with the marker already present — a concurrent
    * committer won the publish race — is success.
    */
  def commit(ledgerUri: String, batchId: Long, note: String): Unit = {
    val (fs, dir) = fsFor(ledgerUri)
    val marker = new org.apache.hadoop.fs.Path(dir, s"batch-$batchId")
    if (fs.exists(marker)) return
    fs.mkdirs(dir)
    val tmp = new org.apache.hadoop.fs.Path(dir, s".batch-$batchId.tmp")
    val out = fs.create(tmp, true)
    try {
      out.write(note.getBytes(java.nio.charset.StandardCharsets.UTF_8))
      if (out.hasCapability(org.apache.hadoop.fs.StreamCapabilities.HSYNC))
        out.hsync()
      else out.hflush()
    } finally out.close()
    val u = dir.toUri
    val isLocal = u.getScheme == null || u.getScheme == "file"
    if (isLocal) {
      val ch = java.nio.channels.FileChannel.open(
        java.nio.file.Paths.get(u.getPath, s".batch-$batchId.tmp"),
        java.nio.file.StandardOpenOption.READ)
      try ch.force(true) finally ch.close()
    }
    if (!fs.rename(tmp, marker)) {
      require(fs.exists(marker), s"failed to publish ledger marker $marker")
      fs.delete(tmp, false)
    }
    if (isLocal) {
      val dch = java.nio.channels.FileChannel.open(
        java.nio.file.Paths.get(u.getPath),
        java.nio.file.StandardOpenOption.READ)
      try dch.force(true) finally dch.close()
    }
  }

  /** [[commit]] for a local ledger directory (see [[isCommitted]] on why
    * the File form qualifies through `toURI`). */
  def commit(ledgerDir: java.io.File, batchId: Long, note: String): Unit =
    commit(ledgerDir.toURI.toString, batchId, note)

  /** Retention for the committed-batchId ledger: drop markers for batches
    * below `upToBatchId`. Structured Streaming replays only the IN-FLIGHT
    * micro-batch after a restart — once the checkpoint's committed offset
    * has moved past a batch, its marker can never be consulted again — so
    * a maintenance cadence of `pruneLedger(ledger, lastBatchId - N)` for
    * any N ≥ 1 bounds the ledger at N+1 files instead of one file per
    * batch forever.
    */
  def pruneLedger(ledgerUri: String, upToBatchId: Long): Unit = {
    val (fs, dir) = fsFor(ledgerUri)
    if (fs.exists(dir))
      fs.listStatus(dir).foreach { st =>
        val n = st.getPath.getName
        if (n.startsWith("batch-") &&
            n.stripPrefix("batch-").toLongOption.exists(_ < upToBatchId)) {
          fs.delete(st.getPath, false); ()
        }
      }
  }

  /** [[pruneLedger]] for a local ledger directory. */
  def pruneLedger(ledgerDir: java.io.File, upToBatchId: Long): Unit =
    pruneLedger(ledgerDir.toURI.toString, upToBatchId)

  /** The one check → act → commit step of every exactly-once store write
    * — the idempotent-sink contract a `foreachBatch` sink needs:
    * Structured Streaming redelivers the in-flight micro-batch (same
    * batchId, same rows) after any restart, and an unguarded append would
    * double every row of the replayed batch into the store. A batchId with
    * a ledger marker returns false WITHOUT evaluating `body` (a replay
    * pays no discarded work); otherwise `body` runs, then the marker
    * publishes atomically ([[commit]]) and the call returns true.
    *
    * Honest boundary: if the process dies BETWEEN the body and the marker
    * publish, the replay re-runs the body (at-least-once for that one
    * window). Closing it on raw parquet requires an atomic multi-file
    * publish, i.e. a transactional table format (Delta/Iceberg/Hive ACID)
    * whose commit protocol subsumes this ledger; at 100 TB that is the
    * deployment answer, and this ledger is exactly the batchId-dedup the
    * format's `txnAppId`/snapshot commit implements internally.
    */
  def exactlyOnce(ledgerUri: String, batchId: Long, note: String)
      (body: => Unit): Boolean =
    if (isCommitted(ledgerUri, batchId)) false
    else {
      body
      commit(ledgerUri, batchId, note)
      true
    }

  /** [[exactlyOnce]] for a local ledger directory. */
  def exactlyOnce(ledgerDir: java.io.File, batchId: Long, note: String)
      (body: => Unit): Boolean =
    exactlyOnce(ledgerDir.toURI.toString, batchId, note)(body)

  /** [[appendBucketed]] through [[exactlyOnce]]: a committed batchId is a
    * no-op (returns false, `df` not even built); otherwise append, then
    * publish the marker.
    */
  def appendBucketedExactlyOnce(df: => DataFrame, table: String, nBuckets: Int,
      keys: Seq[String], ledgerDir: java.io.File, batchId: Long): Boolean =
    appendBucketedExactlyOnce(df, table, nBuckets, keys,
      ledgerDir.toURI.toString, batchId)

  /** [[appendBucketedExactlyOnce]] with the ledger addressed by URI — the
    * cluster form: point it at a shared-filesystem directory and the
    * check-append-commit survives a driver restart on another node.
    */
  def appendBucketedExactlyOnce(df: => DataFrame, table: String, nBuckets: Int,
      keys: Seq[String], ledgerUri: String, batchId: Long): Boolean =
    exactlyOnce(ledgerUri, batchId, s"table=$table buckets=$nBuckets")(
      appendBucketed(df, table, nBuckets, keys))

  /** A standing store: one catalog database pinned at `location`, its
    * bucketed tables, and its named exactly-once ledgers, each kept in the
    * store's own directory (`_<name>_ledger`). Every stateful query opens,
    * writes, appends to and reads its store through this one handle.
    */
  final class Store private (val spark: SparkSession, val db: String,
      val location: String) {

    /** Catalog name of table `tbl`. */
    def name(tbl: String): String = s"$db.$tbl"

    /** On-disk directory of table `tbl`. */
    def dir(tbl: String): java.io.File = new java.io.File(location, tbl)

    /** Directory of the ledger called `name`. */
    def ledger(name: String = "append"): java.io.File =
      Store.ledgerDir(location, name)

    /** Drop `tbl` and its directory ([[reset]]) and return its catalog
      * name, ready for a fresh write. */
    def fresh(tbl: String): String = {
      reset(spark, name(tbl), dir(tbl))
      name(tbl)
    }

    /** Write `df` as a fresh bucketed table `tbl`. */
    def write(df: DataFrame, tbl: String, nBuckets: Int,
        keys: Seq[String]): Unit =
      writeBucketed(df, fresh(tbl), nBuckets, keys)

    /** Append `df` to `tbl` once per `batchId` under ledger `ledger`
      * ([[appendBucketedExactlyOnce]]: `df` is not even built for a
      * committed id), then refresh the table. The refresh matters when the
      * append ran in a `foreachBatch` callback's CLONED session: the writer
      * invalidated ITS file-listing cache, not this session's, and without
      * it a read here silently misses every appended row.
      */
    def append(tbl: String, nBuckets: Int, keys: Seq[String], batchId: Long,
        ledger: String = "append")(df: => DataFrame): Boolean = {
      val appended = appendBucketedExactlyOnce(df, name(tbl), nBuckets, keys,
        this.ledger(ledger), batchId)
      spark.catalog.refreshTable(name(tbl))
      appended
    }

    /** Table `tbl` after a refresh: every committed append is visible. */
    def read(tbl: String): DataFrame = {
      spark.catalog.refreshTable(name(tbl))
      spark.table(name(tbl))
    }
  }

  object Store {

    /** Open the store `db` at `location`: create the database pinned there
      * (a FRESH session's in-memory catalog does not know tables a
      * previous session left in the warehouse) and clear every ledger in
      * the store's directory. Callers rebuild the store's tables on each
      * run (Bench and Verify run a query more than once), and a rebuilt
      * store must not suppress re-applied batches as "already committed".
      */
    def open(spark: SparkSession, db: String, location: String): Store = {
      spark.sql(s"CREATE DATABASE IF NOT EXISTS $db LOCATION '$location'")
      Option(new java.io.File(location).listFiles()).toSeq.flatten
        .filter(f => f.getName.startsWith("_") && f.getName.endsWith("_ledger"))
        .foreach(clearDir)
      new Store(spark, db, location)
    }

    /** Where the ledger called `name` of the store at `location` lives. */
    def ledgerDir(location: String, name: String): java.io.File =
      new java.io.File(location, s"_${name}_ledger")
  }

  /** Compact an appended bucketed table back to one file per bucket,
    * restoring the Sort-free scan that [[appendBucketed]] defers. Reads the
    * table's files RAW (`spark.read.parquet`), not through the bucketed
    * scan: a bucketed read already satisfies the repartition's required
    * distribution, so the planner elides the shuffle and write tasks no
    * longer align 1:1 with bucket ids — each task then emits a file per
    * bucket it happens to hold and the compaction silently fails its whole
    * purpose. The raw read has unknown partitioning, forcing the real
    * bucket-hash shuffle.
    */
  def compactBucketed(spark: SparkSession, sourceLocation: String,
      destTable: String, nBuckets: Int, keys: Seq[String]): Unit =
    writeBucketed(spark.read.parquet(sourceLocation), destTable, nBuckets, keys)

  /** Rewrite one bucketed table IN PLACE (same catalog name) through
    * `transform` with a single read + write: write into a same-bucketing
    * `_rewriting` side table, rename the original ASIDE to `_old`, RENAME
    * the side table into place (the catalog moves the directory;
    * bucket-spec metadata rides the table entry), then drop `_old`. With
    * `identity` this is the in-place COMPACTION of the append-then-compact
    * lifecycle: each [[appendBucketed]] left one file per touched bucket,
    * the rewrite restores one-file-per-bucket under the name every
    * downstream probe already reads. Not crash-atomic, but every crash
    * point leaves a COMPLETE servable copy under some name: before the
    * first rename the original serves; between the renames both `_old`
    * and `_rewriting` hold full copies; after, the new table serves (a
    * leftover `_old` is garbage-collected by the next rewrite). Recovery
    * is one catalog rename by the retrying orchestrator — no window where
    * the only copy is a dropped directory, unlike drop-then-rename.
    */
  def rewriteBucketedInPlace(spark: SparkSession, db: String, tbl: String,
      keys: Seq[String], nBuckets: Int)
      (transform: DataFrame => DataFrame): Unit = {
    val full = s"$db.$tbl"
    val side = s"$db.${tbl}_rewriting"
    val old = s"$db.${tbl}_old"
    spark.sql(s"DROP TABLE IF EXISTS $side")
    // Read the table's FILES, not the table: a bucketed-table read hands
    // the planner a partitioning that displaces writeBucketed's explicit
    // repartition with the write's own conf-sized AQE-coalescible
    // shuffle — tasks then hold several buckets each and the rewrite
    // lands one file per (task, bucket) instead of one per bucket. A
    // plain parquet scan has unknown partitioning, so the repartition
    // survives and the compact layout is guaranteed.
    val files = org.apache.spark.sql.classic.GraftBridge
      .tableLocation(spark, db, tbl)
    writeBucketed(transform(spark.read.parquet(files)), side, nBuckets, keys)
    spark.sql(s"DROP TABLE IF EXISTS $old")
    spark.sql(s"ALTER TABLE $full RENAME TO $old")
    spark.sql(s"ALTER TABLE $side RENAME TO $full")
    spark.sql(s"DROP TABLE $old")
  }

  /** Drop `table` and remove its on-disk location. A managed table's
    * directory survives a previous session whose in-memory catalog is gone,
    * and CTAS then refuses to create the "new" managed table over the
    * existing location — so a re-runnable bucketed-write query must clear
    * both the catalog entry and the directory first.
    */
  def reset(spark: SparkSession, table: String, location: java.io.File): Unit = {
    spark.sql(s"DROP TABLE IF EXISTS $table")
    clearDir(location)
  }

  /** The Hadoop Configuration the store-commit primitives resolve their
    * FileSystem from: the active/default session's `hadoopConfiguration`
    * (which carries the cluster's fs.* bindings — HDFS namenode, S3A
    * credentials), falling back to a vanilla Configuration when no session
    * is up (spec setup paths).
    */
  private def hadoopConf: org.apache.hadoop.conf.Configuration =
    SparkSession.getActiveSession.orElse(SparkSession.getDefaultSession)
      .map(_.sparkContext.hadoopConfiguration)
      .getOrElse(new org.apache.hadoop.conf.Configuration())

  /** Resolve the FileSystem owning `path` — the same `Path.getFileSystem`
    * call Spark's own committers make, so `file://`, `hdfs://`, and
    * object-store-scheme (S3A-class) paths all take the scheme's
    * registered implementation.
    */
  def fsFor(path: String): (org.apache.hadoop.fs.FileSystem,
      org.apache.hadoop.fs.Path) = {
    val p = new org.apache.hadoop.fs.Path(path)
    (p.getFileSystem(hadoopConf), p)
  }

  /** Recursively delete `path` through the Hadoop FileSystem API
    * (idempotent; a missing path is a no-op) — the cluster-portable form
    * of a local recursive delete: identical semantics on local/HDFS, and
    * on object stores it degrades to the store's recursive delete.
    */
  def deletePath(path: String): Unit = {
    val (fs, p) = fsFor(path)
    fs.delete(p, true)
    ()
  }

  /** Swap a staged directory into its live location through the owning
    * FileSystem, never holding zero copies: the live path is first renamed
    * ASIDE to a hidden `.<name>.old` sibling (dot-prefixed — parquet scans
    * skip hidden paths, so a crash can't leak stale rows into readers),
    * then staged promotes to live, then the old copy is dropped. A crash
    * or rename failure between any two steps leaves either the old or the
    * new data recoverable at a well-known sibling — the delete-live-first
    * ordering could destroy the only surviving copy. `rename` is the
    * metadata-only atomic commit on local/HDFS-class filesystems (the same
    * primitive Spark's HadoopMapReduceCommitProtocol relies on). Honest S3
    * caveat: S3A emulates directory rename by copy+delete, so each step
    * loses atomicity there — on object-store deployments the staged-swap
    * lifecycle belongs behind a transactional table format
    * (Delta/Iceberg), whose manifest commit replaces this rename; the
    * per-cell REWRITE plumbing above it is unchanged.
    */
  def swapPath(staged: String, live: String): Unit = {
    val (fs, livePath) = fsFor(live)
    val stagedPath = new org.apache.hadoop.fs.Path(staged)
    val old = new org.apache.hadoop.fs.Path(
      livePath.getParent, "." + livePath.getName + ".old")
    // SELF-HEAL a crashed previous swap: an orphaned `.old` with the live
    // path absent means the crash hit between the aside-rename and the
    // promote — the aside copy is the ONLY surviving copy, so restore it
    // to live before proceeding (this retry's own aside-rename then moves
    // it back out of the way). An `.old` WITH live present is the other
    // crash point — after the promote, before the cleanup delete — and is
    // stale, handled by the unconditional delete below.
    if (fs.exists(old) && !fs.exists(livePath))
      require(fs.rename(old, livePath),
        s"failed to restore crashed-swap aside copy $old to $live")
    fs.delete(old, true)
    val hadLive = fs.exists(livePath)
    if (hadLive) require(fs.rename(livePath, old),
      s"failed to move live path $live aside to $old")
    // A stage that produced nothing (every member deleted) simply leaves
    // the live path absent.
    if (fs.exists(stagedPath)) {
      require(fs.rename(stagedPath, livePath),
        s"failed to swap staged path $staged into $live")
    }
    if (hadLive) { fs.delete(old, true); () }
  }

  /** Recursively delete a directory (idempotent; missing dir is a no-op).
    * Routed through [[deletePath]] — java.io.File callers (scratch-dir
    * hygiene) and cluster-path callers share one commit primitive. The
    * File is qualified via `toURI` so it ALWAYS resolves to the local
    * filesystem: a bare absolute path resolves against `fs.defaultFS`,
    * which on an HDFS-default cluster would silently target an HDFS path
    * and leave the real local directory untouched.
    */
  def clearDir(f: java.io.File): Unit = deletePath(f.toURI.toString)

  /** Count the parquet data files under a table directory — the
    * observable the append-then-compact lifecycle moves: appends grow it
    * by one file per touched bucket, compaction restores one per bucket.
    */
  def dataFileCount(dir: java.io.File): Int =
    Option(dir.listFiles()).map(_.toSeq).getOrElse(Nil).map { f =>
      if (f.isDirectory) dataFileCount(f)
      else if (f.getName.endsWith(".parquet")) 1 else 0
    }.sum

  /** Join two same-bucketing tables on their bucket keys — plans with zero
    * exchanges when bucket layouts line up.
    */
  def colocatedJoin(spark: SparkSession, leftTable: String, rightTable: String,
      keys: Seq[String]): DataFrame =
    spark.table(leftTable).join(spark.table(rightTable), keys)
}
