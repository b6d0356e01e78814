package perfbench

import java.io.File

import org.apache.spark.sql.functions._
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.storage.StorageLevel

import graft.{Pipeline, SparkEntry}
import graft.io.Sources
import graft.ops.{Augment, Dedup, Retrieval, Split}

/** What a workload's calls need: the session, the tracer, and a way to
  * count each call as one operation attempted (and failed, if it throws).
  */
final class Ctx(val spark: SparkSession, var tracer: Tracer) {
  /** Where results go: None for the no-op sink, or a directory that
    * receives each result as parquet for the checkers. */
  var sink: Option[File] = None
  var attempted = 0L
  var failed = 0L
  var planNs = 0L

  /** One operation: a declared query, a pipeline call or a store step. */
  def op[T](layer: String)(body: => T): Option[T] = {
    attempted += 1
    try Some(tracer.span(layer)(body))
    catch {
      case e: Exception =>
        failed += 1
        System.err.println(s"perfbench: operation $layer failed: $e")
        None
    }
  }

  /** Runs `df` to the end, into the sink as `name`. With tracing on, the
    * executed plan is built first on its own, so its driver time shows as
    * engine.plan; the sink plans again, which is part of tracing overhead.
    */
  def materialize(df: DataFrame, name: String): Unit = {
    if (tracer.enabled) tracer.span("engine.plan") {
      val t0 = System.nanoTime(); df.queryExecution.executedPlan
      planNs += System.nanoTime() - t0
    }
    sink match {
      case Some(dir) => df.write.mode("overwrite").parquet(new File(dir, name).getPath)
      case None => df.write.format("noop").mode("overwrite").save()
    }
  }
}

trait Workload {
  /** One execution: the workload's calls, back to back. */
  def execute(ctx: Ctx): Unit
  /** Traced calls into single layers; returns per-layer metrics. `out`
    * receives what the checker needs to finish a metric. */
  def probe(ctx: Ctx, out: File): Map[String, Double]
  /** Bytes of durable state the last execution left, if the workload writes any. */
  def storeBytes: Option[Long] = None
}

object Workloads {
  def apply(name: String, data: File, work: File): Workload = name match {
    case "landsat_pipeline" => new Landsat(data)
    case "text_dedup" => new TextDedup(data)
    case "posting_store" => new PostingStore(data, new File(work, "store"))
    case "events_timeseries" => new EventsTimeseries(data)
    case other => throw new IllegalArgumentException(s"unknown workload $other")
  }

  def write(file: File, text: String): Unit =
    java.nio.file.Files.writeString(file.toPath, text)

  def median(xs: Seq[Double]): Double = {
    val s = xs.sorted; val n = s.size
    if (n == 0) 0.0 else if (n % 2 == 1) s(n / 2) else (s(n / 2 - 1) + s(n / 2)) / 2
  }
}

final class Landsat(data: File) extends Workload {
  private val cfg = Pipeline.Config(fixturesDir = data.getPath)

  def execute(ctx: Ctx): Unit =
    ctx.op("ops.train_test")(ctx.materialize(Pipeline.trainTest(ctx.spark, cfg), "train_test"))

  def probe(ctx: Ctx, out: File): Map[String, Double] = {
    val s = ctx.spark; val d = data.getPath
    val readers = Seq[(String, () => DataFrame)](
      "scenes" -> (() => Sources.scenes(s, s"$d/scenes/scenes.jsonl")),
      "stations" -> (() => Sources.stationLists(s, s"$d/stations")),
      "metadata" -> (() => Sources.metadata(s, s"$d/metadatas")),
      "ground_truths" -> (() => Sources.groundTruths(s, s"$d/ground_truths.csv")),
      "catalog" -> (() => Sources.stationCatalog(s, s"$d/stations_catalog.csv")))
    for ((n, r) <- readers) ctx.op("io.scan")(ctx.materialize(r(), n))
    val f = ctx.op("ops.features") {
      val f = Pipeline.features(s, cfg)
        .withColumn("sample_key", graft.functions.Hashing.polyHash(
          concat_ws("|", col("scene_id"), col("station_id"))))
        .persist(StorageLevel.MEMORY_AND_DISK)
      ctx.materialize(f, "features"); f
    }.get
    val split = ctx.op("ops.split") {
      val sp = Split.exact(f, "sample_key", cfg.trainFraction, cfg.seed)
        .persist(StorageLevel.MEMORY_AND_DISK)
      ctx.materialize(sp, "split"); sp
    }.get
    ctx.op("ops.augment")(ctx.materialize(
      Augment.fanOut4(split.filter(col("is_train") === 1), "sample_key", cfg.seed), "augment"))
    split.unpersist(); f.unpersist()
    val t = ctx.tracer
    Map("io.scan_s" -> t.lastSeconds("io.scan"),
      "io.list_tasks" -> t.lastCounts("io.scan").map(_("list_tasks").toDouble).getOrElse(0.0),
      "ops.features_s" -> t.lastSeconds("ops.features"),
      "ops.split_s" -> t.lastSeconds("ops.split"),
      "ops.augment_s" -> t.lastSeconds("ops.augment"))
  }
}

final class TextDedup(data: File) extends Workload {
  private val dir = data.getPath
  private def query(spark: SparkSession, q: String) = SparkEntry.queries(q)(spark, dir)

  def execute(ctx: Ctx): Unit = {
    ctx.op("queries.d8")(ctx.materialize(query(ctx.spark, "d8_dup_clusters"), "d8_dup_clusters"))
    graft.engine.Caches.releaseAll()
    ctx.op("queries.c13")(ctx.materialize(query(ctx.spark, "c13_containment_unified"),
      "c13_containment_unified"))
  }

  def probe(ctx: Ctx, out: File): Map[String, Double] = {
    val s = ctx.spark
    val docs = s.read.parquet(s"$dir/documents.parquet").select("doc_id", "text")
      .persist(StorageLevel.MEMORY_AND_DISK)
    val n = docs.count().toDouble
    // Kernel costs per document over the persisted corpus; median of three.
    def nsPerDoc(layer: String)(df: => DataFrame): Double =
      Workloads.median((1 to 3).map { _ =>
        ctx.op(layer)(ctx.materialize(df, layer))
        ctx.tracer.spans.last.seconds * 1e9 / n
      })
    val window = nsPerDoc("functions.window_hash")(
      docs.select(size(Dedup.windowHashesPerRow(col("text"), 10)).as("n")))
    val minhash = nsPerDoc("functions.minhash")(
      Dedup.lshBuckets(Dedup.minhashSignatures(Dedup.shingleHashes(docs))))
    docs.unpersist()
    execute(ctx)
    graft.engine.Caches.releaseAll()
    // d2's pairs go to the checker, which knows which pairs were planted.
    ctx.op("queries.d2")(query(s, "d2_minhash_lsh").select("doc_a", "doc_b")
      .write.mode("overwrite").parquet(new File(out, "d2_pairs").getPath))
    graft.engine.Caches.releaseAll()
    Map("functions.window_hash_ns" -> window, "functions.minhash_ns" -> minhash,
      "queries.d8_s" -> ctx.tracer.lastSeconds("queries.d8"),
      "queries.c13_s" -> ctx.tracer.lastSeconds("queries.c13"))
  }
}

final class PostingStore(data: File, storeDir: File) extends Workload {
  private val Db = "perfbench_store"
  private val Buckets = 8
  private val params = {
    val p = new java.util.Properties()
    val in = new java.io.FileInputStream(new File(data, "params.properties"))
    try p.load(in) finally in.close()
    p
  }
  private val buildFrom = params.getProperty("build_from").toLong
  private val batches: Seq[(Long, Long)] = params.getProperty("batches").split(",").toSeq
    .map { r => val Array(a, b) = r.split("-"); (a.toLong, b.toLong) }
  private val replayed = params.getProperty("replayed_batch").toInt

  private def docs(s: SparkSession) = s.read.parquet(s"$data/documents.parquet")
  private def queries(s: SparkSession) = Retrieval.queriesFromDocs(docs(s), "doc_id", "text",
    col("doc_id") >= 8 && col("doc_id") < 13)
  private def search(s: SparkSession) = Retrieval.bm25FromStore(s, Db, queries(s), k = 5)

  private def reset(s: SparkSession): Unit = {
    s.sql(s"DROP DATABASE IF EXISTS $Db CASCADE")
    Files.deleteTree(storeDir)
  }

  def execute(ctx: Ctx): Unit = {
    val s = ctx.spark
    reset(s)
    val d = docs(s)
    ctx.op("store.build")(Retrieval.buildPostingStore(s, d.filter(col("doc_id") >= buildFrom),
      "doc_id", "text", Db, storeDir.getPath, Buckets))
    val ledger = Retrieval.appendLedger(storeDir.getPath)
    for (((lo, hi), i) <- batches.zipWithIndex; id = i + 1L;
         layer <- if (id == replayed) Seq("store.append", "store.replay") else Seq("store.append"))
      ctx.op(layer)(Retrieval.appendPostingStore(s,
        d.filter(col("doc_id") >= lo && col("doc_id") < hi),
        "doc_id", "text", Db, Buckets, ledger, id))
    ctx.op("store.delete")(Retrieval.deleteFromPostingStore(s, Db, Buckets,
      s.read.option("header", "true").schema("doc_id BIGINT").csv(s"$data/deleted_ids.csv")))
    ctx.op("store.compact")(Retrieval.compactPostingStore(s, Db, Buckets))
    ctx.op("store.search")(ctx.materialize(search(s), "search"))
    for (out <- ctx.sink)
      s.table(s"$Db.doc_stats").agg(count(lit(1)).as("doc_stats_rows"))
        .crossJoin(s.table(s"$Db.corpus_stats").agg(sum("n_docs").as("corpus_n_docs")))
        .crossJoin(s.table(s"$Db.postings").agg(count(lit(1)).as("posting_rows"),
          sum("tf").as("posting_tf")))
        .write.mode("overwrite").parquet(new File(out, "store_counts").getPath)
  }

  override def storeBytes: Option[Long] = Some(Files.bytes(storeDir))

  def probe(ctx: Ctx, out: File): Map[String, Double] = {
    val life = { ctx.tracer.span("store.lifecycle")(execute(ctx)); ctx.tracer.spans.last }
    val t = ctx.tracer
    Map("store.build_s" -> t.lastSeconds("store.build"),
      "store.append_s" -> t.lastSeconds("store.append"),
      "store.replay_s" -> t.lastSeconds("store.replay"),
      "store.delete_s" -> t.lastSeconds("store.delete"),
      "store.compact_s" -> t.lastSeconds("store.compact"),
      "store.search_s" -> t.lastSeconds("store.search"),
      "store.write_mb" -> life.counts("output_bytes") / 1e6,
      "store.files" -> Files.dataFiles(storeDir).toDouble,
      "store.disk_mb" -> Files.bytes(storeDir) / 1e6)
  }
}

final class EventsTimeseries(data: File) extends Workload {
  private val dir = data.getPath
  // layer -> declared query
  private val calls = Seq("plans.asof" -> "aj1_asof_join", "ops.ewma" -> "ts9_ewma_auto",
    "ops.cusum" -> "ts10_cusum_auto", "streaming.ewma" -> "e15_stream_ewma")

  def execute(ctx: Ctx): Unit = for ((layer, q) <- calls) {
    ctx.op(layer)(ctx.materialize(SparkEntry.queries(q)(ctx.spark, dir), q))
    graft.engine.Caches.releaseAll()
  }

  def probe(ctx: Ctx, out: File): Map[String, Double] = {
    execute(ctx)
    val t = ctx.tracer
    Map("plans.asof_s" -> t.lastSeconds("plans.asof"),
      "ops.ewma_s" -> t.lastSeconds("ops.ewma"),
      "ops.cusum_s" -> t.lastSeconds("ops.cusum"),
      "streaming.ewma_s" -> t.lastSeconds("streaming.ewma"),
      "streaming.batches" ->
        t.lastCounts("streaming.ewma").map(_("stream_batches").toDouble).getOrElse(0.0))
  }
}

object Files {
  private def walk(f: File): Seq[File] =
    if (f.isDirectory) Option(f.listFiles()).toSeq.flatten.flatMap(walk) else Seq(f)

  def bytes(dir: File): Long = walk(dir).map(_.length).sum

  def dataFiles(dir: File): Int = walk(dir).count(_.getName.endsWith(".parquet"))

  def deleteTree(f: File): Unit = {
    if (f.isDirectory) Option(f.listFiles()).toSeq.flatten.foreach(deleteTree)
    f.delete()
  }
}
