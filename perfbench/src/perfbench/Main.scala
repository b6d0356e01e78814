package perfbench

import java.io.File
import java.lang.management.ManagementFactory

import scala.collection.mutable.ArrayBuffer

import graft.SparkEntry
import graft.engine.{Caches, Session}

/** The benchmark's JVM side. `run.py` starts it and reads its result file.
  *
  *   setup                  start a session, print the ready line, stop
  *   run  --workload W --data DIR --work DIR --seconds S --trace 0|1
  *        [--probe NAME=DIR ...]
  *   outputs --workload W --data DIR --work DIR
  *                          execute once, writing results and oracle SQL
  *                          under DIR/check, and stop
  *
  * A run executes the workload once cold, writing its results for the
  * checkers, then back to back (one caller, a closed loop) until `seconds`
  * have passed and at least three steady executions are in. Between executions the engine's
  * caches are released and a full GC runs. With `--trace 1` every other
  * steady execution is traced, so the traced and untraced medians give the
  * tracing overhead; then each `--probe` workload's layer probe runs once
  * over its own (smaller) inputs and gives the per-layer metrics.
  */
object Main {
  val Ready = "PERFBENCH READY"
  private val Cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "4")

  // The oracles the checkers rerun in DuckDB.
  private val OracleNames = Seq("b2_bm25_store", "aj1_asof_join", "ts9_ewma_auto",
    "ts10_cusum_auto", "e15_stream_ewma", "d8_dup_clusters", "c13_containment_unified")

  def main(args: Array[String]): Unit = {
    val opts = args.drop(1).grouped(2).toSeq.groupMap(_(0).stripPrefix("--"))(_(1))
    def opt(k: String) = opts.getOrElse(k, sys.error(s"missing --$k")).head
    args.headOption match {
      case Some("setup") =>
        session()
      case Some("outputs") =>
        val (spark, _) = session()
        val ctx = new Ctx(spark, new Tracer(false, new RuntimeCounters))
        ctx.sink = Some(checkDir(new File(opt("work"))))
        Workloads(opt("workload"), new File(opt("data")), new File(opt("work"))).execute(ctx)
        writeOracles(new File(opt("work")))
        if (ctx.failed > 0) sys.exit(1)
      case Some("run") =>
        run(opt("workload"), new File(opt("data")), new File(opt("work")),
          opt("seconds").toDouble, opt("trace") == "1",
          opts.getOrElse("probe", Nil).map { kv => val Array(k, v) = kv.split("=", 2); k -> new File(v) })
      case _ =>
        System.err.println("usage: perfbench.Main setup | run --workload W --data DIR ...")
        sys.exit(2)
    }
    // Everything is written; skip the session's orderly shutdown, which
    // costs seconds and leaves nothing the caller reads.
    Console.flush()
    Runtime.getRuntime.halt(0)
  }

  private def checkDir(work: File): File = {
    val d = new File(work, "check")
    Files.deleteTree(d); d.mkdirs(); d
  }

  private def writeOracles(work: File): Unit =
    Workloads.write(new File(work, "check/oracles.json"),
      Json.value(OracleNames.map(q => q -> SparkEntry.oracleSql(q)).toMap))

  private def session() = {
    val t0 = System.nanoTime()
    val spark = Session.local(Cpus)
    val s = (System.nanoTime() - t0) / 1e9
    println(Ready); Console.flush()
    (spark, s)
  }

  private def run(name: String, data: File, work: File, seconds: Double, trace: Boolean,
      probes: Seq[(String, File)]): Unit = {
    val (spark, sessionS) = session()
    val counters = new RuntimeCounters
    counters.attach(spark)
    val off = new Tracer(false, counters)
    val on = new Tracer(trace, counters)
    val ctx = new Ctx(spark, off)
    val workload = Workloads(name, data, work)

    // Cached blocks are dropped synchronously, so neither the next execution
    // nor the live-heap reading sees a release still in flight.
    def release(): Unit = {
      Caches.releaseAll(); spark.catalog.clearCache()
      spark.sparkContext.getPersistentRDDs.values.foreach(_.unpersist(blocking = true))
      System.gc(); counters.settle()
    }
    // Heap in use right after a full GC, as the collector reports it. GCs
    // repeat until the reading settles: the ContextCleaner frees shuffle and
    // broadcast state only after a GC has cleared their references.
    def liveHeap(): Long = {
      def afterGc() = {
        Thread.sleep(200); System.gc()
        ManagementFactory.getMemoryPoolMXBeans.toArray
          .map(_.asInstanceOf[java.lang.management.MemoryPoolMXBean])
          .filter(_.getType == java.lang.management.MemoryType.HEAP)
          .flatMap(p => Option(p.getCollectionUsage)).map(_.getUsed).sum
      }
      var prev = afterGc(); var cur = afterGc(); var rounds = 2
      while (rounds < 8 && math.abs(cur - prev) > 1000000L) { prev = cur; cur = afterGc(); rounds += 1 }
      cur
    }
    final case class Sample(wallS: Double, counts: Counts, threadCpuNs: Long, planNs: Long,
        jitMs: Long, storeBytes: Option[Long])
    def timed(tracer: Tracer): Sample = {
      ctx.tracer = tracer; tracer.newExecution()
      val plan0 = ctx.planNs
      val before = counters.snapshot()
      val threads0 = Counts.threadCpuNs()
      val jit0 = Counts.jitMs()
      val t0 = System.nanoTime()
      tracer.span("execution")(workload.execute(ctx))
      val wall = (System.nanoTime() - t0) / 1e9
      val cpuNs = Counts.processCpuNs() - before.processCpuNs
      val threadNs = Counts.threadCpuSince(threads0)
      val jitMs = Counts.jitMs() - jit0
      val bytes = workload.storeBytes
      release()
      val c = counters.snapshot() - before
      ctx.tracer = off
      Sample(wall, c.copy(processCpuNs = cpuNs), threadNs, ctx.planNs - plan0, jitMs, bytes)
    }

    // The cold execution writes its results for the checkers, as a one-shot
    // batch run writes its output; steady executions use the no-op sink.
    ctx.sink = Some(checkDir(work))
    val cold = timed(off)
    ctx.sink = None
    val warmup = timed(off)
    val steady = ArrayBuffer.empty[Sample]
    val traced = ArrayBuffer.empty[Sample]
    val minSteady = if (trace) 1 else 3
    // Live heap is read at a fixed point, after the third steady execution
    // (caches released, full GC done), so it does not grow with the number
    // of executions a run fits in.
    var heap = 0L
    val loop0 = System.nanoTime()
    while ((System.nanoTime() - loop0) / 1e9 < seconds || steady.size < minSteady) {
      steady += timed(off)
      if (steady.size == minSteady) heap = liveHeap()
      if (trace) traced += timed(on)
    }

    writeOracles(work)

    def med(xs: Iterable[Double]) = Workloads.median(xs.toSeq)
    val layers = if (!trace) Map.empty[String, Double] else {
      val traceDir = new File(work, "trace")
      Files.deleteTree(traceDir); traceDir.mkdirs()
      val probed = probes.flatMap { case (p, dir) =>
        val w = Workloads(p, dir, work)
        val out = new File(traceDir, p); out.mkdirs()
        ctx.tracer = on
        on.newExecution(); val m = w.probe(ctx, out); release()
        ctx.tracer = off
        m
      }.toMap
      Workloads.write(new File(traceDir, "spans.json"), on.toJson)
      def spark(f: Counts => Double) = med(traced.map(s => f(s.counts)))
      val untracedWall = med(steady.map(_.wallS))
      val tracedWall = med(traced.map(_.wallS))
      probed ++ Map(
        "engine.session_s" -> sessionS,
        "engine.plan_s" -> med(traced.map(_.planNs / 1e9)),
        "jvm.jit_s" -> med(traced.map(_.jitMs / 1e3)),
        "spark.jobs" -> spark(_("jobs").toDouble),
        "spark.tasks" -> spark(_("tasks").toDouble),
        "spark.task_deser_s" -> spark(_("deser_ns") / 1e9),
        "spark.executor_cpu_s" -> spark(_("executor_cpu_ns") / 1e9),
        "spark.executor_run_s" -> spark(_("executor_run_ns") / 1e9),
        "spark.driver_cpu_s" -> spark(c => (c.processCpuNs - c("executor_cpu_ns")) / 1e9),
        "spark.shuffle_read_mb" -> spark(_("shuffle_read_bytes") / 1e6),
        "spark.spill_mb" -> spark(_("spill_bytes") / 1e6),
        "spark.gc_s" -> spark(_("gc_ns") / 1e9),
        "trace.wall_s" -> tracedWall,
        "trace.overhead_pct" -> 100 * (tracedWall - untracedWall) / untracedWall)
    }

    Workloads.write(new File(work, "result.json"), Json.value(Map(
      "workload" -> name,
      "attempted" -> ctx.attempted,
      "failed" -> ctx.failed,
      "session_s" -> sessionS,
      "cold_s" -> cold.wallS,
      "warmup_s" -> warmup.wallS,
      "wall_s" -> steady.map(_.wallS),
      "process_cpu_s" -> steady.map(_.counts.processCpuNs / 1e9),
      "thread_cpu_s" -> steady.map(_.threadCpuNs / 1e9),
      "jit_s" -> steady.map(_.jitMs / 1e3),
      "shuffle_mb" -> steady.map(_.counts("shuffle_write_bytes") / 1e6),
      "jobs" -> steady.map(_.counts("jobs")),
      "tasks" -> steady.map(_.counts("tasks")),
      "store_mb" -> steady.flatMap(_.storeBytes).map(_ / 1e6),
      "heap_live_mb" -> heap / 1e6,
      "layers" -> layers)) + "\n")
  }
}
