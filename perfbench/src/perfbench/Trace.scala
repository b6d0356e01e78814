package perfbench

import java.lang.management.ManagementFactory
import java.util.concurrent.atomic.AtomicLong

import scala.collection.mutable.ArrayBuffer

import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.streaming.StreamingQueryListener

/** Spark runtime counters, as a SparkListener and a StreamingQueryListener
  * see them. Both listener buses deliver asynchronously, so [[settle]] waits
  * until every started job has ended and the bus has been quiet a moment.
  */
final class RuntimeCounters extends SparkListener {
  private val jobsStarted = new AtomicLong
  private val jobsEnded = new AtomicLong
  private val lastEventNs = new AtomicLong(System.nanoTime())
  private val listingStages = java.util.concurrent.ConcurrentHashMap.newKeySet[Int]()
  private val c = Array.fill(Counts.Names.size)(new AtomicLong)

  private def add(name: String, v: Long): Unit = c(Counts.Names.indexOf(name)).addAndGet(v)
  private def touch(): Unit = lastEventNs.set(System.nanoTime())

  override def onJobStart(e: SparkListenerJobStart): Unit = {
    jobsStarted.incrementAndGet(); add("jobs", 1)
    val desc = Option(e.properties).map(_.getProperty("spark.job.description")).orNull
    // io.Sources' glob readers list their per-scene files through these jobs.
    if (desc != null && desc.startsWith("Listing leaf files")) {
      add("list_jobs", 1); e.stageIds.foreach(listingStages.add)
    }
    touch()
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = { jobsEnded.incrementAndGet(); touch() }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
    add("tasks", 1)
    if (listingStages.contains(e.stageId)) add("list_tasks", 1)
    val m = e.taskMetrics
    if (m != null) {
      add("deser_ns", m.executorDeserializeTime * 1000000L)
      add("executor_cpu_ns", m.executorCpuTime)
      add("executor_run_ns", m.executorRunTime * 1000000L)
      add("shuffle_write_bytes", m.shuffleWriteMetrics.bytesWritten)
      add("shuffle_read_bytes", m.shuffleReadMetrics.totalBytesRead)
      add("spill_bytes", m.memoryBytesSpilled + m.diskBytesSpilled)
      add("gc_ns", m.jvmGCTime * 1000000L)
      add("output_bytes", m.outputMetrics.bytesWritten)
    }
    touch()
  }

  val streaming: StreamingQueryListener = new StreamingQueryListener {
    override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
    override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit =
      if (e.progress.numInputRows > 0) add("stream_batches", 1)
    override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
  }

  def attach(spark: SparkSession): Unit = {
    spark.sparkContext.addSparkListener(this)
    spark.streams.addListener(streaming)
  }

  /** Waits (at most 10 s) for the listener buses to deliver what is posted. */
  def settle(): Unit = {
    val deadline = System.nanoTime() + 10000000000L
    while (System.nanoTime() < deadline &&
      (jobsStarted.get != jobsEnded.get || System.nanoTime() - lastEventNs.get < 25000000L))
      Thread.sleep(20)
  }

  def snapshot(): Counts = Counts(c.map(_.get), Counts.processCpuNs())
}

/** One reading of the counters; `-` gives the counts of an interval. */
final case class Counts(v: Array[Long], processCpuNs: Long) {
  def apply(name: String): Long = v(Counts.Names.indexOf(name))
  def -(o: Counts): Counts = Counts(v.zip(o.v).map { case (a, b) => a - b },
    processCpuNs - o.processCpuNs)
}

object Counts {
  val Names: IndexedSeq[String] = IndexedSeq("jobs", "tasks", "list_jobs", "list_tasks",
    "deser_ns", "executor_cpu_ns", "executor_run_ns", "shuffle_write_bytes",
    "shuffle_read_bytes", "spill_bytes", "gc_ns", "output_bytes", "stream_batches")

  private val os = ManagementFactory.getOperatingSystemMXBean
    .asInstanceOf[com.sun.management.OperatingSystemMXBean]
  private val threads = ManagementFactory.getThreadMXBean
    .asInstanceOf[com.sun.management.ThreadMXBean]

  def processCpuNs(): Long = os.getProcessCpuTime

  private val compiler = ManagementFactory.getCompilationMXBean

  /** Milliseconds the JIT compiler threads have spent compiling so far. */
  def jitMs(): Long = compiler.getTotalCompilationTime

  /** CPU time of each live Java thread: the driver's and the executor's
    * task threads, but not the JIT compiler's or the GC's, which the JVM
    * keeps out of this view. */
  def threadCpuNs(): Map[Long, Long] = {
    val ids = threads.getAllThreadIds
    ids.zip(threads.getThreadCpuTime(ids)).filter(_._2 >= 0).toMap
  }

  /** CPU the Java threads used since `before` (threads that ended in
    * between are missed; the engine's task threads are pooled). */
  def threadCpuSince(before: Map[Long, Long]): Long =
    threadCpuNs().iterator.map { case (id, ns) => ns - before.getOrElse(id, 0L) }.sum
}

/** A span: one call into a layer. Spans of one execution share `exec`. */
final case class Span(id: Int, parent: Int, exec: Int, name: String,
    startNs: Long, endNs: Long, counts: Counts) {
  def seconds: Double = (endNs - startNs) / 1e9
}

/** In-memory span recorder. When disabled, [[span]] only runs its body. */
final class Tracer(val enabled: Boolean, counters: RuntimeCounters) {
  val spans = ArrayBuffer.empty[Span]
  private var stack: List[Int] = Nil
  private var exec = 0
  private var lastId = 0

  def newExecution(): Unit = exec += 1

  def span[T](name: String)(body: => T): T =
    if (!enabled) body
    else {
      lastId += 1
      val id = lastId
      val parent = stack.headOption.getOrElse(0)
      stack = id :: stack
      counters.settle()
      val before = counters.snapshot()
      val t0 = System.nanoTime()
      try body
      finally {
        val t1 = System.nanoTime()
        counters.settle()
        stack = stack.tail
        spans += Span(id, parent, exec, name, t0, t1, counters.snapshot() - before)
      }
    }

  /** Seconds spent in spans named `name` in the latest execution that has one. */
  def lastSeconds(name: String): Double = {
    val hits = spans.filter(_.name == name)
    if (hits.isEmpty) 0.0
    else { val e = hits.map(_.exec).max; hits.filter(_.exec == e).map(_.seconds).sum }
  }

  def lastCounts(name: String): Option[Counts] = {
    val hits = spans.filter(_.name == name)
    if (hits.isEmpty) None
    else {
      val e = hits.map(_.exec).max
      Some(hits.filter(_.exec == e).map(_.counts).reduce((a, b) =>
        Counts(a.v.zip(b.v).map { case (x, y) => x + y }, a.processCpuNs + b.processCpuNs)))
    }
  }

  def toJson: String = spans.map { s =>
    Json.obj(Seq("id" -> s.id, "parent" -> s.parent, "exec" -> s.exec, "name" -> s.name,
      "start_ns" -> s.startNs, "end_ns" -> s.endNs,
      "counts" -> Json.obj(Counts.Names.map(n => n -> s.counts(n)) :+
        ("process_cpu_ns" -> s.counts.processCpuNs)))).text
  }.mkString("[\n", ",\n", "\n]\n")
}

/** Just enough JSON for the harness's own outputs. */
object Json {
  def value(v: Any): String = v match {
    case null => "null"
    case s: String => "\"" + s.flatMap {
      case '"' => "\\\""; case '\\' => "\\\\"; case '\n' => "\\n"
      case ch if ch < ' ' => f"\\u${ch.toInt}%04x"; case ch => ch.toString
    } + "\""
    case d: Double => if (d.isNaN || d.isInfinite) "null" else d.toString
    case b: Boolean => b.toString
    case n: Int => n.toString
    case n: Long => n.toString
    case raw: Raw => raw.text
    case m: Map[_, _] => obj(m.toSeq.map { case (k, x) => k.toString -> x }).text
    case xs: Iterable[_] => xs.map(value).mkString("[", ", ", "]")
    case other => value(other.toString)
  }

  final case class Raw(text: String)

  def obj(kv: Iterable[(String, Any)]): Raw =
    Raw(kv.map { case (k, x) => value(k) + ": " + value(x) }.mkString("{", ", ", "}"))
}
