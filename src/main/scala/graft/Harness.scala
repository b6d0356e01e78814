package graft

import java.util.concurrent.atomic.{AtomicInteger, AtomicLong}

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart,
  SparkListenerStageCompleted, SparkListenerTaskEnd}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.classic.GraftBridge

import graft.engine.{Caches, PhaseTimer}

/** The measurement loop the harness mains share: one timed noop-sink pass
  * per query, counted by one listener, and one release step between
  * queries. Building a `Harness` attaches the listener and `close` removes
  * it; `Session.local` attaches none, so `perfbench/` and the tests that
  * build no `Harness` count nothing.
  */
final class Harness(spark: SparkSession) extends AutoCloseable {
  import Harness._

  private val jobs, stages, tasks = new AtomicInteger(0)
  private val taskMs = new AtomicLong(0L)

  private val listener = new SparkListener {
    override def onJobStart(j: SparkListenerJobStart): Unit =
      jobs.incrementAndGet()
    override def onStageCompleted(s: SparkListenerStageCompleted): Unit =
      stages.incrementAndGet()
    override def onTaskEnd(t: SparkListenerTaskEnd): Unit = {
      tasks.incrementAndGet()
      if (t.taskInfo != null) taskMs.addAndGet(t.taskInfo.duration)
    }
  }
  spark.sparkContext.addSparkListener(listener)

  /** Detach the counting listener from the session's bus. */
  override def close(): Unit = spark.sparkContext.removeSparkListener(listener)

  /** The counts since the last call, read once the listener bus has
    * delivered every event posted before it.
    */
  private def drainCounts(): Counts = {
    if (!GraftBridge.drainListenerBus(spark))
      System.err.println("[harness] listener bus did not drain in 60 s;" +
        " the next pass may count late events")
    Counts(jobs.getAndSet(0), stages.getAndSet(0), tasks.getAndSet(0),
      taskMs.getAndSet(0L) / 1000.0)
  }

  /** One timed pass: build the query and write it to the noop sink, which
    * materializes every output column (a `count()` would let Catalyst
    * prune computed columns away), then release. Only the build and the
    * write are timed. A build or write that throws is a failed pass with
    * the exception's message, released like any other.
    */
  def pass(build: => DataFrame): Pass = {
    drainCounts() // events of earlier work belong to no pass
    val t0 = System.nanoTime()
    val error =
      try { build.write.format("noop").mode("overwrite").save(); None }
      catch { case e: Throwable =>
        Some(Option(e.getMessage).getOrElse(e.getClass.getName)) }
    val seconds = (System.nanoTime() - t0) / 1e9
    val phases = release(spark)
    Pass(seconds, error, phases, drainCounts())
  }

  /** Bench's pass rule: two timed passes, then a third after a GC when the
    * two disagree by more than 2×, when the better one is slower than the
    * query's own warm-up (which paid Janino and the JIT on top), or when it
    * takes over 1.5 s. Min-of-two cannot shed a GC storm that ate both
    * passes (one sweep read 16.6 s where a clean re-run read 1.5–2 s), and
    * the expensive queries carry most of a sweep's total.
    */
  def passes(warmupSeconds: Double)(build: => DataFrame): Seq[Pass] = {
    val two = Seq(pass(build), pass(build))
    val ok = two.filter(_.ok).map(_.seconds)
    val spread = ok.size == 2 && ok.max > 2 * ok.min
    val overWarmup = ok.nonEmpty &&
      ok.min > 1.2 * warmupSeconds && ok.min - warmupSeconds > 0.25
    val expensive = ok.nonEmpty && ok.min > 1.5
    if (spread || overWarmup || expensive) { System.gc(); two :+ pass(build) }
    else two
  }
}

object Harness {

  /** The bench operating point, sf0.1. */
  val DefaultSfDir = "/root/testdata/sf0.1"

  /** The scale the mains run at: `SPARK_GRAFT_SF_DIR`, else sf0.1. */
  def sfDir: String = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", DefaultSfDir)

  /** Jobs started, stages completed, tasks ended and their summed duration
    * in seconds: unlike wall time, they do not move with the machine's load.
    */
  final case class Counts(jobs: Int, stages: Int, tasks: Int, taskTime: Double)

  /** A pass's seconds, error (if it failed), `PhaseTimer` phases and counts. */
  final case class Pass(seconds: Double, error: Option[String],
      phases: Map[String, Double], counts: Counts) {
    def ok: Boolean = error.isEmpty
  }

  /** The release step between queries: drop the registered intermediates
    * (`Caches`) and anything cached outside the registry, so a sweep keeps
    * no cached blocks or registered plans across queries, and return the
    * `PhaseTimer` phases recorded since the last release.
    */
  def release(spark: SparkSession): Map[String, Double] = {
    Caches.releaseAll()
    spark.catalog.clearCache()
    PhaseTimer.drain()
  }

  /** `s` as a JSON string literal, every control character escaped: an
    * exception message can carry raw bytes (multimodal decode errors do),
    * and a tab or CR left raw in oracle SQL would make the driver's
    * `json.load` of `oracle_sql.json` fail.
    */
  def jsonString(s: String): String = "\"" + s.flatMap {
    case '"'  => "\\\""
    case '\\' => "\\\\"
    case '\n' => "\\n"
    case '\r' => "\\r"
    case '\t' => "\\t"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  } + "\""
}
