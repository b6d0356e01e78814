package graft

import java.util.concurrent.ConcurrentLinkedQueue
import java.util.concurrent.atomic.AtomicLong

import org.apache.spark.scheduler.{SparkListener, SparkListenerEvent, SparkListenerJobStart}
import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.execution.ui.{SparkListenerSQLAdaptiveExecutionUpdate, SparkListenerSQLExecutionStart}
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.engine.Caches

/** A registered intermediate (`Caches.persisted`) reaches its consumers as
  * one leaf over its cached scan. The plan text Spark builds for a query
  * (the description posted at execution start and with every AQE stage
  * update) must then grow linearly with the depth of nested registrations,
  * where a cached `InMemoryRelation` reprints its whole cached subtree,
  * final and initial plan, under every reference, so that the text
  * multiplies with every level of self-joined registrations.
  */
class RegisteredLeafSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark

  private def base: DataFrame =
    spark.range(0, 3000).select(col("id").as("k"), (col("id") % 97).as("v"))

  /** One level: the frame joined with itself on its key. */
  private def level(f: DataFrame): DataFrame = {
    val other = f.select(col("k").as("k2"), col("v").as("v2"))
    f.join(other, col("k") === col("k2"))
      .select(col("k"), ((col("v") * 3 + col("v2")) % 1009).as("v"))
  }

  private def chain(depth: Int, register: Boolean): DataFrame =
    (1 to depth).foldLeft(base) { (f, _) =>
      if (register) Caches.persisted(level(f)) else level(f)
    }

  /** Characters of plan description posted while `body` runs. Listener
    * events arrive asynchronously: a marker job run after `body` is
    * delivered after all of body's events, so seeing it drains them.
    */
  private def planChars[T](body: => T): (T, Long) = {
    val sc = spark.sparkContext
    val marker = s"plan-text-drain-${java.util.UUID.randomUUID()}"
    val chars = new AtomicLong
    val jobs = new ConcurrentLinkedQueue[String]()
    val listener = new SparkListener {
      override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
        case s: SparkListenerSQLExecutionStart =>
          chars.addAndGet(s.physicalPlanDescription.length)
        case u: SparkListenerSQLAdaptiveExecutionUpdate =>
          chars.addAndGet(u.physicalPlanDescription.length)
        case _ =>
      }
      override def onJobStart(e: SparkListenerJobStart): Unit =
        Option(e.properties).flatMap(p => Option(p.getProperty("spark.job.description")))
          .foreach(jobs.add)
    }
    sc.addSparkListener(listener)
    try {
      val out = body
      sc.setJobDescription(marker)
      try sc.parallelize(Seq(1), 1).count() finally sc.setJobDescription(null)
      val deadline = System.nanoTime() + 30L * 1000000000L
      while (!jobs.contains(marker) && System.nanoTime() < deadline) Thread.sleep(20)
      assert(jobs.contains(marker), "listener bus did not drain")
      (out, chars.get)
    } finally sc.removeSparkListener(listener)
  }

  /** Build `depth` nested registered levels, consume the top one self-joined
    * once more, and return the rows with the plan text it cost. */
  private def registered(depth: Int): (Set[Row], Long) = {
    Caches.releaseAll()
    try planChars(level(chain(depth, register = true)).collect().toSet)
    finally Caches.releaseAll()
  }

  test("plan text grows linearly with nested registrations, rows unchanged") {
    val (rows, chars) = (1 to 3).map(registered).unzip
    info(s"plan text per depth: ${chars.mkString(", ")} chars")
    assert(chars.forall(_ > 0), s"no plan text observed: $chars")
    // Each level adds a bounded amount of text, never a multiple of what
    // the levels below it already cost.
    chars.sliding(2).foreach { case Seq(lo, hi) =>
      assert(hi < lo * 3 / 2, s"plan text per depth ${chars.mkString(", ")}")
    }
    assert(chars(2) - chars(1) <= (chars(1) - chars(0)).abs + chars(0) / 10,
      s"plan text per depth ${chars.mkString(", ")}")
    rows.zipWithIndex.foreach { case (got, i) =>
      val want = level(chain(i + 1, register = false)).collect().toSet
      assert(got.size == 3000 && got == want, s"depth ${i + 1}")
    }
  }

  test("a released leaf recomputes from its lineage") {
    Caches.releaseAll()
    val sc = spark.sparkContext
    val pre = sc.getPersistentRDDs.keySet
    val leaf = chain(2, register = true)
    val added = sc.getPersistentRDDs.keySet -- pre
    assert(added.size == 2)
    Caches.releaseAll()
    val want = chain(2, register = false).collect().toSet
    assert(leaf.collect().toSet == want)
    assert(sc.getPersistentRDDs.keySet.intersect(added).isEmpty)
  }

  test("registering a registered leaf again returns it as is") {
    Caches.releaseAll()
    val leaf = Caches.persisted(level(base))
    assert(Caches.persisted(leaf) eq leaf)
    assert(Caches.trackedCount == 1)
    Caches.releaseAll()
  }
}
