package graft

import com.fasterxml.jackson.databind.ObjectMapper
import org.apache.spark.scheduler.{SparkListener, SparkListenerTaskEnd}
import org.apache.spark.sql.DataFrame
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

import graft.engine.{Caches, PhaseTimer}

/** The shared measurement loop (`Harness`): a pass releases what its query
  * registered and drains its phases, a failed build is reported and still
  * released, each pass counts only its own jobs and tasks, and the one JSON
  * string escaper yields text a JSON parser reads back unchanged.
  */
class HarnessSpec extends AnyFunSuite with BeforeAndAfterAll {
  private lazy val spark = TestSpark.spark
  private lazy val harness = new Harness(spark)

  // The session is shared by every suite: leave no counting listener on it.
  override def afterAll(): Unit =
    try harness.close() finally super.afterAll()

  /** One job of three tasks: a three-partition range, no exchange. */
  private def oneJob: DataFrame = spark.range(0, 100, 1, 3).toDF("id")

  /** Two RDD jobs of two tasks each at construction, then [[oneJob]]. */
  private def threeJobs: DataFrame = {
    spark.sparkContext.parallelize(1 to 10, 2).count()
    spark.sparkContext.parallelize(1 to 10, 2).count()
    oneJob
  }

  test("a pass releases the intermediates its query registered and drains its phases") {
    Harness.release(spark) // clean slate: an earlier suite may leave some
    val p = harness.pass {
      val reg = PhaseTimer.time("build") {
        Caches.persisted(spark.range(0, 1000, 1, 2).toDF("id"))
      }
      assert(Caches.trackedCount == 1)
      reg.selectExpr("id * 2 AS x")
    }
    assert(p.ok, p.error)
    assert(p.phases.keySet == Set("build"))
    assert(p.phases("build") <= p.seconds)
    assert(Caches.trackedCount == 0)
    assert(Caches.registeredPlans.isEmpty)
    assert(PhaseTimer.drain().isEmpty)
  }

  test("a build that throws is a failed pass and is still released") {
    val p = harness.pass {
      PhaseTimer.time("build") {
        Caches.persisted(spark.range(0, 10, 1, 1).toDF("id"))
      }
      throw new IllegalStateException("build broke")
    }
    assert(!p.ok)
    assert(p.error.contains("build broke"))
    assert(p.phases.keySet == Set("build"))
    assert(Caches.trackedCount == 0)
    assert(PhaseTimer.drain().isEmpty)
  }

  test("jobs and tasks are attributed to the pass that ran them") {
    harness.pass(oneJob) // warm: the first execution may plan side jobs
    // A slow listener on the same bus holds back every event behind it, so
    // a pass that read its counts before the bus drained would miss them.
    val slow = new SparkListener {
      override def onTaskEnd(t: SparkListenerTaskEnd): Unit = Thread.sleep(50)
    }
    spark.sparkContext.addSparkListener(slow)
    try {
      val a = harness.pass(oneJob).counts
      val b = harness.pass(threeJobs).counts
      spark.sparkContext.parallelize(1 to 10, 2).count() // between passes
      val c = harness.pass(oneJob).counts
      assert((a.jobs, a.stages, a.tasks) == ((1, 1, 3)))
      assert((b.jobs, b.stages, b.tasks) == ((3, 3, 7)))
      assert(c == a.copy(taskTime = c.taskTime))
      assert(Seq(a, b, c).forall(_.taskTime >= 0.0))
    } finally spark.sparkContext.removeSparkListener(slow)
  }

  test("a closed harness leaves its listener off the session's bus") {
    val h = new Harness(spark)
    h.pass(oneJob)
    h.close()
    assert(h.pass(oneJob).counts == Harness.Counts(0, 0, 0, 0.0))
  }

  test("a pass rule takes a third pass only for a slow or unsteady query") {
    val steady = harness.passes(warmupSeconds = 60.0) {
      Thread.sleep(300) // keeps the two passes within 2× of each other
      oneJob
    }
    assert(steady.size == 2)
    var n = 0
    val slow = harness.passes(warmupSeconds = 0.0) {
      n += 1
      if (n == 2) Thread.sleep(400)
      oneJob
    }
    assert(slow.size == 3)
  }

  test("a failed pass's message comes out of jsonString as JSON that parses") {
    val msg = "decode failed at \u0001\u001f: \"bad\" \\ path\ttab\r\n"
    val p = harness.pass(throw new RuntimeException(msg))
    val parsed = new ObjectMapper().readTree(
      "{\"errors\":{" + Harness.jsonString("q1") + ":" +
        Harness.jsonString(p.error.get) + "}}")
    assert(parsed.get("errors").get("q1").asText() == msg)
  }
}
