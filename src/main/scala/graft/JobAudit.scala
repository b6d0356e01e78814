package graft

import java.util.concurrent.atomic.{AtomicInteger, AtomicLong}

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart,
  SparkListenerStageCompleted, SparkListenerTaskEnd}

/** Measurement-only: runs each named query once against the noop sink with
  * a SparkListener attached and prints the query's JOB / STAGE / TASK counts
  * and total task time — the per-query scheduling-overhead audit the
  * optimization guide's §7.1 does through the UI. Serial floors (store
  * lifecycles, micro-batch machinery) show up here as job counts that dwarf
  * the data volume; a data-bound query shows a handful of jobs.
  *
  * Run: sbt "runMain graft.JobAudit <query> [query...]";
  * SPARK_GRAFT_SF_DIR picks the scale (default sf0.1).
  */
object JobAudit {
  def main(args: Array[String]): Unit = {
    SparkEntry.requireKnownQueries(args.toSeq)
    val dir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val spark = graft.engine.Session.local()
    val jobs = new AtomicInteger(0)
    val stages = new AtomicInteger(0)
    val tasks = new AtomicInteger(0)
    val taskMs = new AtomicLong(0L)
    spark.sparkContext.addSparkListener(new SparkListener {
      override def onJobStart(j: SparkListenerJobStart): Unit =
        { jobs.incrementAndGet(); () }
      override def onStageCompleted(s: SparkListenerStageCompleted): Unit =
        { stages.incrementAndGet(); () }
      override def onTaskEnd(t: SparkListenerTaskEnd): Unit = {
        tasks.incrementAndGet()
        if (t.taskInfo != null) taskMs.addAndGet(t.taskInfo.duration)
        ()
      }
    })
    args.foreach { name =>
      val fn = SparkEntry.queries(name)
      // Warm pass: Catalyst + Janino + JIT, so the audited pass counts the
      // steady-state jobs, not compilation side jobs.
      try fn(spark, dir).write.format("noop").mode("overwrite").save()
      catch { case e: Throwable => println(s"[jobaudit] $name warmup: $e") }
      graft.engine.Caches.releaseAll()
      spark.catalog.clearCache()
      Thread.sleep(500) // let the listener bus drain the warmup's events
      jobs.set(0); stages.set(0); tasks.set(0); taskMs.set(0L)
      val t0 = System.nanoTime()
      try fn(spark, dir).write.format("noop").mode("overwrite").save()
      catch { case e: Throwable => println(s"[jobaudit] $name FAILED: $e") }
      val wall = (System.nanoTime() - t0) / 1e9
      graft.engine.Caches.releaseAll()
      spark.catalog.clearCache()
      Thread.sleep(500)
      println(f"[jobaudit] $name: wall=$wall%.3f s jobs=${jobs.get}" +
        f" stages=${stages.get} tasks=${tasks.get}" +
        f" task_time=${taskMs.get / 1000.0}%.1f s")
    }
    spark.stop()
  }
}
