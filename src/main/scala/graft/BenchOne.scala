package graft

/** Times a single declared query N times (default 5) — the per-query
  * feedback loop for plan iteration without a full Bench sweep — and
  * prints the fastest pass's jobs, stages, tasks and task time: serial
  * floors (store lifecycles, micro-batch machinery) show up as job counts
  * that dwarf the data volume.
  * Run: sbt "runMain graft.BenchOne <query> [reps]"; SPARK_GRAFT_SF_DIR
  * picks the scale (default sf0.1, the bench operating point).
  */
object BenchOne {
  def main(args: Array[String]): Unit = {
    val name = args(0)
    val reps = if (args.length > 1) args(1).toInt else 5
    SparkEntry.requireKnownQueries(Seq(name))
    val dir = Harness.sfDir
    val spark = graft.engine.Session.local()
    val harness = new Harness(spark)
    val fn = SparkEntry.queries(name)
    val passes = (1 to reps).map(_ => harness.pass(fn(spark, dir)))
    passes.flatMap(_.error).distinct.foreach(e => println(s"$name FAILED: $e"))
    val times = passes.map(_.seconds)
    val c = passes.minBy(_.seconds).counts
    println(f"$name: min=${times.min}%.3f median=${Bench.median(times)}%.3f" +
      f" all=${times.map(t => f"$t%.3f").mkString(",")}" +
      f" jobs=${c.jobs} stages=${c.stages} tasks=${c.tasks}" +
      f" task_time=${c.taskTime}%.1f s")
    spark.stop()
  }
}
