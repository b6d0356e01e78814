package graft

/** Times a single declared query N times (default 5) — the per-query
  * feedback loop for plan iteration without a full Bench sweep.
  * Run: sbt "runMain graft.BenchOne <query> [reps]"; SPARK_GRAFT_SF_DIR
  * picks the scale (default sf0.1, the bench operating point).
  */
object BenchOne {
  def main(args: Array[String]): Unit = {
    val name = args(0)
    val reps = if (args.length > 1) args(1).toInt else 5
    SparkEntry.requireKnownQueries(Seq(name))
    val dir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val spark = graft.engine.Session.local()
    val fn = SparkEntry.queries(name)
    val times = (1 to reps).map { _ =>
      spark.catalog.clearCache()
      val t0 = System.nanoTime()
      fn(spark, dir).write.mode("overwrite").format("noop").save()
      (System.nanoTime() - t0) / 1e9
    }
    println(f"$name: min=${times.min}%.3f median=${times.sorted.apply(reps / 2)}%.3f all=${times.map(t => f"$t%.3f").mkString(",")}")
    spark.stop()
  }
}
