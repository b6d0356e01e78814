package graft

/** Writes each named query's `.explain("formatted")` physical plan to
  * `<outDir>/<query>_<tag>.txt` — the before/after plan evidence an
  * optimization round commits alongside the bench numbers. Constructing a
  * lifecycle query's DataFrame runs its build phase (stores, streams); the
  * dump happens after construction, so the committed plan is the one the
  * sink executes. The cached plans of the intermediates the query
  * registered (`Caches.registeredPlans`) follow it.
  *
  * Run: sbt "runMain graft.PlanDump <tag> <outDir> <query> [query...]";
  * SPARK_GRAFT_SF_DIR picks the scale (default sf0.1, the bench operating
  * point).
  */
object PlanDump {
  def main(args: Array[String]): Unit = {
    val tag = args(0)
    val outDir = java.nio.file.Paths.get(args(1))
    val names = args.drop(2)
    SparkEntry.requireKnownQueries(names.toSeq)
    val dir = Harness.sfDir
    val spark = graft.engine.Session.local()
    java.nio.file.Files.createDirectories(outDir)
    names.foreach { name =>
      val plan =
        try {
          val plans = PlanAudit.auditedPlans(
            SparkEntry.queries(name)(spark, dir),
            _.queryExecution.explainString(
              org.apache.spark.sql.execution.FormattedMode))
          (plans.head +: plans.tail.zipWithIndex.map { case (p, i) =>
            s"== Registered intermediate $i ==\n$p"
          }).mkString("\n")
        } catch { case e: Throwable =>
          s"PLAN FAILED: ${e.getClass.getName}: ${e.getMessage}"
        }
      java.nio.file.Files.writeString(
        outDir.resolve(s"${name}_$tag.txt"), plan + "\n")
      println(s"[plandump] wrote ${name}_$tag.txt")
    }
    spark.stop()
  }
}
