package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.SparkPlan
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec

import graft.engine.Caches

/** Prints physical-plan facts for the declared queries: scan pushdown,
  * partition pruning, join strategies, exchanges, codegen coverage.
  * Run: sbt "runMain graft.PlanAudit [query...]"
  */
object PlanAudit {

  /** Tree text of a physical plan. An adaptive plan prints its current plan
    * only: the final one once it ran, where its own string would repeat
    * the initial plan beneath it.
    */
  def planText(plan: SparkPlan): String = plan match {
    case a: AdaptiveSparkPlanExec => a.executedPlan.toString
    case p => p.toString
  }

  /** The executed plan of the query `build` returns, then the cached plans
    * of the intermediates it registered while it was built
    * (`Caches.registeredPlans`). The query's plan scans each registered
    * frame as one leaf, so an audit of it alone would miss what runs
    * inside them. Starts and ends with `Caches.releaseAll`.
    */
  def auditedPlans(build: => DataFrame): Seq[String] = {
    Caches.releaseAll()
    try {
      val query = build.queryExecution.executedPlan.toString
      query +: Caches.registeredPlans.map(planText)
    } finally Caches.releaseAll()
  }

  /** Lines proving the scan pruned partitions at listing time (a non-empty
    * `PartitionFilters: [...]` on a FileScan means whole directories are
    * skipped before any file is opened).
    */
  def partitionFilterLines(plan: String): Seq[String] =
    plan.linesIterator.filter(_.contains("PartitionFilters: ["))
      .map(l => l.substring(l.indexOf("PartitionFilters:")).take(90))
      .toSeq.distinct
      .filterNot(_.startsWith("PartitionFilters: []"))

  /** Projection stages that fell OUT of whole-stage codegen because they
    * evaluate a per-element lambda interpreted (HOF exprs are
    * CodegenFallback): a bare `Project` — no `*(n)` codegen id — whose
    * expressions contain `lambdafunction`. On a hot path this is the t9
    * failure mode (~5-10x slower than the codegen'd equivalent); PlanAudit
    * surfaces it and PlanAuditSpec gates it for the corpus-scale queries.
    */
  def interpretedLambdaProjects(plan: String): Seq[String] =
    plan.linesIterator.filter { l =>
      val t = l.dropWhile(c => c == ' ' || c == ':' || c == '+' || c == '-')
      t.startsWith("Project [") && t.contains("lambdafunction")
    }.map(_.trim.take(100)).toSeq

  def main(args: Array[String]): Unit = {
    SparkEntry.requireKnownQueries(args.toSeq)
    val spark = graft.engine.Session.local("8")
    val dir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.01")
    val names = if (args.nonEmpty) args.toSeq else SparkEntry.queries.keys.toSeq.sorted
    names.foreach { name =>
      val plan = auditedPlans(SparkEntry.queries(name)(spark, dir)).mkString("\n")
      // plan_id annotations are unique per occurrence — strip them before
      // grouping or every AQE-annotated Exchange line counts as distinct
      // and the multiplicity rollup degenerates to a flood of "1x" rows.
      val joins = plan.linesIterator.filter(l =>
        l.contains("Join") || l.contains("Cartesian") || l.contains("Exchange"))
        .map(_.trim.takeWhile(_ != '(')
          .replaceAll(",? \\[plan_id=\\d+\\]", "")).toSeq
      val pushed = plan.linesIterator.filter(_.contains("PushedFilters: [")).flatMap(l =>
        Option(l.substring(l.indexOf("PushedFilters:")).take(80))).toSeq.distinct
      println(s"== $name")
      joins.groupBy(identity).toSeq.sortBy(_._1).foreach { case (k, v) => println(s"   ${v.size}x $k") }
      pushed.take(3).foreach(p => println(s"   $p"))
      partitionFilterLines(plan).take(3).foreach(p => println(s"   $p"))
      interpretedLambdaProjects(plan).take(3).foreach(p =>
        println(s"   INTERPRETED-LAMBDA $p"))
    }
    spark.stop()
  }
}
