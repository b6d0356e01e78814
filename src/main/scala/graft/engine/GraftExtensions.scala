package graft.engine

import org.apache.spark.sql.SparkSessionExtensions

import graft.plans.AsOfJoinStrategy

/** Spark-native deployment hook: `spark.sql.extensions=graft.engine.GraftExtensions`
  * gives any session, including spark-submit, Thrift and Connect sessions the
  * library never touches programmatically, the same surface `Functions.install`
  * registers: every entry of `Functions.table`, plus the as-of join strategy and
  * rules. It declares nothing of its own. `Session.prepare` on such a session
  * finds all of it present and adds nothing.
  */
class GraftExtensions extends (SparkSessionExtensions => Unit) {
  override def apply(ext: SparkSessionExtensions): Unit = {
    Functions.table.foreach(ext.injectFunction)
    ext.injectPlannerStrategy(_ => AsOfJoinStrategy)
    Functions.asOfRules.foreach(rule => ext.injectOptimizerRule(_ => rule))
  }
}
