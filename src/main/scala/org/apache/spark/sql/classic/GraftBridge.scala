package org.apache.spark.sql.classic

import org.apache.spark.sql.catalyst.plans.logical.LogicalPlan
import org.apache.spark.sql.catalyst.rules.Rule
import org.apache.spark.sql.execution.{LogicalRDD, SparkPlan, SparkStrategy}
import org.apache.spark.sql.execution.columnar.{InMemoryRelation, InMemoryTableScanExec}

/** Narrow bridge into `private[sql]` classic internals, so graft can build
  * DataFrames from its own logical plan nodes (the supported pattern for
  * libraries shipping custom operators — same mechanism Spark uses for every
  * built-in `Dataset` verb). Kept deliberately tiny: everything else in graft
  * goes through the public DataFrame/Dataset API.
  */
object GraftBridge {

  def classicSession(spark: org.apache.spark.sql.SparkSession): SparkSession =
    spark.asInstanceOf[SparkSession]

  /** Wrap a (resolved) logical plan as a DataFrame. */
  def ofRows(spark: org.apache.spark.sql.SparkSession, plan: LogicalPlan): org.apache.spark.sql.DataFrame =
    Dataset.ofRows(classicSession(spark), plan)

  /** The analyzed logical plan of a DataFrame (attributes carry exprIds). */
  def analyzed(df: org.apache.spark.sql.Dataset[_]): LogicalPlan =
    df.asInstanceOf[Dataset[_]].queryExecution.analyzed

  def queryExecution(df: org.apache.spark.sql.Dataset[_]): org.apache.spark.sql.execution.QueryExecution =
    df.asInstanceOf[Dataset[_]].queryExecution

  /** Materialize the cache of an already-persisted `ds` and return a frame
    * whose plan is one leaf over the cached scan, plus the cached physical
    * plan (for audits). The leaf is `LogicalRDD.fromDataset` over the
    * `InMemoryTableScan` row RDD, so consumers plan, explain and post AQE
    * updates for a scan node instead of re-describing the whole cached
    * subtree (an `InMemoryRelation` prints its cached AQE plan twice, and
    * nested registrations double that per level). Statistics are read
    * after the cache is built, so they are the materialized sizes, not
    * optimizer estimates; partitioning and ordering are the cached plan's.
    * The scan RDD keeps its lineage: once the cache is unpersisted, reading
    * the leaf recomputes from the cached plan instead of failing. The
    * materializing job is an RDD count outside any SQL execution, run under
    * the session's job artifact state as a SQL execution is. Without it
    * every registration's tasks ran in a new executor class loader, and the
    * codegen cache, keyed by class loader, missed: a steady Landsat
    * pipeline execution compiled 51 classes anew instead of none.
    */
  def materializedLeaf[T](ds: org.apache.spark.sql.Dataset[T])
      : (org.apache.spark.sql.Dataset[T], SparkPlan) = {
    val session = classicSession(ds.sparkSession)
    val plan = ds.asInstanceOf[Dataset[T]].logicalPlan
    session.withActive(session.artifactManager.withResources {
      val relation = Dataset.ofRows(session, plan).queryExecution.withCachedData
        match {
          case r: InMemoryRelation => r
          case other => throw new IllegalStateException(
            s"frame is not persisted; its plan is ${other.nodeName}")
        }
      val rows = InMemoryTableScanExec(relation.output, Nil, relation).execute()
      relation.cacheBuilder.cachedColumnBuffers.count()
      // A fresh origin, planned only now, so its InMemoryRelation reports
      // the loaded cache's size and row count.
      val leaf = LogicalRDD.fromDataset(rows, Dataset.ofRows(session, plan),
        ds.isStreaming)
      (Dataset[T](session, leaf)(ds.encoder), relation.cachedPlan)
    })
  }

  /** The id of the RDD under `ds` when its plan is one RDD-scan leaf (a
    * frame that [[materializedLeaf]] returned is one). */
  def leafRddId(ds: org.apache.spark.sql.Dataset[_]): Option[Int] =
    analyzed(ds) match {
      case l: LogicalRDD => Some(l.rdd.id)
      case _ => None
    }

  /** Block until every event posted so far reached every listener
    * (`LiveListenerBus.waitUntilEmpty`, `private[spark]`); false when the
    * bus has not drained in 60 s.
    */
  def drainListenerBus(spark: org.apache.spark.sql.SparkSession): Boolean =
    try { spark.sparkContext.listenerBus.waitUntilEmpty(60000L); true }
    catch { case _: java.util.concurrent.TimeoutException => false }

  /** Filesystem location of a catalog table — for maintenance rewrites
    * that must re-read a bucketed table's files as a PLAIN parquet scan
    * (a scan whose partitioning is unknown, so an explicit repartition
    * before a bucketed rewrite survives planning; reading via the table
    * name lets the planner substitute the write's own conf-sized,
    * AQE-coalescible shuffle and the one-file-per-bucket layout is lost).
    */
  def tableLocation(spark: org.apache.spark.sql.SparkSession, db: String,
      table: String): String =
    classicSession(spark).sessionState.catalog
      .getTableMetadata(
        org.apache.spark.sql.catalyst.TableIdentifier(table, Some(db)))
      .location.toString

  /** Idempotently add a planner strategy + optimizer rules to a session.
    * What the session's planner or optimizer already holds is skipped,
    * whether an earlier call added it to `experimental` or
    * `spark.sql.extensions` injected it when the session was built.
    */
  def install(
      spark: org.apache.spark.sql.SparkSession,
      strategy: SparkStrategy,
      rules: Seq[Rule[LogicalPlan]]): Unit = {
    val session = classicSession(spark)
    val em = session.experimental
    em.synchronized {
      if (!session.sessionState.planner.strategies.contains(strategy))
        em.extraStrategies = em.extraStrategies :+ strategy
      val present = em.extraOptimizations ++
        session.sessionState.optimizer.extendedOperatorOptimizationRules
      val missing = rules.filterNot(present.contains)
      if (missing.nonEmpty)
        em.extraOptimizations = em.extraOptimizations ++ missing
    }
  }
}
