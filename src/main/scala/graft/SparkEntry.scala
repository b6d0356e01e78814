package graft

import org.apache.spark.sql.{DataFrame, SparkSession}

/** Driver contract — see SURVEY.md §7 + VERDICT.md. Queries are grouped by
  * surface in graft.queries.*; each has a DuckDB oracle unless the operator
  * is not SQL-expressible (then the driver records a rows-only check).
  */
object SparkEntry {

  /** Flagship query on /root/testdata/sf0.001; driver smoke-checks rows>0.
    * Runs the reference's end-to-end relational core over the committed
    * fixtures: scan → align → explode → GT join → broadcast station join →
    * filters → aggregate (SURVEY §7 step 3).
    */
  def entry(spark: SparkSession): DataFrame =
    graft.queries.Landsat.flagship(spark)

  /** One entry per implemented operator from SURVEY.md §2. */
  def queries: Map[String, (SparkSession, String) => DataFrame] =
    graft.queries.Relational.queries ++
      graft.queries.Landsat.queries ++
      graft.queries.Events.queries ++
      graft.queries.TextDedup.queries ++
      graft.queries.Embeddings.queries ++
      graft.queries.Lexical.queries

  /** Fails before any session starts when a name is not a declared query,
    * listing every unknown name at once (a typo would otherwise surface as
    * a bare NoSuchElementException after the session is up).
    */
  def requireKnownQueries(names: Seq[String]): Unit = {
    val known = queries
    val unknown = names.filterNot(known.contains).distinct
    require(unknown.isEmpty,
      s"unknown query name(s): ${unknown.mkString(", ")}" +
        s" (${known.size} declared in SparkEntry.queries)")
  }

  /** DuckDB-equivalent SQL per query (driver hash-compares at sf0.01). */
  def oracleSql: Map[String, String] =
    graft.queries.Relational.oracle ++
      graft.queries.Landsat.oracle ++
      graft.queries.Events.oracle ++
      graft.queries.TextDedup.oracle ++
      graft.queries.Embeddings.oracle ++
      graft.queries.Lexical.oracle
}
