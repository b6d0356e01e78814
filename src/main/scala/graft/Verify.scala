package graft
import java.nio.file.{Files, Paths}

import graft.Harness.jsonString

/** Driver-run correctness dump: each SparkEntry.queries result → parquet,
  * plus oracle_sql.json, for the driver's DuckDB compare. */
object Verify {
  def main(args: Array[String]): Unit = {
    val (sfDir, outDir) = (args(0), args(1))
    // Optional third arg (local-iteration only; the driver passes two):
    // comma-separated query names to dump, skipping the rest.
    val only: Option[Set[String]] =
      if (args.length > 2) Some(args(2).split(",").toSet) else None
    val spark = graft.engine.Session.local()
    new java.io.File(outDir).mkdirs()
    // Failed queries are recorded in verify_errors.json alongside the
    // dumps: a query that errors must be visibly red in the artifact, not
    // silently absent (a missing dump reads as "not declared", and a
    // correctness report built only from present dumps overstates health).
    val failures = scala.collection.mutable.LinkedHashMap.empty[String, String]
    SparkEntry.queries
      .filter { case (name, _) => only.forall(_.contains(name)) }
      .foreach { case (name, fn) =>
      try fn(spark, sfDir).coalesce(1).write.mode("overwrite")
        .parquet(s"$outDir/$name")
      catch { case e: Throwable =>
        System.err.println(s"[verify] $name failed: ${e.getMessage}")
        failures(name) = Option(e.getMessage).getOrElse(e.getClass.getName)
      }
      // Same release step as Bench: the sequential dumps must not
      // accumulate cached blocks or registered intermediates.
      Harness.release(spark)
    }
    val json = SparkEntry.oracleSql
      .filter { case (k, _) => only.forall(_.contains(k)) }
      .map { case (k, v) => s"${jsonString(k)}: ${jsonString(v)}" }
      .mkString("{", ",", "}")
    Files.writeString(Paths.get(s"$outDir/oracle_sql.json"), json)
    Files.writeString(Paths.get(s"$outDir/verify_errors.json"),
      failures
        .map { case (k, v) => s"${jsonString(k)}: ${jsonString(v.take(300))}" }
        .mkString("{", ",", "}"))
    spark.stop()
  }
}
