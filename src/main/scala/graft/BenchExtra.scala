package graft

import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Paths}

/** Plan-capture companion to the (frozen) [[Bench]] main — guide §1:
  * record `.explain("formatted")` for named catalog queries so plan-shape
  * claims (Exchange counts, join strategies, PushedFilters) are checkable
  * artifacts, not assertions. Timing stays in [[Bench]] (its
  * `SPARK_GRAFT_ONLY` subset mode); this main only materializes plans.
  *
  * Usage: runMain graft.BenchExtra <sfDir> <outDir> <suffix> q1,q2,...
  * Writes <outDir>/<query>_<suffix>.txt per query.
  */
object BenchExtra {
  def main(args: Array[String]): Unit = {
    val Array(sfDir, outDir, suffix, qlist) = args.take(4)
    val keys  = SparkEntry.keys(qlist)
    val spark = MainSession.start("graft-bench-extra")
    Files.createDirectories(Paths.get(outDir))
    graft.operators.ExtractQueries.auxWrites = false
    keys.foreach { name =>
      val plan =
        try SparkEntry.queries(name)(spark, sfDir).queryExecution.explainString(
          org.apache.spark.sql.execution.FormattedMode)
        catch { case scala.util.control.NonFatal(e) => s"ERROR: $e" }
      Files.write(Paths.get(outDir, s"${name}_$suffix.txt"),
        plan.getBytes(StandardCharsets.UTF_8))
      spark.catalog.clearCache()
      System.err.println(s"[benchextra] wrote $name")
    }
    spark.stop()
  }
}
