package graft

import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Paths}
import java.util.concurrent.ConcurrentLinkedQueue

import org.apache.spark.graft.BusDrain
import org.apache.spark.scheduler.{SparkListener, SparkListenerEvent}
import org.apache.spark.sql.execution.FormattedMode
import org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionStart

/** Plan-capture companion to the (frozen) [[Bench]] main — guide §1:
  * record `.explain("formatted")` for named catalog queries so plan-shape
  * claims (Exchange counts, join strategies, PushedFilters) are checkable
  * artifacts, not assertions. Timing stays in [[Bench]] (its
  * `SPARK_GRAFT_ONLY` subset mode); this main only materializes plans.
  *
  * A key that checkpoints, collects or counts while it is built returns a
  * frame whose plan hides that work (a checkpointed key explains as a bare
  * `Scan ExistingRDD`). So each dump also appends, in order, every SQL
  * execution the key ran while it was built: `== Action i: <call site> ==`
  * and the formatted plan Spark posted when that execution started.
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
    val started = new ConcurrentLinkedQueue[SparkListenerSQLExecutionStart]()
    spark.sparkContext.addSparkListener(new SparkListener {
      override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
        case s: SparkListenerSQLExecutionStart => started.add(s)
        case _                                  =>
      }
    })
    keys.foreach { name =>
      BusDrain(spark.sparkContext)
      started.clear()
      val plan =
        try SparkEntry.queries(name)(spark, sfDir).queryExecution.explainString(FormattedMode)
        catch { case scala.util.control.NonFatal(e) => s"ERROR: $e" }
      BusDrain(spark.sparkContext)
      val actions = Iterator.continually(started.poll()).takeWhile(_ != null).zipWithIndex
        .map { case (a, i) =>
          s"\n\n== Action ${i + 1}: ${a.description} ==\n${a.physicalPlanDescription}"
        }.mkString
      Files.write(Paths.get(outDir, s"${name}_$suffix.txt"),
        (plan + actions).getBytes(StandardCharsets.UTF_8))
      spark.catalog.clearCache()
      System.err.println(s"[benchextra] wrote $name")
    }
    spark.stop()
  }
}
