package graft
import java.nio.file.{Files, Paths}
/** Driver-run correctness dump: each SparkEntry.queries result → parquet,
  * plus oracle_sql.json, for the driver's DuckDB compare. */
object Verify {
  def main(args: Array[String]): Unit = {
    val (sfDir, outDir) = (args(0), args(1))
    // optional 3rd arg: comma-separated query-name filter (iteration aid)
    val only = args.lift(2).map(SparkEntry.keys)
    def selected(name: String) = only.forall(_.contains(name))
    val spark = MainSession.start("graft-verify")
    new java.io.File(outDir).mkdirs()
    // Queries are independent; run 4 at a time on Spark's FIFO scheduler
    // (actions are thread-safe) — most catalog queries are small jobs that
    // underuse the session, so overlapping them ~3x-es the wall time.
    val pool = java.util.concurrent.Executors.newFixedThreadPool(4)
    implicit val ec: scala.concurrent.ExecutionContext =
      scala.concurrent.ExecutionContext.fromExecutor(pool)
    // Delete every query's previous output up front: a failed query must
    // surface as MISSING in the oracle compare, never as a stale pass.
    def rmTree(f: java.io.File): Unit = {
      if (f.isDirectory) f.listFiles().foreach(rmTree)
      f.delete(): Unit
    }
    val failed = new java.util.concurrent.ConcurrentLinkedQueue[String]()
    val runs = SparkEntry.queries.toSeq.filter(q => selected(q._1)).map { case (name, fn) =>
      rmTree(new java.io.File(s"$outDir/$name"))
      scala.concurrent.Future {
        try fn(spark, sfDir).coalesce(1).write.mode("overwrite")
          .parquet(s"$outDir/$name")
        catch { case e: Throwable =>
          failed.add(name)
          System.err.println(s"[verify] $name failed: ${e.getMessage}")
        }
      }
    }
    scala.concurrent.Await.result(
      scala.concurrent.Future.sequence(runs), scala.concurrent.duration.Duration.Inf)
    pool.shutdown()
    // JSON string escape: backslash, quote, and ALL control chars (<0x20)
    // — a tab or CR in builder-authored SQL would otherwise make the
    // driver's json.load fail and silently zero the round's correctness.
    def q(s: String): String = "\"" + graft.eval.J.escape(s) + "\""
    // only the selected keys: a subset run's compare then covers exactly
    // the queries it wrote
    val json = SparkEntry.oracleSql.filter { case (k, _) => selected(k) }
      .map { case (k, v) => s"${q(k)}: ${q(v)}" }.mkString("{", ",", "}")
    Files.writeString(Paths.get(s"$outDir/oracle_sql.json"), json)
    spark.stop()
    if (!failed.isEmpty) {
      System.err.println(s"[verify] ${failed.size} queries failed: $failed")
      sys.exit(1)
    }
  }
}
