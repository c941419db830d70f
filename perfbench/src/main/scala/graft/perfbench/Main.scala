package graft.perfbench

import org.apache.spark.sql.SparkSession

import java.lang.management.ManagementFactory
import java.nio.file.Paths
import scala.collection.mutable.ArrayBuffer
import scala.util.control.NonFatal

/** The benchmark's entry point: one workload, one seed, one closed loop.
  *
  * Usage: graft.perfbench.Main --workload <name> --seed <n> --seconds <s>
  *          --trace <0|1> --work <dir> --traces <dir>
  *
  * Set-up creates the session, materializes the seeded inputs, calibrates
  * the host and runs the workload's untimed warm-up iterations; `setup_s` is the wall
  * time from JVM start to the end of the warm-up. The timed loop then runs
  * one iteration at a time, each into a fresh directory, as many as
  * `--seconds` holds at the workload's nominal iteration time (at least
  * its minimum). The calibration is taken again at the end. The last stdout line is the result object; the lines before it
  * carry the samples behind each median and the calibration.
  *
  * With `--trace 1` iterations alternate between untraced and traced (a
  * Spark listener plus one span per layer call, written as JSONL under
  * `--traces`); the per-layer metrics are medians over the traced ones
  * and `trace.overhead_s` is the traced minus the untraced median time. */
object Main {
  final case class Args(workload: String, seed: Long, seconds: Int, trace: Boolean,
      work: String, traces: String)

  def parse(argv: Array[String]): Args = {
    val kv = argv.grouped(2).collect { case Array(k, v) if k.startsWith("--") => k.drop(2) -> v }.toMap
    def need(k: String) = kv.getOrElse(k, throw new IllegalArgumentException(s"missing --$k"))
    val trace = need("trace")
    require(trace == "0" || trace == "1", s"--trace must be 0 or 1, got $trace")
    val seconds = need("seconds").toInt
    require(seconds > 0, s"--seconds must be positive, got $seconds")
    Args(need("workload"), need("seed").toLong, seconds, trace == "1", need("work"), need("traces"))
  }

  private def peakRssMb(): Double =
    scala.io.Source.fromFile("/proc/self/status").getLines()
      .collectFirst { case l if l.startsWith("VmHWM:") => l.split("\\s+")(1).toDouble / 1024 }
      .getOrElse(throw new IllegalStateException("no VmHWM in /proc/self/status"))

  private def delete(dir: String): Unit = ExtractWorkload.deleteRecursively(Paths.get(dir))

  def main(argv: Array[String]): Unit = {
    val jvmStartMs = ManagementFactory.getRuntimeMXBean.getStartTime
    val a          = parse(argv)
    val cores      = Runtime.getRuntime.availableProcessors // set by the launcher
    val wl         = Workload(a.workload, a.seed, cores)
    val spark = wl.configure(SparkSession.builder()
        .master(s"local[$cores]")
        .appName(s"perfbench-${a.workload}")
        .config("spark.sql.shuffle.partitions", cores.toString)
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.ui.enabled", "false")
        .config("spark.local.dir", s"${a.work}/spark-local")
        .config("spark.sql.warehouse.dir", s"${a.work}/warehouse"))
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    val sessionS = (System.currentTimeMillis() - jvmStartMs) / 1e3

    val genS = Workload.timed(wl.materialize(spark, s"${a.work}/inputs"))._2
    val calInputs = Calibration.inputs(a.seed)
    Calibration.warm(calInputs)
    val calStart = Calibration.sample(calInputs)

    var attempted = 0L
    var failed    = 0L
    var broken    = false
    def run(k: Int, tracer: Option[Tracer]): Option[(IterResult, Double)] = {
      val out = s"${a.work}/iter-$k"
      try {
        val (r, wall) = Workload.timed(Trace.span(tracer, "iteration")(wl.iterate(spark, out, tracer)))
        attempted += r.attempted
        failed += r.failed
        Some((r, wall))
      } catch {
        case NonFatal(e) =>
          System.err.println(s"iteration $k failed:"); e.printStackTrace()
          attempted += 1; failed += 1; broken = true
          None
      } finally {
        spark.catalog.clearCache()
        delete(out)
      }
    }

    val warmS  = (1 to wl.warmups).map(i => run(-i, None).fold(0.0)(_._2))
    val setupS = (System.currentTimeMillis() - jvmStartMs) / 1e3

    val counters = if (a.trace) Some(new SparkCounters(spark.sparkContext)) else None
    val plain    = ArrayBuffer.empty[IterResult]
    val traced   = ArrayBuffer.empty[(IterResult, Tracer)]
    val walls    = ArrayBuffer.empty[Double]
    var k = 0
    // traced runs bracket each traced iteration with untraced ones, so the
    // overhead is not read against a still-warming first iteration
    val minIterations = if (a.trace) math.max(3, wl.minIterations) else wl.minIterations
    val iterations    = math.max(minIterations, math.round(a.seconds / wl.iterationS).toInt)
    while (!broken && walls.size < iterations) {
      if (a.trace && k % 2 == 1) {
        val tracer = new Tracer(s"${a.workload}-${a.seed}-$k", counters)
        spark.sparkContext.addSparkListener(counters.get)
        val r = try run(k, Some(tracer)) finally spark.sparkContext.removeSparkListener(counters.get)
        r.foreach { case (res, wall) => traced += ((res, tracer)); walls += wall }
      } else run(k, None).foreach { case (res, wall) => plain += res; walls += wall }
      k += 1
    }
    val calEnd = Calibration.sample(calInputs)

    println(Json.obj(Seq("calibration" -> Json.obj(Seq("start" -> calStart.json, "end" -> calEnd.json)))))
    def list(xs: Seq[Double]) = xs.map(Json.num).mkString("[", ",", "]")
    println(Json.obj(Seq("samples" -> Json.obj(Seq(
      "session_s" -> Json.num(sessionS), "materialize_s" -> Json.num(genS), "warmup_s" -> list(warmS),
      "pipeline_s" -> list(plain.map(_.pipelineS).toSeq),
      "followup_s" -> list(plain.flatMap(_.followupS).toSeq),
      "traced_pipeline_s" -> list(traced.map(_._1.pipelineS).toSeq),
      "traced_followup_s" -> list(traced.flatMap(_._1.followupS).toSeq),
      "iteration_wall_s" -> list(walls.toSeq))))))

    if (plain.isEmpty || (a.trace && traced.isEmpty)) {
      System.err.println("no complete iteration: nothing to report")
      spark.stop()
      sys.exit(1)
    }

    val metrics =
      if (!a.trace) {
        Metrics.render(Metrics.EndToEnd, Map(
          "setup_s"     -> setupS,
          "followup_s"  -> Stats.median(plain.flatMap(_.followupS).toSeq),
          "docs_per_s"  -> Stats.median(plain.map(r => r.docs / r.pipelineS).toSeq),
          "peak_rss_mb" -> peakRssMb()))
      } else {
        val file = Paths.get(a.traces, s"${a.workload}-seed${a.seed}-${System.currentTimeMillis()}.jsonl")
        traced.foreach(_._2.writeJsonl(file))
        println(Json.obj(Seq("trace_file" -> s""""$file"""", "spans" -> traced.map(_._2.spans.size).sum.toString)))
        Metrics.render(Metrics.PerLayer, layerValues(wl, plain.toSeq, traced.toSeq, calStart, calEnd,
          if (attempted == 0) 0.0 else failed.toDouble / attempted))
      }
    println(Json.obj(Seq(
      "correct" -> (!broken && failed == 0).toString,
      "attempted" -> attempted.toString,
      "failed" -> failed.toString,
      "metrics" -> metrics)))
    spark.stop()
    sys.exit(0)
  }

  /** Per-layer values: the workload's own, medians over traced iterations;
    * Spark totals and self time over the two timed phases' spans;
    * 0 for the layers of other workloads. */
  def layerValues(wl: Workload, plain: Seq[IterResult], traced: Seq[(IterResult, Tracer)],
      calStart: Calibration.Sample, calEnd: Calibration.Sample, failedShare: Double): Map[String, Double] = {
    def med(f: ((IterResult, Tracer)) => Double) = Stats.median(traced.map(f))
    def phaseTotal(t: Tracer, key: String) = Workload.Phases.flatMap(t.named).map(_.counters(key)).sum
    def phaseSelf(t: Tracer) = Workload.Phases.flatMap(t.named).map(t.selfNs).sum / 1e9
    val own = wl.layerMetrics.map(m => m -> med(_._1.layers(m))).toMap
    val zeros = Metrics.PerLayer.map(_.name -> 0.0).toMap
    zeros ++ own ++ Map(
      "spark.jobs"                 -> med(x => phaseTotal(x._2, "jobs")),
      "spark.tasks"                -> med(x => phaseTotal(x._2, "tasks")),
      "spark.cpu_s"                -> med(x => phaseTotal(x._2, "cpu_s")),
      "spark.gc_s"                 -> med(x => phaseTotal(x._2, "gc_s")),
      "spark.spill_mb"             -> med(x => phaseTotal(x._2, "spill_mb")),
      "trace.phase_self_s"         -> med(x => phaseSelf(x._2)),
      "trace.overhead_s"           -> (med(x => x._1.pipelineS + Stats.median(x._1.followupS)) -
        Stats.median(plain.map(r => r.pipelineS + Stats.median(r.followupS)))),
      "host.cal1_start_docs_per_s" -> calStart.oneThread,
      "host.cal4_start_docs_per_s" -> calStart.fourThreads,
      "host.cal1_end_docs_per_s"   -> calEnd.oneThread,
      "host.cal4_end_docs_per_s"   -> calEnd.fourThreads,
      "failed_share"               -> failedShare)
  }
}
