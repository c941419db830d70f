package graft.perfbench

import org.apache.spark.sql.SparkSession

/** One closed-loop iteration: the two timed phases (the follow-up once per
  * run of it, see [[ExtractWorkload.FollowupReps]]), the docs that went
  * through the first, the output check, and (traced iterations only) the
  * per-layer metrics read from the spans. */
final case class IterResult(
    pipelineS: Double,
    followupS: Seq[Double],
    docs: Long,
    attempted: Long,
    failed: Long,
    layers: Map[String, Double])

/** A named workload. [[Main]] materializes its seeded inputs, then runs
  * [[iterate]] one iteration at a time, each into a fresh directory. */
trait Workload {
  /** The per-layer metrics this workload measures; every other per-layer
    * metric belongs to a layer it never calls and reads 0. */
  def layerMetrics: Seq[String]

  /** Untimed iterations before the timed ones, so that the timed ones
    * do not still speed up from one to the next (the JIT). */
  def warmups: Int

  /** Timed iterations a run makes however short `--seconds` is. */
  def minIterations: Int

  /** Nominal wall time of one timed iteration. A run makes
    * `--seconds / iterationS` iterations (rounded, at least
    * [[minIterations]]): fixed for a given `--seconds`, so that a slow
    * window does not also change how many samples the median takes. */
  def iterationS: Double

  /** Spark settings of the entry point whose pipeline this workload runs. */
  def configure(b: SparkSession.Builder): SparkSession.Builder

  /** Writes the seeded inputs under `dir`; the last call's inputs are the
    * ones iterated over. */
  def materialize(spark: SparkSession, dir: String): Unit

  /** One iteration into `out`. Traced, the two timed phases are the spans
    * [[Workload.Phases]], each around the layer calls of that phase. */
  def iterate(spark: SparkSession, out: String, tracer: Option[Tracer]): IterResult
}

object Workload {
  val Names: Seq[String] = Seq("extract", "curate")

  val Phases: Seq[String] = Seq("pipeline", "followup")

  def apply(name: String, seed: Long, cores: Int): Workload = name match {
    case "extract" => new ExtractWorkload(seed, cores)
    case "curate"  => new CurateWorkload(seed)
    case other =>
      throw new IllegalArgumentException(s"unknown workload '$other' (known: ${Names.mkString(", ")})")
  }

  def timed[A](body: => A): (A, Double) = {
    val t0 = System.nanoTime()
    val r  = body
    (r, (System.nanoTime() - t0) / 1e9)
  }
}
