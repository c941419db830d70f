package graft.perfbench

import graft.Document
import graft.corpus.Corpus
import graft.extract.Extract
import graft.plans._
import org.apache.spark.sql.SparkSession

/** The product path: ExtractMain's fused pipeline over a pre-materialized
  * seeded `Corpus.input` table — `ManifestIO.pruneCommitted` → fused
  * `ExtractJob.extract` → `ManifestIO.write` into a fresh directory — then
  * the golden span-sequence check (`GoldenDiff.matchRate` against
  * `ExtractJob.generateGoldens`).
  *
  * The pipeline phase is extract-and-commit (docs_per_s: committed docs
  * over its time), followup_s the golden check. A doc counts as
  * failed when the kernel error-tagged it or its committed spans differ
  * from its golden. */
final class ExtractWorkload(seed: Long, cores: Int) extends Workload {
  import ExtractWorkload._

  private val parts    = cores * 2 // ExtractMain: 2 waves per core
  private val nBuckets = cores * 8 // ExtractMain's fused bucket count
  private var input: String = _

  val layerMetrics: Seq[String] = Seq(
    "extract.kernel_us_per_doc", "extract.kernel_p99_us", "extract.kernel_cpu_s",
    "extract.error_docs", "plans.scan_shuffle_s", "plans.kernel_write_s", "plans.task_skew",
    "plans.nonempty_partitions", "plans.shuffle_write_mb", "plans.commit_s", "plans.verify_s",
    "plans.verify_shuffle_mb")

  val warmups       = 2
  val minIterations = 2
  val iterationS    = 5.5

  def configure(b: SparkSession.Builder): SparkSession.Builder =
    b.config("spark.sql.files.maxPartitionBytes", s"${16 * 1024 * 1024}")
      .config("spark.hadoop.mapreduce.fileoutputcommitter.algorithm.version", "2")

  def materialize(spark: SparkSession, dir: String): Unit = {
    ExtractJob.generateInputs(spark, Docs, seed, parts).write.mode("overwrite").parquet(dir)
    input = dir
  }

  def iterate(spark: SparkSession, out: String, tracer: Option[Tracer]): IterResult = {
    import spark.implicits._
    val lineage   = new LineageAccumulator
    val bucketAcc = new BucketStatsAccumulator
    spark.sparkContext.register(lineage, "extract-lineage")
    spark.sparkContext.register(bucketAcc, "bucket-stats")

    val (_, pipelineS) = Workload.timed {
      Trace.span(tracer, "pipeline") {
        val in = Trace.span(tracer, "plans.ManifestIO.pruneCommitted") {
          ManifestIO.pruneCommitted(spark.read.parquet(input).as[Document], out, nBuckets)
        }
        val extracted = Trace.span(tracer, "plans.ExtractJob.extract") {
          ExtractJob.extract(in, numPartitions = nBuckets, lineage = Some(lineage),
            partitionExpr = Some(ManifestIO.bucketExpr(nBuckets)),
            bucketStats = Some((bucketAcc, nBuckets, 0)))
        }
        Trace.span(tracer, "plans.ManifestIO.write") {
          ManifestIO.write(extracted, out, nBuckets = nBuckets, runId = "bench",
            prePartitioned = true, statsSource = Some(bucketAcc))
        }
      }
    }
    // untraced iterations check the same committed output FollowupReps
    // times; traced ones once, so that their spans cover one check
    val checks = (1 to (if (tracer.isEmpty) FollowupReps else 1)).map { _ =>
      Workload.timed {
        Trace.span(tracer, "followup") {
          Trace.span(tracer, "plans.GoldenDiff.matchRate")(verify(spark, out))
        }
      }
    }
    val (total, _) = checks.head._1

    val stats  = lineage.value.values
    val docs   = stats.map(_.docs).sum
    val errors = stats.map(_.errors).sum
    val failed = checks.map { case ((t, matching), _) => failedDocs(t, matching, errors) }.max
    val layers = tracer.fold(Map.empty[String, Double]) { t =>
      val kernel = Trace.span(tracer, "extract.Extract.document")(kernelSample())
      layerMetricsFrom(t, kernel) ++ Map(
        "extract.kernel_cpu_s"      -> stats.map(_.nanos).sum / 1e9,
        "extract.error_docs"        -> errors.toDouble,
        "plans.nonempty_partitions" -> lineage.value.size.toDouble)
    }
    IterResult(pipelineS, checks.map(_._2), docs, attempted = total, failed = failed, layers)
  }

  /** The golden check: (golden docs, docs whose committed spans match). */
  def verify(spark: SparkSession, out: String): (Long, Long) =
    GoldenDiff.matchRate(ManifestIO.read(spark, out), ExtractJob.generateGoldens(spark, Docs, seed, parts))

  /** Per-doc `Extract.document` times in microseconds on the calling
    * thread, over the workload's own input (1,000 samples: the p99 leaves
    * 10 beyond it). */
  private def kernelSample(): Seq[Double] =
    (0L until Docs).map { i =>
      val d  = Corpus.input(i, seed)
      val t0 = System.nanoTime()
      Extract.document(d)
      (System.nanoTime() - t0) / 1e3
    }

  private def layerMetricsFrom(t: Tracer, kernelUs: Seq[Double]): Map[String, Double] = {
    val write  = t.named("plans.ManifestIO.write").last
    val verify = t.named("plans.GoldenDiff.matchRate").last
    val stages = write.spark.stages
    // the scan stage writes the one full-document shuffle; the kernel
    // stage reads it and writes the bucketed parquet
    val scan   = stages.maxByOption(_.shuffleWriteBytes).filter(_.shuffleWriteBytes > 0)
    val kernel = stages.maxByOption(_.shuffleReadBytes).filter(_.shuffleReadBytes > 0)
    val skew = kernel.map { k =>
      val busy = k.taskRunMs.zip(k.taskRecordsIn).collect { case (ms, n) if n > 0 => ms.toDouble }
      if (busy.isEmpty) 0.0 else busy.max / math.max(1.0, Stats.median(busy))
    }.getOrElse(0.0)
    val lastJobEnd = write.spark.jobEnds.lastOption.getOrElse(write.endWallMs)
    Map(
      "extract.kernel_us_per_doc" -> kernelUs.sum / kernelUs.size,
      "extract.kernel_p99_us"     -> Stats.percentile(kernelUs, 99),
      "plans.scan_shuffle_s"      -> scan.map(_.wallS).getOrElse(0.0),
      "plans.kernel_write_s"      -> kernel.map(_.wallS).getOrElse(0.0),
      "plans.task_skew"           -> skew,
      "plans.shuffle_write_mb"    -> write.counters("shuffle_write_mb"),
      "plans.commit_s"            -> math.max(0L, write.endWallMs - lastJobEnd) / 1e3,
      "plans.verify_s"            -> verify.seconds,
      "plans.verify_shuffle_mb"   -> verify.counters("shuffle_write_mb"))
  }
}

object ExtractWorkload {
  /** Documents per iteration: large enough that the kernel stage, not
    * job scheduling, is the largest share of the pipeline (80 % of it on
    * 3 cores; see NOTES.md). */
  val Docs = 1000L

  /** Golden checks per untraced iteration, each a `followup_s` sample.
    * One check is ~1.5 s of few-task stages whose time swings by ~10 %
    * from one check to the next; more samples per run steady the median
    * (see NOTES.md). The check only reads the committed output. */
  val FollowupReps = 2

  /** Golden-mismatched plus error-tagged docs, at most every doc. A doc
    * that is both counts twice before the cap. */
  def failedDocs(total: Long, matching: Long, errors: Long): Long =
    math.min(total, (total - matching) + errors)

  def deleteRecursively(p: java.nio.file.Path): Unit =
    if (java.nio.file.Files.exists(p)) {
      import scala.jdk.CollectionConverters._
      java.nio.file.Files.walk(p).iterator().asScala.toSeq.reverse.foreach(java.nio.file.Files.deleteIfExists(_))
    }
}
