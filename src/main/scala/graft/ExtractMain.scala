package graft

import graft.plans.{ExtractJob, GoldenDiff, LineageAccumulator, ManifestIO}

/** spark-submit entry point for the extraction pipeline (BASELINE.json
  * north_rule: "spark-submit-driven at scale ... salted repartitioning,
  * per-partition checkpoint manifests for resume, per-partition lineage +
  * throughput metrics; reruns idempotent").
  *
  * Usage:
  *   graft.ExtractMain <nDocs> <seed> <outDir> [runId] [--check]
  *                     [--input <parquetDir>] [--materialize <parquetDir>]
  *                     [--noop]
  *
  * Default input is the seeded corpus generated distributed from
  * (idx, seed). `--input` scans a parquet documents table instead — the
  * north-rule deployment shape (and the benchmarking shape: generation
  * cost out of the timed path). `--materialize` writes the generated
  * corpus to parquet and exits. `--noop` skips the manifest commit and
  * discards output into the noop sink — isolates kernel+scan scaling from
  * sink behavior. With `--check`, also verifies the north-rule golden
  * invariant (span-sequence equality) and prints the match rate and the
  * check's wall seconds (`checkSec`).
  * Exit code 1 if the check fails. The table has `SPARK_GRAFT_CPUS` × 8
  * buckets, so a resume must run with the count that wrote it.
  */
object ExtractMain {
  private def flagValue(args: Array[String], flag: String): Option[String] =
    args.indexOf(flag) match {
      case i if i >= 0 && i + 1 < args.length => Some(args(i + 1))
      case _                                  => None
    }

  def main(args: Array[String]): Unit = {
    val nDocs  = args.headOption.map(_.toLong).getOrElse(10000L)
    val seed   = if (args.length > 1) args(1).toLong else 42L
    val outDir = if (args.length > 2) args(2) else "/tmp/graft-extract-out"
    val runId  = if (args.length > 3 && !args(3).startsWith("--")) args(3) else s"run-$nDocs-$seed"
    val check  = args.contains("--check")
    val noop   = args.contains("--noop")
    val input  = flagValue(args, "--input")
    val mat    = flagValue(args, "--materialize")

    val cpus = MainSession.cpus()
    val spark = MainSession.start("graft-extract",
      // Scan-stage parallelism must track the worker count, not the 128 MB
      // default: documents decode (nested span arrays) is CPU-heavy per
      // byte, so a scan split should be small enough that every core gets
      // one — otherwise the scan stage caps the whole job at
      // inputBytes/128MB tasks (measured: a 1 GB input ran its scan on ~8
      // of 32 cores until this was sized).
      "spark.sql.files.maxPartitionBytes" -> s"${16 * 1024 * 1024}",
      // v2 commit: task outputs rename into the final location at TASK
      // commit (parallel, worker-side) instead of a serial driver-side
      // job-commit pass — on a 1000-executor cluster the v1 job commit is
      // a driver O(files) stall; here it also removes a serial tail.
      "spark.hadoop.mapreduce.fileoutputcommitter.algorithm.version" -> "2")

    val lineage = new LineageAccumulator
    spark.sparkContext.register(lineage, "extract-lineage")

    // GRAFT_PHASE_TIMING=1: per-stage wall/cpu/io breakdown on stderr —
    // the scaling diagnostic (which stage stops scaling with cores).
    if (sys.env.contains("GRAFT_PHASE_TIMING"))
      spark.sparkContext.addSparkListener(new org.apache.spark.scheduler.SparkListener {
        override def onStageCompleted(
            sc: org.apache.spark.scheduler.SparkListenerStageCompleted): Unit = {
          val i = sc.stageInfo
          val m = i.taskMetrics
          val wall = (i.completionTime.getOrElse(0L) - i.submissionTime.getOrElse(0L)) / 1e3
          System.err.println(
            f"[stage ${i.stageId}%3d] wall=$wall%7.2fs cpu=${m.executorCpuTime / 1e9}%7.2fs " +
              f"run=${m.executorRunTime / 1e3}%7.2fs gc=${m.jvmGCTime / 1e3}%6.2fs " +
              f"shufW=${m.shuffleWriteMetrics.bytesWritten / 1e6}%8.1fMB " +
              f"shufR=${m.shuffleReadMetrics.totalBytesRead / 1e6}%8.1fMB " +
              f"in=${m.inputMetrics.bytesRead / 1e6}%8.1fMB tasks=${i.numTasks}%4d ${i.name.take(60)}")
        }
      })

    val parts = cpus * 2 // 2 waves per core: keeps stragglers short

    if (mat.isDefined) { // pre-materialize the input table, untimed, and exit
      val dir = mat.get
      ExtractJob.generateInputs(spark, nDocs, seed, parts).write
        .mode("overwrite").parquet(dir)
      println(s"""{"materialized":$nDocs,"dir":"$dir"}""")
      spark.stop()
      return
    }

    def inputDocs = {
      import spark.implicits._
      input match {
        case Some(dir) => spark.read.parquet(dir).as[graft.Document]
        case None      => ExtractJob.generateInputs(spark, nDocs, seed, parts)
      }
    }

    // Single shuffle: the kernel stage partitions directly on the
    // WRITE-side bucket key, so the extracted documents are never shuffled
    // a second time for the bucketed commit. Buckets are finer (8/core
    // instead of 2/core waves) because `repartition(n, bucketValue)` places
    // bucket b at pmod(hash(b), n) — collisions leave some partitions
    // holding 2-4 buckets, and many short tasks let scheduling absorb that
    // imbalance. One full-document shuffle instead of two ≈ +20%
    // end-to-end on the 200k-doc bench.
    val nBuckets = cpus * 8

    // Per-bucket manifest stats ride the kernel pass itself:
    // ManifestIO.write then commits manifests without re-scanning the
    // written output — the Iceberg writer-metrics shape.
    val bucketAcc = new graft.plans.BucketStatsAccumulator
    spark.sparkContext.register(bucketAcc, "bucket-stats")

    val t0  = System.nanoTime()
    val in  = ManifestIO.pruneCommitted( // resume: skip committed buckets pre-kernel
      inputDocs, outDir, nBuckets = nBuckets)
    val out = ExtractJob.extract(in, numPartitions = nBuckets,
      lineage = Some(lineage), partitionExpr = Some(ManifestIO.bucketExpr(nBuckets)),
      bucketStats = Some((bucketAcc, nBuckets, 0)))
    val committed =
      if (noop) { out.toDF().write.format("noop").mode("overwrite").save(); Seq.empty }
      else ManifestIO.write(out, outDir, nBuckets = nBuckets, runId = runId,
        prePartitioned = true, statsSource = Some(bucketAcc))
    val wallSec = (System.nanoTime() - t0) / 1e9

    val stats   = lineage.value
    val docs    = stats.values.map(_.docs).sum
    val spans   = stats.values.map(_.spans).sum
    val errors  = stats.values.map(_.errors).sum
    val docsSec = if (wallSec > 0) docs / wallSec else 0.0
    // kernel-only CPU seconds (sum over tasks) — separates kernel cost
    // from scan/shuffle/sink when diagnosing scaling: kernelCpuSec should
    // be ~constant across parallelism levels; growth = cache/GC contention
    val kernelCpuSec = stats.values.map(_.nanos).sum / 1e9
    println(f"""{"docs":$docs,"spans":$spans,"errors":$errors,"partitions":${stats.size},""" +
      f""""bucketsCommitted":${committed.size},"wallSec":$wallSec%.3f,"docsPerSec":$docsSec%.1f,""" +
      f""""kernelCpuSec":$kernelCpuSec%.3f}""")

    var ok = true
    if (check) {
      val tc          = System.nanoTime()
      val goldens     = ExtractJob.generateGoldens(spark, nDocs, seed, parts)
      val (total, eq) = GoldenDiff.matchRate(ManifestIO.read(spark, outDir), goldens)
      val checkSec    = (System.nanoTime() - tc) / 1e9
      println(s"""{"goldenDocs":$total,"matching":$eq,"equalityPct":${100.0 * eq / math.max(total, 1)},""" +
        f""""checkSec":$checkSec%.3f}""")
      ok = total == eq
    }
    spark.stop()
    if (!ok) sys.exit(1)
  }
}
