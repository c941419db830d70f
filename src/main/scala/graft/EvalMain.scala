package graft

import graft.corpus.EvalCorpus
import graft.eval.{EvalJob, J, Normalize}

/** spark-submit entry point for the field-level evaluation pipeline — the
  * distributed analog of the reference's eval run
  * (/root/reference/eval_script_field_level.py:482-512): golden⋈prediction
  * join → per-document diff → per-file metrics CSV → per-folder summary.
  *
  * Usage:
  *   graft.EvalMain <nDocs> <seed> <defectRate> <outDir>
  *     seeded mode. With defectRate 0 every prediction differs from its
  *     golden only by tolerance-covered noise (case, whitespace, commas,
  *     ±0.005 shifts, list order), so average accuracy MUST be exactly
  *     1.0 — checked, and the exit code reflects it.
  *   graft.EvalMain --export <nDocs> <seed> <dir>
  *     materialize the seeded corpus as the reference's on-disk layout:
  *     one JSON object per file under <dir>/goldens/<folder>/<doc>.json
  *     and <dir>/preds/... (convert side of S3).
  *   graft.EvalMain --from-dir <goldenDir> <predDir> <outDir>
  *     file mode: read both trees via wholetext (one object per file,
  *     eval_script_field_level.py:90-92) and evaluate.
  */
object EvalMain {
  def main(args: Array[String]): Unit = {
    val mode = args.headOption.getOrElse("")
    val (nDocs, seed, defectRate, outDir) =
      if (mode.startsWith("--")) (2000L, 42L, 0.0, "/tmp/graft-eval-out")
      else (
        args.headOption.map(_.toLong).getOrElse(2000L),
        if (args.length > 1) args(1).toLong else 42L,
        if (args.length > 2) args(2).toDouble else 0.0,
        if (args.length > 3) args(3) else "/tmp/graft-eval-out")

    val spark = MainSession.start("graft-eval")
    import spark.implicits._

    val parts = MainSession.cpus() * 2
    def folderOf(i: Long) = if (i % 2 == 0) "set-clean" else "set-defect"

    def seededGoldens(n: Long, sd: Long) = spark.range(0, n, 1, parts).map { i =>
      EvalJob.JsonDoc(f"doc_$i%08d", folderOf(i), J.canonical(EvalCorpus.groundTruth(i, sd)))
    }
    def seededPreds(n: Long, sd: Long, rate: Double) = spark.range(0, n, 1, parts).map { i =>
      val r = if (folderOf(i) == "set-clean") 0.0 else rate
      EvalJob.JsonDoc(f"doc_$i%08d", folderOf(i), J.canonical(EvalCorpus.prediction(i, sd, r)))
    }

    if (mode == "--export") {
      val (n, sd, dir) = (args(1).toLong, args(2).toLong, args(3))
      EvalJob.writeJsonDocDir(seededGoldens(n, sd), s"$dir/goldens")
      EvalJob.writeJsonDocDir(seededPreds(n, sd, 0.15), s"$dir/preds")
      println(s"""{"exported":$n,"dir":"$dir"}""")
      spark.stop()
      return
    }

    val (goldens, preds) =
      if (mode == "--from-dir")
        (EvalJob.readJsonDocDir(spark, args(1)), EvalJob.readJsonDocDir(spark, args(2)))
      else (seededGoldens(nDocs, seed), seededPreds(nDocs, seed, defectRate))
    val fileMode   = mode == "--from-dir"
    val realOutDir = if (fileMode) args(3) else outDir

    val metrics = EvalJob.evaluate(preds, goldens).cache()
    EvalJob.writeCsv(metrics.filter(_.folder == "set-clean"), s"$realOutDir/set-clean")
    EvalJob.writeCsv(metrics.filter(_.folder == "set-defect"), s"$realOutDir/set-defect")

    val summary = EvalJob.folderSummary(metrics).orderBy("folder").collect()
    summary.foreach { r =>
      println(s"""{"folder":"${r.getString(0)}","files":${r.getLong(1)},""" +
        s""""avg_accuracy":${r.getDouble(2)},"avg_schema":${r.getDouble(3)},"avg_values":${r.getDouble(4)}}""")
    }
    val cleanAcc = summary.find(_.getString(0) == "set-clean").map(_.getDouble(2)).getOrElse(0.0)
    spark.stop()
    if (cleanAcc != 1.0) { System.err.println(s"clean-set accuracy $cleanAcc != 1.0"); sys.exit(1) }
  }
}
