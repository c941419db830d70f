package graft.perfbench

import graft.CurateMain
import graft.operators.{Curation, Dedup}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.{DataFrame, SparkSession}

/** Corpus curation: `CurateMain.run` from the raw documents table to the
  * committed packed shards (the pipeline phase; docs_per_s is raw docs
  * over its time), then `CurateMain.ingest` classifying one planted batch
  * against the durable stage tables the run left behind (followup_s).
  *
  * A traced iteration calls the stage functions one by one, in
  * `CurateMain.run`'s order and with its stage tables, so that each layer
  * call gets its own span; an untraced iteration calls the entry points.
  *
  * Output check, per iteration: no duplicate doc_id in the shards, no
  * planted exact copy among them, train + val = keepers, exactly one
  * status per ingest doc, and every planted exact copy in the batch
  * classified `exact_dup`. */
final class CurateWorkload(seed: Long) extends Workload {
  private val IngestRun = "bench"
  private var raw: String         = _
  private var batchPath: String   = _
  private var exactCopies: Seq[Long] = Seq.empty
  private var batch: Seq[CurateInputs.BatchDoc] = Seq.empty
  private var rawDocs = 0L

  val layerMetrics: Seq[String] = Seq(
    "curate.gate_dedup_s", "functions.signature_s", "curate.lsh_verify_s",
    "curate.candidate_pairs", "curate.verified_pairs", "curate.verify_yield", "curate.cc_s",
    "curate.cc_jobs", "curate.cc_rounds", "curate.pack_s", "functions.ingest_signature_s",
    "curate.ingest_s", "curate.ingest_jobs", "curate.ingest_read_mb")

  val warmups       = 1
  val minIterations = 2
  val iterationS    = 13.0

  def configure(b: SparkSession.Builder): SparkSession.Builder = b

  def materialize(spark: SparkSession, dir: String): Unit = {
    import spark.implicits._
    val (docs, copies) = CurateInputs.corpus(seed)
    batch = CurateInputs.batch(seed, docs)
    exactCopies = copies
    rawDocs = docs.size
    raw = s"$dir/documents.parquet"
    batchPath = s"$dir/batch.parquet"
    docs.toDS().repartition(4).write.mode("overwrite").parquet(raw)
    // the planted class stays with the benchmark: the program gets only the docs
    batch.map(d => (d.doc_id, d.text)).toDF("doc_id", "text")
      .repartition(1).write.mode("overwrite").parquet(batchPath)
  }

  def iterate(spark: SparkSession, out: String, tracer: Option[Tracer]): IterResult = {
    val (pairs, pipelineS) = Workload.timed {
      tracer match {
        case None    => CurateMain.run(spark, raw, out); None
        case Some(t) => Some(stagedRun(spark, out, t))
      }
    }
    val (_, followupS) = Workload.timed {
      tracer match {
        case None    => CurateMain.ingest(spark, out, batchPath, IngestRun)
        case Some(t) => stagedIngest(spark, out, t)
      }
    }
    val (attempted, failed) = check(spark, out)
    val layers = tracer.fold(Map.empty[String, Double])(t => layerMetricsFrom(spark, out, t, pairs.get))
    IterResult(pipelineS, Seq(followupS), rawDocs, attempted, failed, layers)
  }

  /** `CurateMain.run` stage by stage: same stage tables, same order.
    * Returns the verified near-dup pairs. */
  private def stagedRun(spark: SparkSession, out: String, t: Tracer): DataFrame = t.span("pipeline") {
    val rawDf = spark.read.parquet(raw).select(col("doc_id"), col("text"))
    def stage(name: String, path: String)(df: => DataFrame): DataFrame = {
      t.span(name)(df.write.mode("overwrite").parquet(path))
      spark.read.parquet(path)
    }
    val nRaw    = t.span("curate.count_raw")(rawDf.count())
    val deduped = stage("operators.Curation.gate_exact_dedup", s"$out/stages/deduped") {
      Curation.exactDedupKeepers(Curation.qualityGate(rawDf))
    }
    val banded = stage("functions.Dedup.bandedKeysFor", s"$out/stages/banded") {
      Dedup.bandedKeysFor(deduped)
    }
    // minhashLshFrom materializes its verified pairs before returning
    val pairs = t.span("operators.Dedup.minhashLshFrom")(Dedup.minhashLshFrom(deduped, banded))
    val clusters = stage("operators.Dedup.connectedComponents", s"$out/stages/clusters") {
      val (labels, rounds) = Dedup.connectedComponentsIter(pairs.select("doc_a", "doc_b"))
      t.count("rounds", rounds.toDouble)
      labels
    }
    t.span("operators.Curation.pack") {
      Curation.packFrom(Curation.keepersFrom(deduped, clusters), Curation.packBucketsFor(nRaw))
        .write.mode("overwrite").partitionBy("split").parquet(s"$out/packed")
    }
    t.span("curate.lineage_counts") { // the per-stage counts CurateMain.run reports
      val written = spark.read.parquet(s"$out/packed")
      deduped.count(); clusters.select(col("cluster_id")).distinct().count()
      written.count(); written.select(col("split"), col("bucket"), col("shard")).distinct().count()
      written.filter(col("split") === "train").count()
    }
    pairs
  }

  /** `CurateMain.ingest` without its entry-point checks. */
  private def stagedIngest(spark: SparkSession, out: String, t: Tracer): Unit = t.span("followup") {
    val old    = spark.read.parquet(s"$out/stages/deduped")
    val banded = spark.read.parquet(s"$out/stages/banded")
    val newb   = spark.read.parquet(batchPath).select(col("doc_id"), col("text"))
    val dest   = s"$out/ingest/$IngestRun"
    t.span("operators.Dedup.incrementalIngest") {
      Dedup.incrementalIngest(old, banded, newb).write.mode("overwrite").parquet(dest)
    }
    t.span("curate.ingest_counts") {
      spark.read.parquet(dest).groupBy(col("status")).agg(count(lit(1)).as("n")).collect()
    }
  }

  /** (operations checked, operations failed) over the iteration's output. */
  private[perfbench] def check(spark: SparkSession, out: String): (Long, Long) = {
    val shards = spark.read.parquet(s"$out/packed")
      .agg(count(lit(1)), countDistinct(col("doc_id")),
        count(when(col("doc_id").isin(exactCopies: _*), 1)),
        count(when(col("split").isin("train", "val"), 1)))
      .head()
    val (n, distinct, survivors, trainVal) =
      (shards.getLong(0), shards.getLong(1), shards.getLong(2), shards.getLong(3))
    val keepers = Curation.keepersFrom(spark.read.parquet(s"$out/stages/deduped"),
      spark.read.parquet(s"$out/stages/clusters")).count()

    val statuses = spark.read.parquet(s"$out/ingest/$IngestRun")
      .select(col("doc_id"), col("status")).collect()
      .groupBy(_.getLong(0)).map { case (id, rs) => id -> rs.map(_.getString(1)).toSeq }
    val batchIds  = batch.map(_.doc_id).toSet
    val badStatus = batch.count(d => statuses.get(d.doc_id).forall(_.size != 1)) +
      statuses.keySet.count(id => !batchIds.contains(id))
    val exactMissed = batch.count(d => d.planted == "exact_dup" &&
      !statuses.get(d.doc_id).contains(Seq("exact_dup")))

    val failed = (n - distinct) + survivors + math.abs(keepers - trainVal) + (n - trainVal) +
      badStatus + exactMissed
    (n + batch.size, failed)
  }

  private def layerMetricsFrom(spark: SparkSession, out: String, t: Tracer,
      pairs: DataFrame): Map[String, Double] = {
    def last(name: String) = t.named(name).last
    val lsh        = last("operators.Dedup.minhashLshFrom")
    val cc         = last("operators.Dedup.connectedComponents")
    val ingest     = last("followup")
    val verified   = pairs.count().toDouble
    val candidates = t.span("curate.count_candidates")(candidatePairs(spark, out))
    t.span("functions.Dedup.bandedKeysFor(batch)") {
      Dedup.bandedKeysFor(spark.read.parquet(batchPath).select(col("doc_id"), col("text")))
        .write.format("noop").mode("overwrite").save()
    }
    Map(
      "curate.gate_dedup_s"          -> last("operators.Curation.gate_exact_dedup").seconds,
      "functions.signature_s"        -> last("functions.Dedup.bandedKeysFor").seconds,
      "curate.lsh_verify_s"          -> lsh.seconds,
      "curate.candidate_pairs"       -> candidates.toDouble,
      "curate.verified_pairs"        -> verified,
      "curate.verify_yield"          -> (if (candidates == 0) 0.0 else verified / candidates),
      "curate.cc_s"                  -> cc.seconds,
      "curate.cc_jobs"               -> cc.counters("jobs"),
      "curate.cc_rounds"             -> cc.counters("rounds"),
      "curate.pack_s"                -> last("operators.Curation.pack").seconds,
      "functions.ingest_signature_s" -> last("functions.Dedup.bandedKeysFor(batch)").seconds,
      "curate.ingest_s"              -> ingest.seconds,
      "curate.ingest_jobs"           -> ingest.counters("jobs"),
      "curate.ingest_read_mb"        -> ingest.counters("input_mb"))
  }

  /** Distinct doc pairs sharing a band key after the hot-band cap — the
    * candidates `minhashLshFrom` verifies, recounted from the durable
    * banded table with the same cap. */
  private def candidatePairs(spark: SparkSession, out: String): Long = {
    val capped = spark.read.parquet(s"$out/stages/banded")
      .withColumn("rn", row_number().over(
        Window.partitionBy(col("band"), col("k1"), col("k2")).orderBy(col("doc_id"))))
      .filter(col("rn") <= Dedup.MaxBandGroup)
    capped.as("l").join(capped.as("r"),
        col("l.band") === col("r.band") && col("l.k1") === col("r.k1") &&
          col("l.k2") === col("r.k2") && col("l.doc_id") < col("r.doc_id"))
      .select(col("l.doc_id"), col("r.doc_id")).distinct().count()
  }
}
