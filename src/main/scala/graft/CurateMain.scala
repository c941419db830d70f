package graft

import graft.operators.{Curation, Dedup}
import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Paths, StandardOpenOption}

/** spark-submit entry point for the corpus-curation pipeline — the
  * deployment surface of the `corpus_curate` flagship query: raw
  * documents table in → deduplicated, quality-filtered, split,
  * token-packed training shards out, partitioned by split on disk.
  *
  * Usage:
  *   graft.CurateMain <documentsParquet> <outDir>
  *   graft.CurateMain --ingest <batchParquet> <outDir> [runId]
  *
  * RESUMABLE at stage boundaries (the ExtractMain-manifest idea applied
  * to curation): each expensive stage materializes to a durable table
  * under `<outDir>/stages/` —
  *   deduped/  quality gate + exact dedup (doc_id, text)
  *   banded/   the MinHash banded-signature frame (doc_id, band, k1, k2)
  *   clusters/ near-dup cluster labels (doc_id, cluster_id)
  * A stage table is valid iff its `_SUCCESS` marker exists (Spark's
  * commit protocol writes it last, so a killed run leaves an invalid
  * partial dir that is simply overwritten). A rerun reuses every valid
  * stage: after a crash between stages it re-pays NOTHING upstream —
  * in particular the dominant signature pass — and every stage is
  * deterministic (salted hashes, no rand()), so the resumed run's shards
  * are identical to an uninterrupted run's (CurateResumeSpec reruns with
  * the INPUT DELETED and gets byte-identical packed output).
  * `STAGES.json` records (nRaw, nBuckets) on first run so a resume never
  * re-counts — or even needs — the input.
  */
object CurateMain {

  /** Version of the durable signature rule (bumped when the banded-stage
    * schema or hash rule changes incompatibly): 1 = md5-of-shingle-string,
    * 2 = per-token hash + polynomial shingle combine. A resume whose
    * STAGES.json records a different rule fails loudly instead of mixing
    * two signature families in one pipeline. */
  private val SigRule = 2L

  private def valid(p: String): Boolean = Files.exists(Paths.get(p, "_SUCCESS"))

  /** The integer fields of a committed `STAGES.json`, after checking that
    * its banded/ stage was written under this engine's signature rule.
    * Stage dirs from the removed xxhash64 mode (`"fastHash":1`) are
    * rejected too: their band keys never match md5-derived signatures, so
    * a resume or ingest against them would silently find no near-dups
    * (same fail-loud contract as ExtractMain's BUCKETING.json). */
  private def readMarker(marker: java.nio.file.Path): Map[String, Long] = {
    val kv = "\"(\\w+)\"\\s*:\\s*(-?\\d+)".r
      .findAllMatchIn(Files.readString(marker))
      .map(m => m.group(1) -> m.group(2).toLong).toMap
    require(kv.getOrElse("fastHash", 0L) == 0L,
      s"$marker was written by the removed xxhash64 signature mode " +
        "(\"fastHash\":1): its banded/ stage is " +
        "incompatible with md5-derived signatures — use a fresh outDir")
    val rule = kv.getOrElse("sigRule", 1L)
    require(rule == SigRule,
      s"$marker records signature rule $rule but this engine writes " +
        s"rule $SigRule: the durable banded/ stage is incompatible — " +
        "use a fresh outDir")
    kv
  }

  /** Run (or resume) the curation pipeline; returns the lineage JSON. */
  def run(spark: SparkSession, input: String, outDir: String): String = {
    val t0     = System.nanoTime()
    val marker = Paths.get(outDir, "STAGES.json")

    def rawCorpus: DataFrame =
      spark.read.parquet(input).select(col("doc_id"), col("text"))

    val (nRaw, nBuckets) =
      if (Files.exists(marker)) {
        val kv = readMarker(marker)
        (kv("nRaw"), kv("nBuckets"))
      } else {
        val n  = rawCorpus.count()
        val nb = Curation.packBucketsFor(n)
        Files.createDirectories(marker.getParent)
        Files.write(marker,
          s"""{"nRaw":$n,"nBuckets":$nb,"sigRule":$SigRule}""".getBytes(StandardCharsets.UTF_8),
          StandardOpenOption.CREATE_NEW)
        (n, nb)
      }

    /** Materialize-or-reuse one stage table: compute + write only when no
      * committed table exists, then always READ BACK from disk — every
      * downstream consumer sees the durable table, never the lineage. */
    def stage(path: String)(compute: => DataFrame): DataFrame = {
      if (!valid(path)) compute.write.mode("overwrite").parquet(path)
      spark.read.parquet(path)
    }

    val deduped = stage(s"$outDir/stages/deduped") {
      Curation.exactDedupKeepers(Curation.qualityGate(rawCorpus))
    }
    val banded = stage(s"$outDir/stages/banded") {
      Dedup.bandedKeysFor(deduped)
    }
    val clusters = stage(s"$outDir/stages/clusters") {
      Dedup.connectedComponents(
        Dedup.minhashLshFrom(deduped, banded).select("doc_a", "doc_b"))
    }

    val keepers = Curation.keepersFrom(deduped, clusters)
    Curation.packFrom(keepers, nBuckets)
      .write.mode("overwrite").partitionBy("split").parquet(s"$outDir/packed")

    // per-stage counts: every stage is a durable table by now, so counts
    // are metadata-cheap reads — no stage recomputes for its count. The
    // packed table's three counts are one aggregate; a struct is never
    // null, so its distinct count equals `distinct().count()` of the
    // three columns, null shards included.
    val nDeduped  = deduped.count()
    val nClusters = clusters.select(col("cluster_id")).distinct().count()
    val packed    = spark.read.parquet(s"$outDir/packed")
      .agg(count(lit(1)), count_if(col("split") === "train"),
        count_distinct(struct(col("split"), col("bucket"), col("shard"))))
      .head()
    val (nKept, nTrain, nShards) = (packed.getLong(0), packed.getLong(1), packed.getLong(2))
    val wallSec = (System.nanoTime() - t0) / 1e9

    f"""{"docsIn":$nRaw,"afterQualityAndExact":$nDeduped,""" +
      f""""nearDupClusters":$nClusters,"keepers":$nKept,""" +
      f""""train":$nTrain,"val":${nKept - nTrain},"shards":$nShards,""" +
      f""""wallSec":$wallSec%.3f,"docsPerSec":${nRaw / wallSec}%.1f}"""
  }

  /** Incremental-ingest mode: classify a NEW batch against the pipeline's
    * durable stage tables without recomputing them — `deduped/` is the
    * exact-hash index, `banded/` the near-dup signature index. Writes the
    * (doc_id, status) classification to `<outDir>/ingest/<runId>/` and
    * returns per-status counts as the lineage JSON. An ingest run pays
    * the batch's signature pass, shuffles sized by the batch, and scans
    * of the two index tables (see [[Dedup.incrementalIngest]]) — never
    * corpus × batch, and never a re-curation of the standing corpus. */
  def ingest(spark: SparkSession, outDir: String, batchParquet: String,
      runId: String): String = {
    val t0     = System.nanoTime()
    val marker = Paths.get(outDir, "STAGES.json")
    require(Files.exists(marker),
      s"$outDir has no STAGES.json — run the curation pipeline first")
    readMarker(marker)
    Seq("deduped", "banded").foreach { st =>
      require(valid(s"$outDir/stages/$st"), s"stage table $st is missing/uncommitted")
    }
    // The ingest output is itself a _SUCCESS-gated durable table (the same
    // discipline as the stage tables): a run killed mid-write leaves no
    // marker, so the rerun recomputes over the partial dir (overwrite) and
    // — classification being deterministic — lands byte-for-byte where a
    // clean single pass would; a rerun AFTER success recomputes nothing
    // and just re-reads the committed table.
    val dest = s"$outDir/ingest/$runId"
    if (!valid(dest)) {
      val old    = spark.read.parquet(s"$outDir/stages/deduped")
      val banded = spark.read.parquet(s"$outDir/stages/banded")
      val newb   = spark.read.parquet(batchParquet).select(col("doc_id"), col("text"))
      val classified = Dedup.incrementalIngest(old, banded, newb)
      classified.write.mode("overwrite").parquet(dest)
    }
    val counts = spark.read.parquet(dest)
      .groupBy(col("status")).agg(count(lit(1)).as("n"))
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    val wallSec = (System.nanoTime() - t0) / 1e9
    def c(s: String) = counts.getOrElse(s, 0L)
    f"""{"batch":${counts.values.sum},"exactDup":${c("exact_dup")},""" +
      f""""batchDup":${c("batch_dup")},"nearDup":${c("near_dup")},""" +
      f""""novel":${c("novel")},""" +
      f""""wallSec":$wallSec%.3f}"""
  }

  /** A checked command line: the pipeline, or an ingest of one batch. */
  private[graft] sealed trait Command
  private[graft] final case class Curate(input: String, outDir: String) extends Command
  private[graft] final case class Ingest(batch: String, outDir: String, runId: String)
    extends Command

  private val Usage = "usage: graft.CurateMain <documentsParquet> <outDir> | " +
    "graft.CurateMain --ingest <batchParquet> <outDir> [runId]"

  /** Whether `path` names anything, read the way `spark.read.parquet`
    * reads it — a plain path, a URI (`file:`, `hdfs://`, `s3a://`) or a
    * glob — by asking its Hadoop file system, so no session is needed. A
    * file system this check cannot query (no client on the classpath, or
    * credentials only the session carries) counts as present: the read
    * then reports the path itself. */
  private def inputExists(path: String): Boolean = {
    val p = new Path(path)
    try Option(p.getFileSystem(new Configuration()).globStatus(p)).exists(_.nonEmpty)
    catch { case _: java.io.IOException => true }
  }

  /** `args` as a [[Command]], checked before any Spark session starts: a
    * wrong argument count, a missing batch parquet or pipeline outDir, or
    * a missing input that no committed stage can stand in for fails with a
    * named IllegalArgumentException. Reads the file systems, nothing else;
    * the input and the batch may be anything `spark.read.parquet` takes,
    * the outDir is local, as [[run]] writes it. */
  private[graft] def parseArgs(args: Seq[String]): Command = args match {
    case "--ingest" +: rest =>
      require(rest.size == 2 || rest.size == 3,
        s"--ingest needs <batchParquet> <outDir> [runId], got ${rest.size} argument(s); $Usage")
      require(inputExists(rest(0)), s"batch parquet ${rest(0)} does not exist")
      require(Files.exists(Paths.get(rest(1), "STAGES.json")),
        s"${rest(1)} has no STAGES.json — run the curation pipeline first")
      Ingest(rest(0), rest(1), rest.lift(2).getOrElse("i1"))
    case Seq(input, outDir) =>
      // a resume reads the input only for the count and the deduped stage
      require(inputExists(input) ||
          (Files.exists(Paths.get(outDir, "STAGES.json")) && valid(s"$outDir/stages/deduped")),
        s"input parquet $input does not exist and $outDir has no committed stages to resume")
      Curate(input, outDir)
    case _ => throw new IllegalArgumentException(Usage)
  }

  def main(args: Array[String]): Unit = {
    val cmd   = parseArgs(args.toSeq)
    val spark = MainSession.start(cmd match {
      case _: Ingest => "graft-ingest"
      case _         => "graft-curate"
    })
    println(cmd match {
      case Curate(input, outDir)        => run(spark, input, outDir)
      case Ingest(batch, outDir, runId) => ingest(spark, outDir, batch, runId)
    })
    spark.stop()
  }
}
