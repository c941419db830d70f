package graft

import graft.plans.ExtractJob
import org.apache.spark.sql.functions._
import org.apache.spark.sql.{DataFrame, SparkSession}

/** Benchmark main. Runs every SparkEntry query against
  * `SPARK_GRAFT_SF_DIR` and the extraction kernel on a PRE-MATERIALIZED
  * seeded corpus, prints ONE JSON line:
  * `{"metric":"total","value":<sec>,"unit":"sec","queries":{...},"sf":...}`.
  *
  * Measurement protocol (BASELINE.md): the shared hypervisor swings 2-4×
  * minute to minute, so every number is the MEDIAN of `SPARK_GRAFT_REPS`
  * (default 3) runs, and the passes are INTERLEAVED (whole catalog, then
  * again) so a host-load burst hits all queries alike rather than
  * poisoning whichever query it landed on. Queries are forced end-to-end
  * with the `noop` sink (count() would let Catalyst prune the projections
  * we mean to measure); one untimed warm-up amortizes session start-up.
  *
  * Extraction throughput is timed from a pre-materialized parquet table
  * (generation is NOT in the timed window — BENCH numbers are then
  * comparable to BASELINE.md's scaling protocol, which also reads
  * materialized input). Run with SPARK_GRAFT_CPUS=8 and =32 for the
  * N-vs-4N cluster sizes.
  *
  * A skew-stress section exercises the MinHash-LSH hot-band cap on a
  * planted hot-key corpus (documents ∪ thousands of byte-identical
  * copies of one doc): `skew_*` fields report wall time, the max band
  * group size, and the rows the cap dropped — the at-100× evidence that
  * a degenerate band stays bounded.
  */
object Bench {
  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus  = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    val reps  = sys.env.getOrElse("SPARK_GRAFT_REPS", "3").toInt
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    import spark.implicits._

    def runNoop(df: DataFrame): Unit =
      df.write.format("noop").mode("overwrite").save()

    def timed(body: => Unit): Double = {
      val t0 = System.nanoTime()
      body
      (System.nanoTime() - t0) / 1e9
    }

    def median(xs: Seq[Double]): Double = {
      val s = xs.sorted
      s(s.length / 2)
    }

    // warm-up (JVM/codegen/parquet footer caches) — not measured
    runNoop(spark.read.parquet(s"$sfDir/lineitem.parquet").groupBy("l_returnflag").count())

    // aux-oracle parquet writes are Verify plumbing, not query work — keep
    // them out of the timed window (ADVICE r2)
    graft.operators.ExtractQueries.auxWrites = false

    // ---- query catalog: `reps` interleaved passes, per-query median ----
    // SPARK_GRAFT_ONLY=<q1,q2> restricts to a subset (isolation A/Bs —
    // e.g. reproducing a single query's regression outside the full
    // catalog's cache/memory neighborhood); extraction + skew sections are
    // skipped in that mode so the subset is all that runs.
    // SPARK_GRAFT_SECTION=skew: run ONLY the skew-stress section, at
    // `reps` with per-rep times reported — the catalog medians can't
    // isolate it (it is a single end-of-run sample in a full bench, so a
    // one-minute host burst shows up as a phantom regression).
    val sectionOnly = sys.env.get("SPARK_GRAFT_SECTION")
    val only = sys.env.get("SPARK_GRAFT_ONLY").map(_.split(",").toSet)
      .orElse(sectionOnly.map(_ => Set.empty[String]))
    val names = SparkEntry.queries.keys.toSeq.sorted.filter(n => only.forall(_.contains(n)))
    val passes: Seq[Map[String, Double]] = (0 until reps).map { _ =>
      names.map { name =>
        val fn  = SparkEntry.queries(name)
        val sec =
          try timed(runNoop(fn(spark, sfDir)))
          catch { case scala.util.control.NonFatal(e) =>
            System.err.println(s"[bench] $name: $e"); -1.0 }
        spark.catalog.clearCache() // per-query caches must not leak across
        name -> sec
      }.toMap
    }
    val results = names.map { n =>
      val xs = passes.map(_(n))
      n -> (if (xs.exists(_ < 0)) -1.0 else median(xs))
    }
    // First-pass (COLD) times alongside the medians: every pass does the
    // same work, so the first differs only by JIT and codegen warm-up.
    val cold = names.map(n => n -> passes.head(n))

    // ---- extraction throughput from a PRE-MATERIALIZED corpus ----
    val exN   = sys.env.getOrElse("SPARK_GRAFT_EXTRACT_DOCS", "40000").toLong
    val parts = cpus.toInt * 2
    val exSec = if (only.isDefined) 0.0 else {
      val exDir = s"${System.getProperty("java.io.tmpdir")}/graft-bench-corpus-$exN"
      ExtractJob.generateInputs(spark, exN, 42L, parts).write.mode("overwrite").parquet(exDir)
      median((0 until reps).map { _ =>
        timed(runNoop(ExtractJob.extract(
          spark.read.parquet(exDir).as[Document], parts).toDF()))
      })
    }

    // ---- the banded-signature pass alone over the documents table ----
    val sigMd5Sec = if (only.isDefined) 0.0 else {
      val corpus = spark.read.parquet(s"$sfDir/documents.parquet").select("doc_id", "text")
      median((0 until reps).map(_ =>
        timed(runNoop(graft.operators.Dedup.bandedKeysFor(corpus)))))
    }

    // ---- skew stress: hot-key corpus through the capped LSH pipeline ----
    val hotCopies = 2000L
    val (skewSec, skewMaxBand, skewDropped) = if (only.isDefined && !sectionOnly.contains("skew")) (0.0, 0L, 0L) else {
      val base = spark.read.parquet(s"$sfDir/documents.parquet").select("doc_id", "text")
      val hot = base.filter(col("doc_id") === 0).select(col("text"))
        .crossJoin(spark.range(hotCopies).select((col("id") + 2000000L).as("doc_id")))
        .select(col("doc_id"), col("text"))
      val skewCorpus = base.unionByName(hot)
      val skewReps = if (sectionOnly.contains("skew")) reps else 1
      val secs = (0 until skewReps).map { _ =>
        val t = timed(runNoop(graft.operators.Dedup.minhashLsh(skewCorpus)))
        spark.catalog.clearCache()
        t
      }
      if (skewReps > 1)
        System.err.println(s"[bench] skew reps: ${secs.map(t => f"$t%.2f").mkString(",")}")
      val stats = graft.operators.Dedup.lshBandStats(skewCorpus)
        .agg(max(col("group_size")), sum(col("dropped_rows"))).head()
      (median(secs), stats.getLong(0), stats.getLong(1))
    }

    val qs  = results.map { case (k, v) => f""""$k":$v%.3f""" }.mkString("{", ",", "}")
    val qsc = cold.map { case (k, v) => f""""$k":$v%.3f""" }.mkString("{", ",", "}")
    val total = results.map(_._2).filter(_ >= 0).sum + exSec
    println(
      f"""{"metric":"total","value":$total%.3f,"unit":"sec","queries":$qs,"queries_cold":$qsc,"sf":"$sfDir",""" +
        f""""reps":$reps,"extract_docs":$exN,"extract_sec":$exSec%.3f,""" +
        f""""extract_docs_per_sec":${if (exSec == 0.0) 0.0 else exN / exSec}%.1f,"cpus":$cpus,""" +
        f""""sig_md5_sec":$sigMd5Sec%.3f,""" +
        f""""skew_lsh_sec":$skewSec%.3f,"skew_hot_copies":$hotCopies,""" +
        f""""skew_max_band":$skewMaxBand,"skew_dropped_rows":$skewDropped}""")
    spark.stop()
  }
}
