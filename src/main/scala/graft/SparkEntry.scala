package graft

import graft.operators._
import graft.plans.{ExtractJob, GoldenDiff}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Driver contract — see /root/repo/SURVEY.md §7 + the builder prompt.
  *
  * `queries` is the operator inventory made runnable: one entry per
  * implemented operator family (SURVEY.md §2 relational/scalar ops, the
  * training-data ops — dedup / similarity / text analysis / multimodal —
  * and the extraction pipeline itself). `oracleSql` carries an exact
  * DuckDB equivalent for every SQL-expressible entry; the extraction/eval
  * entries are verified by the golden-file ScalaTest suite instead.
  */
object SparkEntry {

  /** Flagship: the extraction pipeline end-to-end on a seeded interleaved
    * corpus — extract, then self-verify against goldens; emits per-span
    * rows of verified output (driver smoke-checks rows > 0). */
  def entry(spark: SparkSession): DataFrame = {
    val parts = spark.sparkContext.defaultParallelism
    val n     = 2000L
    val out   = ExtractJob.extract(ExtractJob.generateInputs(spark, n, 42L, parts), parts)
    val bad   = GoldenDiff.mismatchedDocs(out, ExtractJob.generateGoldens(spark, n, 42L, parts))
      .select(col("doc_id"))
    GoldenDiff.explodeSpans(out)
      .join(bad, Seq("doc_id"), "left_anti") // spans of golden-matching docs only
  }

  /** One entry per implemented operator from SURVEY.md §2 + the
    * training-data pipeline ops. */
  def queries: Map[String, (SparkSession, String) => DataFrame] =
    Relational.queries ++ Dedup.queries ++ Similarity.queries ++
      TextOps.queries ++ Multimodal.queries ++ Curation.queries ++
      Temporal.queries ++ Sketches.queries ++ Search.queries ++
      WebOps.queries ++ FrontierOps.queries ++ Layout.queries ++
      ExtractQueries.queries ++ graft.streaming.StreamingQueries.queries

  /** The keys of a comma-separated list, each checked against [[queries]]:
    * a mistyped key fails here, naming it, instead of selecting nothing. */
  def keys(list: String): Seq[String] = {
    val ks      = list.split(",").toSeq.filter(_.nonEmpty)
    val unknown = ks.filterNot(queries.contains)
    require(ks.nonEmpty, s"no catalog keys in '$list'")
    require(unknown.isEmpty, s"unknown catalog keys: ${unknown.mkString(", ")}")
    ks
  }

  /** DuckDB-equivalent ANSI SQL per query. The extraction/eval kernels are
    * covered too: their queries materialize the independent second opinion
    * (generator-side goldens / planted-defect counts) as aux parquet and
    * the oracle re-derives the expected result from it (see OracleAux). */
  def oracleSql: Map[String, String] =
    Relational.oracles ++ Dedup.oracles ++ Similarity.oracles ++
      TextOps.oracles ++ Multimodal.oracles ++ Curation.oracles ++
      Temporal.oracles ++ Sketches.oracles ++ Search.oracles ++
      WebOps.oracles ++ FrontierOps.oracles ++ Layout.oracles ++
      ExtractQueries.oracles ++ graft.streaming.StreamingQueries.oracles
}
