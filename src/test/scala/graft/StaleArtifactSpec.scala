package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import java.nio.file.{Files, Path, Paths}

/** A catalog key's answer depends only on the tables under its corpus
  * dir, never on what an earlier call in the same JVM saw there. Dir A
  * is a copy of sf0.001; each key runs on it, then A's documents and
  * embeddings are rewritten in place. The key's next answer on A must
  * equal its answer on a fresh dir B that holds the same rewritten
  * tables — an artifact (signatures, codebook, quantizer bounds) kept
  * from A's first call would make the two differ. */
class StaleArtifactSpec extends AnyFunSuite with SparkSessionTestWrapper {

  private val src  = "/root/testdata/sf0.001"
  private val keys = Seq("dedup_minhash_lsh", "ann_kmeans_cells", "ann_sq_codes")

  /** Tokens reversed, and every odd doc takes its even neighbour's text,
    * so the rewritten corpus holds near-dup pairs the original lacks. */
  private def rewrittenDocs: DataFrame = {
    val d    = spark.read.parquet(s"$src/documents.parquet")
    val prev = d.select((col("doc_id") + 1).as("doc_id"), col("text").as("prev"))
    val text = when(col("doc_id") % 2 === 1 && col("prev").isNotNull, col("prev"))
      .otherwise(col("text"))
    d.join(prev, Seq("doc_id"), "left")
      .withColumn("text", array_join(reverse(split(trim(text), "\\s+")), " "))
      .select(d.columns.map(col): _*)
  }

  /** Every vector reversed and shifted: per-dimension ranges and
    * centroids both move. */
  private def rewrittenEmbeddings: DataFrame =
    spark.read.parquet(s"$src/embeddings.parquet")
      .withColumn("embedding",
        transform(reverse(col("embedding")), x => x + lit(0.05f)))

  private def writeTables(dir: Path): Unit = {
    deleteRec(dir.resolve("documents.parquet"))
    deleteRec(dir.resolve("embeddings.parquet"))
    rewrittenDocs.write.parquet(dir.resolve("documents.parquet").toString)
    rewrittenEmbeddings.write.parquet(dir.resolve("embeddings.parquet").toString)
  }

  private def deleteRec(p: Path): Unit = if (Files.exists(p)) {
    import scala.jdk.CollectionConverters._
    Files.walk(p).iterator().asScala.toSeq.reverse.foreach(Files.delete(_))
  }

  private def answer(key: String, dir: Path): Seq[String] = {
    val rows = SparkEntry.queries(key)(spark, dir.toString).collect().map(_.toString).sorted.toSeq
    spark.catalog.clearCache()
    rows
  }

  /** (A, B, each key's answer on A before the rewrite). */
  private lazy val fixture: (Path, Path, Map[String, Seq[String]]) = {
    val a = Files.createTempDirectory("stale-artifact-a")
    Files.list(Paths.get(src)).forEach(f => Files.copy(f, a.resolve(f.getFileName.toString)))
    val before = keys.map(k => k -> answer(k, a)).toMap
    writeTables(a)
    val b = Files.createTempDirectory("stale-artifact-b")
    writeTables(b)
    (a, b, before)
  }

  keys.foreach { key =>
    test(s"$key on a corpus dir rewritten in place equals its answer on a fresh dir") {
      val (a, b, before) = fixture
      val fresh   = answer(key, b)
      val changed = fresh != before(key)
      assert(changed, s"the rewrite left $key's answer unchanged")
      val got   = answer(key, a)
      val agree = got == fresh
      assert(agree, s"$key answered the rewritten dir from a stale artifact: " +
        s"${got.diff(fresh).size} rows only on A, ${fresh.diff(got).size} only on B")
    }
  }
}
