package graft

import graft.operators.Dedup
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Connected-components cluster resolution + the round-2 text ops
  * (PII redaction, duplicated-chunk ratio, ANN recall). Exact cross-engine
  * values are the driver's DuckDB oracle compare; here we pin the graph
  * semantics and the planted-data invariants. */
class DedupCcSpec extends AnyFunSuite with SparkSessionTestWrapper {

  private val dir = "/root/testdata/sf0.001"

  test("connectedComponents: min label propagates across a chain, islands stay apart") {
    import spark.implicits._
    // chain 1-2-3-4 (diameter 3, needs >1 iteration) + island {7,8}
    val pairs = Seq((2L, 3L), (1L, 2L), (3L, 4L), (7L, 8L))
      .toDF("doc_a", "doc_b")
    val got = Dedup.connectedComponents(pairs).as[(Long, Long)].collect().toMap
    assert(got == Map(1L -> 1L, 2L -> 1L, 3L -> 1L, 4L -> 1L, 7L -> 7L, 8L -> 7L))
  }

  test("connectedComponents: 1000-link chain converges in O(log diameter) rounds") {
    import spark.implicits._
    // a single drift chain 0-1-2-…-1000: plain min-label propagation needs
    // 1000 rounds (one hop each); the pointer-jumping compression step
    // doubles effective reach per round, so ~log2(1000)+2 ≈ 12 suffice
    val pairs = (0L until 1000L).map(i => (i, i + 1)).toDF("doc_a", "doc_b")
    val (labels, iters) = Dedup.connectedComponentsIter(pairs, maxIter = 25)
    assert(labels.count() == 1001)
    assert(labels.filter(col("cluster_id") =!= 0L).count() == 0)
    assert(iters <= 15, s"diameter-1000 chain took $iters rounds — compression regressed")
  }

  test("connectedComponents: throws loudly instead of returning unconverged labels") {
    import spark.implicits._
    val pairs = (0L until 50L).map(i => (i, i + 1)).toDF("doc_a", "doc_b")
    val e = intercept[IllegalStateException] {
      Dedup.connectedComponentsIter(pairs, maxIter = 2)._1.count()
    }
    assert(e.getMessage.contains("did not converge"))
  }

  test("connectedComponents: an empty pair frame converges in 2 rounds with no labels") {
    import spark.implicits._
    val pairs = Seq.empty[(Long, Long)].toDF("doc_a", "doc_b")
    val (labels, iters) = Dedup.connectedComponentsIter(pairs, maxIter = 2)
    assert(labels.count() == 0)
    assert(iters == 2)
  }

  test("connectedComponents: maxIter below 2 is rejected up front") {
    import spark.implicits._
    val pairs = Seq((1L, 2L)).toDF("doc_a", "doc_b")
    val e = intercept[IllegalArgumentException] {
      Dedup.connectedComponentsIter(pairs, maxIter = 1)
    }
    assert(e.getMessage.contains("maxIter >= 2"), e.getMessage)
  }

  test("connectedComponents: uses reliable checkpointing when a checkpoint dir is set") {
    import spark.implicits._
    val ckDir = java.nio.file.Files.createTempDirectory("graft-cc-ckpt")
    ckDir.toFile.deleteOnExit()
    // NOTE: checkpoint dir stays set for the rest of the JVM (Spark has no
    // unset) — every later CC run just uses the reliable path too, which
    // is the cluster-scale default anyway
    spark.sparkContext.setCheckpointDir(ckDir.toString)
    val pairs = Seq((1L, 2L), (2L, 3L), (7L, 8L)).toDF("doc_a", "doc_b")
    val got = Dedup.connectedComponents(pairs).as[(Long, Long)].collect().toMap
    assert(got == Map(1L -> 1L, 2L -> 1L, 3L -> 1L, 7L -> 7L, 8L -> 7L))
    // the loop's per-round frames must actually have hit the reliable store
    import scala.jdk.CollectionConverters._
    val ckFiles = java.nio.file.Files.walk(ckDir).iterator().asScala.count(_.toFile.isFile)
    assert(ckFiles > 0, "no RDD checkpoint files written despite checkpoint dir")
  }

  test("dedup_cc_labels: planted 3-member clusters resolve to the base doc_id") {
    val labels = SparkEntry.queries("dedup_cc_labels")(spark, dir).cache()
    val docs   = spark.read.parquet(s"$dir/documents.parquet")
    // docs with plenty of tokens keep jaccard >= 0.8 against both copies
    val eligible = docs.filter(size(split(trim(col("text")), "\\s+")) >= 21)
      .select(col("doc_id")).as("e")
    val triple = eligible
      .join(labels.as("l0"), col("e.doc_id") === col("l0.doc_id"))
      .join(labels.as("l1"), col("e.doc_id") + 1000000L === col("l1.doc_id"))
      .join(labels.as("l2"), col("e.doc_id") + 2000000L === col("l2.doc_id"))
    // all three generations land in ONE cluster, labeled by a base doc id
    // (<= this doc's id: the corpus itself contains some genuine near-dup
    // base pairs — e.g. sf0.001 docs 0/50/82 — which CC correctly merges,
    // so the label may be a SMALLER base id, never a copy id)
    val bad = triple.filter(
      col("l0.cluster_id") =!= col("l1.cluster_id") ||
        col("l0.cluster_id") =!= col("l2.cluster_id") ||
        col("l0.cluster_id") > col("e.doc_id")).count()
    assert(bad == 0)
    assert(triple.count() == eligible.count())
    labels.unpersist()
  }

  test("text_pii_redact: planted PII is counted and fully scrubbed") {
    val out = SparkEntry.queries("text_pii_redact")(spark, dir).cache()
    assert(out.filter(col("n_emails") < 1 || col("n_ips") < 1 || col("n_phones") < 1).count() == 0)
    assert(out.filter(col("redacted").contains("@")).count() == 0)
    assert(out.filter(col("redacted").rlike("[0-9]{1,3}(\\.[0-9]{1,3}){3}")).count() == 0)
    assert(out.filter(col("redacted").rlike("[0-9]{3}-[0-9]{3}-[0-9]{4}")).count() == 0)
    assert(out.filter(!col("redacted").contains("<EMAIL>")).count() == 0)
    out.unpersist()
  }

  test("text_dup_chunk_ratio: prefix copies are fully duplicated, originals partially") {
    val out = SparkEntry.queries("text_dup_chunk_ratio")(spark, dir).cache()
    val docs = spark.read.parquet(s"$dir/documents.parquet")
    val longDocs = docs.filter(size(split(trim(col("text")), "\\s+")) >= 20)
      .select(col("doc_id"))
    // a copy of a >=20-token doc = 2 shared prefix chunks + the shared
    // footer chunk -> every chunk duplicated
    val copies = out.join(
      longDocs.select((col("doc_id") + 1000000L).as("doc_id")), Seq("doc_id"))
    assert(copies.filter(col("dup_ratio") =!= 1.0).count() == 0)
    // the matching originals have their first two chunks duplicated
    val origs = out.join(longDocs, Seq("doc_id"))
    assert(origs.filter(col("dup_chunks") < 2).count() == 0)
    out.unpersist()
  }

  test("ann_recall: one row per query, recall in [0,1], exact-vs-exact would be 1") {
    val out = SparkEntry.queries("ann_recall")(spark, dir)
    val rows = out.collect()
    assert(rows.length == 5)
    rows.foreach { r =>
      val recall = r.getAs[Double]("recall")
      val hits   = r.getAs[Long]("hits")
      assert(recall >= 0.0 && recall <= 1.0)
      assert(math.abs(recall - hits / 5.0) < 1e-9)
    }
  }
}
