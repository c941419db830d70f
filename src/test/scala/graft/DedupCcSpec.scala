package graft

import graft.operators.Dedup
import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.catalyst.plans.logical.LocalRelation
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{LongType, StructField, StructType}
import org.apache.spark.util.SizeEstimator
import org.scalatest.funsuite.AnyFunSuite

import scala.util.Random

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
    val got = Dedup.connectedComponentsIter(pairs)._1.as[(Long, Long)].collect().toMap
    assert(got == Map(1L -> 1L, 2L -> 1L, 3L -> 1L, 7L -> 7L, 8L -> 7L))
    // the loop's per-round frames must actually have hit the reliable store
    import scala.jdk.CollectionConverters._
    val ckFiles = java.nio.file.Files.walk(ckDir).iterator().asScala.count(_.toFile.isFile)
    assert(ckFiles > 0, "no RDD checkpoint files written despite checkpoint dir")
  }

  /** `body` with `spark.sql.autoBroadcastJoinThreshold` = `v`; the
    * previous setting is restored. */
  private def withThreshold[T](v: String)(body: => T): T = {
    val k   = "spark.sql.autoBroadcastJoinThreshold"
    val old = spark.conf.getOption(k)
    spark.conf.set(k, v)
    try body finally old.fold(spark.conf.unset(k))(spark.conf.set(k, _))
  }

  /** `body` with broadcast disabled, so every pair frame counts as large. */
  private def broadcastOff[T](body: => T): T = withThreshold("-1")(body)

  private def isLocal(df: DataFrame): Boolean =
    df.queryExecution.optimizedPlan.isInstanceOf[LocalRelation]

  /** The driver union-find's labels and the distributed loop's, on `pairs`. */
  private def bothBranches(pairs: Seq[(Long, Long)]): (Set[(Long, Long)], Set[(Long, Long)]) = {
    import spark.implicits._
    val df     = pairs.toDF("doc_a", "doc_b")
    val driver = Dedup.connectedComponents(df)
    assert(isLocal(driver), "a small pair frame must take the driver branch")
    (driver.as[(Long, Long)].collect().toSet,
      Dedup.connectedComponentsIter(df)._1.as[(Long, Long)].collect().toSet)
  }

  test("connectedComponents: driver union-find equals the distributed loop on the chain + island") {
    val (driver, loop) = bothBranches(Seq((2L, 3L), (1L, 2L), (3L, 4L), (7L, 8L)))
    assert(driver == loop)
    assert(driver == Set(1L -> 1L, 2L -> 1L, 3L -> 1L, 4L -> 1L, 7L -> 7L, 8L -> 7L))
  }

  test("connectedComponents: driver union-find equals the distributed loop on a 1000-link chain") {
    val (driver, loop) = bothBranches((0L until 1000L).map(i => (i, i + 1)))
    assert(driver == loop)
    assert(driver.size == 1001 && driver.forall(_._2 == 0L))
  }

  test("connectedComponents: driver union-find equals the distributed loop on an empty frame") {
    val (driver, loop) = bothBranches(Seq.empty)
    assert(driver.isEmpty && loop.isEmpty)
  }

  test("connectedComponents: driver union-find equals the distributed loop on a random graph with a hot hub") {
    val rng = new Random(11)
    // 400 nodes, 300 random edges in either orientation, and a hub wired
    // to 80 of them: many small components plus one large star
    val random = Seq.fill(300)((rng.nextInt(400).toLong, rng.nextInt(400).toLong))
      .filter { case (a, b) => a != b }
    val hub = Seq.fill(80)((5000L, rng.nextInt(400).toLong))
    val (driver, loop) = bothBranches(random ++ hub)
    assert(driver == loop)
    assert(driver.map(_._2).size > 1, "expected several components")
  }

  test("connectedComponents: broadcast disabled takes the distributed loop, same labels") {
    import spark.implicits._
    val pairs = Seq((2L, 3L), (1L, 2L), (7L, 8L)).toDF("doc_a", "doc_b")
    val got = broadcastOff {
      val l = Dedup.connectedComponents(pairs)
      assert(!isLocal(l))
      l.as[(Long, Long)].collect().toSet
    }
    assert(got == Set(1L -> 1L, 2L -> 1L, 3L -> 1L, 7L -> 7L, 8L -> 7L))
  }

  test("minhashLshFrom: the small-frame verify equals the distributed verify on a planted corpus") {
    val d = spark.read.parquet(s"$dir/documents.parquet").select(col("doc_id"), col("text"))
    val corpus = d.unionByName(d.select((col("doc_id") + 1000000L).as("doc_id"),
      concat(col("text"), lit(" zzz")).as("text")))
    def rows(df: DataFrame) = df.collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    val small = Dedup.minhashLsh(corpus)
    assert(isLocal(small), "~500 pairs must take the small-frame branch")
    val smallRows = rows(small)
    val largeRows = broadcastOff {
      val large = Dedup.minhashLsh(corpus)
      assert(!isLocal(large))
      rows(large)
    }
    assert(smallRows.size >= 400, s"planted copies should verify, got ${smallRows.size}")
    assert(smallRows == largeRows)
    assert(small.schema.map(_.name) == Seq("doc_a", "doc_b", "jaccard"))
  }

  /** The rows of the LocalRelation a local frame wraps. */
  private def relationRows(df: DataFrame): AnyRef =
    df.queryExecution.analyzed.collectFirst { case l: LocalRelation => l.data }.get

  test("smallPairs: PairDriverBytes covers what each small branch holds on the driver") {
    import spark.implicits._
    // disjoint pairs: two fresh ids, two union-find entries and two labels
    // per pair, the most a pair can cost
    val n     = 20000
    val pairs = spark.range(n).select((col("id") * 2).as("doc_a"), (col("id") * 2 + 1).as("doc_b"))
    val rows  = pairs.collect()
    val verified = pairs.withColumn("jaccard", lit(0.9)).collect()
    val verifiedRel = relationRows(spark.createDataFrame(java.util.Arrays.asList(verified: _*),
      verified.head.schema))
    // connectedComponents on minhashLshFrom's local frame: the collected
    // pairs, their tuples, the union-find map, the labels and their frame
    val tuples = rows.map(r => (r.getLong(0), r.getLong(1)))
    val labels = Dedup.unionFindLabels(tuples)
    val parent = scala.collection.mutable.LongMap(labels.toSeq: _*)
    val cc = SizeEstimator.estimate(Array[AnyRef](verifiedRel, rows, tuples, labels, parent,
      relationRows(labels.toSeq.toDF("doc_id", "cluster_id"))))
    // minhashLshFrom: the collected candidates, their ids, the two
    // broadcast local frames, and the verified rows with their frame
    val ids = rows.flatMap(r => Seq(r.getLong(0), r.getLong(1))).distinct.map(Row(_))
    val lsh = SizeEstimator.estimate(Array[AnyRef](rows, ids,
      relationRows(spark.createDataFrame(java.util.Arrays.asList(ids: _*),
        StructType(Seq(StructField("doc_id", LongType, nullable = false))))),
      relationRows(spark.createDataFrame(java.util.Arrays.asList(rows: _*), rows.head.schema)),
      verified, verifiedRel))
    val perPair = math.max(cc, lsh).toDouble / n
    info(f"driver bytes per pair: connectedComponents ${cc.toDouble / n}%.0f, " +
      f"minhashLshFrom ${lsh.toDouble / n}%.0f; PairDriverBytes ${Dedup.PairDriverBytes}")
    assert(perPair <= Dedup.PairDriverBytes, s"$perPair B per pair")
    assert(perPair >= Dedup.PairDriverBytes / 2, s"$perPair B per pair: the figure is stale")
  }

  test("smallPairs: a raised threshold still sends a frame over the driver's share to the loop") {
    val pairs = spark.range(50).select(col("id").as("doc_a"), (col("id") + 1).as("doc_b"))
    // a driver whose quarter-heap holds 40 pairs, then one that holds 50
    def heapFor(n: Long) = 4 * Dedup.PairDriverBytes * n
    withThreshold("1g") {
      assert(Dedup.smallPairs(pairs, heapFor(40)).isEmpty)
      assert(Dedup.smallPairs(pairs, heapFor(50)).map(_.length).contains(50))
    }
    val heap = Runtime.getRuntime.maxMemory
    // at Spark's 8 GB broadcast ceiling the cap is the heap's, not the threshold's
    val cap = Dedup.smallPairCap(8L << 30, heap)
    assert(cap * Dedup.PairDriverBytes <= heap / 4)
    assert(cap == math.min(8L << 30, heap / 4) / Dedup.PairDriverBytes)
    assert(Dedup.smallPairCap(10L << 20, 1L << 40) == (10L << 20) / Dedup.PairDriverBytes)
    assert(Dedup.smallPairCap(-1L, heap) == -1L)
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
