package graft.plans

import graft.{Document, Span, SpanRow}
import graft.extract.Extract
import org.apache.spark.TaskContext
import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.util.AccumulatorV2

import scala.collection.concurrent.TrieMap

/** Per-partition lineage + throughput metrics (BASELINE.json north_rule:
  * "per-partition lineage + throughput metrics via custom Spark
  * accumulators"). Merge-commutative map: partitionId -> (docs, spans,
  * errors, nanos). The reference's analog is its per-request INFO logging
  * (/root/reference/app.py:235). */
final case class PartitionStats(docs: Long, spans: Long, errors: Long, nanos: Long) {
  def +(o: PartitionStats): PartitionStats =
    PartitionStats(docs + o.docs, spans + o.spans, errors + o.errors, nanos + o.nanos)
}

final class LineageAccumulator
    extends AccumulatorV2[(Int, PartitionStats), Map[Int, PartitionStats]] {
  private val m = TrieMap.empty[Int, PartitionStats]
  override def isZero: Boolean = m.isEmpty
  override def copy(): LineageAccumulator = {
    val c = new LineageAccumulator; m.foreach { case (k, v) => c.m.put(k, v) }; c
  }
  override def reset(): Unit = m.clear()
  override def add(v: (Int, PartitionStats)): Unit =
    m.updateWith(v._1) { prev => Some(prev.fold(v._2)(_ + v._2)) }
  override def merge(other: AccumulatorV2[(Int, PartitionStats), Map[Int, PartitionStats]]): Unit =
    other.value.foreach { case (k, v) => add((k, v)) }
  override def value: Map[Int, PartitionStats] = m.toMap
}

/** Per-BUCKET write stats, accumulated inside the kernel pass itself:
  * bucket -> (docs, spans, contentHash-XOR). This is how manifest stats
  * are produced WITHOUT a read-back scan of the written output — the same
  * shape Iceberg gets from its writer's per-file metrics. XOR-fold is
  * commutative, so task scheduling order cannot change the value; the
  * accumulator rides the write action (a result stage), where Spark
  * applies each successful task's updates exactly once. */
final case class BucketStats(docs: Long, spans: Long, hash: Long) {
  def +(o: BucketStats): BucketStats =
    BucketStats(docs + o.docs, spans + o.spans, hash ^ o.hash)
}

final class BucketStatsAccumulator
    extends AccumulatorV2[(Int, BucketStats), Map[Int, BucketStats]] {
  private val m = TrieMap.empty[Int, BucketStats]
  override def isZero: Boolean = m.isEmpty
  override def copy(): BucketStatsAccumulator = {
    val c = new BucketStatsAccumulator; m.foreach { case (k, v) => c.m.put(k, v) }; c
  }
  override def reset(): Unit = m.clear()
  override def add(v: (Int, BucketStats)): Unit =
    m.updateWith(v._1) { prev => Some(prev.fold(v._2)(_ + v._2)) }
  override def merge(other: AccumulatorV2[(Int, BucketStats), Map[Int, BucketStats]]): Unit =
    other.value.foreach { case (k, v) => add((k, v)) }
  override def value: Map[Int, BucketStats] = m.toMap
}

/** The end-to-end extraction job: salted repartition → one narrow
  * mapPartitions stage running [[graft.extract.Extract]].
  *
  * Scale notes (designed for 10^12 docs / 1000 executors, tested on
  * local[32]):
  *  - `repartition(hash(doc_id))` with an explicit partition count defuses
  *    mega-document skew: documents land by uniform hash, not by input
  *    file order, so one parquet file of mega-docs cannot pin one task.
  *    The salt column is derived (hash of doc_id + salt literal), never
  *    stored.
  *  - exactly ONE shuffle in the whole job; extraction itself is narrow.
  *  - per-document try/catch: a poison document yields an error-tagged
  *    empty output instead of failing the stage (the reference's
  *    skip-and-continue policy, eval_script_field_level.py:373-398).
  */
object ExtractJob {

  def extract(
      docs: Dataset[Document],
      numPartitions: Int,
      salt: Int = 0,
      lineage: Option[LineageAccumulator] = None,
      partitionExpr: Option[org.apache.spark.sql.Column] = None,
      // (accumulator, nBuckets, bucketSalt): per-bucket manifest stats
      // computed in THIS pass — spares ManifestIO.write its read-back scan
      bucketStats: Option[(BucketStatsAccumulator, Int, Int)] = None): Dataset[Document] = {
    import docs.sparkSession.implicits._
    docs
      .repartition(numPartitions, partitionExpr.getOrElse(hash(col("doc_id"), lit(salt))))
      .mapPartitions { it =>
        val pid = TaskContext.getPartitionId()
        def record(out: Document): Document = {
          bucketStats.foreach { case (acc, nBuckets, bSalt) =>
            acc.add((ManifestIO.bucketValue(out.doc_id, nBuckets, bSalt),
              BucketStats(1, out.spans.size.toLong, ContentHash.docHash(out))))
          }
          out
        }
        it.map { doc =>
          val t0 = System.nanoTime()
          try {
            val out = Extract.document(doc)
            lineage.foreach(_.add((pid, PartitionStats(1, out.spans.size.toLong, 0, System.nanoTime() - t0))))
            record(out)
          } catch {
            case scala.util.control.NonFatal(_) =>
              lineage.foreach(_.add((pid, PartitionStats(1, 0, 1, System.nanoTime() - t0))))
              record(Document(doc.doc_id, Seq.empty))
          }
        }
      }
  }

  /** Distributed corpus materialization: pure function of (idx, seed), no
    * driver-side data — the only generation pattern valid at 10^12 docs. */
  def generateInputs(spark: SparkSession, n: Long, seed: Long, parts: Int): Dataset[Document] = {
    import spark.implicits._
    spark.range(0, n, 1, parts).map(i => graft.corpus.Corpus.input(i, seed))
  }

  def generateGoldens(spark: SparkSession, n: Long, seed: Long, parts: Int): Dataset[Document] = {
    import spark.implicits._
    spark.range(0, n, 1, parts).map(i => graft.corpus.Corpus.golden(i, seed))
  }
}

/** Golden-file verification: span-sequence equality per doc_id
  * (BASELINE.json north_rule; reference precedent: per-document golden
  * JSON diffing, eval_script_field_level.py:208-288). Each side keeps its
  * nested form: one row per doc carrying the whole span sequence, and one
  * sort-merge full-outer join on doc_id compares the two arrays.
  *
  * A doc matches when both sequences hold the same (kind, text,
  * media_ref) in the same order. `offset` is ignored, null text and
  * media_ref read as "", and a doc missing from one side reads as an empty
  * sequence, so an empty golden doc matches an absent extracted one. A
  * span with a null `kind` never matches, on either side (array equality
  * alone would call null equal to null).
  *
  * Precondition: `doc_id` is non-null and unique within each side. */
object GoldenDiff {

  /** Explode a docs table to one row per (doc_id, pos, kind, text,
    * media_ref). `pos` is the array index — the reading-order rank. An
    * empty doc contributes no rows. */
  def explodeSpans(docs: Dataset[Document]): DataFrame =
    docs.select(col("doc_id"), posexplode(col("spans")).as(Seq("pos", "s")))
      .select(col("doc_id"), col("pos"), col("s.kind"),
        coalesce(col("s.text"), lit("")).as("text"),
        coalesce(col("s.media_ref"), lit("")).as("media_ref"))

  /** (doc_id, `name`): the doc's span sequence as compared. */
  private def spanSeqs(docs: Dataset[Document], name: String): DataFrame =
    docs.select(col("doc_id"), transform(col("spans"), s => struct(
      s("kind").as("kind"),
      coalesce(s("text"), lit("")).as("text"),
      coalesce(s("media_ref"), lit("")).as("media_ref"))).as(name))

  /** Every doc_id of either side: (doc_id, in_golden, golden, extracted,
    * bad), `in_golden` null for an extracted-only doc. */
  private def compared(extracted: Dataset[Document], goldens: Dataset[Document]): DataFrame = {
    val g     = spanSeqs(goldens, "golden").withColumn("in_golden", lit(true))
    val e     = spanSeqs(extracted, "extracted")
    val empty = array().cast(g.schema("golden").dataType)
    def nullKind(seq: String) = exists(col(seq), _("kind").isNull)
    // BOTH sides scale with the corpus, so neither may broadcast — but the
    // goldens are a typed range().map() dataset whose size Catalyst
    // estimates from the 8-byte-per-row range, so without a hint the
    // planner could pick a build side it thinks is tiny and collect
    // ~1 GB of real span text at 200k docs (a per-span form of this check
    // died on spark.driver.maxResultSize that way). The merge hint forces
    // a sort-merge join: both sides shuffle and SORT, which spills
    // gracefully — shuffle_hash was tried on the per-span form and OOMed
    // building concurrent in-memory maps (mega-doc rows make partition
    // bytes >> row-count estimates).
    g.hint("merge").join(e, Seq("doc_id"), "full_outer")
      .select(col("doc_id"), col("in_golden"),
        coalesce(col("golden"), empty).as("golden"),
        coalesce(col("extracted"), empty).as("extracted"))
      .withColumn("bad",
        col("golden") =!= col("extracted") || nullKind("golden") || nullKind("extracted"))
  }

  /** The docs whose sequences differ, (doc_id, golden, extracted), both
    * sequences carried for diagnosis. Empty ⇔ extraction matches goldens
    * exactly (100% span-sequence equality). */
  def mismatchedDocs(extracted: Dataset[Document], goldens: Dataset[Document]): DataFrame =
    compared(extracted, goldens).filter(col("bad"))
      .select(col("doc_id"), col("golden"), col("extracted"))

  /** Doc-level equality summary in one aggregate: (golden docs, golden
    * docs − mismatched docs). An extracted doc absent from the goldens
    * counts as mismatched unless its sequence is empty. */
  def matchRate(extracted: Dataset[Document], goldens: Dataset[Document]): (Long, Long) = {
    val r     = compared(extracted, goldens)
      .agg(count(col("in_golden")), count_if(col("bad"))).head()
    val total = r.getLong(0)
    (total, total - r.getLong(1))
  }
}
