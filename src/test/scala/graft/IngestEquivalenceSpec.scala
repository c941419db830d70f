package graft

import graft.functions.TextKernels.tokens
import graft.operators.Dedup
import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions._
import org.scalacheck.{Gen, Prop, Test}
import org.scalacheck.rng.Seed
import org.scalacheck.util.Pretty
import org.scalatest.funsuite.AnyFunSuite

/** `Dedup.incrementalIngest` against the four-branch plan it replaced,
  * kept here verbatim as the reference: both must assign every batch doc
  * the same status on every input, including the shapes where the new
  * plan's reordering could change the answer (the band cap applied after
  * the index-side semi-join, an index that is not hash-unique). */
class IngestEquivalenceSpec extends AnyFunSuite with SparkSessionTestWrapper {
  import spark.implicits._

  /** The previous `incrementalIngest`: exact-vs-index and in-batch dups by
    * anti/semi-joins, both band sides capped in full, a four-way union. */
  private def reference(old: DataFrame, bandedOld: DataFrame, newb: DataFrame): DataFrame = {
    val oldH = old.select(md5(col("text")).as("h")).distinct()
    val nh    = newb.withColumn("h", md5(col("text"))).localCheckpoint()
    val exact = nh.join(oldH, Seq("h"), "left_semi").select(col("doc_id"))
    val rest  = nh.join(oldH, Seq("h"), "left_anti")
    val keepIds = rest.groupBy(col("h")).agg(min(col("doc_id")).as("doc_id"))
      .select("doc_id")
    val bdup    = rest.join(keepIds, Seq("doc_id"), "left_anti").select(col("doc_id"))
    val keepers = rest.join(keepIds, Seq("doc_id"), "left_semi")
      .select(col("doc_id"), col("text"))
    val bN = Dedup.capBands(Dedup.bandedKeysFor(keepers))
    val bO = Dedup.capBands(bandedOld)
    val cand = bN.as("n").join(bO.as("o"),
        col("n.band") === col("o.band") && col("n.k1") === col("o.k1") &&
          col("n.k2") === col("o.k2"))
      .select(col("n.doc_id").as("n_id"), col("o.doc_id").as("o_id")).distinct()
      .cache()
    def sets(src: DataFrame, idc: String) = Dedup.shingleSets(
      src.join(cand.select(col(idc).as("doc_id")).distinct(), Seq("doc_id"), "left_semi"),
      tokens(col("text")))
    val near = Dedup.withPairSets(cand, sets(keepers, "n_id"), sets(old, "o_id"), "n_id", "o_id")
      .filter(Dedup.jaccard(col("sh_a"), col("sh_b")) >= 0.8)
      .select(col("n_id").as("doc_id")).distinct()
      .localCheckpoint()
    cand.unpersist()
    val novel = keepers.select(col("doc_id"))
      .join(near, Seq("doc_id"), "left_anti")
    exact.withColumn("status", lit("exact_dup"))
      .unionByName(bdup.withColumn("status", lit("batch_dup")))
      .unionByName(near.withColumn("status", lit("near_dup")))
      .unionByName(novel.withColumn("status", lit("novel")))
  }

  private def frame(docs: Seq[(Long, String)]): DataFrame = docs.toDF("doc_id", "text")

  private def statuses(df: DataFrame): Seq[(Long, String)] =
    df.select(col("doc_id"), col("status")).collect()
      .map { case Row(id: Long, s: String) => (id, s) }.toSeq.sorted

  /** Runs both plans on the same input; returns the (agreed) statuses. */
  private def both(old: Seq[(Long, String)], batch: Seq[(Long, String)]): Seq[(Long, String)] = {
    val (o, b) = (frame(old), frame(batch))
    val banded = Dedup.bandedKeysFor(o).localCheckpoint()
    val got  = statuses(Dedup.incrementalIngest(o, banded, b))
    val want = statuses(reference(o, banded, b))
    assert(got == want, s"incrementalIngest $got\nreference $want")
    got
  }

  private val rng = new scala.util.Random(20261020L)
  /** `n` tokens from a private vocabulary (`tag` keeps texts disjoint). */
  private def words(tag: String, n: Int): String =
    Seq.fill(n)(s"$tag${rng.nextInt(5000)}").mkString(" ")

  private val index: Seq[(Long, String)] = (1L to 40L).map(i => (i, words(s"w$i-", 30)))
  private def text(id: Long): String = index.find(_._1 == id).get._2

  test("an empty batch classifies nothing") {
    assert(both(index, Nil).isEmpty)
  }

  test("a batch with no keepers: every doc is an exact or batch dup") {
    val batch = Seq(100L -> text(1), 101L -> text(2), 102L -> text(2), 103L -> text(3))
    assert(both(index, batch).map(_._2).toSet == Set("exact_dup"))
  }

  test("an index with two docs of one hash: each batch doc still gets one status") {
    val old = index :+ (41L -> text(5))
    val got = both(old, Seq(100L -> text(5), 101L -> (text(5) + " zzz"), 102L -> words("n", 30)))
    assert(got == Seq(100L -> "exact_dup", 101L -> "near_dup", 102L -> "novel"))
  }

  test("batch dups of an exact dup are exact dups, the batch dups of a keeper are batch dups") {
    val fresh = words("f", 30)
    val got = both(index,
      Seq(100L -> text(7), 99L -> text(7), 101L -> text(7), 103L -> fresh, 102L -> fresh))
    assert(got == Seq(99L -> "exact_dup", 100L -> "exact_dup", 101L -> "exact_dup",
      102L -> "novel", 103L -> "batch_dup"))
  }

  /** A band group over [[Dedup.MaxBandGroup]]: `n` docs that extend
    * `core` with 60 private tokens each. A band's key is a pair of
    * shingle-hash minima, so each doc keeps `core`'s key in a band unless
    * one of its private shingles undercuts that band's minima (~0.4 here):
    * every band key of `core` gathers ~0.6·n of them, while none is within
    * Jaccard 0.8 of `core` itself. */
  private def hotGroup(core: String, from: Long, n: Int): Seq[(Long, String)] =
    (0 until n).map(i => (from + i, core + " " + words(s"p$i-", 60)))

  test("an index band group over the cap that the batch hits: capped after the semi-join") {
    val core = words("c", 200)
    // the only index doc near the batch doc sorts after the whole hot
    // group, so the cap drops it from every band it shares with the batch
    val near = 5000L -> (core + " qqq")
    val got = both(hotGroup(core, 1000L, 550) :+ near, Seq(100L -> core, 101L -> text(1)))
    assert(got == Seq(100L -> "novel", 101L -> "novel"))
    // and without the cap it would have been a near dup
    assert(both(Seq(near), Seq(100L -> core)) == Seq(100L -> "near_dup"))
  }

  test("a batch-side band group over the cap: the batch keepers are capped too") {
    val core  = words("d", 200)
    val batch = hotGroup(core, 1000L, 550) :+ (5000L -> core)
    val got = both(index :+ (41L -> (core + " qqq")), batch)
    assert(got.map(_._2).toSet == Set("novel"))
  }

  /** An index of short random docs and a batch planting every class: exact
    * copies, near copies, fresh docs and copies of earlier batch docs. */
  private val randomText: Gen[String] =
    Gen.choose(2, 24).flatMap(Gen.listOfN(_, Gen.choose(0, 400))).map(_.mkString("r", " r", ""))

  private val planted: Gen[(Seq[(Long, String)], Seq[(Long, String)])] = for {
    nOld  <- Gen.choose(1, 25)
    old   <- Gen.listOfN(nOld, randomText)
    kinds <- Gen.choose(0, 25).flatMap(Gen.listOfN(_, Gen.choose(0, 3)))
    picks <- Gen.listOfN(kinds.size, Gen.choose(0, 1000))
    fresh <- Gen.listOfN(kinds.size, randomText)
  } yield {
    val index = old.zipWithIndex.map { case (t, i) => (i.toLong + 1, t) }
    val batch = kinds.zip(picks).zipWithIndex.foldLeft(Vector.empty[(Long, String)]) {
      case (acc, ((k, p), i)) =>
        val t = k match {
          case 0 => index(p % index.size)._2
          case 1 => index(p % index.size)._2 + " zzz"
          case 2 if acc.nonEmpty => acc(p % acc.size)._2
          case _ => fresh(i)
        }
        acc :+ ((1000L - 7L * i) -> t) // ids unsorted against batch order
    }
    (index, batch)
  }

  test("property: the new plan equals the reference on random planted batches") {
    val params = Test.Parameters.default.withMinSuccessfulTests(12).withInitialSeed(Seed(20261020L))
    val r = Test.check(params, Prop.forAllNoShrink(planted) { case (old, batch) =>
      val got = both(old, batch)
      Prop(got.map(_._1) == batch.map(_._1).sorted) :| s"one status per batch doc: $got"
    })
    assert(r.passed, Pretty.pretty(r))
  }
}
