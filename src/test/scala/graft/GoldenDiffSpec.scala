package graft

import graft.Span.Kind
import graft.plans.GoldenDiff
import org.apache.spark.sql.{DataFrame, Dataset}
import org.apache.spark.sql.functions._
import org.scalacheck.{Gen, Prop, Test}
import org.scalacheck.rng.Seed
import org.scalacheck.util.Pretty
import org.scalatest.funsuite.AnyFunSuite

/** The doc-level golden check against the row-level formula it replaced:
  * both sides exploded to one row per span, two anti-joins on (doc_id,
  * pos, kind, text, media_ref), a doc is bad when any of its rows is on
  * one side only. */
class GoldenDiffSpec extends AnyFunSuite with SparkSessionTestWrapper {
  import spark.implicits._

  private def exploded(docs: Dataset[Document]): DataFrame =
    docs.select(col("doc_id"), posexplode(col("spans")).as(Seq("pos", "s")))
      .select(col("doc_id"), col("pos"), col("s.kind"),
        coalesce(col("s.text"), lit("")).as("text"),
        coalesce(col("s.media_ref"), lit("")).as("media_ref"))

  /** The reference: (golden docs, golden docs − bad docs), bad doc ids. */
  private def reference(e: Dataset[Document], g: Dataset[Document]): ((Long, Long), Set[String]) = {
    val keys = Seq("doc_id", "pos", "kind", "text", "media_ref")
    val (ex, gx) = (exploded(e), exploded(g))
    val diff = gx.join(ex, keys, "left_anti").unionByName(ex.join(gx, keys, "left_anti"))
    val bad  = diff.select("doc_id").distinct().as[String].collect().toSet
    val total = g.count()
    ((total, total - bad.size), bad)
  }

  private def checked(e: Dataset[Document], g: Dataset[Document]): ((Long, Long), Set[String]) =
    (GoldenDiff.matchRate(e, g),
      GoldenDiff.mismatchedDocs(e, g).select("doc_id").as[String].collect().toSet)

  /** Asserts the check agrees with the reference and returns the bad ids. */
  private def same(extracted: Seq[Document], goldens: Seq[Document]): Set[String] = {
    val (e, g) = (extracted.toDS(), goldens.toDS())
    val want   = reference(e, g)
    assert(checked(e, g) == want)
    want._2
  }

  private def text(t: String, off: Int = 0) = Span(Kind.Text, t, "", off)
  private val img = Span(Kind.Image, "", "mem://m/a", 1)

  test("a doc missing from the extracted side is bad") {
    val gold = Seq(Document("a", Seq(text("x"))), Document("b", Seq(text("y"))))
    assert(same(gold.take(1), gold) == Set("b"))
  }

  test("an extra extracted doc is bad, and counts against the golden total") {
    val gold = Seq(Document("a", Seq(text("x"))))
    val ext  = gold :+ Document("z", Seq(text("extra")))
    assert(same(ext, gold) == Set("z"))
    assert(GoldenDiff.matchRate(ext.toDS(), gold.toDS()) == (1L, 0L))
  }

  test("an empty golden doc matches an absent extracted doc") {
    val gold = Seq(Document("a", Seq.empty), Document("b", Seq(text("y"))))
    assert(same(gold.drop(1), gold).isEmpty)
    assert(GoldenDiff.matchRate(gold.drop(1).toDS(), gold.toDS()) == (2L, 2L))
  }

  test("two swapped spans are bad, and both sequences are reported") {
    val gold = Seq(Document("a", Seq(text("x", 0), img)))
    val ext  = Seq(Document("a", Seq(img.copy(offset = 0), text("x", 1))))
    assert(same(ext, gold) == Set("a"))
    val row = GoldenDiff.mismatchedDocs(ext.toDS(), gold.toDS())
      .select(col("golden.kind"), col("extracted.kind")).as[(Seq[String], Seq[String])].collect()
    assert(row.toSeq == Seq((Seq(Kind.Text, Kind.Image), Seq(Kind.Image, Kind.Text))))
  }

  test("null and empty text and media_ref are equal") {
    val gold = Seq(Document("a", Seq(Span(Kind.Image, null, "", 0), Span(Kind.Text, "t", null, 1))))
    val ext  = Seq(Document("a", Seq(Span(Kind.Image, "", null, 0), Span(Kind.Text, "t", "", 1))))
    assert(same(ext, gold).isEmpty)
  }

  test("a span with a null kind never matches, on either side") {
    val withNull = Seq(Span(null, "t", "", 0))
    val gold = Seq(Document("both", withNull), Document("golden", withNull),
      Document("extracted", Seq(text("t"))))
    val ext  = Seq(Document("both", withNull), Document("golden", Seq(text("t"))),
      Document("extracted", withNull))
    assert(same(ext, gold) == Set("both", "golden", "extracted"))
  }

  test("spans differing only in offset are equal") {
    val gold = Seq(Document("a", Seq(text("x", 0), img)))
    val ext  = Seq(Document("a", Seq(text("x", 7), img.copy(offset = -1))))
    assert(same(ext, gold).isEmpty)
  }

  test("one changed character inside a 4,000-block mega doc is bad") {
    val blocks = (0 until 4000).map(i => text(s"block $i " + "w" * 200, i))
    val gold   = Seq(Document("mega", blocks), Document("mega2", blocks))
    val ext    = Seq(Document("mega", blocks.updated(2345, text("block 2345 " + "w" * 199 + "v", 2345))),
      Document("mega2", blocks))
    assert(same(ext, gold) == Set("mega"))
  }

  /** One random edit of a span sequence, or none. */
  private def edit(spans: Vector[Span]): Gen[Vector[Span]] =
    if (spans.isEmpty) Gen.frequency(3 -> Gen.const(spans), 1 -> Gen.const(Vector(text("new"))))
    else Gen.choose(0, spans.size - 1).flatMap { i =>
      val s = spans(i)
      def flip(v: String) = if (v == null) "" else if (v.isEmpty) null else v + "z"
      Gen.frequency(
        4 -> spans,
        1 -> spans.patch(i, Nil, 1),
        1 -> (if (i + 1 < spans.size) spans.updated(i, spans(i + 1)).updated(i + 1, s) else spans),
        1 -> spans.updated(i, s.copy(text = flip(s.text))),
        1 -> spans.updated(i, s.copy(media_ref = flip(s.media_ref))),
        1 -> spans.updated(i, s.copy(offset = s.offset + 1)),
        1 -> spans.updated(i, s.copy(kind = null)),
        1 -> (spans :+ s))
    }

  /** (extracted, goldens): hostile golden sequences, each edited on the
    * extracted side, some docs dropped from it and sometimes one extra. */
  private val editedCorpus: Gen[(Seq[Document], Seq[Document])] = for {
    base   <- Gen.choose(1, 12).flatMap(Gen.listOfN(_, HostileDocs.spans))
    edited <- base.foldRight(Gen.const(List.empty[Vector[Span]])) { (s, acc) =>
                for { e <- edit(s); r <- acc } yield e :: r }
    keep   <- Gen.listOfN(base.size, Gen.frequency(9 -> true, 1 -> false))
    extra  <- Gen.frequency(3 -> Gen.const(Nil), 1 -> HostileDocs.spans.map(List(_)))
  } yield {
    val gold = base.zipWithIndex.map { case (s, i) => Document(s"d$i", s) }
    val ext  = edited.zip(keep).zipWithIndex.collect { case ((s, true), i) => Document(s"d$i", s) } ++
      extra.map(Document("extra", _))
    (ext, gold)
  }

  test("property: the doc-level check equals the anti-join reference under random edits") {
    val params = Test.Parameters.default.withMinSuccessfulTests(20).withInitialSeed(Seed(20261019L))
    val r = Test.check(params, Prop.forAllNoShrink(editedCorpus) { case (ext, gold) =>
      val (e, g) = (ext.toDS(), gold.toDS())
      val (got, want) = (checked(e, g), reference(e, g))
      Prop(got == want) :| s"check $got, reference $want"
    })
    assert(r.passed, Pretty.pretty(r))
  }
}
