package graft

import graft.Span.Kind
import graft.extract.{Boilerplate, Extract}
import graft.plans.{ExtractJob, LineageAccumulator}
import org.scalacheck.{Arbitrary, Gen, Prop, Test}
import org.scalacheck.rng.Seed
import org.scalacheck.util.Pretty
import org.scalatest.funsuite.AnyFunSuite

/** Generators for hostile documents: unsorted and duplicate offsets,
  * unknown (and null) kinds, null and empty text, malformed html / glyph
  * runs / ref defs, long same-kind runs, and mixed segments. */
object HostileDocs {
  private val word = Gen.oneOf("alpha", "beta", "gamma", "naïve", "数据", "😀x", "&amp;", "-")
  private def words(lo: Int, hi: Int): Gen[String] =
    Gen.choose(lo, hi).flatMap(Gen.listOfN(_, word)).map(_.mkString(" "))
  private val noise: Gen[String] = Gen.oneOf(
    Gen.const(null: String), Gen.const(""),
    Gen.oneOf(" ", "\n\t", "\r\n  ", "\u000B\f", " "),
    Arbitrary.arbitrary[String])

  private val html: Gen[String] = Gen.frequency(
    3 -> words(41, 60).map(w => s"<p>\n  $w\n</p>"),
    3 -> words(1, 8).map(_.split(' ').map(x => s"<a href='#$x'>$x</a>").mkString("<div>", " ", "</div>")),
    3 -> words(1, 20).map(w => s"<div>$w</div>"),
    1 -> words(1, 10).map(w => s"<p>$w <a>$w"),
    1 -> words(1, 10).map(w => s"<a><a>$w</a></a> $w <"),
    2 -> noise)

  private val glyphRun: Gen[String] = Gen.frequency(
    6 -> (for { x <- Gen.choose(0, 1000); y <- Gen.choose(0, 400); w <- words(1, 6) } yield s"$x $y $w"),
    1 -> (for { x <- Gen.choose(-5, 5); w <- words(1, 3) } yield s"$x $w"),
    1 -> Gen.oneOf("99999999999 1 overflow", "1.5 2 frac", "  7\t8\n", "-3 -4 neg"),
    1 -> words(1, 4),
    2 -> noise)

  private val refName = Gen.oneOf("img1", "img2", "tbl", "", " img1 ")
  private val refDef: Gen[String] = Gen.frequency(
    4 -> (for { n <- refName; u <- Gen.oneOf("mem://m/a", "b", "", "x -> y") } yield s"$n -> $u"),
    1 -> Gen.oneOf("->", "img1 ->", "no arrow"),
    1 -> noise)
  private val mediaRef: Gen[String] =
    Gen.oneOf(refName, Gen.oneOf("mem://direct", "", null: String))

  private val kind: Gen[String] = Gen.frequency(
    6 -> Kind.Html, 4 -> Kind.PdfGlyphs, 3 -> Kind.Text, 2 -> Kind.Image, 2 -> Kind.Table,
    2 -> Kind.RefDef, 1 -> Gen.oneOf("video", "", "HTML", null: String))

  private def span(k: String): Gen[Span] = {
    val text = k match {
      case Kind.Html      => html
      case Kind.PdfGlyphs => glyphRun
      case Kind.RefDef    => refDef
      case Kind.Text      => Gen.oneOf(words(1, 30), noise)
      case _              => Gen.oneOf(words(0, 3), noise)
    }
    val ref = if (k == Kind.Image || k == Kind.Table) mediaRef else Gen.oneOf("", null: String)
    for { t <- text; r <- ref } yield Span(k, t, r, 0)
  }

  /** One maximal same-kind run; sometimes long. */
  private val segment: Gen[List[Span]] = for {
    k <- kind
    n <- Gen.frequency(8 -> Gen.choose(1, 4), 1 -> Gen.choose(20, 120))
    s <- Gen.listOfN(n, span(k))
  } yield s

  private def offsets(n: Int): Gen[Seq[Int]] = Gen.oneOf(
    Gen.const(0 until n),
    Gen.long.map(s => new scala.util.Random(s).shuffle((0 until n).toVector)),
    Gen.listOfN(n, Gen.choose(-3, n / 2 + 1)),
    Gen.listOfN(n, Gen.oneOf(Int.MinValue, -1, 0, 1, Int.MaxValue)))

  val spans: Gen[Vector[Span]] = for {
    segs <- Gen.choose(0, 8).flatMap(Gen.listOfN(_, segment))
    flat = segs.flatten
    offs <- offsets(flat.size)
  } yield flat.zip(offs).map { case (s, o) => s.copy(offset = o) }.toVector

  val document: Gen[Document] = for {
    id <- Gen.identifier
    s  <- spans
  } yield Document(id, s)
}

/** Property and complexity tests for the per-document extraction kernel. */
class ExtractKernelSpec extends AnyFunSuite with SparkSessionTestWrapper {
  import HostileDocs.document

  private def check(p: Prop, n: Int = 400): Unit = {
    val params = Test.Parameters.default.withMinSuccessfulTests(n).withInitialSeed(Seed(20261017L))
    val r      = Test.check(params, p)
    assert(r.passed, Pretty.pretty(r))
  }

  test("kernel never throws on hostile documents") {
    check(Prop.forAllNoShrink(document) { d =>
      Prop(scala.util.Try(Extract.document(d)).isSuccess) :| s"threw on $d"
    })
  }

  test("kernel gives equal results for List- and Vector-backed spans") {
    check(Prop.forAllNoShrink(document) { d =>
      Extract.document(d.copy(spans = d.spans.toList)) ==
        Extract.document(d.copy(spans = d.spans.toVector))
    })
  }

  test("kernel output offsets run exactly 0..n-1 and no text span is empty") {
    check(Prop.forAllNoShrink(document) { d =>
      val out = Extract.document(d).spans
      Prop(out.map(_.offset) == out.indices) :| s"offsets ${out.map(_.offset)}" &&
        Prop(out.forall(s => s.kind != Kind.Text || (s.text != null && s.text.nonEmpty))) :|
          s"empty text span in $out"
    })
  }

  test("spark job equals the pure kernel per document and tags no errors") {
    val spark = this.spark
    import spark.implicits._
    check(Prop.forAllNoShrink(Gen.listOfN(40, HostileDocs.spans)) { batch =>
      val docs    = batch.zipWithIndex.map { case (s, i) => Document(s"doc_$i", s) }
      val lineage = new LineageAccumulator
      spark.sparkContext.register(lineage)
      val got    = ExtractJob.extract(docs.toDS(), numPartitions = 4, lineage = Some(lineage))
        .collect().map(d => d.doc_id -> d).toMap
      val errors = lineage.value.values.map(_.errors).sum
      Prop(errors == 0L) :| s"$errors error-tagged docs" &&
        Prop(got.size == docs.size && docs.forall(d => got(d.doc_id) == Extract.document(d)))
    }, n = 5)
  }

  // 40,000 blocks, half content (41 words) and half navigation. Read by
  // position from a List they take 40-50 s on a 4-vCPU Xeon, in one pass
  // ~0.12 s: the bound sits over 20x under the quadratic time.
  private val MegaBlocks = 40000
  private val megaHtml: List[String] = List.tabulate(MegaBlocks) { i =>
    if (i % 2 == 0) Seq.fill(41)(s"w$i").mkString("<p>\n  ", " ", "\n</p>")
    else s"""<div><a href="#">home</a> <a href="#">n$i</a></div>"""
  }
  private val LinearBoundS = 1.5

  private def timed[A](f: => A): (A, Double) = {
    val t0 = System.nanoTime()
    val a  = f
    (a, (System.nanoTime() - t0) / 1e9)
  }

  test("kernel is linear in spans: List-backed doc of 40,000 html blocks") {
    val doc = Document("mega", megaHtml.zipWithIndex.map { case (t, i) => Span(Kind.Html, t, "", i) })
    Extract.document(doc.copy(spans = doc.spans.take(2000))) // JIT warm-up
    val (out, s) = timed(Extract.document(doc))
    assert(out.spans.size == MegaBlocks / 2)
    assert(s < LinearBoundS, f"Extract.document took $s%.2f s on $MegaBlocks blocks")
  }

  test("Boilerplate.extract is linear in blocks: List of 40,000 html blocks") {
    Boilerplate.extract(megaHtml.take(2000)) // JIT warm-up
    val (out, s) = timed(Boilerplate.extract(megaHtml))
    assert(out.size == MegaBlocks / 2)
    assert(s < LinearBoundS, f"Boilerplate.extract took $s%.2f s on $MegaBlocks blocks")
  }
}
