package graft

import graft.corpus.Corpus
import graft.extract.Extract
import graft.plans.{ExtractJob, GoldenDiff, LineageAccumulator}
import org.scalatest.funsuite.AnyFunSuite

/** The north-rule verification: 100% span-sequence equality
  * (kind, text, media_ref, order) per doc_id via GoldenDiff's doc-level
  * comparison.
  * Reference precedent: golden-JSON-per-document diffing
  * (/root/reference/eval_script_field_level.py:100-102, 208-288). */
class ExtractGoldenSpec extends AnyFunSuite with SparkSessionTestWrapper {

  test("local kernel matches goldens on 200 seeded docs (all doc types)") {
    Corpus.pairs(200, seed = 42).foreach { case (in, golden) =>
      val out = Extract.document(in)
      assert(out == golden, s"doc ${in.doc_id} mismatch:\n got    $out\n wanted $golden")
    }
  }

  test("adversarial corpus cases match their analytically-derived goldens") {
    // 21: >1MB mega; 31: threshold-boundary multi-column pdf; 43:
    // flanking-boilerplate html; 55: ref_def shadowing — each golden is
    // derived from the published rule/geometry, never from the kernel
    Seq(21L, 31L, 43L, 55L, 121L, 131L, 143L, 155L).foreach { idx =>
      val (in, golden) = Corpus.pair(idx, seed = 42)
      val out = Extract.document(in)
      assert(out == golden, s"adversarial doc $idx mismatch:\n got    $out\n wanted $golden")
    }
    // the XL mega doc really is the >1 MB skew case
    val megaBytes = Corpus.pair(21L, 42L)._1.spans.map(_.text.length.toLong).sum
    assert(megaBytes > 1000000L, s"mega doc is only $megaBytes bytes")
    // flanking semantics actually bite: case-B short blocks are ABSENT
    val (in43, g43) = Corpus.pair(43L, 42L)
    assert(in43.spans.size > g43.spans.size + 2, "adversarial html lost no blocks?")
  }

  test("media resolution drops dangling refs and resolves live ones") {
    import Span.Kind
    val doc = Document("d", Seq(
      Span(Kind.Text, "before", "", 0),
      Span(Kind.Image, "", "img1", 1),
      Span(Kind.Table, "", "missing", 2),
      Span(Kind.RefDef, "img1 -> mem://m/img1", "", 3)))
    val out = Extract.document(doc)
    assert(out.spans == Seq(
      Span(Kind.Text, "before", "", 0),
      Span(Kind.Image, "", "mem://m/img1", 1)))
  }

  test("extraction is idempotent on its own output") {
    Corpus.pairs(50, seed = 7).foreach { case (_, golden) =>
      assert(Extract.document(golden) == golden)
    }
  }

  test("spark job: no doc mismatches its golden (1000 docs)") {
    val spark = this.spark
    val lineage = new LineageAccumulator
    spark.sparkContext.register(lineage, "extract-lineage")

    val inputs  = ExtractJob.generateInputs(spark, 1000, seed = 42, parts = 8)
    val goldens = ExtractJob.generateGoldens(spark, 1000, seed = 42, parts = 8)
    // cache: the check below is another action over the extraction;
    // without it the extraction would re-run and the accumulator would
    // multi-count
    val out = ExtractJob.extract(inputs, numPartitions = 8, lineage = Some(lineage)).cache()
    out.count()

    val bad = GoldenDiff.mismatchedDocs(out, goldens)
    assert(bad.isEmpty, s"mismatched docs: ${bad.take(5).mkString("\n")}")

    // lineage accumulator saw every doc, no errors, multiple partitions
    val stats = lineage.value
    assert(stats.values.map(_.docs).sum == 1000L)
    assert(stats.values.map(_.errors).sum == 0L)
    assert(stats.size > 1, "salted repartition should spread docs over partitions")
  }

  test("mega-doc skew spreads across partitions via salted repartition") {
    val spark = this.spark
    val lineage = new LineageAccumulator
    spark.sparkContext.register(lineage, "skew-lineage")
    // doc indices 1,2 mod 20 are mega docs (~400 blocks)
    val inputs = ExtractJob.generateInputs(spark, 200, seed = 42, parts = 4)
    ExtractJob.extract(inputs, numPartitions = 8, lineage = Some(lineage)).count()
    val spansPerPart = lineage.value.values.map(_.spans).toSeq
    assert(spansPerPart.size > 4, s"expected >4 partitions used, got $spansPerPart")
  }
}
