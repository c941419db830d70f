package graft.operators

import graft.{Document, Span}
import graft.corpus.EvalCorpus
import graft.eval.{EvalJob, J}
import graft.plans.{ExtractJob, GoldenDiff, OracleAux}
import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._

/** The extraction/eval pipeline exposed through the query surface — WITH
  * hard DuckDB oracles, so the flagship kernel is green in the driver's
  * CORRECTNESS gate, not just in ScalaTest.
  *
  * The kernel itself is not SQL-expressible (typed mapPartitions), so each
  * query materializes the INDEPENDENT second opinion as an aux parquet
  * table (see [[graft.plans.OracleAux]]) and the oracle SQL re-derives the
  * expected result from it in pure SQL:
  *
  *  - `extract_spans`: the aux table is the generator-side GOLDEN spans
  *    (a code path that never touches the extraction kernel); hash match
  *    ⇔ 100% span-sequence equality — the north rule's gate, driver-run.
  *  - `extract_golden_match`: aux = raw extracted + golden span rows; the
  *    oracle recomputes the symmetric anti-join diff and per-doc verdicts
  *    in SQL (reference precedent: the golden JSON diff IS the test
  *    strategy, eval_script_field_level.py:208-288).
  *  - `eval_metrics`: predictions carry defects PLANTED with known counts
  *    (EvalCorpus.plantedPrediction); aux = the generator's declared
  *    per-doc (total, missing, mismatched); the oracle computes the
  *    closed-form folder metrics, so Compare.scala must detect exactly
  *    the planted defects through all the tolerance-covered noise.
  */
object ExtractQueries {

  private val NDocs = 1000L
  private val Seed  = 7L

  /** Aux-parquet oracle plumbing is for the DRIVER's correctness gate
    * (Verify); Bench disables it so timed reps measure the kernel/query,
    * not repeated oracle-table parquet writes (plus, for extract_spans, a
    * second full golden-generation pass) inside the measured window. */
  @volatile var auxWrites = true

  private def writeAux(df: DataFrame, name: String): Unit =
    if (auxWrites) df.write.mode("overwrite").parquet(OracleAux.path(name))

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    // Extracted span rows for a seeded corpus: the flagship kernel output.
    // Oracle = the golden spans (independent generator path) ⇒ the driver's
    // hash compare IS the 100%-span-sequence-equality check.
    "extract_spans" -> ((s, _) => {
      val parts = s.sparkContext.defaultParallelism
      writeAux(
        GoldenDiff.explodeSpans(ExtractJob.generateGoldens(s, NDocs, Seed, parts)),
        "extract_spans_golden")
      val in = ExtractJob.generateInputs(s, NDocs, Seed, parts)
      GoldenDiff.explodeSpans(ExtractJob.extract(in, numPartitions = parts))
    }),

    // Caption-candidate alignment over the EXTRACTED interleaved spans —
    // the multimodal-pairing table an image-text training pipeline builds
    // from interleaved documents: per media span, the nearest preceding
    // and following text span (position + 8-token snippet). Runs the real
    // extraction kernel, then one per-doc window pass (running max/min of
    // text positions) + two (doc, pos)-keyed joins that only the media
    // rows probe. Aux = the extracted spans; the oracle re-derives the
    // alignment in SQL from them.
    "extract_caption_align" -> ((s, _) => {
      import graft.functions.TextKernels.tokens
      import org.apache.spark.sql.expressions.Window
      val parts = s.sparkContext.defaultParallelism
      val sp = GoldenDiff.explodeSpans(ExtractJob.extract(
        ExtractJob.generateInputs(s, NDocs, Seed, parts),
        numPartitions = parts)).cache()
      writeAux(sp, "cap_spans")
      val w = Window.partitionBy(col("doc_id")).orderBy(col("pos"))
      val media = sp
        .withColumn("prev_text_pos",
          coalesce(max(when(col("kind") === "text", col("pos")))
            .over(w.rowsBetween(Window.unboundedPreceding, -1)), lit(-1)))
        .withColumn("next_text_pos",
          coalesce(min(when(col("kind") === "text", col("pos")))
            .over(w.rowsBetween(1, Window.unboundedFollowing)), lit(-1)))
        .filter(col("media_ref") =!= "")
        .select(col("doc_id"), col("pos"), col("media_ref"),
          col("prev_text_pos"), col("next_text_pos"))
      val txt = sp.filter(col("kind") === "text")
        .select(col("doc_id"), col("pos"),
          array_join(slice(tokens(col("text")), 1, 8), " ").as("snippet"))
      media
        .join(txt.select(col("doc_id"), col("pos").as("prev_text_pos"),
          col("snippet").as("prev_snippet")),
          Seq("doc_id", "prev_text_pos"), "left")
        .join(txt.select(col("doc_id"), col("pos").as("next_text_pos"),
          col("snippet").as("next_snippet")),
          Seq("doc_id", "next_text_pos"), "left")
        .select(col("doc_id"), col("pos"), col("media_ref"),
          col("prev_text_pos"),
          coalesce(col("prev_snippet"), lit("")).as("prev_snippet"),
          col("next_text_pos"),
          coalesce(col("next_snippet"), lit("")).as("next_snippet"))
    }),

    // Span-level precision/recall/F1 — the PARTIAL-credit extraction
    // evaluator next to extract_golden_match's binary verdict (the
    // reference's field-level eval reports exactly this shape,
    // eval_script_field_level.py:373-425). The "competing extractor"
    // is the real kernel output DEGRADED deterministically (every
    // pos%7==3 span dropped, every pos%11==5 text mutated), so the
    // multiset matcher must score through known damage. Per doc:
    // match = Σ_key least(pred_count, gold_count) over (kind, text,
    // media_ref) keys — the J3 multiset discipline — then exact ppm
    // P/R/F1. Aux = the golden spans; the oracle degrades and scores
    // them in SQL (extraction == golden is proven by extract_spans, so
    // the twins agree iff the scoring math does).
    "eval_span_f1" -> ((s, _) => {
      val parts  = s.sparkContext.defaultParallelism
      val golden = GoldenDiff.explodeSpans(
        ExtractJob.generateGoldens(s, NDocs, Seed, parts)).cache()
      writeAux(golden, "sf1_golden")
      val pred = GoldenDiff.explodeSpans(ExtractJob.extract(
          ExtractJob.generateInputs(s, NDocs, Seed, parts),
          numPartitions = parts))
        .filter(col("pos") % 7 =!= 3)
        .withColumn("text", when(col("pos") % 11 === 5,
          concat(col("text"), lit(" @@"))).otherwise(col("text")))
      def counts(df: DataFrame, c: String): DataFrame =
        df.groupBy(col("doc_id"), col("kind"), col("text"), col("media_ref"))
          .agg(count(lit(1)).as(c))
      val m = counts(golden, "cg")
        .join(counts(pred, "cp"), Seq("doc_id", "kind", "text", "media_ref"),
          "full_outer")
        .groupBy(col("doc_id"))
        .agg(sum(coalesce(col("cg"), lit(0L))).as("n_gold"),
          sum(coalesce(col("cp"), lit(0L))).as("n_pred"),
          sum(least(coalesce(col("cg"), lit(0L)),
            coalesce(col("cp"), lit(0L)))).as("n_match"))
      m.withColumn("p_ppm",
          expr("(n_match * 1000000) div greatest(n_pred, 1)"))
        .withColumn("r_ppm",
          expr("(n_match * 1000000) div greatest(n_gold, 1)"))
        .withColumn("f1_ppm",
          expr("(2 * n_match * 1000000) div greatest(n_pred + n_gold, 1)"))
    }),

    // North-rule verification as a query: per-doc golden equality flags.
    // Aux carries both raw span tables; the oracle recomputes the
    // anti-join diff + verdict join in SQL.
    "extract_golden_match" -> ((s, _) => {
      val parts   = s.sparkContext.defaultParallelism
      val out     = ExtractJob.extract(ExtractJob.generateInputs(s, NDocs, Seed, parts), parts)
      val goldens = ExtractJob.generateGoldens(s, NDocs, Seed, parts)
      writeAux(GoldenDiff.explodeSpans(out), "egm_extracted")
      writeAux(GoldenDiff.explodeSpans(goldens), "egm_golden")
      val docs = goldens.toDF()
        .select(col("doc_id"), size(col("spans")).cast("long").as("golden_spans"))
      writeAux(docs, "egm_golden_docs")
      val bad = GoldenDiff.diff(out, goldens)
        .select(col("doc_id")).distinct().withColumn("matches", lit(false))
      docs.join(bad, Seq("doc_id"), "left_outer")
        .select(col("doc_id"), col("golden_spans"), coalesce(col("matches"), lit(true)).as("matches"))
    }),

    // ============== EXTRACTION → CURATION, END TO END ==============
    // The two halves of the product composed: ExtractMain's kernel output
    // (reassembled main-content text, ordered text-span concat — the
    // reference's own join, field_extractor_gpt.py:16) fed into the
    // corpus_curate chain. The planted defect is the case only the
    // COMPOSITION can handle: every 10th doc gets a copy whose raw spans
    // differ by an appended link-density-1.0 boilerplate block — raw-byte
    // dedup canNOT merge the pair; after boilerplate stripping the
    // extracted texts are identical and exact dedup kills every copy.
    // Oracle: the same curation chain in SQL over the GOLDEN spans (the
    // generator-side independent path) — hash equality therefore proves
    // extraction output == golden THROUGH the whole curation chain.
    "extract_curate" -> ((s, _) => {
      import s.implicits._
      val parts = s.sparkContext.defaultParallelism
      val in = withBoilerCopies(ExtractJob.generateInputs(s, XcurDocs, XcurSeed, parts))
      writeAux(GoldenDiff.explodeSpans(
          withGoldenCopies(ExtractJob.generateGoldens(s, XcurDocs, XcurSeed, parts))),
        "xcur_golden")
      val corpus = spansToText(
        GoldenDiff.explodeSpans(ExtractJob.extract(in, numPartitions = parts)))
      Curation.curate(corpus, Curation.packBucketsFor(XcurDocs + XcurCopies))
    }),

    // The reference's field-level evaluation (EP2) end-to-end on a seeded
    // golden/prediction corpus with PLANTED defect counts: per-folder
    // accuracy summary, oracle-checked against the generator's declared
    // counts in closed form.
    "eval_metrics" -> ((s, _) => {
      import s.implicits._
      val n    = 200L
      val seed = 11L
      def folder(i: Long) = if (i % 2 == 0) "set-clean" else "set-defect"
      val goldens = s.range(0, n, 1, 8).map { i =>
        EvalJob.JsonDoc(f"doc_$i%06d", folder(i), J.canonical(EvalCorpus.groundTruth(i, seed)))
      }
      val planted = s.range(0, n, 1, 8).map { i =>
        val (p, total, nMissing, nMismatched) = EvalCorpus.plantedPrediction(i, seed)
        (f"doc_$i%06d", folder(i), J.canonical(p), total.toLong, nMissing.toLong, nMismatched.toLong)
      }.toDF("doc_id", "folder", "json", "total", "n_missing", "n_mismatched")
      writeAux(planted.select("doc_id", "folder", "total", "n_missing", "n_mismatched"),
        "eval_expected")
      val preds = planted.select("doc_id", "folder", "json").as[EvalJob.JsonDoc]
      EvalJob.folderSummary(EvalJob.evaluate(preds, goldens))
    }))

  // --- extract_curate plumbing --------------------------------------------

  private val XcurDocs   = 400L
  private val XcurSeed   = 13L
  private val XcurCopies = (0L until XcurDocs).count(_ % 10 == 3).toLong
  /** Unambiguous boilerplate under the WSDM-2010 rules: every word inside
    * an anchor (link density 1.0) — stripped by extraction regardless of
    * neighbors, and appended LAST so it cannot change any existing
    * block's flanking features into a different class (generator content
    * blocks are >40 words ⇒ content on their own features). */
  private val XcurBoiler =
    """<div><a href="#home">home</a> <a href="#about">about</a> <a href="#terms">terms</a></div>"""

  private def xcurIdx(docId: String): Long =
    docId.stripPrefix("doc_").takeWhile(_.isDigit).toLong

  /** Every 10th doc duplicated with an EXTRA boilerplate block: raw spans
    * differ, extracted main content is identical. */
  private def withBoilerCopies(ds: Dataset[Document]): Dataset[Document] = {
    import ds.sparkSession.implicits._
    ds.flatMap { d =>
      if (xcurIdx(d.doc_id) % 10 == 3) {
        val off = if (d.spans.isEmpty) 0 else d.spans.map(_.offset).max + 1
        Seq(d, Document(d.doc_id + "_b",
          d.spans :+ Span(Span.Kind.Html, XcurBoiler, "", off)))
      } else Seq(d)
    }
  }

  /** The copies' goldens are the originals' goldens verbatim (boilerplate
    * never reaches the golden) under the suffixed id. */
  private def withGoldenCopies(ds: Dataset[Document]): Dataset[Document] = {
    import ds.sparkSession.implicits._
    ds.flatMap { d =>
      if (xcurIdx(d.doc_id) % 10 == 3) Seq(d, d.copy(doc_id = d.doc_id + "_b"))
      else Seq(d)
    }
  }

  /** Reassemble per-doc main-content text: ordered text-span concat (the
    * reference's extraction-text join). Docs with no text spans drop out
    * (empty/pure-media) — mirrored by the oracle's WHERE kind = 'text'. */
  private[graft] def spansToText(spans: DataFrame): DataFrame =
    spans.filter(col("kind") === "text")
      .groupBy(col("doc_id"))
      .agg(array_join(
        transform(array_sort(collect_list(struct(col("pos"), col("text")))),
          x => x.getField("text")), " ").as("text"))

  // --- DuckDB oracles (over the aux tables) -------------------------------

  private val spanCols = "doc_id, pos, kind, text, media_ref"

  def oracles: Map[String, String] = Map(
    "extract_spans" ->
      s"SELECT $spanCols FROM ${OracleAux.sqlFrom("extract_spans_golden")}",
    "extract_caption_align" -> {
      import graft.functions.TextKernels.Dk
      s"""WITH sp AS (
         |  SELECT $spanCols FROM ${OracleAux.sqlFrom("cap_spans")}),
         |m AS (
         |  SELECT doc_id, pos, media_ref,
         |    coalesce(max(CASE WHEN kind = 'text' THEN pos END) OVER
         |      (PARTITION BY doc_id ORDER BY pos
         |       ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), -1)
         |      AS prev_text_pos,
         |    coalesce(min(CASE WHEN kind = 'text' THEN pos END) OVER
         |      (PARTITION BY doc_id ORDER BY pos
         |       ROWS BETWEEN 1 FOLLOWING AND UNBOUNDED FOLLOWING), -1)
         |      AS next_text_pos
         |  FROM sp),
         |t AS (
         |  SELECT doc_id, pos,
         |    array_to_string((${Dk.tokens("text")})[1:8], ' ') AS snippet
         |  FROM sp WHERE kind = 'text')
         |SELECT m.doc_id, m.pos, m.media_ref, prev_text_pos,
         |  coalesce(p.snippet, '') AS prev_snippet, next_text_pos,
         |  coalesce(nx.snippet, '') AS next_snippet
         |FROM m
         |LEFT JOIN t p ON p.doc_id = m.doc_id AND p.pos = m.prev_text_pos
         |LEFT JOIN t nx ON nx.doc_id = m.doc_id AND nx.pos = m.next_text_pos
         |WHERE m.media_ref <> ''""".stripMargin
    },
    "eval_span_f1" ->
      s"""WITH g AS (
         |  SELECT $spanCols FROM ${OracleAux.sqlFrom("sf1_golden")}),
         |p AS (
         |  SELECT doc_id, kind,
         |    CASE WHEN pos % 11 = 5 THEN text || ' @@' ELSE text END AS text,
         |    media_ref
         |  FROM g WHERE pos % 7 <> 3),
         |cg AS (SELECT doc_id, kind, text, media_ref, count(*)::BIGINT AS cg
         |  FROM g GROUP BY 1, 2, 3, 4),
         |cp AS (SELECT doc_id, kind, text, media_ref, count(*)::BIGINT AS cp
         |  FROM p GROUP BY 1, 2, 3, 4),
         |j AS (
         |  SELECT doc_id, coalesce(cg, 0) AS cg, coalesce(cp, 0) AS cp
         |  FROM cg FULL OUTER JOIN cp USING (doc_id, kind, text, media_ref)),
         |m AS (
         |  SELECT doc_id, sum(cg)::BIGINT AS n_gold, sum(cp)::BIGINT AS n_pred,
         |    sum(least(cg, cp))::BIGINT AS n_match
         |  FROM j GROUP BY 1)
         |SELECT doc_id, n_gold, n_pred, n_match,
         |  ((n_match * 1000000) // greatest(n_pred, 1))::BIGINT AS p_ppm,
         |  ((n_match * 1000000) // greatest(n_gold, 1))::BIGINT AS r_ppm,
         |  ((2 * n_match * 1000000)
         |    // greatest(n_pred + n_gold, 1))::BIGINT AS f1_ppm
         |FROM m""".stripMargin,
    // the full curation chain over the GOLDEN spans' reassembled text —
    // string doc_ids, so the cluster label stays VARCHAR (idCast = "")
    "extract_curate" ->
      s"""WITH RECURSIVE golden AS (
         |  SELECT doc_id, pos, kind, text FROM ${OracleAux.sqlFrom("xcur_golden")}),
         |corpus AS (
         |  SELECT doc_id, string_agg(text, ' ' ORDER BY pos) AS text
         |  FROM golden WHERE kind = 'text' GROUP BY doc_id),
         |${Curation.dkCurateChain(Curation.dkPackBuckets((XcurDocs + XcurCopies).toString), "")}""".stripMargin,
    "extract_golden_match" ->
      s"""WITH e AS (SELECT $spanCols FROM ${OracleAux.sqlFrom("egm_extracted")}),
         |g AS (SELECT $spanCols FROM ${OracleAux.sqlFrom("egm_golden")}),
         |bad AS (
         |  SELECT DISTINCT doc_id FROM (
         |    SELECT * FROM g ANTI JOIN e USING (doc_id, pos, kind, text, media_ref)
         |    UNION ALL
         |    SELECT * FROM e ANTI JOIN g USING (doc_id, pos, kind, text, media_ref))),
         |docs AS (SELECT doc_id, golden_spans FROM ${OracleAux.sqlFrom("egm_golden_docs")})
         |SELECT d.doc_id, d.golden_spans, (b.doc_id IS NULL) AS matches
         |FROM docs d LEFT JOIN bad b USING (doc_id)""".stripMargin,
    "eval_metrics" ->
      s"""WITH exp AS (SELECT * FROM ${OracleAux.sqlFrom("eval_expected")}),
         |m AS (SELECT folder,
         |    round((total - n_missing - n_mismatched) / total::DOUBLE, 4) AS acc,
         |    round((total - n_missing) / total::DOUBLE, 4) AS sch,
         |    round((total - n_missing - n_mismatched) / (total - n_missing)::DOUBLE, 4) AS vls
         |  FROM exp)
         |SELECT folder, count(*)::BIGINT AS files_evaluated,
         |  round(avg(acc), 4) AS average_accuracy,
         |  round(avg(sch), 4) AS average_schema_accuracy,
         |  round(avg(vls), 4) AS average_values_accuracy
         |FROM m GROUP BY folder""".stripMargin)
}
