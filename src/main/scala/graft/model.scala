package graft

/** Core data model for the interleaved text+media document corpus.
  *
  * Shape is fixed by the rebuild contract (BASELINE.json `input_hint`):
  * a table `(doc_id: string, spans: array<struct<kind,text,media_ref,offset>>)`.
  * The reference processes one PDF per request with page-ordered text
  * (/root/reference/field_extractor_gpt.py:13-19) and interleaved
  * binary+text payload parts (/root/reference/field_extractor_gemini.py:96-100,173);
  * here those become ordered spans of a typed Dataset row.
  *
  * Kept deliberately flat (4 primitive fields per span) so the Catalyst
  * `ExpressionEncoder` stays cheap and columnar parquet I/O prunes well
  * (SURVEY.md §7.5 item 4).
  */
final case class Span(kind: String, text: String, media_ref: String, offset: Int)

object Span {
  /** Input span kinds understood by the extraction pipeline. */
  object Kind {
    val Text      = "text"       // plain text — passes through normalization
    val Html      = "html"       // one HTML-ish block; boilerplate classifier input
    val PdfGlyphs = "pdf_glyphs" // one glyph run "x y <words>"; layout-parser input
    val Image     = "image"      // media span; media_ref names a doc-local ref
    val Table     = "table"      // media span; media_ref names a doc-local ref
    val RefDef    = "ref_def"    // doc-local ref definition "name -> uri"; consumed
  }
}

/** One document: unit of work, processed independently (no cross-document
  * state — mirrors the reference's one-request-one-PDF model,
  * /root/reference/app.py:233-243). */
final case class Document(
    doc_id: String,
    // a List whenever Spark's encoder decodes a Document (`Corpus` builds
    // Lists too), so `spans(i)` walks from the head: per-document code
    // iterates it, or converts it once with `toIndexedSeq` before reading
    // it by position
    spans: Seq[Span])

/** Exploded span row used by golden-diff joins: `pos` is the rank of the
  * span inside its document (order is part of the equality contract —
  * span-sequence equality on (kind, text, media_ref, order)). */
final case class SpanRow(doc_id: String, pos: Int, kind: String, text: String, media_ref: String)
