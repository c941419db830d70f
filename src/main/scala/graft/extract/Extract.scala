package graft.extract

import graft.{Document, Span}
import graft.Span.Kind

/** The deterministic extraction kernel: `Document => Document`.
  *
  * Replaces the reference's LLM call + post-processing chain
  * (/root/reference/field_extractor_gemini.py:91-198: load → generate →
  * fence-strip → parse → normalize → stringify → clean_newlines) with a
  * pure, rule-based pipeline (BASELINE.json north_rule):
  *
  *   1. order spans by `offset` (the sole ordering authority — analog of
  *      the reference's page order, field_extractor_gpt.py:16)
  *   2. build the doc-local media-ref map from `ref_def` spans
  *   3. process maximal same-kind segments:
  *        html       → Boilerplate.extract (content blocks only)
  *        pdf_glyphs → PdfLayout.extract (reading-order blocks)
  *        text       → whitespace-normalized pass-through
  *        image/table→ media_ref resolved against the ref map;
  *                      unresolvable refs dropped (skip-and-continue,
  *                      eval_script_field_level.py:461-463 precedent)
  *        ref_def    → consumed (not emitted)
  *   4. drop empty text spans; reassign offsets 0..n-1
  *
  * Pure Scala (no Spark imports): unit-testable standalone; the Spark job
  * wires it via `mapPartitions` so the whole extraction is one narrow
  * stage (SURVEY.md §7.1).
  */
object Extract {

  // Spark decodes a missing string as null; the kernel reads it as empty
  private def orEmpty(s: String): String = if (s == null) "" else s
  private def textOf(s: Span): String   = orEmpty(s.text)

  /** Media-ref definitions: span.text = "name -> uri". */
  private def refMap(spans: Seq[Span]): Map[String, String] =
    spans.iterator.filter(_.kind == Kind.RefDef).flatMap { s =>
      textOf(s).split("->", 2) match {
        case Array(name, uri) => Some(name.trim -> uri.trim)
        case _                => None
      }
    }.toMap

  /** Resolve one media span against the doc-local ref map; None = drop.
    * A ref that is already a URI (contains "://") passes through — this
    * makes the whole pipeline idempotent on its own output, which is what
    * lets snapshot reruns re-extract an already-extracted table safely. */
  def resolveMedia(span: Span, refs: Map[String, String]): Option[Span] = {
    val ref = orEmpty(span.media_ref)
    if (ref.contains("://")) Some(span)
    else refs.get(ref).map(uri => span.copy(media_ref = uri))
  }

  def document(doc: Document): Document = {
    if (doc.spans.isEmpty) return doc
    // indexed: `doc.spans` is a List when Spark decodes it, and the segment
    // scan below reads `ordered(i)` / `ordered.slice(i, j)` by position
    val ordered = doc.spans.toIndexedSeq.sortBy(s => (s.offset, orEmpty(s.kind), textOf(s)))
    val refs    = refMap(ordered)

    val out = Seq.newBuilder[Span]
    // maximal same-kind segments, in document order
    var i = 0
    val n = ordered.length
    while (i < n) {
      val kind = ordered(i).kind
      var j    = i
      while (j < n && ordered(j).kind == kind) j += 1
      val seg = ordered.slice(i, j)
      kind match {
        case Kind.Html =>
          Boilerplate.extract(seg.map(textOf)).foreach { t =>
            out += Span(Kind.Text, t, "", 0)
          }
        case Kind.PdfGlyphs =>
          PdfLayout.extract(seg.map(textOf)).foreach { t =>
            out += Span(Kind.Text, t, "", 0)
          }
        case Kind.Text =>
          seg.foreach { s =>
            val t = Boilerplate.collapseWs(textOf(s))
            if (t.nonEmpty) out += Span(Kind.Text, t, "", 0)
          }
        case Kind.Image | Kind.Table =>
          seg.foreach(s => resolveMedia(s, refs).foreach(r => out += r.copy(text = "", offset = 0)))
        case Kind.RefDef => // consumed by refMap
        case _           => // unknown kinds dropped (forward compat)
      }
      i = j
    }
    // reassign offsets 0..n-1: output order IS the reading order
    val spans = out.result().zipWithIndex.map { case (s, idx) => s.copy(offset = idx) }
    Document(doc.doc_id, spans)
  }
}
