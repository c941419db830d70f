package graft.extract

/** HTML boilerplate stripping via shallow text features.
  *
  * Re-derivation (from the published algorithm description, not from any
  * code) of the densitometric classifier in Kohlschütter, Fankhauser,
  * Nejdl — "Boilerplate Detection using Shallow Text Features", WSDM 2010
  * (the "NumWordsRules" decision-tree): a block is classified by its own
  * link density and the word counts of (prev, curr, next).
  *
  * Reference analog: the LLM prompt asks the model to separate bill
  * content from page furniture (/root/reference/app.py:157-203); the
  * rebuild replaces that with this deterministic rule
  * (BASELINE.json north_rule: "HTML boilerplate strip ...
  * text-density/link-density DOM heuristics").
  *
  * Pure function, no Spark types — unit-testable standalone, invoked from
  * `mapPartitions` (SURVEY.md §7.1).
  */
object Boilerplate {

  /** Shallow features of one HTML-ish block. */
  final case class Block(text: String, words: Int, linkWords: Int) {
    def linkDensity: Double = if (words == 0) 0.0 else linkWords.toDouble / words
  }

  private val AnchorRe = "(?s)<a\\b[^>]*>(.*?)</a>".r

  // The helpers below run per block per document, and `parse` is the
  // kernel's largest cost: on one pinned core of a 4-vCPU Xeon, over the
  // 1,000-doc seed-501 corpus, `parse` takes 0.39 s of Extract.document's
  // 0.55 s (collapseWs 0.01 s, the span sort 0.03 s, PdfLayout 0.03 s).
  // Each is a single hand-rolled pass because
  // String.replaceAll / String.split("\\s+") RE-COMPILE their pattern on
  // every call (String.split's fast path only covers 1-char literals).
  // Semantics are kept bit-identical to the regex forms they replace —
  // \s means exactly the Java regex class [ \t\n\x0B\f\r].

  private def isWs(c: Char): Boolean =
    c == ' ' || c == '\t' || c == '\n' || c == '\u000B' || c == '\f' || c == '\r'

  private def wordCount(s: String): Int = {
    var i = 0; var count = 0; var inWord = false
    while (i < s.length) {
      val ws = isWs(s.charAt(i))
      if (!ws && !inWord) { count += 1; inWord = true }
      else if (ws) inWord = false
      i += 1
    }
    count
  }

  /** `"<[^>]*>" → " "` as one pass; an unclosed trailing `<...` stays
    * literal text, exactly like the regex it replaces. */
  private def stripTags(s: String): String = {
    val n  = s.length
    val sb = new java.lang.StringBuilder(n)
    var i        = 0
    var tagStart = -1
    while (i < n) {
      val c = s.charAt(i)
      if (tagStart >= 0) { if (c == '>') { tagStart = -1; sb.append(' ') } }
      else if (c == '<') tagStart = i
      else sb.append(c)
      i += 1
    }
    if (tagStart >= 0) sb.append(s, tagStart, n)
    sb.toString
  }

  /** Parse one raw HTML-ish block into its shallow features.
    * Anchor text counts toward both `words` and `linkWords`; markup is
    * dropped; entities are not interpreted (synthetic corpus has none).
    *
    * The main path fuses stripTags → collapseWs → wordCount into ONE
    * character pass (tags act as word-separating whitespace, exactly as
    * the staged `tag → ' '` rewrite made them), so it allocates none of
    * the staged form's intermediate full-length strings. On bare threads
    * the kernel scales 2.7–2.9× from 1 to 3 pinned cores (`graft.KernelCal`,
    * BENCH/BASELINE.md); above 3 cores it is unmeasured. */
  def parse(raw: String): Block = {
    val linkWords = AnchorRe.findAllMatchIn(raw).map(m => wordCount(stripTags(m.group(1)))).sum
    val n  = raw.length
    val sb = new java.lang.StringBuilder(n)
    var i            = 0
    var tagStart     = -1
    var pendingSpace = false
    var words        = 0
    var inWord       = false
    def literal(c: Char): Unit =
      if (isWs(c)) { if (sb.length > 0) pendingSpace = true; inWord = false }
      else {
        if (pendingSpace) { sb.append(' '); pendingSpace = false }
        sb.append(c)
        if (!inWord) { words += 1; inWord = true }
      }
    while (i < n) {
      val c = raw.charAt(i)
      if (tagStart >= 0) {
        if (c == '>') { // closed tag became ' ' in the staged form
          tagStart = -1
          if (sb.length > 0) pendingSpace = true
          inWord = false
        }
      } else if (c == '<') tagStart = i
      else literal(c)
      i += 1
    }
    if (tagStart >= 0) { // unclosed trailing '<...' is literal text (regex parity)
      var j = tagStart
      while (j < n) { literal(raw.charAt(j)); j += 1 }
    }
    Block(sb.toString, words, linkWords)
  }

  /** Collapse whitespace runs to single spaces and trim (one pass) — the
    * rebuild's output-side analog of the reference's newline cleanup +
    * whitespace normalization (/root/reference/field_extractor_gemini
    * .py:26-33, /root/reference/eval_script_field_level.py:127-132).
    * Equivalent to `replaceAll("\\s+", " ").trim`. */
  def collapseWs(s: String): String = {
    val n  = s.length
    val sb = new java.lang.StringBuilder(n)
    var i            = 0
    var pendingSpace = false
    while (i < n) {
      val c = s.charAt(i)
      if (isWs(c)) { if (sb.length > 0) pendingSpace = true }
      else {
        if (pendingSpace) { sb.append(' '); pendingSpace = false }
        sb.append(c)
      }
      i += 1
    }
    sb.toString
  }

  /** WSDM-2010 NumWordsRules classifier (re-derived thresholds from the
    * paper's published decision tree). Returns true iff `curr` is main
    * content given its neighbors. */
  def isContent(prev: Block, curr: Block, next: Block): Boolean = {
    if (curr.linkDensity > 0.333333) false
    else if (prev.linkDensity <= 0.555555)
      curr.words > 16 || next.words > 15 || prev.words > 4
    else
      curr.words > 40 || next.words > 17
  }

  private val EmptyBlock = Block("", 0, 0)

  /** Strip boilerplate from an ordered sequence of raw HTML-ish blocks:
    * returns the cleaned text of content blocks, in document order. */
  def extract(rawBlocks: Seq[String]): Seq[String] = {
    if (rawBlocks.isEmpty) return Nil
    val blocks = rawBlocks.iterator.map(parse).toIndexedSeq // read by position below
    val n      = blocks.length
    val out    = Seq.newBuilder[String]
    var i      = 0
    while (i < n) {
      val prev = if (i == 0) EmptyBlock else blocks(i - 1)
      val next = if (i == n - 1) EmptyBlock else blocks(i + 1)
      val curr = blocks(i)
      if (curr.words > 0 && isContent(prev, curr, next)) out += curr.text
      i += 1
    }
    out.result()
  }
}
