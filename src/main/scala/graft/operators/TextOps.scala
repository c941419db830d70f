package graft.operators

import graft.functions.TextKernels._
import org.apache.spark.sql.{Column, DataFrame, Row, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Text-analysis operators over the `documents` corpus: token counting,
  * quality scoring, language-ID (marker n-gram heuristic), and document
  * fingerprinting. All per-document (narrow, no shuffle until an optional
  * aggregate) — the shape that scans 100 TB at I/O speed. Built-ins only,
  * with exact DuckDB oracles.
  */
object TextOps {

  /** eval_cer: bounded sample width (edit distance is quadratic) and the
    * fixed insertion tail for corruption class 3. */
  private val CerSampleChars = 400
  private val CerTail        = " ocr tail noise"

  private def docs(s: SparkSession, dir: String): DataFrame =
    s.read.parquet(s"$dir/documents.parquet")

  /** BPE-ish pre-token pattern: letter runs | digit runs | single other
    * non-space char (a common pre-tokenizer shape; Java and RE2 agree). */
  private val BpePat = "[a-z]+|[0-9]+|[^a-z0-9\\s]"

  private val Stopwords = Seq("the", "a", "and", "of", "is", "to", "in")

  /** PII patterns — kept to syntax Java regex and RE2 (DuckDB) interpret
    * identically (char classes, bounded/unbounded repeats, one group). */
  private val EmailPat = "[a-z0-9._%+-]+@[a-z0-9.-]+\\.[a-z]{2,}"
  private val Ipv4Pat  = "([0-9]{1,3}\\.){3}[0-9]{1,3}"
  private val PhonePat = "[0-9]{3}-[0-9]{3}-[0-9]{4}"

  /** Chunk-dedup window (tokens) and the planted boilerplate footer
    * (exactly [[ChunkW]] tokens ⇒ exactly one corpus-wide hot chunk). */
  private val ChunkW = 10

  /** eval_pass_at_k: problem count (docs keyed by doc_id % this; the sf
    * corpora's contiguous ids give ≥ 10 samples per problem, so every
    * denominator n−i stays positive for k ≤ 10). */
  private val PassProblems = 50L

  /** eval_majority_vote: annotator count and label-space size; annotator
    * k mislabels with probability (k+1)/10 via a deterministic hash
    * draw. */
  private val VoteAnnotators = 3L
  private val VoteLabels     = 5L

  /** text_span_corruption: per-token span-start probability (percent)
    * and span width — 5% starts × width 3 ≈ the T5 paper's 15%
    * corruption rate once overlaps merge. */
  private val CorruptStartPct = 5L
  private val CorruptSpanW    = 3

  /** text_fim_transform: FIM application rate denominator (every 2nd
    * doc, the paper's 50% setting). */
  private val FimEvery = 2L

  /** eval_bt_ratings: model count, unrolled MM iterations, and the
    * fixed-point scale (term = n·1e9 div (p_i+p_j) with p in ppm — every
    * intermediate fits int64 at these corpus sizes: W·1e9 ≤ ~1e13). */
  private val BtModels = 8L
  private val BtIters  = 3

  /** text_instruction_density: the imperative-verb lexicon (checked at
    * sentence starts only), the per-signal score weights (permille of a
    * token), and the keep threshold in score-ppm. */
  private val InstrVerbs = Seq("write", "list", "explain", "describe",
    "create", "make", "give", "find", "summarize", "translate", "compare",
    "generate", "identify", "classify", "rewrite", "answer")
  private val InstrWImp   = 500L
  private val InstrWQ     = 300L
  private val InstrWList  = 200L
  private val InstrKeepPpm = 1500L

  /** The pass@k product Π_{i<k} (n−c−i)/(n−i), as a Column tree. Must
    * stay STRUCTURALLY IDENTICAL to [[dkPassAtK]] — same left-assoc
    * order — for the bit-exact double guarantee. */
  private def passAtKCol(k: Int): Column = {
    val prod = (0 until k).map(i =>
      (col("n_samples") - col("n_correct") - lit(i)).cast("double") /
        (col("n_samples") - lit(i)).cast("double")).reduceLeft(_ * _)
    floor(lit(1e6) * (lit(1.0) - prod)).cast("long")
  }

  /** eval_bt_ratings oracle: one MM iteration as CTEs — MUST mirror the
    * Spark loop body exactly (same 1e9 term scale, same normalization
    * order, integer floor division throughout). */
  private def dkBtIters: String = (1 to BtIters).map { k =>
    val prev = s"r${k - 1}"
    s"""t$k AS (SELECT p.i, p.j, (p.n * 1000000000) // (ri.p + rj.p) AS t
       |  FROM pairs p JOIN $prev ri ON ri.model = p.i
       |               JOIN $prev rj ON rj.model = p.j),
       |d$k AS (SELECT model, sum(t)::BIGINT AS d FROM (
       |    SELECT i AS model, t FROM t$k UNION ALL SELECT j AS model, t FROM t$k)
       |  GROUP BY 1),
       |raw$k AS (SELECT tt.model, (tt.n_wins * 1000000000) // dd.d AS raw
       |  FROM totals tt JOIN d$k dd ON dd.model = tt.model),
       |r$k AS (SELECT model,
       |    (raw * ${BtModels * 1000000L}) // (SELECT sum(raw) FROM raw$k)::BIGINT AS p
       |  FROM raw$k)""".stripMargin
  }.mkString(",\n")

  /** [[passAtKCol]]'s oracle twin. */
  private def dkPassAtK(k: Int): String = {
    val prod = (0 until k).map(i =>
      s"((n_samples - n_correct - $i)::DOUBLE / (n_samples - $i)::DOUBLE)")
      .mkString(" * ")
    s"floor(1000000 * (1.0 - $prod))::BIGINT"
  }

  /** Repetition-rule line width (tokens per synthesized line). */
  private val LineW = 8

  /** Overlapping chunk-window geometry (tokens): window and stride. Sized
    * so the sf docs (10–99 tokens) yield 1–8 chunks each; production uses
    * ~the model context length with the same overlap fraction. */
  private val WinW = 16
  private val WinS = 12

  /** Minimum bigram count for collocation scoring (PMI low-count guard). */
  private val MinColloc = 5L

  /** Bigram-LM context prune: left tokens with fewer observed
    * continuations than this carry no usable MLE signal. */
  private val MinLmLeft = 10L

  /** text_code_detect: planted code tail, detector keywords, and the
    * structural-char density gate (ppm of chars in "{}();="). */
  private val CodeTail =
    " def f(x) { return x ; } if (y) { z = x + 1 ; }"
  private val CodeKeywords = Seq("def", "return", "if", "else", "for", "while")
  private val CodeSymPpm   = 10000L

  /** text_topic_boundaries: a block gap whose vocabulary Jaccard falls
    * below this ppm is a topic-boundary candidate. */
  private val TopicCohesionPpm = 200000L

  /** eval_ece: confidence = clip(500000 + logit·EceConfScale) ppm; the
    * planted labels agree with the logit's sign up to ±EceNoise hash
    * noise (so docs with |logit| ≥ EceNoise are ALWAYS labeled with the
    * classifier — bins at confidence ≥ 500000 + EceNoise·EceConfScale
    * are exactly pure); EceBinW is the reliability-histogram bin width.
    * Scales sized to the sf logit distribution (sd ≈ 2000–3000). */
  private val EceConfScale = 100L
  private val EceNoise     = 3000L
  private val EceBinW      = 100000L

  /** eval_kappa: rater B = sign of (A's logit + hash noise in
    * ±KappaNoise) — high agreement with genuine disagreements, so the
    * planted kappa is meaningfully inside (0, 1): ±1500 on the sf logit
    * distribution (sd ≈ 2000–3000) gives κ ≈ 0.62 at sf0.001. */
  private val KappaNoise = 1500L

  /** text_blocklist_filter: the blocklist (a C4-style badword list
    * stand-in — literal broadcast set) and the planted contaminated docs:
    * doc_id % 7 gets one listed token, % 13 gets both (LCM 91 gets
    * three occurrences total). */
  private val Blocklist = Seq("xxrated", "spamlink")

  /** q_ccnet_buckets: fam_score range-bucket width for the two-pass
    * per-language rank (fam_score ≤ 10^6 since cb ≤ cu, so ≤ 16 range
    * buckets per language — the offsets frame stays broadcast-tiny). */
  private val CcnetBand = 65536L

  /** Per-doc quality signals + composite score (the `text_quality`
    * contract), extracted so the adaptive gate can reuse the identical
    * score computation. Narrow — one codegen'd scan, no shuffle. Any
    * non-text input column (e.g. `source` for the per-domain cap) rides
    * along, so consumers never need a second scan + self-join. */
  private[operators] def qualityFrame(d: DataFrame): DataFrame = {
    val toks  = tokens(col("text"))
    val nTok  = size(toks).cast("long")
    val sumLn = aggregate(transform(toks, t => length(t).cast("long")), lit(0L), (a, x) => a + x)
    val nStop = markerHits(toks, Stopwords).cast("long")
    val nPunc = length(col("text")) - length(regexp_replace(col("text"), "[^a-z0-9\\s]", ""))
    Par.fanOut(d).withColumn("n_tokens", nTok)
      .withColumn("avg_token_len", round(sumLn / nTok, 4))
      .withColumn("stopword_ratio", round(nStop / nTok, 4))
      .withColumn("punct_ratio", round(nPunc / length(col("text")), 4))
      .withColumn("quality",
        round(
          when(col("n_tokens").between(5, 10000), lit(1.0)).otherwise(lit(0.5))
            * (lit(1.0) - col("punct_ratio"))
            * when(col("avg_token_len").between(2.0, 12.0), lit(1.0)).otherwise(lit(0.8)), 4))
      .select(d.columns.filterNot(_ == "text").toIndexedSeq.map(col) ++
        Seq("n_tokens", "avg_token_len", "stopword_ratio", "punct_ratio", "quality").map(col): _*)
  }
  private val Footer = "standard footer text all rights reserved contact legal team here"

  /** The planted duplicated-chunk corpus shared by `text_dup_chunk_ratio`
    * (measurement) and `text_substr_dedup` (removal): documents ∪ a
    * 2-chunk prefix copy with the corpus-wide boilerplate footer. */
  private def dupChunkCorpus(s: SparkSession, dir: String): DataFrame = {
    val d = docs(s, dir).select(col("doc_id"), col("text"))
    d.unionByName(d.select((col("doc_id") + 1000000L).as("doc_id"),
      concat(array_join(slice(tokens(col("text")), 1, 2 * ChunkW), " "),
        lit(" " + Footer)).as("text")))
  }

  /** Planted UTF-8 suffixes (by doc_id % 6) for the multilingual parity
    * queries — each one a real-corpus hazard for an ASCII-tested engine:
    *  0 CJK + IDEOGRAPHIC SPACE U+3000 (not regex \s in Java OR RE2: the
    *    run stays ONE whitespace token — pinned, not assumed);
    *  1 combining accent (e + U+0301) vs the precomposed é — distinct
    *    code-point sequences, so distinct tokens and distinct md5 bytes
    *    (neither engine normalizes — NFC is the caller's job);
    *  2 NBSP U+00A0 binds two words into one token in both engines;
    *  3 emoji (4-byte UTF-8, surrogate pairs in JVM strings — char counts
    *    must be CODEPOINTS, not UTF-16 units);
    *  4 Cyrillic markers (feeds the extended langid);
    *  5 space-segmented CJK markers (whitespace tokenization only sees
    *    CJK markers when text is pre-segmented — the documented contract).
    * One shared Scala list builds BOTH the Spark column and the oracle SQL
    * literal, so the planted bytes cannot drift between engines. */
  private[graft] val Utf8Suffixes: IndexedSeq[String] = IndexedSeq(
    " \u6570\u636e\u3000\u5904\u7406 \u6d41\u6c34\u7ebf",            // U+3000 inside the CJK run
    " caf\u00e9 cafe\u0301 pr\u00e9paration",       // precomposed vs combining
    " foo\u00a0bar baz",                          // NBSP binds foo+bar
    " \ud83d\ude80 data \ud83d\udcbe \ud83d\udd25",      // emoji, surrogate pairs
    " \u0438 \u0432 \u043d\u0435 \u043d\u0430 \u0447\u0442\u043e \u0434\u0430\u043d\u043d\u044b\u0435",
    " \u7684 \u662f \u4e86 \u5728 \u6211 \u6a21\u578b")

  /** documents with the planted UTF-8 suffix appended (deterministic per
    * doc_id). */
  private def utf8Corpus(s: SparkSession, dir: String): DataFrame = {
    val suffix = Utf8Suffixes.indices.foldRight(lit("")) { (i, acc) =>
      when(col("doc_id") % Utf8Suffixes.length === i, lit(Utf8Suffixes(i))).otherwise(acc)
    }
    docs(s, dir).select(col("doc_id"), concat(col("text"), suffix).as("text"))
  }

  /** [[utf8Corpus]]'s oracle twin (single-quote-free literals by
    * construction). */
  private def dkUtf8Corpus: String = {
    val cases = Utf8Suffixes.zipWithIndex
      .map { case (sfx, i) => s"WHEN $i THEN '$sfx'" }.mkString(" ")
    s"""utf8c AS (SELECT doc_id,
       |  text || (CASE doc_id % ${Utf8Suffixes.length} $cases END) AS text
       |  FROM documents)""".stripMargin
  }

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    // Token counting: whitespace tokens + BPE-ish regex pre-tokens.
    "text_tokens" -> ((s, dir) =>
      docs(s, dir).select(
        col("doc_id"),
        size(tokens(col("text"))).cast("long").as("ws_tokens"),
        size(regexp_extract_all(lower(col("text")), lit(BpePat), lit(0))).cast("long").as("bpe_tokens"),
        length(col("text")).cast("long").as("chars"))),

    // Quality scoring: length/punctuation/stopword signals → one score.
    "text_quality" -> ((s, dir) =>
      qualityFrame(docs(s, dir).select(col("doc_id"), col("text")))),

    // Tokenizer fertility by language — tokens-per-word in exact ppm,
    // the multilingual tokenizer-eval staple: a language whose fertility
    // is 2× English pays 2× the context window and 2× the training
    // compute per sentence, which is how under-served languages are
    // detected BEFORE training (and why tokenizer vocab allocations get
    // rebalanced). Uses the catalog's BPE-ish regex segmenter over the
    // whitespace-word baseline; per-language CORPUS-LEVEL fertility
    // (Σtokens·1e6 div Σwords — the ratio of sums, robust to short docs)
    // plus the per-doc ppm mean for dispersion. One narrow two-counter
    // scan and a |langs|-row aggregate — nothing corpus-sized moves.
    "text_tokenizer_fertility" -> ((s, dir) =>
      docs(s, dir).select(col("lang"),
          size(tokens(col("text"))).cast("long").as("w"),
          size(regexp_extract_all(lower(col("text")), lit(BpePat), lit(0)))
            .cast("long").as("t"))
        .filter(col("w") > 0)
        .withColumn("doc_fert", expr("t * 1000000 DIV w"))
        .groupBy(col("lang"))
        .agg(count(lit(1)).as("n_docs"), sum(col("w")).as("n_words"),
          sum(col("t")).as("n_tokens"), sum(col("doc_fert")).as("fsum"))
        .select(col("lang"), col("n_docs"), col("n_words"), col("n_tokens"),
          expr("n_tokens * 1000000 DIV n_words").as("fertility_ppm"),
          expr("fsum DIV n_docs").as("mean_doc_fertility_ppm"))),

    // MODEL-based quality filter in the fasttext/CCNet shape: tokens hash
    // into 64 feature buckets, each bucket carries an integer weight, the
    // doc's logit is the weight sum and keep = logit >= 0. Weights here
    // are derived from the bucket id (deterministic stand-in); a trained
    // model ships its weight table as a broadcast literal — identical
    // plan, same discipline as the trained-IVF centroids. Narrow one-pass
    // scan, integer-exact on both engines.
    "text_quality_classifier" -> ((s, dir) =>
      docs(s, dir)
        .select(col("doc_id"), explode(tokens(col("text"))).as("term"))
        .withColumn("b", hex32(col("term")) % 64)
        .withColumn("w", expr("(b * 2654435761) % 1000 - 500"))
        .groupBy(col("doc_id"))
        .agg(count(lit(1)).as("n_tokens"), sum(col("w")).as("logit"))
        .select(col("doc_id"), col("n_tokens"), col("logit"),
          (col("logit") >= 0).as("keep"))),

    // Expected calibration error (Naeini et al. 2015; Guo et al. 2017) —
    // the audit run on every model-based quality filter BEFORE its scores
    // gate a corpus: a filter that says "90% confident" must be right
    // ~90% of the time, or its threshold keeps/drops the wrong mass.
    // The classifier is text_quality_classifier's bucket-weight logit
    // (identical chain); confidence is an affine clip of the logit to
    // ppm (a piecewise-linear stand-in for the sigmoid — exact integers,
    // no exp()), and the planted labels agree with the logit's sign up
    // to ±EceNoise hash noise, so mid-confidence bins are genuinely
    // noisy and far bins genuinely certain: the calibration curve has
    // real shape, not a degenerate diagonal. Output = the reliability
    // histogram (per-bin n / avg confidence / accuracy / |gap|) plus the
    // n-weighted ECE on every row. Scale shape: the classifier's
    // token-bucket aggregation, then a ≤6-row bin aggregate — nothing
    // corpus-sized moves after the per-doc logits.
    // Unbiased pass@k (Chen et al. 2021, "Evaluating Large Language
    // Models Trained on Code", eq. 1): per problem with n samples and c
    // passes, pass@k = 1 − C(n−c,k)/C(n,k), computed as the telescoped
    // product Π_{i<k} (n−c−i)/(n−i) — numerically safe where binomials
    // overflow int64 (n=100, k=10 already needs ~10²⁰). The product is
    // rendered from ONE builder as both a Column tree and oracle SQL,
    // left-associated in the same fixed order, so both engines run the
    // identical IEEE-754 double sequence and the ppm floor is bit-exact.
    // When n−c < k one factor is exactly 0 ⇒ product 0 ⇒ pass@k = 1,
    // which is also the combinatorial value. Samples = docs keyed to
    // [[PassProblems]] problems; pass = deterministic hash draw against
    // a per-problem difficulty threshold. Scale shape: one partial-agg
    // groupBy(problem_id) (problems ≪ samples), then a per-row scalar
    // expression — nothing corpus-sized moves after the count.
    "eval_pass_at_k" -> ((s, dir) => {
      val r = docs(s, dir).select(
        (col("doc_id") % PassProblems).as("problem_id"),
        when(hex32(concat(lit("pass:"), col("doc_id").cast("string"))) % 1000L <
          lit(200L) + (col("doc_id") % PassProblems) * 13L % 600L, 1L)
          .otherwise(0L).as("pass"))
      r.groupBy(col("problem_id"))
        .agg(count(lit(1)).as("n_samples"), sum(col("pass")).as("n_correct"))
        .select(col("problem_id"), col("n_samples"), col("n_correct"),
          passAtKCol(1).as("pass1_ppm"),
          passAtKCol(5).as("pass5_ppm"),
          passAtKCol(10).as("pass10_ppm"))
    }),

    // Majority-vote label consolidation (the annotation-aggregation step
    // Dawid–Skene refines; eval_kappa MEASURES agreement, this one
    // RESOLVES it into training labels): [[VoteAnnotators]] deterministic
    // annotators per doc — annotator k reports the doc's hash-derived
    // true label except with probability (k+1)/10 (a second hash draw),
    // where it reports an independent hash label. Consolidation picks
    // the modal label, ties broken toward the SMALLEST label via one
    // max(struct(cnt, −label)) aggregation — no window, and both
    // groupBys are partial-agg shapes on int64 keys (votes frame is
    // annotators × docs rows of two longs; nothing wider ever
    // shuffles). Rollup per consolidated label: how many docs landed
    // there unanimously / by 2-1 majority / by 3-way-split tie-break,
    // plus the mean winner-share in ppm (integer floor).
    "eval_majority_vote" -> ((s, dir) => {
      val votes = docs(s, dir).select(col("doc_id"))
        .select(col("doc_id"),
          explode(sequence(lit(0L), lit(VoteAnnotators - 1))).as("ann"))
        .withColumn("truth",
          hex32(concat(lit("vote:"), col("doc_id").cast("string"))) % VoteLabels)
        .withColumn("noise",
          hex32(concat_ws(":", lit("noise"), col("doc_id").cast("string"),
            col("ann").cast("string"))) % 1000L)
        .withColumn("label",
          when(col("noise") < (col("ann") + 1) * 100L,
            hex32(concat_ws(":", lit("flip"), col("doc_id").cast("string"),
              col("ann").cast("string"))) % VoteLabels)
            .otherwise(col("truth")))
      val perDoc = votes.groupBy(col("doc_id"), col("label"))
        .agg(count(lit(1)).as("cnt"))
        .groupBy(col("doc_id"))
        .agg(max(struct(col("cnt"), (-col("label")).as("nl"))).as("w"))
        .select(col("doc_id"), (-col("w.nl")).as("label"),
          col("w.cnt").as("win_votes"))
      perDoc.groupBy(col("label")).agg(
          count(lit(1)).as("n_docs"),
          count(when(col("win_votes") === VoteAnnotators, 1)).as("n_unanimous"),
          count(when(col("win_votes") === VoteAnnotators - 1, 1)).as("n_majority"),
          count(when(col("win_votes") === 1L, 1)).as("n_tiebreak"),
          sum(col("win_votes")).as("swv"))
        .withColumn("winner_share_ppm",
          expr(s"(swv * 1000000) div (n_docs * $VoteAnnotators)"))
        .drop("swv")
    }),

    // T5/UL2 span-corruption prep (Raffel et al. 2020 §3.1.4): mask
    // ~15% of tokens in multi-token spans, one sentinel per maximal
    // masked run — the pretraining objective's data shape. Deterministic
    // variant: each position opens a [[CorruptSpanW]]-token span with a
    // [[CorruptStartPct]]% hash draw; overlapping spans MERGE (token j
    // is masked iff some start fired in its trailing window — the merge
    // is what makes realized corruption < starts × width, exactly as in
    // T5's greedy span sampler). Everything is per-doc array math — the
    // whole operator is ONE narrow map-side pass, no shuffle at all
    // until the (absent) downstream agg; at 100 TB this pipelines
    // behind the scan. input_len = kept + sentinels, target_len =
    // masked + sentinels + EOS (the T5 length accounting used to size
    // packing budgets downstream).
    "text_span_corruption" -> ((s, dir) => {
      // PERF NOTE (measured, not guessed): the natural formulation —
      // build a cand array, then mask[j] = exists over cand's trailing
      // window, then filter over mask — ran 47 s at sf0.1, because a
      // computed ARRAY referenced inside a NESTED lambda defeats
      // Spark's subexpression hoisting: element_at(cand, st) inside
      // exists-inside-transform re-evaluates the whole cand transform
      // (n md5s) per element — O(n²) digests per doc. The fix is to
      // make every lambda body a SCALAR of the loop variable: candAt /
      // maskAt recompute ≤3 position hashes inline (O(1) each, O(n)
      // per doc, nothing hoistable needed). Same values; 47 s → ~2 s.
      def candAt(x: Column): Column =
        hex32(concat_ws(":", lit("corrupt"), col("doc_id").cast("string"),
          x.cast("string"))) % 100L < CorruptStartPct
      def maskAt(j: Column): Column =
        candAt(j) || (j >= 2 && candAt(j - 1)) || (j >= 3 && candAt(j - 2))
      Par.fanOut(docs(s, dir)).select(col("doc_id"), tokens(col("text")).as("toks"))
        .withColumn("n", size(col("toks")))
        .select(col("doc_id"), col("n").cast("long").as("n_tokens"),
          size(filter(sequence(lit(1), col("n")), j => maskAt(j)))
            .cast("long").as("n_masked"),
          size(filter(sequence(lit(1), col("n")), j =>
            maskAt(j) && (j === 1 || !maskAt(j - 1)))).cast("long").as("n_spans"))
        .withColumn("input_len", col("n_tokens") - col("n_masked") + col("n_spans"))
        .withColumn("target_len", col("n_masked") + col("n_spans") + 1L)
        .withColumn("corruption_ppm", expr("(n_masked * 1000000) div n_tokens"))
    }),

    // Instruction-density mining (the Self-Instruct / instruction-mining
    // selection heuristic): score documents by how instruction-shaped
    // they are — imperative verbs at SENTENCE STARTS (first token, or
    // any token after a [.!?]-terminated one), question marks, and
    // enumeration markers ("1." / "2)" / "-" / "*") — then gate on a
    // score threshold. Plant: every 5th doc gets an instruction header
    // prepended (imperative + question + a two-item list), so the gate
    // recovers exactly the instruction-shaped subset from a corpus
    // whose organic text carries ~none of these signals. One narrow
    // map-side scan, single-level lambdas only (scalar bodies — the
    // text_span_corruption lesson), no shuffle.
    "text_instruction_density" -> ((s, dir) => {
      val planted = col("doc_id") % 5 === 0
      val header = lit("Write a summary of the following items. " +
        "What does this mean? 1. first 2) second - third ")
      val t = docs(s, dir).select(col("doc_id"),
          when(planted, concat(header, col("text"))).otherwise(col("text")).as("text"))
        .withColumn("toks", tokens(col("text")))
        .withColumn("n", size(col("toks")))
      t.select(col("doc_id"), col("n").cast("long").as("n_tokens"),
          size(filter(sequence(lit(1), col("n")), i =>
            (i === 1 || element_at(col("toks"), i - 1).rlike("[.!?]$")) &&
              lower(element_at(col("toks"), i)).isin(InstrVerbs: _*)))
            .cast("long").as("imp_starts"),
          (length(col("text")) - length(regexp_replace(col("text"), "\\?", "")))
            .cast("long").as("questions"),
          size(filter(col("toks"), tk =>
            tk.rlike("^[0-9]+[.)]$") || tk === "-" || tk === "*"))
            .cast("long").as("list_markers"))
        .withColumn("score_ppm", expr(
          s"((imp_starts * $InstrWImp + questions * $InstrWQ + " +
            s"list_markers * $InstrWList) * 1000) div n_tokens"))
        .withColumn("kept", col("score_ppm") >= InstrKeepPpm)
    }),

    // Bradley–Terry arena ratings (the LMSYS/Chatbot-Arena aggregation;
    // Hunter 2004's MM algorithm, [[BtIters]] iterations UNROLLED — the
    // same integer-exact unrolled-fixed-point discipline as the
    // PageRank/HyperBall family): docs are pairwise model comparisons
    // (model pair + winner all hash-derived; true strength of model m
    // is m+1, so the recovered ratings must re-order the models). Each
    // iteration is p'_i = W_i / Σ_j n_ij/(p_i+p_j), computed entirely
    // in int64 fixed-point (term = n·1e9 div (p_i+p_j), ppm ratings,
    // normalization via one associative integer sum) so both engines
    // agree bit-for-bit — no float ever appears. Scale shape: ONE
    // corpus pass builds the ≤ M² pair table; every iteration joins
    // BROADCAST M-row rating frames against it — iteration cost is
    // independent of corpus size, exactly how an arena pipeline
    // amortizes daily battles at 100 TB.
    "eval_bt_ratings" -> ((s, dir) => {
      val m = docs(s, dir).select(col("doc_id"))
        .withColumn("a",
          hex32(concat(lit("ma:"), col("doc_id").cast("string"))) % BtModels)
        .withColumn("b", (col("a") + 1L +
          hex32(concat(lit("mb:"), col("doc_id").cast("string"))) % (BtModels - 1)) % BtModels)
        .withColumn("sa", col("a") + 1L)
        .withColumn("sb", col("b") + 1L)
        .withColumn("a_wins",
          hex32(concat(lit("w:"), col("doc_id").cast("string"))) %
            (col("sa") + col("sb")) < col("sa"))
        .withColumn("i", least(col("a"), col("b")))
        .withColumn("j", greatest(col("a"), col("b")))
        .withColumn("win_i",
          when(col("a_wins"), col("a") === col("i")).otherwise(col("b") === col("i")))
      val pairs = m.groupBy(col("i"), col("j"))
        .agg(count(lit(1)).as("n"), count(when(col("win_i"), 1)).as("wi"))
        .cache()
      val totals = pairs.select(col("i").as("model"), col("n"), col("wi").as("w"))
        .unionByName(pairs.select(col("j").as("model"), col("n"),
          (col("n") - col("wi")).as("w")))
        .groupBy(col("model"))
        .agg(sum(col("n")).as("n_matches"), sum(col("w")).as("n_wins"))
        .cache()
      // The MM fixpoint runs as ONE pass over the (≤ M²-row) pair table:
      // the former per-iteration formulation was BtIters SEQUENTIAL tiny
      // Spark jobs (2 broadcast joins + union-agg + normalization + a
      // localCheckpoint each) whose job-scheduling floor dominated wall
      // time — iteration cost is independent of corpus size by
      // construction, so the whole fixpoint is per-GROUP arithmetic over
      // ≤ M² longs (the search_mmr_rerank single-pass discipline). The
      // arithmetic is the identical int64 fixed-point update — t =
      // n·1e9 div (p_i+p_j); d_m = Σ t; raw = wins·1e9 div d;
      // p = raw·M·1e6 div Σraw — integer sums are order-independent,
      // so the trace is value-identical to the unrolled join form (the
      // OperatorCatalogSpec driver-side MM reference pins it).
      val iters = BtIters
      val models = BtModels
      val btMm = udf((ps: Seq[Row], ts: Seq[Row]) => {
        val pl = ps.map(r => (r.getLong(0), r.getLong(1), r.getLong(2))) // i, j, n
        val wins = ts.map(r => r.getLong(0) -> r.getLong(1)).toMap       // model -> n_wins
        var p = ts.map(r => r.getLong(0) -> 1000000L).toMap
        for (_ <- 0 until iters) {
          val d = scala.collection.mutable.HashMap[Long, Long]().withDefaultValue(0L)
          pl.foreach { case (i, j, n) =>
            val t = (n * 1000000000L) / (p(i) + p(j))
            d(i) += t; d(j) += t
          }
          val raw = p.keysIterator.map(m => m -> (wins(m) * 1000000000L) / d(m)).toMap
          val tot = raw.valuesIterator.sum
          p = raw.map { case (m, rw) => m -> (rw * (models * 1000000L)) / tot }
        }
        p.toSeq
      })
      val rated = pairs.agg(collect_list(struct(col("i"), col("j"), col("n"))).as("ps"))
        .crossJoin(totals.agg(collect_list(
          struct(col("model"), col("n_wins"))).as("ts")))
        .select(explode(btMm(col("ps"), col("ts"))).as("r"))
        .select(col("r._1").as("model"), col("r._2").as("p"))
      totals.join(broadcast(rated), Seq("model"))
        .select(col("model"), col("n_matches"), col("n_wins"), col("p").as("bt_ppm"))
        .withColumn("winrate_ppm", expr("(n_wins * 1000000) div n_matches"))
    }),

    // Fill-in-the-middle transform (Bavarian et al. 2022, "Efficient
    // Training of Language Models to Fill in the Middle"): split each
    // doc at two deterministic cuts 0 ≤ a ≤ b ≤ n and emit
    // PSM order — <PRE> prefix <SUF> suffix <MID> middle — for every
    // [[FimEvery]]-th doc (the paper's 50% FIM rate; the rest pass
    // through). The row carries the transformed text's DIGEST (not the
    // text — rows stay narrow) plus the split sizes and a
    // reconstruction invariant: prefix ++ middle ++ suffix must equal
    // the original token array (the property that makes FIM lossless).
    // Pure map-side pass, zero shuffles, codegen'd string ops.
    "text_fim_transform" -> ((s, dir) => {
      val t = docs(s, dir).select(col("doc_id"), tokens(col("text")).as("toks"))
        .withColumn("n", size(col("toks")))
      val cuts = t
        .withColumn("c1",
          hex32(concat(lit("fima:"), col("doc_id").cast("string"))) % (col("n") + 1))
        .withColumn("c2",
          hex32(concat(lit("fimb:"), col("doc_id").cast("string"))) % (col("n") + 1))
        .withColumn("a", least(col("c1"), col("c2")).cast("int"))
        .withColumn("b", greatest(col("c1"), col("c2")).cast("int"))
        .withColumn("fim_applied", col("doc_id") % FimEvery === 0 && col("n") >= 3)
      cuts.select(col("doc_id"), col("fim_applied"),
        col("a").cast("long").as("prefix_toks"),
        (col("b") - col("a")).cast("long").as("middle_toks"),
        (col("n") - col("b")).cast("long").as("suffix_toks"),
        md5(when(col("fim_applied"),
          concat_ws(" ",
            lit("<PRE>"), array_join(slice(col("toks"), lit(1), col("a")), " "),
            lit("<SUF>"), array_join(slice(col("toks"), col("b") + 1, col("n") - col("b")), " "),
            lit("<MID>"), array_join(slice(col("toks"), col("a") + 1, col("b") - col("a")), " ")))
          .otherwise(array_join(col("toks"), " "))).as("out_hash"),
        (concat(slice(col("toks"), lit(1), col("a")),
          slice(col("toks"), col("a") + 1, col("b") - col("a")),
          slice(col("toks"), col("b") + 1, col("n") - col("b"))) === col("toks"))
          .as("reconstruct_ok"))
    }),

    "eval_ece" -> ((s, dir) => {
      val lg = docs(s, dir)
        .select(col("doc_id"), explode(tokens(col("text"))).as("term"))
        .withColumn("b", hex32(col("term")) % 64)
        .withColumn("w", expr("(b * 2654435761) % 1000 - 500"))
        .groupBy(col("doc_id")).agg(sum(col("w")).as("logit"))
      val scored = lg
        .withColumn("conf1",
          greatest(lit(0L),
            least(lit(1000000L), lit(500000L) + col("logit") * EceConfScale)))
        .withColumn("confidence",
          greatest(col("conf1"), lit(1000000L) - col("conf1")))
        .withColumn("noise",
          hex32(concat(lit("ece:"), col("doc_id").cast("string"))) % (2 * EceNoise)
            - EceNoise)
        .withColumn("correct",
          (((col("logit") + col("noise")) >= 0L) === (col("logit") >= 0L)).cast("long"))
        .withColumn("bin", least(expr(s"confidence div $EceBinW"), lit(9L)))
      val byBin = scored.groupBy(col("bin"))
        .agg(count(lit(1)).as("n"), sum(col("confidence")).as("conf_sum"),
          sum(col("correct")).as("n_correct"))
        .withColumn("avg_conf_ppm", expr("conf_sum div n"))
        .withColumn("acc_ppm", expr("n_correct * 1000000 div n"))
        .withColumn("gap_ppm", abs(col("avg_conf_ppm") - col("acc_ppm")))
      val tot = byBin
        .agg(sum(col("n")).as("nt"), sum(col("gap_ppm") * col("n")).as("gs"))
        .select(expr("gs div nt").as("ece_ppm"))
      byBin.crossJoin(broadcast(tot))
        .select(col("bin"), col("n"), col("avg_conf_ppm"), col("acc_ppm"),
          col("gap_ppm"), col("ece_ppm"))
    }),

    // Cohen's kappa (1960) inter-rater agreement — the labeled-data QA
    // gate run before any judged/annotated set trains or evaluates a
    // model: raw percent agreement flatters raters who both say "keep"
    // to everything, so agreement is scored ABOVE CHANCE, kappa =
    // (p_o − p_e)/(1 − p_e) with p_e from the raters' marginals. Rater A
    // is the catalog's bucket-weight classifier; rater B re-judges A's
    // logit under ±KappaNoise hash noise (two imperfectly-correlated
    // judges — the planted kappa sits strictly inside (0,1) and the spec
    // brackets it). Exact integer rationals throughout: p_o and p_e in
    // ppm (pe's product marginals divided by n² BEFORE the ppm lift —
    // int64-safe to 10^6 docs; at larger n the marginals come from the
    // same partial-agg counts and the driver does the 128-bit rational),
    // kappa via the sign-correct pmod floor (can go negative). Scale
    // shape: the per-doc logit aggregation, then ONE 4-cell confusion
    // aggregate — nothing after the logits is corpus-sized.
    "eval_kappa" -> ((s, dir) => {
      val lg = docs(s, dir)
        .select(col("doc_id"), explode(tokens(col("text"))).as("term"))
        .withColumn("b", hex32(col("term")) % 64)
        .withColumn("w", expr("(b * 2654435761) % 1000 - 500"))
        .groupBy(col("doc_id")).agg(sum(col("w")).as("logit"))
      val rated = lg
        .withColumn("ra", (col("logit") >= 0L).cast("long"))
        .withColumn("noise",
          hex32(concat(lit("kap:"), col("doc_id").cast("string"))) % (2 * KappaNoise)
            - KappaNoise)
        .withColumn("rb", ((col("logit") + col("noise")) >= 0L).cast("long"))
      val cm = rated.agg(count(lit(1)).as("n"),
        sum(col("ra") * col("rb")).as("n11"),
        sum(col("ra") * (lit(1L) - col("rb"))).as("n10"),
        sum((lit(1L) - col("ra")) * col("rb")).as("n01"),
        sum((lit(1L) - col("ra")) * (lit(1L) - col("rb"))).as("n00"))
      cm.withColumn("po_ppm", expr("(n11 + n00) * 1000000 div n"))
        .withColumn("pe_ppm", expr(
          "((n11 + n10) * (n11 + n01) + (n01 + n00) * (n10 + n00)) * 1000000 div (n * n)"))
        .withColumn("kappa_ppm", expr(
          "((po_ppm - pe_ppm) * 1000000 - pmod((po_ppm - pe_ppm) * 1000000, 1000000 - pe_ppm)) div (1000000 - pe_ppm)"))
    }),

    // Blocklist document filter (the C4 "bad words" gate, Raffel et al.
    // 2020 §2.2 — drop any page containing a listed word): membership of
    // the BROADCAST blocklist literal against the token array, per-doc
    // hit count + distinct listed tokens + the keep verdict. The corpus
    // is clean, so contamination is PLANTED (one listed token on every
    // 7th doc, both on every 13th) — keep varies and the spec pins the
    // planted truth exactly. Scale shape: zero shuffles — one codegen'd
    // scan with an isin over a tiny literal set (production ships a few
    // thousand words the same way: a broadcast set, never a join).
    "text_blocklist_filter" -> ((s, dir) => {
      val planted = concat(col("text"),
        when(col("doc_id") % 7 === 0, lit(" " + Blocklist(0))).otherwise(lit("")),
        when(col("doc_id") % 13 === 0,
          lit(" " + Blocklist.mkString(" "))).otherwise(lit("")))
      docs(s, dir).select(col("doc_id"), planted.as("ptext"))
        .select(col("doc_id"),
          size(filter(tokens(col("ptext")),
            t => t.isin(Blocklist.map(lit(_)): _*))).cast("long").as("n_bad"),
          size(array_intersect(array_distinct(tokens(col("ptext"))),
            typedLit(Blocklist))).cast("long").as("n_bad_distinct"))
        .withColumn("keep", col("n_bad") === 0L)
    }),

    // Sketch-driven ADAPTIVE quality gate — the two-pass shape a 100 TB
    // filter actually uses: pass 1 reduces the corpus to a ≤101-row
    // score histogram (bin = floor(quality·100); map-side partial agg),
    // the bottom-decile threshold bin is derived from the histogram's
    // running count (thr = smallest bin whose cumulative count reaches
    // ceil(N/10), computed as the exact integer (N+9)//10), and pass 2
    // re-scans the corpus with the broadcast single-row threshold — no
    // global sort, no percentile over raw rows, nothing corpus-sized
    // ever shuffles. Docs strictly below the threshold bin are dropped
    // (≤10% by construction — the straddling bin is kept, the
    // conservative side). A FIXED quality cutoff is the naive
    // alternative; it silently drops 0% or 90% as the corpus drifts —
    // deriving the cutoff from the observed distribution is the
    // operator's point.
    // The sf corpus is uniformly clean (every doc lands in bin 100, and a
    // decile gate over a constant distribution is vacuous), so the gate
    // runs over a planted CONTINUOUS degradation: doc_id % 50 junk
    // punctuation chars appended per doc spread punct_ratio — and hence
    // quality — across ~15 bins, making the derived threshold land inside
    // the distribution and actually drop the worst ~decile.
    "text_quality_adaptive_gate" -> ((s, dir) => {
      val planted = docs(s, dir).select(col("doc_id"),
        concat(col("text"), expr("repeat('!', cast(doc_id % 50 as int))")).as("text"))
      val q = qualityFrame(planted).select(col("doc_id"), col("quality"))
        .withColumn("qbin", floor(col("quality") * 100).cast("long"))
      val hist = q.groupBy(col("qbin")).agg(count(lit(1)).as("c"))
      val wcum = Window.orderBy(col("qbin"))
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      val tot  = q.agg(count(lit(1)).as("n"))
        .select(expr("(n + 9) div 10").as("target"))
      val thr = hist.withColumn("cum", sum(col("c")).over(wcum))
        .crossJoin(broadcast(tot))
        .filter(col("cum") >= col("target"))
        .agg(min(col("qbin")).as("thr_bin"))
      q.crossJoin(broadcast(thr))
        .select(col("doc_id"), col("quality"), col("qbin"), col("thr_bin"),
          (col("qbin") >= col("thr_bin")).as("keep"))
    }),

    // Language-ID: marker-stopword hit counts per language, argmax with
    // alphabetical tie-break (a deterministic n-gram heuristic, not a model).
    "text_langid" -> ((s, dir) => {
      val toks   = tokens(col("text"))
      val scored = docs(s, dir).select(
        col("doc_id") +: LangMarkers.map { case (lang, ms) =>
          markerHits(toks, ms).cast("long").as(s"s_$lang")
        }: _*)
      val best = greatest(LangMarkers.map { case (lang, _) => col(s"s_$lang") }: _*)
      val pred = LangMarkers.foldRight(lit("und")) { case ((lang, _), acc) =>
        when(col(s"s_$lang") === best && best > 0, lit(lang)).otherwise(acc)
      }
      // foldRight keeps the FIRST (alphabetically smallest) max-scoring lang
      scored.withColumn("lang_pred", pred)
    }),

    // Fingerprinting: rolling polynomial hash + winnowing-style min 8-gram.
    "text_fingerprint" -> ((s, dir) =>
      Par.fanOut(docs(s, dir)).select(
        col("doc_id"),
        fingerprint(col("text")).as("fp"),
        winnowMin(col("text")).as("winnow_min"))),

    // PII redaction: plant deterministic email/IPv4/phone per doc, count
    // each type, replace with typed placeholders. Narrow (regex kernels in
    // codegen, no shuffle) — the shape that scrubs 100 TB at scan speed.
    // Redaction order matters: emails first (their dots must not feed the
    // IP pattern), then IPs, then dashed phones.
    "text_pii_redact" -> ((s, dir) => {
      val planted = docs(s, dir).select(col("doc_id"),
        concat(col("text"),
          lit(" contact user"), col("doc_id").cast("string"), lit("@example.com"),
          lit(" from 10.0."), (col("doc_id") % 256).cast("string"), lit(".7"),
          lit(" tel 555-"), lpad((col("doc_id") % 1000).cast("string"), 3, "0"),
          lit("-0199")).as("text"))
      planted.select(col("doc_id"),
        size(regexp_extract_all(col("text"), lit(EmailPat), lit(0))).cast("long").as("n_emails"),
        size(regexp_extract_all(col("text"), lit(Ipv4Pat), lit(0))).cast("long").as("n_ips"),
        size(regexp_extract_all(col("text"), lit(PhonePat), lit(0))).cast("long").as("n_phones"),
        regexp_replace(regexp_replace(regexp_replace(col("text"),
          EmailPat, "<EMAIL>"), Ipv4Pat, "<IP>"), PhonePat, "<PHONE>").as("redacted"))
    }),

    // UTF-8/multilingual parity over the planted corpus (Utf8Suffixes):
    // token counts (NBSP/U+3000 are NOT whitespace in either engine's
    // regex \s — pinned here), CODEPOINT char counts (emoji are surrogate
    // pairs in the JVM), md5 over UTF-8 bytes, and the extended langid
    // (Cyrillic + CJK markers) — all hash-exact against DuckDB, which is
    // the evidence the text kernels survive a real multilingual crawl,
    // not just the ASCII sf tables.
    "utf8_text_stats" -> ((s, dir) => {
      val toks = tokens(col("text"))
      val base = utf8Corpus(s, dir).select(
        col("doc_id") +:
          size(toks).cast("long").as("n_tokens") +:
          length(col("text")).cast("long").as("n_chars") +:
          md5(col("text")).as("content_hash") +:
          LangMarkers.map { case (lang, ms) =>
            markerHits(toks, ms).cast("long").as(s"s_$lang")
          }: _*)
      val best = greatest(LangMarkers.map { case (l, _) => col(s"s_$l") }: _*)
      val pred = LangMarkers.foldRight(lit("und")) { case ((lang, _), acc) =>
        when(col(s"s_$lang") === best && best > 0, lit(lang)).otherwise(acc)
      }
      base.withColumn("lang_pred", pred)
    }),

    // The dedup signature pass over the UTF-8 corpus: tokens → md5-derived
    // per-token hashes (over the multi-byte UTF-8 token bytes) → integer
    // shingle combine → 8 minhash families, bit-exact across engines —
    // near-dup dedup does not quietly degrade on non-ASCII content.
    "utf8_minhash_sig" -> ((s, dir) => Dedup.signatures(utf8Corpus(s, dir))),

    // Duplicated-chunk ratio: consecutive 10-token windows hashed, a chunk
    // is "duplicated" when ≥ 2 distinct docs carry it — per-doc ratio is
    // the RefinedWeb-style dup-fraction filter signal, and the scalable
    // stand-in for exact substring dedup (chunk hash groupBy, never
    // suffix-array all-pairs). Corpus = documents ∪ a 2-chunk prefix copy
    // with a shared boilerplate footer (+1e6 ids): prefix chunks duplicate
    // pairwise, the footer chunk duplicates corpus-wide (the hot-key case).
    // Gopher-style repetition quality rules (Rae et al. 2021, "Scaling
    // Language Models", filter table A1): duplicate-line fraction,
    // duplicate-line CHARACTER fraction, and top-2-gram character fraction
    // — the standard signals a crawl filter uses to drop
    // boilerplate/spam-repetition pages. The sf corpus has no newlines, so
    // "lines" are synthesized deterministically as [[LineW]]-token
    // windows; every 3rd doc gets its first line planted again at the end
    // (so the duplicate-line counters are exercised nonzero, not just
    // vacuously oracle-equal). Token stream for the 2-gram rule is
    // re-derived by flattening the lines — plant included, alignment by
    // construction. Scale shape: two aggregations keyed (doc_id, unit)
    // then (doc_id) — per-doc analytics whose shuffles carry counts and
    // short strings, parallelism ∝ docs; no global state, no windows wider
    // than one document. Thresholds (0.30 / 0.20 / 0.20) are Gopher's.
    "text_repetition_stats" -> ((s, dir) => {
      val toks = tokens(col("text"))
      val nln  = floor((size(toks) + LineW - 1) / LineW).cast("int")
      val lines = transform(sequence(lit(0), nln - 1), i =>
        array_join(slice(toks, i * LineW + 1, lit(LineW)), " "))
      val base = Par.fanOut(docs(s, dir)).filter(size(tokens(col("text"))) >= 1)
        .select(col("doc_id"),
          when(col("doc_id") % 3 === 0, concat(lines, array(element_at(lines, 1))))
            .otherwise(lines).as("lines"))
        .select(col("doc_id"), col("lines"),
          flatten(transform(col("lines"), l => split(l, " "))).as("toks2"))
      val lineAgg = base.select(col("doc_id"), explode(col("lines")).as("line"))
        .groupBy(col("doc_id"), col("line")).agg(count(lit(1)).as("cnt"))
        .groupBy(col("doc_id"))
        .agg(sum(col("cnt")).as("n_lines"),
          count(lit(1)).as("n_dist"),
          sum(when(col("cnt") >= 2, col("cnt") * length(col("line"))).otherwise(0L)).as("dup_chars"),
          sum(col("cnt") * length(col("line"))).as("tot_chars"))
      val grams = when(size(col("toks2")) >= 2,
        transform(sequence(lit(1), size(col("toks2")) - 1), i =>
          concat_ws(" ", element_at(col("toks2"), i), element_at(col("toks2"), i + 1))))
        .otherwise(array().cast("array<string>"))
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy(col("doc_id")).orderBy(col("cnt").desc, col("gram"))
      val gramTop = base.select(col("doc_id"), explode(grams).as("gram"))
        .groupBy(col("doc_id"), col("gram")).agg(count(lit(1)).as("cnt"))
        .withColumn("rn", row_number().over(w)).filter(col("rn") === 1)
        .select(col("doc_id"), col("gram").as("top_2gram"), col("cnt").as("top_cnt"))
      val tokChars = base.select(col("doc_id"),
        aggregate(transform(col("toks2"), t => length(t).cast("long")),
          lit(0L), (a, x) => a + x).as("tok_chars"))
      lineAgg.join(gramTop, Seq("doc_id"), "left").join(tokChars, Seq("doc_id"))
        .select(col("doc_id"), col("n_lines"),
          round((col("n_lines") - col("n_dist")) / col("n_lines"), 4).as("dup_line_frac"),
          round(col("dup_chars") / col("tot_chars"), 4).as("dup_line_char_frac"),
          coalesce(col("top_2gram"), lit("")).as("top_2gram"),
          round(coalesce(col("top_cnt") * (length(col("top_2gram")) - 1), lit(0L)) / col("tok_chars"), 4).as("top_2gram_frac"))
        .withColumn("quality_pass",
          col("dup_line_frac") <= 0.30 && col("dup_line_char_frac") <= 0.20 &&
            col("top_2gram_frac") <= 0.20)
    }),

    // Exact duplicated-substring REMOVAL (the rewrite step dup_chunk_ratio
    // only measures — Lee et al. 2021, "Deduplicating Training Data Makes
    // Language Models Better", at chunk granularity): every non-overlapping
    // 10-token chunk keeps exactly its GLOBAL FIRST occurrence (min
    // (doc_id, pos) over all docs carrying the chunk hash) and every later
    // occurrence is cut; each doc is rewritten as its surviving chunks +
    // the sub-chunk tail. Scale shape: the occurrence frame and both
    // aggregations carry (doc_id, pos, hash) — never text; the owner table
    // is a hash-keyed groupBy with map-side partial min; document text
    // moves exactly once, in the final doc_id-keyed rebuild join (inherent
    // to any rewrite). Corpus = the dup_chunk corpus (prefix copies + the
    // corpus-wide hot footer), so the planted duplicates are actually cut:
    // copies lose their prefix chunks to the originals and the footer
    // survives in exactly one doc corpus-wide (the hot-key case runs
    // through the same partial-agg path, no single-task funnel).
    "text_substr_dedup" -> ((s, dir) => {
      val corpus = dupChunkCorpus(s, dir)
        .select(col("doc_id"), tokens(col("text")).as("toks"))
        .withColumn("nch", floor(size(col("toks")) / ChunkW).cast("int"))
      val occ = corpus.filter(col("nch") >= 1)
        .select(col("doc_id"),
          posexplode(transform(sequence(lit(0), col("nch") - 1), i =>
            md5(array_join(slice(col("toks"), i * ChunkW + 1, lit(ChunkW)), " ")))))
        .withColumnRenamed("col", "h")
      // owner = lexicographic min (doc_id, pos) per hash, in two partial-agg
      // levels so the hot footer chunk collapses map-side
      val ownDoc = occ.groupBy(col("h"))
        .agg(min(col("doc_id")).as("own_doc"))
        .withColumnRenamed("h", "oh")
      val owners = occ.join(ownDoc,
          col("h") === col("oh") && col("doc_id") === col("own_doc"))
        .groupBy(col("h")).agg(min(col("pos")).as("own_pos"), min(col("own_doc")).as("own_doc"))
      val kept = occ.join(owners, Seq("h"))
        .filter(col("doc_id") === col("own_doc") && col("pos") === col("own_pos"))
        .groupBy(col("doc_id"))
        .agg(sort_array(collect_list(col("pos"))).as("keep_pos"),
          count(lit(1)).as("kept_chunks"))
      corpus.join(kept, Seq("doc_id"), "left")
        .select(col("doc_id"),
          col("nch").cast("long").as("n_chunks"),
          coalesce(col("kept_chunks"), lit(0L)).as("kept_chunks"),
          array_join(
            concat(
              flatten(transform(coalesce(col("keep_pos"), array().cast("array<int>")),
                p => slice(col("toks"), p * ChunkW + 1, lit(ChunkW)))),
              when(size(col("toks")) > col("nch") * ChunkW,
                slice(col("toks"), col("nch") * ChunkW + 1,
                  size(col("toks")) - col("nch") * ChunkW))
                .otherwise(array().cast("array<string>"))),
            " ").as("rewritten"))
    }),

    // N-gram LM familiarity score — the CCNet/Wenzek et al. 2020
    // perplexity-filter shape with the corpus itself as the model: bigram
    // and unigram occurrence counts are the "LM", and a doc's score is the
    // mean conditional familiarity of its bigrams,
    // fam(w1 w2) = (10^6 · c(w1 w2)) // c(w1) — integer floor arithmetic
    // throughout, so the score is exact int64 cross-engine (no log(), the
    // HLL/BM25 rule; floor-div is monotone in the conditional probability,
    // which is all a threshold filter consumes). Tokens are hashed once
    // (hex32) and bigrams combined arithmetically (the signature-redesign
    // rule) — count tables and joins carry int64 keys only, vocab-sized,
    // never text; per-doc work is two explodes + two hash-keyed count
    // joins, parallelism ∝ docs. Low scores flag gibberish (bigrams the
    // corpus LM has never seen); boilerplate scores high — the documented
    // reason CCNet pairs this with the dedup/repetition filters.
    "text_lm_familiarity" -> ((s, dir) => {
      val base = Par.fanOut(docs(s, dir))
        .select(col("doc_id"), tokens(col("text")).as("toks"))
        .select(col("doc_id"), tokenHashes(col("toks")).as("th"))
      val uni = base.select(col("doc_id"), explode(col("th")).as("h"))
      val uc  = uni.groupBy(col("h")).agg(count(lit(1)).as("cu"))
      val big = base.filter(size(col("th")) >= 2)
        .select(col("doc_id"),
          explode(transform(sequence(lit(1), size(col("th")) - 1), i =>
            struct(element_at(col("th"), i).as("h1"),
              ((element_at(col("th"), i) * ShingleC % ShingleM)
                + element_at(col("th"), i + 1)).mod(ShingleM).as("bh")))).as("bg"))
        .select(col("doc_id"), col("bg.h1").as("h1"), col("bg.bh").as("bh"))
      val bc = big.groupBy(col("bh")).agg(count(lit(1)).as("cb"))
      big.join(bc, Seq("bh"))
        .join(uc, big("h1") === uc("h"))
        .select(col("doc_id"), expr("(1000000 * cb) div cu").as("fam"))
        .groupBy(col("doc_id"))
        .agg(count(lit(1)).as("n_bigrams"), sum(col("fam")).as("fam_sum"))
        .withColumn("fam_score", expr("fam_sum div n_bigrams"))
    }),

    // CCNet head/middle/tail bucketing (Wenzek et al., LREC 2020 §4.3):
    // per LANGUAGE, rank documents by LM score and cut the ranking into
    // exact terciles — head = the most-familiar (lowest-perplexity)
    // third, the slice CCNet keeps for pretraining; thresholds are
    // per-language because a global cut would just rank languages by
    // corpus share. Rank is (3·(rank−1)) div n_lang over the total order
    // (fam_score, doc_id) — deterministic, no percentile floats. Scale
    // shape: the per-language rank is [[Par.globalRank]] partitioned by
    // lang over the range bucket fam_score div CcnetBand (≤ |langs|·16
    // offset rows).
    "q_ccnet_buckets" -> ((s, dir) => {
      val fam = queries("text_lm_familiarity")(s, dir)
        .select(col("doc_id"), col("fam_score"))
      val scored = docs(s, dir).select(col("doc_id"), col("lang"))
        .join(fam, Seq("doc_id"))
        .withColumn("bucket", expr(s"fam_score div $CcnetBand"))
      val tot = scored.groupBy(col("lang")).agg(count(lit(1)).as("n_lang"))
      Par.globalRank(scored, "bucket", Seq(col("fam_score"), col("doc_id")), "rank",
          parts = Seq("lang"))
        .join(broadcast(tot), Seq("lang"))
        .withColumn("bucket_id", expr("(3 * (rank - 1)) div n_lang"))
        .withColumn("ccnet_bucket",
          when(col("bucket_id") === 2, lit("head"))
            .when(col("bucket_id") === 1, lit("middle"))
            .otherwise(lit("tail")))
        .select(col("doc_id"), col("lang"), col("fam_score"), col("rank"),
          col("n_lang"), col("bucket_id"), col("ccnet_bucket"))
    }),

    // Overlapping chunk windows — the context-window preparation step a
    // training (or RAG-indexing) pipeline runs before packing: each doc
    // splits into WinW-token windows at WinS-token stride (WinW−WinS
    // tokens of overlap, so no chunk boundary ever severs local context
    // from BOTH of its neighbors). Chunk count is exact integer math —
    // 1 + ceil((n−W)/S) for n>W, else 1 — identical in both engines, and
    // the final window is allowed to run short (n_tok < W) rather than
    // re-reading earlier tokens, so chunk starts are a pure arithmetic
    // progression and every token's chunk assignment is reconstructible
    // from (doc_id, chunk_id) alone. Scale shape: one narrow codegen'd
    // scan + per-doc explode — ZERO shuffles (asserted), parallelism ∝
    // docs, output rows ∝ corpus tokens / WinS.
    "text_chunk_windows" -> ((s, dir) => {
      val base = docs(s, dir)
        .select(col("doc_id"), tokens(col("text")).as("toks"))
        .withColumn("n", size(col("toks")).cast("long"))
        .filter(col("n") >= 1)
        .withColumn("nchunks",
          when(col("n") <= WinW, lit(1L))
            .otherwise(lit(1L) + expr(s"(n - $WinW + ${WinS - 1}) div $WinS")))
      base.select(col("doc_id"), col("toks"), col("n"),
          posexplode(transform(sequence(lit(0L), col("nchunks") - 1), i => i * WinS)))
        .select(col("doc_id"),
          col("pos").cast("long").as("chunk_id"),
          col("col").as("start_tok"),
          least(lit(WinW.toLong), col("n") - col("col")).as("n_tok"),
          array_join(slice(col("toks"), (col("col") + 1).cast("int"), lit(WinW)), " ")
            .as("chunk"))
    }),

    // Distributed BPE merge induction — the tokenizer-TRAINING loop
    // (Sennrich et al. 2016) at token granularity, two rounds unrolled:
    // count adjacent pairs corpus-wide, adopt the most frequent pair as a
    // merge rule (count DESC, pair ASC — deterministic argmax, the
    // trained-k-means discipline), rewrite every stream greedily
    // left-to-right, repeat on the rewritten corpus. The greedy rewrite's
    // sequential dependence (a merge consumes the next position) is made
    // set-parallel by the RUN-PARITY rule: matches only conflict when
    // consecutive, so within each maximal run of consecutive match
    // positions greedy keeps exactly the even offsets — a window over
    // (doc_id, run), no per-doc sequential fold, identical in both
    // engines (this also makes the self-adjacent pair "x x x x" correct:
    // greedy merges positions 1 and 3). Scale shape per round: pair
    // counting collapses map-side before the (pair, count) shuffle; the
    // argmax is a 1-row TakeOrdered broadcast; match extraction is a
    // narrow filtered pass; the selection window keys by doc_id over
    // (doc_id, pos) ints; the rebuild is a per-doc array op. Tokens
    // shuffle only as the ≤vocab² pair table — streams never leave their
    // partitions except the doc_id-keyed selection join.
    "text_bpe_merges" -> ((s, dir) => {
      val base = docs(s, dir).select(col("doc_id"), tokens(col("text")).as("toks"))
      val (r1, best1) = bpeRound(base)
      val (r2, best2) = bpeRound(r1)
      val rule = (b: DataFrame) =>
        b.select(concat(col("a"), lit("_"), col("b")).as("rule"))
      base.select(col("doc_id"), size(col("toks")).cast("long").as("n_before"))
        .join(r2.select(col("doc_id"), size(col("toks")).cast("long").as("n_after"),
          array_join(col("toks"), " ").as("bpe_text")), Seq("doc_id"))
        .crossJoin(broadcast(rule(best1).withColumnRenamed("rule", "merge1")))
        .crossJoin(broadcast(rule(best2).withColumnRenamed("rule", "merge2")))
    }),

    // Per-doc keyword extraction — integer tf-idf top-3 (the doc-tagging
    // pass that labels corpus slices for mixture building, dedup triage,
    // and search facets). idf is the rational (N·10⁶ div df) — no log,
    // the BM25 rule: per-term ranking is idf-monotone so top-k per doc is
    // unchanged, and the score stays exact int64 cross-engine. Scale
    // shape: the (doc, term) tf build is the postings aggregation
    // (map-side combined); df is a vocab-sized rollup joined back on
    // term (at 100 TB: the bucketed-by-term layout makes this probe
    // zero-shuffle); the top-3 window partitions by doc over that doc's
    // distinct terms only. Shuffles never carry more than a token and
    // two counters.
    "text_keyword_extract" -> ((s, dir) => {
      val tf = docs(s, dir)
        .select(col("doc_id"), explode(tokens(col("text"))).as("term"))
        .groupBy(col("doc_id"), col("term")).agg(count(lit(1)).as("tf"))
      val df = tf.groupBy(col("term")).agg(count(lit(1)).as("df"))
      val n  = docs(s, dir).agg(count(lit(1)).as("n"))
      val w = Window.partitionBy(col("doc_id")).orderBy(col("score").desc, col("term"))
      tf.join(df, Seq("term")).crossJoin(broadcast(n))
        .withColumn("score", expr("tf * ((n * 1000000) DIV df)"))
        .withColumn("rank", row_number().over(w).cast("long"))
        .filter(col("rank") <= 3L)
        .select(col("doc_id"), col("rank"), col("term"), col("tf"), col("df"),
          col("score"))
    }),

    "text_dup_chunk_ratio" -> ((s, dir) => {
      val chunks = dupChunkCorpus(s, dir)
        .select(col("doc_id"), tokens(col("text")).as("toks"))
        .withColumn("nch", floor(size(col("toks")) / ChunkW).cast("int"))
        .filter(col("nch") >= 1)
        .select(col("doc_id"),
          explode(transform(sequence(lit(0), col("nch") - 1), i =>
            md5(array_join(slice(col("toks"), i * ChunkW + 1, lit(ChunkW)), " ")))).as("h"))
      val hot = chunks.groupBy(col("h"))
        .agg(countDistinct(col("doc_id")).as("n_docs"))
        .filter(col("n_docs") >= 2)
      chunks.join(hot, Seq("h"), "left")
        .groupBy(col("doc_id"))
        .agg(count(lit(1)).as("n_chunks"),
          count(col("n_docs")).as("dup_chunks"),
          round(count(col("n_docs")) / count(lit(1)), 4).as("dup_ratio"))
    }),

    // Quality-vs-quantity tradeoff curve — the planning query behind
    // every "filter harder or train on more?" decision (Gopher/RefinedWeb
    // both publish this curve): for each quality-score bin (the adaptive
    // gate's floor(quality·100) histogram key), how many docs and how
    // much text survive a "keep everything ≥ this bin" policy, as exact
    // ppm of the corpus. Runs over the same planted continuous
    // degradation as the adaptive gate (the raw sf corpus is uniformly
    // clean — one bin, a vacuous curve). Scale shape: ONE map-side-
    // combined histogram aggregation (≤101 rows — bins, never docs),
    // cumulated from the clean end by a window over the bin table; no
    // global sort, no percentile over raw rows — the two-pass gate's
    // pass-1 artifact IS this curve, so at 100 TB it's free.
    "q_quality_tradeoff" -> ((s, dir) => {
      val planted = docs(s, dir).select(col("doc_id"),
        concat(col("text"), expr("repeat('!', cast(doc_id % 50 as int))")).as("text"),
        col("n_chars"))
      val q = qualityFrame(planted)
        .withColumn("qbin", floor(col("quality") * 100).cast("long"))
      val b = q.groupBy(col("qbin"))
        .agg(count(lit(1)).as("n_docs"), sum(col("n_chars")).as("chars"))
      val tot = q.agg(count(lit(1)).as("n"), sum(col("n_chars")).as("tc"))
      val wc = Window.orderBy(col("qbin").desc)
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      b.withColumn("cum_docs", sum(col("n_docs")).over(wc))
        .withColumn("cum_chars", sum(col("chars")).over(wc))
        .crossJoin(broadcast(tot))
        .select(col("qbin"), col("n_docs"), col("chars"), col("cum_docs"),
          col("cum_chars"),
          expr("(cum_docs * 1000000) div n").as("docs_kept_ppm"),
          expr("(cum_chars * 1000000) div tc").as("chars_kept_ppm"))
    }),

    // Per-doc lexical diversity — the quality signals repetition ratios
    // don't capture: type-token ratio (distinct words / words), hapax
    // share (words seen once / vocabulary — low in template/boilerplate
    // text), and top-token share (a single token dominating is the spam
    // keyword-stuffing signature). All exact integer ppm. Scale shape:
    // a (doc, term) partial-agg then a doc rollup — two map-side-combined
    // aggregations of int counters, the tf-build discipline; nothing
    // wider than a token ever shuffles.
    "text_lexical_diversity" -> ((s, dir) => {
      val tf = docs(s, dir)
        .select(col("doc_id"), explode(tokens(col("text"))).as("term"))
        .groupBy(col("doc_id"), col("term")).agg(count(lit(1)).as("cf"))
      tf.groupBy(col("doc_id")).agg(
          sum(col("cf")).as("n_tokens"), count(lit(1)).as("n_types"),
          sum(when(col("cf") === 1, 1L).otherwise(0L)).as("n_hapax"),
          max(col("cf")).as("top_cf"))
        .select(col("doc_id"), col("n_tokens"), col("n_types"), col("n_hapax"),
          col("top_cf"),
          expr("(n_types * 1000000) div n_tokens").as("ttr_ppm"),
          expr("(n_hapax * 1000000) div n_types").as("hapax_ppm"),
          expr("(top_cf * 1000000) div n_tokens").as("top_share_ppm"))
    }),

    // TextTiling-style topic-boundary scoring (Hearst, CL 1997 — the
    // lexical-cohesion half, integerized): adjacent 8-token blocks are
    // compared by exact vocabulary Jaccard in ppm; a low-cohesion gap is
    // a topic-boundary candidate — the semantic-chunking signal a RAG /
    // context-packing pipeline uses instead of blind fixed windows
    // (read next to text_chunk_windows). Zero shuffles: block slicing,
    // set ops, and the per-gap explode all run inside one codegen'd
    // projection; output rows ∝ corpus tokens / 8.
    "text_topic_boundaries" -> ((s, dir) => {
      val base = docs(s, dir)
        .select(col("doc_id"), tokens(col("text")).as("toks"))
        .withColumn("nb", expr("size(toks) div 8").cast("long"))
        .filter(col("nb") >= 2)
      base.select(col("doc_id"),
          posexplode(transform(sequence(lit(0L), col("nb") - 2), i => {
            val a = array_distinct(
              slice(col("toks"), (i * 8 + 1).cast("int"), lit(8)))
            val b = array_distinct(
              slice(col("toks"), (i * 8 + 9).cast("int"), lit(8)))
            struct(size(array_intersect(a, b)).cast("long").as("inter"),
              size(array_union(a, b)).cast("long").as("uni"))
          })).as(Seq("block", "m")))
        .select(col("doc_id"), col("block").cast("long").as("block"),
          col("m.inter").as("inter"), col("m.uni").as("uni"))
        .withColumn("cohesion_ppm", expr("(inter * 1000000) div uni"))
        .withColumn("is_boundary", col("cohesion_ppm") < TopicCohesionPpm)
    }),

    // LIX readability (Björnsson 1968): words/sentence + 100·longwords/
    // words — the grade-level quality signal curation stacks use next to
    // stopword/punct ratios. The synthetic corpus carries no sentence
    // punctuation, so a '.' is PLANTED after every 8th token and the
    // operator parses the punctuated text back like a real document:
    // sentences = [.!?]-separator count, long word = > 6 chars after
    // stripping the terminator. Both LIX terms are exact ppm (×10⁶), and
    // the grade bands are the published LIX thresholds (25/35/45) scaled
    // the same way. Zero shuffles — one codegen'd projection.
    "text_readability" -> ((s, dir) => {
      val planted = array_join(transform(tokens(col("text")), (t, i) =>
        when((i + 1) % 8 === 0, concat(t, lit("."))).otherwise(t)), " ")
      docs(s, dir).select(col("doc_id"), planted.as("ptext"))
        .withColumn("toks", tokens(col("ptext")))
        .select(col("doc_id"),
          size(col("toks")).cast("long").as("n_words"),
          (size(split(col("ptext"), "[.!?]")) - 1).cast("long").as("n_sents"),
          size(filter(col("toks"), t =>
            length(rtrim(t, ".")) >= 7)).cast("long").as("n_long"))
        .withColumn("lix_ppm",
          expr("(n_words * 1000000) div greatest(n_sents, 1) + " +
            "(n_long * 100000000) div greatest(n_words, 1)"))
        .withColumn("lix_band",
          when(col("lix_ppm") < 25000000L, lit("easy"))
            .when(col("lix_ppm") < 35000000L, lit("medium"))
            .when(col("lix_ppm") < 45000000L, lit("hard"))
            .otherwise(lit("very_hard")))
    }),

    // Code-vs-prose detection — the corpus-splitting filter every
    // LLM-data pipeline runs before routing documents to the code or
    // natural-language branch (symbol-density + keyword heuristics, the
    // deterministic core of what a fasttext code classifier learns).
    // A code tail is PLANTED on every 10th doc; detection needs BOTH
    // signals (≥ CodeSymPpm structural chars per char AND ≥ 2 language
    // keywords), so a prose doc that happens to contain 'if' stays
    // prose. Zero shuffles — one codegen'd scan of length/translate/
    // token-filter kernels.
    "text_code_detect" -> ((s, dir) => {
      val planted = when(col("doc_id") % 10 === 0,
        concat(col("text"), lit(CodeTail))).otherwise(col("text"))
      docs(s, dir).select(col("doc_id"), planted.as("ptext"))
        .select(col("doc_id"),
          length(col("ptext")).cast("long").as("n_chars"),
          (length(col("ptext")) -
            length(translate(col("ptext"), "{}();=", ""))).cast("long")
            .as("n_sym"),
          size(filter(tokens(col("ptext")), t =>
            t.isin(CodeKeywords.map(lit(_)): _*))).cast("long").as("n_kw"))
        .withColumn("sym_ppm", expr("(n_sym * 1000000) div n_chars"))
        .withColumn("is_code",
          col("sym_ppm") >= CodeSymPpm && col("n_kw") >= 2)
    }),

    // PMI-lift bigram collocation mining (Church & Hanks 1990) — the
    // vocabulary-curation query behind multi-word tokenizer entries and
    // stop-phrase lists: adjacent token pairs scored by observed/expected
    // frequency lift = P(ab) / (P(a)·P(b)), pairs below MinColloc
    // occurrences dropped (PMI's low-count instability). The lift is
    // computed in two explicit integer floor steps (mirrored verbatim in
    // the oracle), keeping int64 headroom at this corpus family's
    // magnitudes; a 100 TB run scores in log space on doubles and keeps
    // ranking-only semantics — this exact-integer form is what makes the
    // small-scale result hash-checkable. Scale shape: bigram and unigram
    // tables are both map-side-combined token aggregations; the final
    // join touches only the vocab²-bounded collocation table against the
    // broadcast vocab-sized unigram counts.
    "text_collocations" -> ((s, dir) => {
      val toks = docs(s, dir).select(col("doc_id"), tokens(col("text")).as("toks"))
      val uni = toks.select(explode(col("toks")).as("term"))
        .groupBy(col("term")).agg(count(lit(1)).as("cf"))
      val bi = toks.filter(size(col("toks")) >= 2)
        .select(explode(expr(
          "transform(sequence(0, size(toks) - 2), i -> struct(toks[i] AS a, toks[i + 1] AS b))")).as("bg"))
        .select(col("bg.a").as("a"), col("bg.b").as("b"))
        .groupBy(col("a"), col("b")).agg(count(lit(1)).as("n_ab"))
        .filter(col("n_ab") >= MinColloc)
      val nUni = uni.agg(sum(col("cf")).as("n_uni"))
      val nBi = toks
        .select(greatest(size(col("toks")) - 1, lit(0)).cast("long").as("nb"))
        .agg(sum(col("nb")).as("n_bi"))
      bi
        .join(broadcast(uni.select(col("term").as("a"), col("cf").as("cf_a"))), Seq("a"))
        .join(broadcast(uni.select(col("term").as("b"), col("cf").as("cf_b"))), Seq("b"))
        .crossJoin(broadcast(nUni)).crossJoin(broadcast(nBi))
        .select(col("a"), col("b"), col("n_ab"), col("cf_a"), col("cf_b"),
          expr("((n_ab * 1000000 * n_uni) div (cf_a * cf_b) * n_uni) div n_bi")
            .as("lift_ppm"))
    }),

    // Count-based bigram language model (the KenLM-style artifact the
    // CCNet/quality stack trains on the corpus it just curated): per left
    // token, the conditional next-token distribution P(w2|w1) as exact
    // integer ppm over the OBSERVED continuation mass, pruned to left
    // tokens with ≥ MinLmLeft continuations (MLE on rare contexts is
    // noise) and to the top-3 continuations (the model a completion
    // ranker actually serves). Differs from text_collocations (global
    // PMI lift ranking) in grain and output: this is the per-context
    // CONDITIONAL table — the thing perplexity scoring reads. Scale
    // shape: one map-side-combined bigram count, a vocab-sized left-
    // margin re-aggregation of those counts (never a second corpus
    // pass), and a per-w1 window bounded by w1's distinct-continuation
    // count ≤ vocab — corpus growth fattens counters, not partitions.
    "text_bigram_lm" -> ((s, dir) => {
      val toks = docs(s, dir).select(tokens(col("text")).as("toks"))
        .filter(size(col("toks")) >= 2)
      val bg = toks.select(explode(expr(
          "transform(sequence(0, size(toks) - 2), i -> struct(toks[i] AS w1, toks[i + 1] AS w2))")).as("bg"))
        .select(col("bg.w1").as("w1"), col("bg.w2").as("w2"))
        .groupBy(col("w1"), col("w2")).agg(count(lit(1)).as("c_bigram"))
      val left = bg.groupBy(col("w1")).agg(sum(col("c_bigram")).as("c_left"))
      bg.join(left, Seq("w1")).filter(col("c_left") >= MinLmLeft)
        .withColumn("p_ppm", expr("c_bigram * 1000000 DIV c_left"))
        .withColumn("rank", row_number().over(Window.partitionBy(col("w1"))
          .orderBy(col("c_bigram").desc, col("w2"))).cast("long"))
        .filter(col("rank") <= 3)
        .select(col("w1"), col("w2"), col("c_bigram"), col("c_left"),
          col("p_ppm"), col("rank"))
    }),

    // Confusion matrix for the language-ID heuristic against the corpus's
    // LABELED `lang` column — the evaluation loop every classifier in the
    // curation stack needs closed (the reference's whole eval half is
    // this shape: predictions ⋈ ground truth → per-class counts;
    // `eval_script_field_level.py` does it for extraction fields, this
    // does it for a classifier). Per (truth, predicted) cell: count and
    // exact ppm share of the truth class — row-normalizing the matrix
    // makes per-class recall readable directly. Scale shape: predictor
    // scan + a (lang, lang_pred) aggregation of counters; the matrix is
    // |langs|² ≤ 36 rows, the window runs on that, never on docs.
    "eval_langid_confusion" -> ((s, dir) => {
      val pred  = queries("text_langid")(s, dir).select(col("doc_id"), col("lang_pred"))
      val truth = docs(s, dir).select(col("doc_id"), col("lang"))
      val cm = truth.join(pred, Seq("doc_id"))
        .groupBy(col("lang"), col("lang_pred")).agg(count(lit(1)).as("n"))
      cm.withColumn("lang_total",
          sum(col("n")).over(Window.partitionBy(col("lang"))))
        .select(col("lang"), col("lang_pred"), col("n"), col("lang_total"),
          expr("(n * 1000000) div lang_total").as("share_ppm"),
          (col("lang") === col("lang_pred")).as("correct"))
    }),

    // Character-error-rate evaluation — the OCR/ASR extraction-quality
    // metric (CER = levenshtein(golden, predicted) / |golden|, integer
    // ppm), computed with both engines' native Levenshtein. Predictions
    // are derived by deterministic class-keyed corruptions so every CER
    // has a known closed form (the eval_metrics planted-defect move):
    // class 0 = clean (CER 0), 1 = substitutions (e→3), 2 = deletions
    // (o removed), 3 = insertion (fixed appended tail). The scale
    // contract: edit distance is O(m·n), so both sides are BOUNDED
    // 400-char samples — constant work per doc, one narrow codegen'd
    // scan, zero shuffles (sampled CER is what OCR evals report; full-
    // text CER at 100 TB chunks both sides and sums per-chunk distances
    // as an upper bound).
    "eval_cer" -> ((s, dir) => {
      // O(m·n) levenshtein per row is the catalog's heaviest per-row
      // kernel — fanOut keeps it off a single scan task (guide §2)
      Par.fanOut(docs(s, dir))
        .select(col("doc_id"), substring(col("text"), 1, CerSampleChars).as("golden"))
        .withColumn("corruption", col("doc_id") % 4)
        .withColumn("pred",
          when(col("corruption") === 1, translate(col("golden"), "e", "3"))
            .when(col("corruption") === 2, translate(col("golden"), "o", ""))
            .when(col("corruption") === 3, concat(col("golden"), lit(CerTail)))
            .otherwise(col("golden")))
        .select(col("doc_id"), col("corruption"),
          length(col("golden")).cast("long").as("n_chars"),
          levenshtein(col("golden"), col("pred")).cast("long").as("dist"))
        .withColumn("cer_ppm", expr("(dist * 1000000) DIV greatest(n_chars, 1)"))
    }),

    // BLEU-style clipped n-gram precision over the SAME corruption
    // grid as eval_cer — the token-level MT/OCR quality evaluator
    // (Papineni et al., ACL 2002 §2.1: a hypothesis n-gram scores only
    // up to its count in the reference, so "the the the" can't farm
    // matches). Integer parts only — clipped match counts, precision
    // ppm per order, and the brevity RATIO as ppm (the geometric mean
    // and exp() stay out: cross-engine float parity is the thing this
    // catalog never gambles on). Scale shape: pure per-row array math
    // inside one codegen'd projection — ZERO shuffles, the eval scans
    // 100 TB of (golden, pred) pairs at read speed. The clipped count
    // is O(distinct·len) per doc on ≤ ~80-token samples — bounded by
    // CerSampleChars, not corpus size.
    "eval_bleu" -> ((s, dir) => {
      def bigrams(c: Column): Column =
        when(size(c) >= 2, transform(sequence(lit(1), size(c) - 1), i =>
          concat_ws(" ", element_at(c, i), element_at(c, i + 1))))
          .otherwise(array().cast("array<string>"))
      def clipped(h: Column, r: Column): Column =
        aggregate(array_distinct(h), lit(0L), (acc, t) =>
          acc + least(size(filter(h, x => x === t)),
            size(filter(r, x => x === t))).cast("long"))
      Par.fanOut(docs(s, dir)) // O(distinct·len) clipping per row — off one task
        .select(col("doc_id"), substring(col("text"), 1, CerSampleChars).as("golden"))
        .withColumn("corruption", col("doc_id") % 4)
        .withColumn("pred",
          when(col("corruption") === 1, translate(col("golden"), "e", "3"))
            .when(col("corruption") === 2, translate(col("golden"), "o", ""))
            .when(col("corruption") === 3, concat(col("golden"), lit(CerTail)))
            .otherwise(col("golden")))
        .select(col("doc_id"), col("corruption"),
          tokens(col("golden")).as("ref"), tokens(col("pred")).as("hyp"))
        .withColumn("refb", bigrams(col("ref")))
        .withColumn("hypb", bigrams(col("hyp")))
        .select(col("doc_id"), col("corruption"),
          size(col("ref")).cast("long").as("ref_len"),
          size(col("hyp")).cast("long").as("hyp_len"),
          clipped(col("hyp"), col("ref")).as("uni_match"),
          clipped(col("hypb"), col("refb")).as("bi_match"),
          size(col("hypb")).cast("long").as("bi_total"))
        .withColumn("bleu1_ppm",
          expr("(uni_match * 1000000) div greatest(hyp_len, 1)"))
        .withColumn("bleu2_ppm",
          expr("(bi_match * 1000000) div greatest(bi_total, 1)"))
        .withColumn("brevity_ppm", least(lit(1000000L),
          expr("(hyp_len * 1000000) div greatest(ref_len, 1)")))
    }))

  /** One BPE training round over a (doc_id, toks) frame: returns the
    * rewritten frame and the 1-row (a, b) merge rule it adopted. See the
    * `text_bpe_merges` notes for the run-parity greedy argument. */
  private def bpeRound(df: DataFrame): (DataFrame, DataFrame) = {
    val pairs = df.filter(size(col("toks")) >= 2)
      .select(col("doc_id"),
        posexplode(transform(sequence(lit(1), size(col("toks")) - 1), i =>
          struct(element_at(col("toks"), i).as("a"),
            element_at(col("toks"), i + 1).as("b")))))
      .select(col("doc_id"), (col("pos") + 1).as("p"), col("col.a"), col("col.b"))
    val best = pairs.groupBy(col("a"), col("b")).agg(count(lit(1)).as("cnt"))
      .orderBy(col("cnt").desc, col("a"), col("b")).limit(1)
    val m   = pairs.join(broadcast(best.select(col("a"), col("b"))), Seq("a", "b"))
    val wrn = Window.partitionBy(col("doc_id")).orderBy(col("p"))
    val sel = m.withColumn("rg", col("p") - row_number().over(wrn))
      .withColumn("rs", min(col("p")).over(Window.partitionBy(col("doc_id"), col("rg"))))
      .filter(((col("p") - col("rs")) % 2) === 0)
      .groupBy(col("doc_id")).agg(collect_list(col("p")).as("sel"))
    val rewritten = df.join(sel, Seq("doc_id"), "left")
      .withColumn("sel", coalesce(col("sel"), array().cast("array<int>")))
      .select(col("doc_id"),
        transform(
          filter(sequence(lit(1), size(col("toks"))),
            i => !array_contains(col("sel"), i - 1)),
          i => when(array_contains(col("sel"), i),
            concat(element_at(col("toks"), i), lit("_"),
              element_at(col("toks"), i + 1)))
            .otherwise(element_at(col("toks"), i))).as("toks"))
    (rewritten, best)
  }

  // --- DuckDB oracles -----------------------------------------------------

  private def dkStop(toks: String) = Dk.markerHits(toks, Stopwords)

  /** [[bpeRound]]'s oracle twin: the CTE block for round `n` reading
    * token arrays from CTE `inT`, ending in the rewritten `t$n` and the
    * adopted rule `best$n`. */
  private def dkBpeRound(inT: String, n: Int): String =
    s"""pr$n AS (
       |  SELECT doc_id,
       |    unnest([i for i in generate_series(1, len(toks) - 1)]) AS p,
       |    unnest([toks[i] for i in generate_series(1, len(toks) - 1)]) AS a,
       |    unnest([toks[i+1] for i in generate_series(1, len(toks) - 1)]) AS b
       |  FROM $inT WHERE len(toks) >= 2),
       |best$n AS (
       |  SELECT a, b FROM (SELECT a, b, count(*) AS cnt FROM pr$n GROUP BY 1, 2)
       |  ORDER BY cnt DESC, a, b LIMIT 1),
       |m$n AS (SELECT doc_id, p FROM pr$n JOIN best$n USING (a, b)),
       |s$n AS (
       |  SELECT doc_id, p FROM (
       |    SELECT doc_id, p, min(p) OVER (PARTITION BY doc_id, rg) AS rs FROM (
       |      SELECT doc_id, p,
       |        p - row_number() OVER (PARTITION BY doc_id ORDER BY p) AS rg
       |      FROM m$n))
       |  WHERE (p - rs) % 2 = 0),
       |sel$n AS (SELECT doc_id, list(p) AS sel FROM s$n GROUP BY 1),
       |t$n AS (
       |  SELECT $inT.doc_id,
       |    [CASE WHEN list_contains(coalesce(sel, []::BIGINT[]), i)
       |          THEN toks[i] || '_' || toks[i+1] ELSE toks[i] END
       |     for i in generate_series(1, len(toks))
       |     if NOT list_contains(coalesce(sel, []::BIGINT[]), i - 1)] AS toks
       |  FROM $inT LEFT JOIN sel$n USING (doc_id))""".stripMargin

  /** [[dupChunkCorpus]]'s oracle twin (a `corpus` CTE). */
  private def dkDupCorpus: String =
    s"""corpus AS (
       |  SELECT doc_id, text FROM documents
       |  UNION ALL
       |  SELECT doc_id + 1000000 AS doc_id,
       |    array_to_string((${Dk.tokens("text")})[1:${2 * ChunkW}], ' ') || ' $Footer' AS text
       |  FROM documents)""".stripMargin

  /** `text_langid`'s full oracle SQL, factored so the confusion-matrix
    * evaluator can reuse the identical predictor chain. */
  private def dkLangidSql: String = {
    val scores = LangMarkers.map { case (lang, ms) =>
      s"${Dk.markerHits("toks", ms)}::BIGINT AS s_$lang" }.mkString(", ")
    val best = LangMarkers.map { case (lang, _) => s"s_$lang" }
      .mkString("greatest(", ", ", ")")
    val pred = LangMarkers.reverse.foldLeft("'und'") { case (acc, (lang, _)) =>
      s"CASE WHEN s_$lang = $best AND $best > 0 THEN '$lang' ELSE $acc END"
    }
    s"""WITH t AS (SELECT doc_id, ${Dk.tokens("text")} AS toks FROM documents),
       |s AS (SELECT doc_id, $scores FROM t)
       |SELECT doc_id, ${LangMarkers.map { case (l, _) => s"s_$l" }.mkString(", ")}, $pred AS lang_pred
       |FROM s""".stripMargin
  }

  /** [[qualityFrame]]'s oracle twin, ending in a `qual` CTE (shared by
    * `text_quality` and the adaptive gate; `src` = source CTE/table). */
  private[operators] def dkQualityCte(src: String = "documents"): String =
    s"""t AS (SELECT doc_id, text, ${Dk.tokens("text")} AS toks FROM $src),
       |m AS (
       |  SELECT doc_id,
       |    len(toks)::BIGINT AS n_tokens,
       |    round(list_reduce(list_prepend(0::BIGINT, [length(x)::BIGINT for x in toks]), (a, b) -> a + b) / len(toks), 4) AS avg_token_len,
       |    round(${dkStop("toks")} / len(toks), 4) AS stopword_ratio,
       |    round((length(text) - length(regexp_replace(text, '[^a-z0-9\\s]', '', 'g'))) / length(text), 4) AS punct_ratio
       |  FROM t),
       |qual AS (
       |  SELECT doc_id, n_tokens, avg_token_len, stopword_ratio, punct_ratio,
       |    round((CASE WHEN n_tokens BETWEEN 5 AND 10000 THEN 1.0 ELSE 0.5 END)::DOUBLE
       |          * (1.0 - punct_ratio)
       |          * (CASE WHEN avg_token_len BETWEEN 2.0 AND 12.0 THEN 1.0 ELSE 0.8 END)::DOUBLE, 4) AS quality
       |  FROM m)""".stripMargin

  /** Shared CTE chain for the corpus-as-LM familiarity score — ends in
    * `famagg(doc_id, n_bigrams, fam_sum, fam_score)`; text_lm_familiarity
    * and q_ccnet_buckets both consume it, so the twins cannot drift. */
  private val dkFam =
    s"""t AS (SELECT doc_id, ${Dk.tokens("text")} AS toks FROM documents),
       |hh AS (SELECT doc_id, ${Dk.tokenHashes("toks")} AS th FROM t),
       |uni AS (SELECT doc_id, unnest(th) AS h FROM hh),
       |uc AS (SELECT h, count(*)::BIGINT AS cu FROM uni GROUP BY 1),
       |big AS (
       |  SELECT doc_id,
       |    unnest([th[i] for i in generate_series(1, len(th) - 1)]) AS h1,
       |    unnest([((th[i] * $ShingleC % $ShingleM) + th[i+1]) % $ShingleM
       |            for i in generate_series(1, len(th) - 1)]) AS bh
       |  FROM hh WHERE len(th) >= 2),
       |bc AS (SELECT bh, count(*)::BIGINT AS cb FROM big GROUP BY 1),
       |sc AS (
       |  SELECT doc_id, (1000000 * cb) // cu AS fam
       |  FROM big JOIN bc ON big.bh = bc.bh JOIN uc ON big.h1 = uc.h),
       |famagg AS (
       |  SELECT doc_id, count(*)::BIGINT AS n_bigrams,
       |    sum(fam)::BIGINT AS fam_sum,
       |    (sum(fam) // count(*))::BIGINT AS fam_score
       |  FROM sc GROUP BY 1)""".stripMargin

  val oracles: Map[String, String] = Map(
    "text_quality_classifier" ->
      s"""WITH t AS (
         |  SELECT doc_id, unnest(${Dk.tokens("text")}) AS term FROM documents),
         |b AS (SELECT doc_id, ${Dk.hex32("term")} % 64 AS b FROM t),
         |w AS (SELECT doc_id, (b * 2654435761) % 1000 - 500 AS w FROM b)
         |SELECT doc_id, count(*)::BIGINT AS n_tokens, sum(w)::BIGINT AS logit,
         |  sum(w) >= 0 AS keep
         |FROM w GROUP BY 1""".stripMargin,
    "eval_pass_at_k" ->
      s"""WITH r AS (
         |  SELECT doc_id % $PassProblems AS problem_id,
         |    CASE WHEN ${Dk.hex32("'pass:' || doc_id::VARCHAR")} % 1000 <
         |      200 + ((doc_id % $PassProblems) * 13) % 600 THEN 1 ELSE 0 END AS pass
         |  FROM documents),
         |a AS (SELECT problem_id, count(*)::BIGINT AS n_samples,
         |    sum(pass)::BIGINT AS n_correct
         |  FROM r GROUP BY 1)
         |SELECT problem_id, n_samples, n_correct,
         |  ${dkPassAtK(1)} AS pass1_ppm,
         |  ${dkPassAtK(5)} AS pass5_ppm,
         |  ${dkPassAtK(10)} AS pass10_ppm
         |FROM a""".stripMargin,
    // Majority-vote twin: identical hash annotators, arg-max via
    // row_number with the same (cnt DESC, label ASC) tie-break as
    // max(struct(cnt, −label)), identical rollup.
    "eval_majority_vote" ->
      s"""WITH votes AS (
         |  SELECT doc_id, ann,
         |    CASE WHEN ${Dk.hex32("'noise:' || doc_id::VARCHAR || ':' || ann::VARCHAR")} % 1000
         |           < (ann + 1) * 100
         |      THEN ${Dk.hex32("'flip:' || doc_id::VARCHAR || ':' || ann::VARCHAR")} % $VoteLabels
         |      ELSE ${Dk.hex32("'vote:' || doc_id::VARCHAR")} % $VoteLabels END AS label
         |  FROM documents, (SELECT unnest(generate_series(0, ${VoteAnnotators - 1})) AS ann)),
         |cnts AS (SELECT doc_id, label, count(*)::BIGINT AS cnt
         |  FROM votes GROUP BY 1, 2),
         |win AS (SELECT doc_id, label, cnt FROM (
         |    SELECT *, row_number() OVER (PARTITION BY doc_id
         |        ORDER BY cnt DESC, label ASC) AS rk
         |    FROM cnts) WHERE rk = 1)
         |SELECT label, count(*)::BIGINT AS n_docs,
         |  sum(CASE WHEN cnt = $VoteAnnotators THEN 1 ELSE 0 END)::BIGINT AS n_unanimous,
         |  sum(CASE WHEN cnt = ${VoteAnnotators - 1} THEN 1 ELSE 0 END)::BIGINT AS n_majority,
         |  sum(CASE WHEN cnt = 1 THEN 1 ELSE 0 END)::BIGINT AS n_tiebreak,
         |  ((sum(cnt) * 1000000) // (count(*) * $VoteAnnotators))::BIGINT AS winner_share_ppm
         |FROM win GROUP BY 1""".stripMargin,
    // Instruction-density twin: identical header plant, identical
    // sentence-start rule (regexp anchored both engines), identical
    // weights. questions uses non-regex replace — same count as the
    // Spark side's regexp_replace of a literal '?'.
    "text_instruction_density" ->
      s"""WITH base AS (SELECT doc_id,
         |    CASE WHEN doc_id % 5 = 0
         |      THEN 'Write a summary of the following items. What does this mean? 1. first 2) second - third ' || text
         |      ELSE text END AS text
         |  FROM documents),
         |t AS (SELECT doc_id, text, ${Dk.tokens("text")} AS toks FROM base),
         |t2 AS (SELECT doc_id, text, toks, len(toks) AS n FROM t),
         |r AS (SELECT doc_id, n::BIGINT AS n_tokens,
         |    len([i for i in generate_series(1, n)
         |         if (i = 1 OR regexp_matches(toks[i-1], '[.!?]$$'))
         |            AND lower(toks[i]) IN (${InstrVerbs.map(v => s"'$v'").mkString(", ")})])::BIGINT AS imp_starts,
         |    (length(text) - length(replace(text, '?', '')))::BIGINT AS questions,
         |    len([tk for tk in toks
         |         if regexp_matches(tk, '^[0-9]+[.)]$$') OR tk IN ('-', '*')])::BIGINT AS list_markers
         |  FROM t2)
         |SELECT doc_id, n_tokens, imp_starts, questions, list_markers,
         |  (((imp_starts * $InstrWImp + questions * $InstrWQ + list_markers * $InstrWList) * 1000)
         |     // n_tokens)::BIGINT AS score_ppm,
         |  ((((imp_starts * $InstrWImp + questions * $InstrWQ + list_markers * $InstrWList) * 1000)
         |     // n_tokens) >= $InstrKeepPpm) AS kept
         |FROM r""".stripMargin,

    // Bradley–Terry twin: identical hash matches, the MM iterations
    // unrolled by the shared dkBtIters builder, integer-exact end to end.
    "eval_bt_ratings" ->
      s"""WITH m1 AS (SELECT doc_id,
         |    ${Dk.hex32("'ma:' || doc_id::VARCHAR")} % $BtModels AS a,
         |    ${Dk.hex32("'mb:' || doc_id::VARCHAR")} % ${BtModels - 1} AS boff,
         |    ${Dk.hex32("'w:' || doc_id::VARCHAR")} AS wh
         |  FROM documents),
         |m2 AS (SELECT doc_id, a, (a + 1 + boff) % $BtModels AS b, wh FROM m1),
         |m3 AS (SELECT *, a + 1 AS sa, b + 1 AS sb,
         |    least(a, b) AS i, greatest(a, b) AS j FROM m2),
         |m4 AS (SELECT i, j,
         |    CASE WHEN wh % (sa + sb) < sa THEN (a = i) ELSE (b = i) END AS win_i
         |  FROM m3),
         |pairs AS (SELECT i, j, count(*)::BIGINT AS n,
         |    sum(CASE WHEN win_i THEN 1 ELSE 0 END)::BIGINT AS wi
         |  FROM m4 GROUP BY 1, 2),
         |totals AS (SELECT model, sum(n)::BIGINT AS n_matches, sum(w)::BIGINT AS n_wins
         |  FROM (SELECT i AS model, n, wi AS w FROM pairs
         |        UNION ALL SELECT j AS model, n, n - wi AS w FROM pairs)
         |  GROUP BY 1),
         |r0 AS (SELECT model, 1000000::BIGINT AS p FROM totals),
         |$dkBtIters
         |SELECT tt.model, tt.n_matches, tt.n_wins, r.p AS bt_ppm,
         |  ((tt.n_wins * 1000000) // tt.n_matches)::BIGINT AS winrate_ppm
         |FROM totals tt JOIN r$BtIters r ON r.model = tt.model""".stripMargin,
    // Span-corruption twin: identical per-position start draw, identical
    // trailing-window merge, identical run counting.
    "text_span_corruption" ->
      s"""WITH t AS (SELECT doc_id, ${Dk.tokens("text")} AS toks FROM documents),
         |t2 AS (SELECT doc_id, toks, len(toks) AS n FROM t),
         |c AS (SELECT doc_id, n,
         |    [${Dk.hex32("'corrupt:' || doc_id::VARCHAR || ':' || i::VARCHAR")} % 100
         |       < $CorruptStartPct
         |     for i in generate_series(1, n)] AS cand
         |  FROM t2),
         |m AS (SELECT doc_id, n,
         |    [len([s for s in generate_series(greatest(1, j - ${CorruptSpanW - 1}), j)
         |          if cand[s]]) > 0
         |     for j in generate_series(1, n)] AS mask
         |  FROM c),
         |r AS (SELECT doc_id, n::BIGINT AS n_tokens,
         |    len([x for x in mask if x])::BIGINT AS n_masked,
         |    len([j for j in generate_series(1, n)
         |         if mask[j] AND (j = 1 OR NOT mask[j-1])])::BIGINT AS n_spans
         |  FROM m)
         |SELECT doc_id, n_tokens, n_masked, n_spans,
         |  (n_tokens - n_masked + n_spans)::BIGINT AS input_len,
         |  (n_masked + n_spans + 1)::BIGINT AS target_len,
         |  ((n_masked * 1000000) // n_tokens)::BIGINT AS corruption_ppm
         |FROM r""".stripMargin,
    // FIM twin: identical hash cuts, identical PSM render, identical
    // digest. Empty segments need a coalesce: DuckDB's
    // array_to_string([]) is NULL (Spark's array_join is '') and
    // concat_ws SKIPS NULLs, which would silently drop the segment.
    "text_fim_transform" ->
      s"""WITH t AS (SELECT doc_id, ${Dk.tokens("text")} AS toks FROM documents),
         |t2 AS (SELECT doc_id, toks, len(toks) AS n FROM t),
         |cuts AS (SELECT doc_id, toks, n,
         |    least(${Dk.hex32("'fima:' || doc_id::VARCHAR")} % (n + 1),
         |          ${Dk.hex32("'fimb:' || doc_id::VARCHAR")} % (n + 1)) AS a,
         |    greatest(${Dk.hex32("'fima:' || doc_id::VARCHAR")} % (n + 1),
         |             ${Dk.hex32("'fimb:' || doc_id::VARCHAR")} % (n + 1)) AS b,
         |    (doc_id % $FimEvery = 0 AND n >= 3) AS fim_applied
         |  FROM t2)
         |SELECT doc_id, fim_applied,
         |  a::BIGINT AS prefix_toks, (b - a)::BIGINT AS middle_toks,
         |  (n - b)::BIGINT AS suffix_toks,
         |  md5(CASE WHEN fim_applied
         |    THEN concat_ws(' ', '<PRE>', coalesce(array_to_string(toks[1:a], ' '), ''),
         |      '<SUF>', coalesce(array_to_string(toks[(b+1):n], ' '), ''),
         |      '<MID>', coalesce(array_to_string(toks[(a+1):b], ' '), ''))
         |    ELSE array_to_string(toks, ' ') END) AS out_hash,
         |  (toks[1:a] || toks[(a+1):b] || toks[(b+1):n] = toks) AS reconstruct_ok
         |FROM cuts""".stripMargin,
    "eval_kappa" ->
      s"""WITH t AS (
         |  SELECT doc_id, unnest(${Dk.tokens("text")}) AS term FROM documents),
         |b AS (SELECT doc_id, ${Dk.hex32("term")} % 64 AS b FROM t),
         |lg AS (SELECT doc_id,
         |    sum((b * 2654435761) % 1000 - 500)::BIGINT AS logit
         |  FROM b GROUP BY 1),
         |r AS (
         |  SELECT doc_id,
         |    (CASE WHEN logit >= 0 THEN 1 ELSE 0 END)::BIGINT AS ra,
         |    (CASE WHEN logit + (${Dk.hex32("'kap:' || doc_id::VARCHAR")}
         |        % ${2 * KappaNoise} - $KappaNoise) >= 0
         |      THEN 1 ELSE 0 END)::BIGINT AS rb
         |  FROM lg),
         |cm AS (
         |  SELECT count(*)::BIGINT AS n, sum(ra * rb)::BIGINT AS n11,
         |    sum(ra * (1 - rb))::BIGINT AS n10,
         |    sum((1 - ra) * rb)::BIGINT AS n01,
         |    sum((1 - ra) * (1 - rb))::BIGINT AS n00
         |  FROM r),
         |p AS (
         |  SELECT n, n11, n10, n01, n00,
         |    ((n11 + n00) * 1000000 // n)::BIGINT AS po_ppm,
         |    (((n11 + n10) * (n11 + n01) + (n01 + n00) * (n10 + n00))
         |      * 1000000 // (n * n))::BIGINT AS pe_ppm
         |  FROM cm)
         |SELECT n, n11, n10, n01, n00, po_ppm, pe_ppm,
         |  (((po_ppm - pe_ppm) * 1000000
         |    - (((po_ppm - pe_ppm) * 1000000 % (1000000 - pe_ppm)
         |        + (1000000 - pe_ppm)) % (1000000 - pe_ppm)))
         |   // (1000000 - pe_ppm))::BIGINT AS kappa_ppm
         |FROM p""".stripMargin,
    "text_blocklist_filter" -> {
      val listSql = Blocklist.map("'" + _ + "'").mkString("[", ", ", "]")
      val inSql   = Blocklist.map("'" + _ + "'").mkString(", ")
      s"""WITH p AS (
         |  SELECT doc_id, text
         |    || (CASE WHEN doc_id % 7 = 0 THEN ' ${Blocklist(0)}' ELSE '' END)
         |    || (CASE WHEN doc_id % 13 = 0
         |        THEN ' ${Blocklist.mkString(" ")}' ELSE '' END) AS ptext
         |  FROM documents),
         |m AS (
         |  SELECT doc_id,
         |    len(list_filter(${Dk.tokens("ptext")}, t -> t IN ($inSql)))::BIGINT
         |      AS n_bad,
         |    len(list_intersect(list_distinct(${Dk.tokens("ptext")}),
         |      $listSql))::BIGINT AS n_bad_distinct
         |  FROM p)
         |SELECT doc_id, n_bad, n_bad_distinct, n_bad = 0 AS keep FROM m""".stripMargin
    },
    "eval_ece" ->
      s"""WITH t AS (
         |  SELECT doc_id, unnest(${Dk.tokens("text")}) AS term FROM documents),
         |b AS (SELECT doc_id, ${Dk.hex32("term")} % 64 AS b FROM t),
         |lg AS (SELECT doc_id,
         |    sum((b * 2654435761) % 1000 - 500)::BIGINT AS logit
         |  FROM b GROUP BY 1),
         |sc AS (
         |  SELECT doc_id, logit,
         |    greatest(0, least(1000000, 500000 + logit * $EceConfScale)) AS conf1,
         |    ${Dk.hex32("'ece:' || doc_id::VARCHAR")} % ${2 * EceNoise}
         |      - $EceNoise AS noise
         |  FROM lg),
         |sc2 AS (
         |  SELECT doc_id,
         |    greatest(conf1, 1000000 - conf1) AS confidence,
         |    (CASE WHEN ((logit + noise) >= 0) = (logit >= 0)
         |      THEN 1 ELSE 0 END)::BIGINT AS correct
         |  FROM sc),
         |bb AS (
         |  SELECT least(confidence // $EceBinW, 9)::BIGINT AS bin,
         |    count(*)::BIGINT AS n,
         |    (sum(confidence) // count(*))::BIGINT AS avg_conf_ppm,
         |    (sum(correct) * 1000000 // count(*))::BIGINT AS acc_ppm
         |  FROM sc2 GROUP BY 1),
         |g AS (SELECT bin, n, avg_conf_ppm, acc_ppm,
         |    abs(avg_conf_ppm - acc_ppm)::BIGINT AS gap_ppm FROM bb),
         |tot AS (SELECT (sum(gap_ppm * n) // sum(n))::BIGINT AS ece_ppm FROM g)
         |SELECT bin, n, avg_conf_ppm, acc_ppm, gap_ppm, ece_ppm
         |FROM g, tot""".stripMargin,
    "text_tokenizer_fertility" ->
      s"""WITH c AS (
         |  SELECT lang, len(${Dk.tokens("text")})::BIGINT AS w,
         |    len(regexp_extract_all(lower(text), '$BpePat'))::BIGINT AS t
         |  FROM documents),
         |f AS (SELECT lang, w, t, (t * 1000000 // w)::BIGINT AS doc_fert
         |  FROM c WHERE w > 0)
         |SELECT lang, count(*)::BIGINT AS n_docs, sum(w)::BIGINT AS n_words,
         |  sum(t)::BIGINT AS n_tokens,
         |  (sum(t) * 1000000 // sum(w))::BIGINT AS fertility_ppm,
         |  (sum(doc_fert) // count(*))::BIGINT AS mean_doc_fertility_ppm
         |FROM f GROUP BY 1""".stripMargin,

    "text_tokens" ->
      s"""SELECT doc_id,
         | len(${Dk.tokens("text")})::BIGINT AS ws_tokens,
         | len(regexp_extract_all(lower(text), '$BpePat'))::BIGINT AS bpe_tokens,
         | length(text)::BIGINT AS chars
         |FROM documents""".stripMargin,
    "text_quality" ->
      s"""WITH ${dkQualityCte()}
         |SELECT doc_id, n_tokens, avg_token_len, stopword_ratio, punct_ratio, quality
         |FROM qual""".stripMargin,
    "text_quality_adaptive_gate" ->
      s"""WITH planted AS (
         |  SELECT doc_id, text || repeat('!', (doc_id % 50)::INT) AS text
         |  FROM documents),
         |${dkQualityCte("planted")},
         |b AS (SELECT doc_id, quality, floor(quality * 100)::BIGINT AS qbin FROM qual),
         |h AS (SELECT qbin, count(*)::BIGINT AS c FROM b GROUP BY 1),
         |prm AS (SELECT ((count(*) + 9) // 10)::BIGINT AS target FROM b),
         |cum AS (SELECT qbin, sum(c) OVER (ORDER BY qbin)::BIGINT AS cum FROM h),
         |thr AS (SELECT min(qbin)::BIGINT AS thr_bin FROM cum, prm WHERE cum >= target)
         |SELECT doc_id, quality, qbin, thr_bin, qbin >= thr_bin AS keep
         |FROM b, thr""".stripMargin,
    "text_langid" -> dkLangidSql,
    "text_fingerprint" ->
      s"""SELECT doc_id, ${Dk.fingerprint("text")} AS fp, ${Dk.winnowMin("text")} AS winnow_min
         |FROM documents""".stripMargin,
    "utf8_text_stats" -> {
      val scores = LangMarkers.map { case (lang, ms) =>
        s"${Dk.markerHits("toks", ms)}::BIGINT AS s_$lang"
      }.mkString(", ")
      val best = LangMarkers.map { case (lang, _) => s"s_$lang" }.mkString("greatest(", ", ", ")")
      val pred = LangMarkers.reverse.foldLeft("'und'") { case (acc, (lang, _)) =>
        s"CASE WHEN s_$lang = $best AND $best > 0 THEN '$lang' ELSE $acc END"
      }
      s"""WITH $dkUtf8Corpus,
         |t AS (SELECT doc_id, text, ${Dk.tokens("text")} AS toks FROM utf8c),
         |m AS (SELECT doc_id, len(toks)::BIGINT AS n_tokens,
         |    length(text)::BIGINT AS n_chars, md5(text) AS content_hash, $scores
         |  FROM t)
         |SELECT doc_id, n_tokens, n_chars, content_hash,
         |  ${LangMarkers.map { case (l, _) => s"s_$l" }.mkString(", ")}, $pred AS lang_pred
         |FROM m""".stripMargin
    },
    "utf8_minhash_sig" ->
      s"""WITH $dkUtf8Corpus,
         |${Dedup.dkSig("utf8c")}
         |SELECT doc_id, ${(0 until 8).map(j => s"mh$j").mkString(", ")} FROM sig""".stripMargin,
    "text_pii_redact" ->
      s"""WITH planted AS (
         |  SELECT doc_id,
         |    text || ' contact user' || doc_id::VARCHAR || '@example.com'
         |         || ' from 10.0.' || (doc_id % 256)::VARCHAR || '.7'
         |         || ' tel 555-' || lpad((doc_id % 1000)::VARCHAR, 3, '0') || '-0199' AS text
         |  FROM documents)
         |SELECT doc_id,
         |  len(regexp_extract_all(text, '$EmailPat'))::BIGINT AS n_emails,
         |  len(regexp_extract_all(text, '$Ipv4Pat'))::BIGINT AS n_ips,
         |  len(regexp_extract_all(text, '$PhonePat'))::BIGINT AS n_phones,
         |  regexp_replace(regexp_replace(regexp_replace(text,
         |    '$EmailPat', '<EMAIL>', 'g'), '$Ipv4Pat', '<IP>', 'g'),
         |    '$PhonePat', '<PHONE>', 'g') AS redacted
         |FROM planted""".stripMargin,
    "text_repetition_stats" ->
      s"""WITH t AS (SELECT doc_id, ${Dk.tokens("text")} AS toks FROM documents),
         |l0 AS (
         |  SELECT doc_id,
         |    [array_to_string(toks[(i*$LineW+1):(i*$LineW+$LineW)], ' ')
         |     for i in generate_series(0, (len(toks) + ${LineW - 1}) // $LineW - 1)] AS lines
         |  FROM t WHERE len(toks) >= 1),
         |l2 AS (
         |  SELECT doc_id,
         |    CASE WHEN doc_id % 3 = 0 THEN list_append(lines, lines[1]) ELSE lines END AS lines
         |  FROM l0),
         |base AS (
         |  SELECT doc_id, lines,
         |    flatten([string_split(l, ' ') for l in lines]) AS toks2
         |  FROM l2),
         |lr AS (SELECT doc_id, unnest(lines) AS line FROM base),
         |lg AS (SELECT doc_id, line, count(*) AS cnt FROM lr GROUP BY 1, 2),
         |la AS (
         |  SELECT doc_id, sum(cnt)::BIGINT AS n_lines, count(*)::BIGINT AS n_dist,
         |    sum(CASE WHEN cnt >= 2 THEN cnt * length(line) ELSE 0 END)::BIGINT AS dup_chars,
         |    sum(cnt * length(line))::BIGINT AS tot_chars
         |  FROM lg GROUP BY 1),
         |gr AS (
         |  SELECT doc_id,
         |    unnest([toks2[i] || ' ' || toks2[i+1] for i in generate_series(1, len(toks2)-1)]) AS gram
         |  FROM base),
         |gg AS (SELECT doc_id, gram, count(*) AS cnt FROM gr GROUP BY 1, 2),
         |gt AS (
         |  SELECT doc_id, gram AS top_2gram, cnt AS top_cnt FROM (
         |    SELECT *, row_number() OVER (PARTITION BY doc_id ORDER BY cnt DESC, gram) AS rn
         |    FROM gg) WHERE rn = 1),
         |tc AS (
         |  SELECT doc_id,
         |    list_reduce(list_prepend(0::BIGINT, [length(x)::BIGINT for x in toks2]), (a, b) -> a + b) AS tok_chars
         |  FROM base),
         |m AS (
         |  SELECT la.doc_id, n_lines,
         |    round((n_lines - n_dist) / n_lines, 4) AS dup_line_frac,
         |    round(dup_chars / tot_chars, 4) AS dup_line_char_frac,
         |    coalesce(top_2gram, '') AS top_2gram,
         |    round(coalesce(top_cnt * (length(top_2gram) - 1), 0) / tok_chars, 4) AS top_2gram_frac
         |  FROM la LEFT JOIN gt ON la.doc_id = gt.doc_id
         |  JOIN tc ON la.doc_id = tc.doc_id)
         |SELECT doc_id, n_lines, dup_line_frac, dup_line_char_frac, top_2gram, top_2gram_frac,
         |  (dup_line_frac <= 0.30 AND dup_line_char_frac <= 0.20 AND top_2gram_frac <= 0.20) AS quality_pass
         |FROM m""".stripMargin,
    "text_substr_dedup" ->
      s"""WITH $dkDupCorpus,
         |t AS (SELECT doc_id, ${Dk.tokens("text")} AS toks FROM corpus),
         |c AS (SELECT doc_id, toks, (len(toks) // $ChunkW)::INT AS nch FROM t),
         |occ AS (
         |  SELECT doc_id,
         |    unnest([i for i in generate_series(0, nch - 1)]) AS pos,
         |    unnest([md5(array_to_string(toks[(i*$ChunkW+1):(i*$ChunkW+$ChunkW)], ' '))
         |            for i in generate_series(0, nch - 1)]) AS h
         |  FROM c WHERE nch >= 1),
         |od AS (SELECT h, min(doc_id) AS own_doc FROM occ GROUP BY 1),
         |own AS (
         |  SELECT occ.h, min(pos) AS own_pos, min(own_doc) AS own_doc
         |  FROM occ JOIN od ON occ.h = od.h AND occ.doc_id = od.own_doc
         |  GROUP BY 1),
         |kp AS (
         |  SELECT doc_id, list_sort(list(pos)) AS keep_pos, count(*)::BIGINT AS kept_chunks
         |  FROM occ JOIN own ON occ.h = own.h
         |    AND occ.doc_id = own.own_doc AND occ.pos = own.own_pos
         |  GROUP BY 1)
         |SELECT c.doc_id, nch::BIGINT AS n_chunks,
         |  coalesce(kept_chunks, 0)::BIGINT AS kept_chunks,
         |  coalesce(array_to_string(
         |    coalesce(flatten([toks[(p*$ChunkW+1):(p*$ChunkW+$ChunkW)]
         |             for p in coalesce(keep_pos, []::BIGINT[])]), []::VARCHAR[])
         |    || toks[(nch*$ChunkW+1):], ' '), '') AS rewritten
         |FROM c LEFT JOIN kp ON c.doc_id = kp.doc_id""".stripMargin,
    "text_lm_familiarity" ->
      s"""WITH $dkFam
         |SELECT doc_id, n_bigrams, fam_sum, fam_score FROM famagg""".stripMargin,
    "q_ccnet_buckets" ->
      s"""WITH $dkFam,
         |j AS (
         |  SELECT f.doc_id, d.lang, f.fam_score
         |  FROM famagg f JOIN documents d ON f.doc_id = d.doc_id),
         |r AS (
         |  SELECT doc_id, lang, fam_score,
         |    row_number() OVER (PARTITION BY lang
         |      ORDER BY fam_score, doc_id)::BIGINT AS rank,
         |    count(*) OVER (PARTITION BY lang)::BIGINT AS n_lang
         |  FROM j)
         |SELECT doc_id, lang, fam_score, rank, n_lang,
         |  ((3 * (rank - 1)) // n_lang)::BIGINT AS bucket_id,
         |  CASE (3 * (rank - 1)) // n_lang WHEN 2 THEN 'head'
         |    WHEN 1 THEN 'middle' ELSE 'tail' END AS ccnet_bucket
         |FROM r""".stripMargin,
    "text_chunk_windows" ->
      s"""WITH t AS (SELECT doc_id, ${Dk.tokens("text")} AS toks FROM documents),
         |c AS (
         |  SELECT doc_id, toks, len(toks)::BIGINT AS n,
         |    CASE WHEN len(toks) <= $WinW THEN 1
         |         ELSE 1 + (len(toks) - $WinW + ${WinS - 1}) // $WinS END AS nchunks
         |  FROM t WHERE len(toks) >= 1),
         |e AS (
         |  SELECT doc_id, n,
         |    unnest([i for i in generate_series(0, nchunks - 1)]) AS chunk_id,
         |    unnest([i * $WinS for i in generate_series(0, nchunks - 1)]) AS start_tok,
         |    unnest([array_to_string(toks[(i*$WinS+1):(i*$WinS+$WinW)], ' ')
         |            for i in generate_series(0, nchunks - 1)]) AS chunk
         |  FROM c)
         |SELECT doc_id, chunk_id::BIGINT AS chunk_id, start_tok::BIGINT AS start_tok,
         |  least($WinW, n - start_tok)::BIGINT AS n_tok, chunk
         |FROM e""".stripMargin,
    "text_bpe_merges" ->
      s"""WITH t0 AS (SELECT doc_id, ${Dk.tokens("text")} AS toks FROM documents),
         |${dkBpeRound("t0", 1)},
         |${dkBpeRound("t1", 2)}
         |SELECT t0.doc_id, len(t0.toks)::BIGINT AS n_before,
         |  len(t2.toks)::BIGINT AS n_after,
         |  array_to_string(t2.toks, ' ') AS bpe_text,
         |  (SELECT a || '_' || b FROM best1) AS merge1,
         |  (SELECT a || '_' || b FROM best2) AS merge2
         |FROM t0 JOIN t2 USING (doc_id)""".stripMargin,
    "text_keyword_extract" ->
      s"""WITH t AS (SELECT doc_id, ${Dk.tokens("text")} AS toks FROM documents),
         |tf AS (SELECT doc_id, term, count(*)::BIGINT AS tf
         |  FROM (SELECT doc_id, unnest(toks) AS term FROM t) GROUP BY 1, 2),
         |df AS (SELECT term, count(*)::BIGINT AS df FROM tf GROUP BY 1),
         |n AS (SELECT count(*)::BIGINT AS n FROM documents),
         |sc AS (
         |  SELECT tf.doc_id, tf.term, tf.tf, df.df,
         |    (tf.tf * ((n.n * 1000000) // df.df))::BIGINT AS score
         |  FROM tf JOIN df ON tf.term = df.term, n)
         |SELECT doc_id, rank, term, tf, df, score FROM (
         |  SELECT *, row_number() OVER (
         |    PARTITION BY doc_id ORDER BY score DESC, term)::BIGINT AS rank
         |  FROM sc) WHERE rank <= 3""".stripMargin,

    "text_dup_chunk_ratio" ->
      s"""WITH $dkDupCorpus,
         |t AS (SELECT doc_id, ${Dk.tokens("text")} AS toks FROM corpus),
         |c AS (SELECT doc_id, toks, len(toks) // $ChunkW AS nch FROM t),
         |ch AS (
         |  SELECT doc_id, unnest([md5(array_to_string(toks[(i*$ChunkW+1):(i*$ChunkW+$ChunkW)], ' '))
         |    for i in generate_series(0, nch - 1)]) AS h
         |  FROM c WHERE nch >= 1),
         |hot AS (SELECT h FROM ch GROUP BY h HAVING count(DISTINCT doc_id) >= 2)
         |SELECT ch.doc_id, count(*)::BIGINT AS n_chunks, count(hot.h)::BIGINT AS dup_chunks,
         |  round(count(hot.h) / count(*), 4) AS dup_ratio
         |FROM ch LEFT JOIN hot ON ch.h = hot.h
         |GROUP BY 1""".stripMargin,

    "q_quality_tradeoff" ->
      s"""WITH planted AS (
         |  SELECT doc_id, text || repeat('!', (doc_id % 50)::INT) AS text, n_chars
         |  FROM documents),
         |${dkQualityCte("planted")},
         |j AS (
         |  SELECT q.doc_id, floor(q.quality * 100)::BIGINT AS qbin, p.n_chars
         |  FROM qual q JOIN planted p USING (doc_id)),
         |b AS (
         |  SELECT qbin, count(*)::BIGINT AS n_docs, sum(n_chars)::BIGINT AS chars
         |  FROM j GROUP BY 1),
         |tot AS (SELECT count(*)::BIGINT AS n, sum(n_chars)::BIGINT AS tc FROM j),
         |c AS (
         |  SELECT qbin, n_docs, chars,
         |    sum(n_docs) OVER w::BIGINT AS cum_docs,
         |    sum(chars) OVER w::BIGINT AS cum_chars
         |  FROM b WINDOW w AS (ORDER BY qbin DESC
         |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW))
         |SELECT qbin, n_docs, chars, cum_docs, cum_chars,
         |  (cum_docs * 1000000 // tot.n)::BIGINT AS docs_kept_ppm,
         |  (cum_chars * 1000000 // tot.tc)::BIGINT AS chars_kept_ppm
         |FROM c, tot""".stripMargin,

    "text_lexical_diversity" ->
      s"""WITH t AS (
         |  SELECT doc_id, unnest(${Dk.tokens("text")}) AS term FROM documents),
         |tf AS (
         |  SELECT doc_id, term, count(*)::BIGINT AS cf FROM t GROUP BY 1, 2),
         |d AS (
         |  SELECT doc_id, sum(cf)::BIGINT AS n_tokens, count(*)::BIGINT AS n_types,
         |    sum(CASE WHEN cf = 1 THEN 1 ELSE 0 END)::BIGINT AS n_hapax,
         |    max(cf)::BIGINT AS top_cf
         |  FROM tf GROUP BY 1)
         |SELECT doc_id, n_tokens, n_types, n_hapax, top_cf,
         |  (n_types * 1000000 // n_tokens)::BIGINT AS ttr_ppm,
         |  (n_hapax * 1000000 // n_types)::BIGINT AS hapax_ppm,
         |  (top_cf * 1000000 // n_tokens)::BIGINT AS top_share_ppm
         |FROM d""".stripMargin,

    "text_code_detect" ->
      s"""WITH p AS (
         |  SELECT doc_id, CASE WHEN doc_id % 10 = 0
         |    THEN text || '$CodeTail' ELSE text END AS ptext
         |  FROM documents),
         |m AS (
         |  SELECT doc_id, length(ptext)::BIGINT AS n_chars,
         |    (length(ptext) - length(translate(ptext, '{}();=', '')))::BIGINT
         |      AS n_sym,
         |    len(list_filter(${Dk.tokens("ptext")}, t -> t IN
         |      (${CodeKeywords.map("'" + _ + "'").mkString(", ")})))::BIGINT
         |      AS n_kw
         |  FROM p)
         |SELECT doc_id, n_chars, n_sym, n_kw,
         |  ((n_sym * 1000000) // n_chars)::BIGINT AS sym_ppm,
         |  ((n_sym * 1000000) // n_chars >= $CodeSymPpm AND n_kw >= 2)
         |    AS is_code
         |FROM m""".stripMargin,

    "text_topic_boundaries" ->
      s"""WITH t AS (SELECT doc_id, ${Dk.tokens("text")} AS toks FROM documents),
         |c AS (
         |  SELECT doc_id, toks, (len(toks) // 8)::BIGINT AS nb
         |  FROM t WHERE len(toks) // 8 >= 2),
         |e AS (
         |  SELECT doc_id,
         |    unnest(generate_series(0, nb - 2))::BIGINT AS block,
         |    unnest([len(list_distinct(list_intersect(
         |        list_distinct(toks[(i*8+1):(i*8+8)]),
         |        list_distinct(toks[(i*8+9):(i*8+16)]))))
         |      for i in generate_series(0, nb - 2)])::BIGINT AS inter,
         |    unnest([len(list_distinct(toks[(i*8+1):(i*8+16)]))
         |      for i in generate_series(0, nb - 2)])::BIGINT AS uni
         |  FROM c)
         |SELECT doc_id, block, inter, uni,
         |  ((inter * 1000000) // uni)::BIGINT AS cohesion_ppm,
         |  (inter * 1000000) // uni < $TopicCohesionPpm AS is_boundary
         |FROM e""".stripMargin,

    "text_readability" ->
      s"""WITH t AS (SELECT doc_id, ${Dk.tokens("text")} AS toks FROM documents),
         |p AS (
         |  SELECT doc_id, array_to_string(
         |    [CASE WHEN i % 8 = 0 THEN toks[i] || '.' ELSE toks[i] END
         |     for i in generate_series(1, len(toks))], ' ') AS ptext
         |  FROM t),
         |k AS (SELECT doc_id, ptext, ${Dk.tokens("ptext")} AS toks FROM p),
         |m AS (
         |  SELECT doc_id, len(toks)::BIGINT AS n_words,
         |    (len(string_split_regex(ptext, '[.!?]')) - 1)::BIGINT AS n_sents,
         |    len(list_filter(toks, x -> length(rtrim(x, '.')) >= 7))::BIGINT
         |      AS n_long
         |  FROM k)
         |SELECT doc_id, n_words, n_sents, n_long,
         |  ((n_words * 1000000) // greatest(n_sents, 1)
         |    + (n_long * 100000000) // greatest(n_words, 1))::BIGINT AS lix_ppm,
         |  CASE WHEN (n_words * 1000000) // greatest(n_sents, 1)
         |      + (n_long * 100000000) // greatest(n_words, 1) < 25000000
         |    THEN 'easy'
         |    WHEN (n_words * 1000000) // greatest(n_sents, 1)
         |      + (n_long * 100000000) // greatest(n_words, 1) < 35000000
         |    THEN 'medium'
         |    WHEN (n_words * 1000000) // greatest(n_sents, 1)
         |      + (n_long * 100000000) // greatest(n_words, 1) < 45000000
         |    THEN 'hard' ELSE 'very_hard' END AS lix_band
         |FROM m""".stripMargin,

    "eval_langid_confusion" ->
      s"""WITH li AS ($dkLangidSql)
         |SELECT lang, lang_pred, n, lang_total,
         |  (n * 1000000 // lang_total)::BIGINT AS share_ppm,
         |  lang = lang_pred AS correct
         |FROM (
         |  SELECT d.lang, li.lang_pred, count(*)::BIGINT AS n,
         |    sum(count(*)) OVER (PARTITION BY d.lang)::BIGINT AS lang_total
         |  FROM documents d JOIN li ON d.doc_id = li.doc_id
         |  GROUP BY 1, 2)""".stripMargin,

    "eval_cer" ->
      s"""WITH g AS (
         |  SELECT doc_id, substr(text, 1, $CerSampleChars) AS golden,
         |    doc_id % 4 AS corruption
         |  FROM documents),
         |p AS (
         |  SELECT doc_id, corruption, golden,
         |    CASE corruption
         |      WHEN 1 THEN translate(golden, 'e', '3')
         |      WHEN 2 THEN translate(golden, 'o', '')
         |      WHEN 3 THEN golden || '$CerTail'
         |      ELSE golden END AS pred
         |  FROM g)
         |SELECT doc_id, corruption, length(golden)::BIGINT AS n_chars,
         |  levenshtein(golden, pred)::BIGINT AS dist,
         |  (levenshtein(golden, pred) * 1000000
         |    // greatest(length(golden), 1))::BIGINT AS cer_ppm
         |FROM p""".stripMargin,

    "eval_bleu" ->
      s"""WITH g AS (
         |  SELECT doc_id, substr(text, 1, $CerSampleChars) AS golden,
         |    doc_id % 4 AS corruption
         |  FROM documents),
         |p AS (
         |  SELECT doc_id, corruption, golden,
         |    CASE corruption
         |      WHEN 1 THEN translate(golden, 'e', '3')
         |      WHEN 2 THEN translate(golden, 'o', '')
         |      WHEN 3 THEN golden || '$CerTail'
         |      ELSE golden END AS pred
         |  FROM g),
         |tk AS (
         |  SELECT doc_id, corruption, ${Dk.tokens("golden")} AS ref,
         |    ${Dk.tokens("pred")} AS hyp
         |  FROM p),
         |bg AS (
         |  SELECT *,
         |    CASE WHEN len(ref) >= 2 THEN [ref[i] || ' ' || ref[i+1]
         |      for i in generate_series(1, len(ref) - 1)]
         |      ELSE []::VARCHAR[] END AS refb,
         |    CASE WHEN len(hyp) >= 2 THEN [hyp[i] || ' ' || hyp[i+1]
         |      for i in generate_series(1, len(hyp) - 1)]
         |      ELSE []::VARCHAR[] END AS hypb
         |  FROM tk),
         |m AS (
         |  SELECT doc_id, corruption, len(ref)::BIGINT AS ref_len,
         |    len(hyp)::BIGINT AS hyp_len,
         |    coalesce(list_sum([least(len(list_filter(hyp, x -> x = t)),
         |        len(list_filter(ref, x -> x = t)))
         |      for t in list_distinct(hyp)]), 0)::BIGINT AS uni_match,
         |    coalesce(list_sum([least(len(list_filter(hypb, x -> x = t)),
         |        len(list_filter(refb, x -> x = t)))
         |      for t in list_distinct(hypb)]), 0)::BIGINT AS bi_match,
         |    len(hypb)::BIGINT AS bi_total
         |  FROM bg)
         |SELECT doc_id, corruption, ref_len, hyp_len, uni_match, bi_match,
         |  bi_total,
         |  ((uni_match * 1000000) // greatest(hyp_len, 1))::BIGINT AS bleu1_ppm,
         |  ((bi_match * 1000000) // greatest(bi_total, 1))::BIGINT AS bleu2_ppm,
         |  least(1000000, (hyp_len * 1000000) // greatest(ref_len, 1))::BIGINT
         |    AS brevity_ppm
         |FROM m""".stripMargin,

    "text_bigram_lm" ->
      s"""WITH t AS (SELECT ${Dk.tokens("text")} AS toks FROM documents),
         |t2 AS (SELECT toks FROM t WHERE len(toks) >= 2),
         |bgr AS (
         |  SELECT unnest(toks[1:len(toks) - 1]) AS w1,
         |    unnest(toks[2:len(toks)]) AS w2
         |  FROM t2),
         |bg AS (SELECT w1, w2, count(*)::BIGINT AS c_bigram FROM bgr GROUP BY 1, 2),
         |lf AS (SELECT w1, sum(c_bigram)::BIGINT AS c_left FROM bg GROUP BY 1)
         |SELECT w1, w2, c_bigram, c_left, p_ppm, rank::BIGINT AS rank FROM (
         |  SELECT bg.w1, w2, c_bigram, c_left,
         |    (c_bigram * 1000000 // c_left)::BIGINT AS p_ppm,
         |    row_number() OVER (
         |      PARTITION BY bg.w1 ORDER BY c_bigram DESC, w2) AS rank
         |  FROM bg JOIN lf ON bg.w1 = lf.w1
         |  WHERE c_left >= $MinLmLeft)
         |WHERE rank <= 3""".stripMargin,

    "text_collocations" ->
      s"""WITH t AS (SELECT doc_id, ${Dk.tokens("text")} AS toks FROM documents),
         |uni AS (
         |  SELECT term, count(*)::BIGINT AS cf
         |  FROM (SELECT unnest(toks) AS term FROM t) GROUP BY 1),
         |bg AS (
         |  SELECT unnest([toks[i] || ' ' || toks[i + 1]
         |    for i in generate_series(1, len(toks) - 1)]) AS ab
         |  FROM t WHERE len(toks) >= 2),
         |bi AS (
         |  SELECT split_part(ab, ' ', 1) AS a, split_part(ab, ' ', 2) AS b,
         |    count(*)::BIGINT AS n_ab
         |  FROM bg GROUP BY 1, 2 HAVING count(*) >= $MinColloc),
         |nu AS (SELECT sum(cf)::BIGINT AS n_uni FROM uni),
         |nb AS (
         |  SELECT sum(greatest(len(toks) - 1, 0))::BIGINT AS n_bi FROM t)
         |SELECT bi.a, bi.b, bi.n_ab, ua.cf AS cf_a, ub.cf AS cf_b,
         |  ((bi.n_ab * 1000000 * n_uni) // (ua.cf * ub.cf) * n_uni // n_bi)::BIGINT
         |    AS lift_ppm
         |FROM bi JOIN uni ua ON bi.a = ua.term JOIN uni ub ON bi.b = ub.term,
         |  nu, nb""".stripMargin)
}
