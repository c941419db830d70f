package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._

/** Column-level text/hash kernels for the training-data pipeline operators
  * (dedup, similarity, language-ID, quality scoring, fingerprinting).
  *
  * Every kernel here is composed from `org.apache.spark.sql.functions`
  * built-ins only — no UDFs — so the whole surface stays inside
  * whole-stage codegen, and every kernel has an exactly-equivalent DuckDB
  * SQL spelling (the `Dk` twins below) used by the driver's oracle check.
  * Hashes are built on `md5`, which both engines implement identically
  * (RFC 1321, lowercase hex), so signatures match bit-for-bit across
  * engines — that is what makes MinHash/SimHash oracle-checkable.
  */
object TextKernels {

  /** Whitespace tokenization. `trim` first so leading/trailing whitespace
    * can't produce empty edge tokens (Spark `split` and DuckDB
    * `string_split_regex` agree on interior behavior once trimmed). */
  def tokens(c: Column): Column = split(trim(c), "\\s+")

  /** Word 3-gram shingles: the canonical unit for MinHash / Jaccard
    * near-dup detection. Empty when the doc has < 3 tokens (guard needed:
    * Spark `sequence(0, n)` with n < 0 would DESCEND, not return empty). */
  def shingles3(toks: Column): Column =
    when(size(toks) >= 3,
      transform(sequence(lit(0), size(toks) - 3), i =>
        concat_ws(" ", element_at(toks, i + 1), element_at(toks, i + 2), element_at(toks, i + 3))))
      .otherwise(array().cast("array<string>"))

  /** First 32 bits of md5 as a non-negative long in [0, 2^32). The
    * portable integer hash: both engines parse the same 8 hex chars of the
    * same digest. */
  def hex32(c: Column): Column =
    conv(substring(md5(c), 1, 8), 16, 10).cast("long")

  /** 8 hex chars of an ALREADY-COMPUTED md5 digest column, starting at
    * 1-based `start`, as a non-negative long in [0, 2^32). Lets one digest
    * feed several independent 32-bit hashes (e.g. the two halves of the
    * 64-bit simhash) without re-digesting. */
  def hex32Of(digest: Column, start: Int): Column =
    conv(substring(digest, start, 8), 16, 10).cast("long")

  /** MinHash via universal integer hashing over ONE md5-derived base hash
    * per shingle: mh_j = min over shingles of (A_j·h + B_j) mod P. The
    * digest (the expensive part) is computed once per shingle — k minhash
    * families then cost k cheap integer passes, not k digest passes
    * (measured ~2x on the signature-build bench; at 100 TB the signature
    * build is the dominant dedup cost). Constants are < 2^30 and h < 2^32,
    * so A·h + B < 2^62 — no overflow under ANSI mode; all arithmetic is
    * exact int64 in both engines. */
  val MinhashP = 1000000007L
  def minhashA(j: Int): Long = ((0x9E3779B9L * (j + 1)) & 0x3FFFFFFFL) | 1L
  def minhashB(j: Int): Long = (0x85EBCA6BL * (j + 1)) & 0x3FFFFFFFL

  /** Base-hash column: one md5 per shingle (compute ONCE, reuse for all
    * k families — keep it a named column so CollapseProject can't
    * duplicate it into every family expression).
    *
    * REFERENCE implementation only (used by tests as the independent
    * string-shingle recheck): the production signature path is
    * [[tokenHashes]] + [[shingleHashes]], which never materializes
    * shingle strings — measured 18× cheaper (`BENCH/BASELINE.md`
    * "Round-4 signature redesign"). */
  def baseHashes(shingles: Column): Column = transform(shingles, s => hex32(s))

  /** Shingle-hash combination constants: hash(shingle) =
    * (h1·C² + h2·C + h3) mod 2^32 over the three token hashes. C is a
    * prime; every intermediate stays < 2^52 (h < 2^32, C < 2^20 after
    * each mod), so the arithmetic is exact int64 in BOTH engines under
    * ANSI mode — the DuckDB twin is bit-identical. */
  val ShingleC = 1000003L
  val ShingleM = 4294967296L // 2^32

  /** One portable 32-bit hash per token (the only digest pass the
    * signature pipeline needs). */
  def tokenHashes(toks: Column): Column = transform(toks, t => hex32(t))

  /** Word-3-gram shingle HASHES directly from token hashes — no shingle
    * strings. Building `concat_ws` shingle strings just to digest them
    * was measured to be ~95% of the signature-pass cost at sf0.1 (6.2 s
    * of 7.0 s — string allocation, not hashing: `BENCH/BASELINE.md`
    * "Round-4 signature redesign");
    * combining the per-token hashes arithmetically gives the same
    * near-dup semantics (distinct tokens ⇒ distinct hash inputs, order
    * sensitive via the polynomial) at ~18× less cost, and at 100 TB the
    * signature build is the dominant dedup cost. Same [0, 2^32) range as
    * [[hex32]], so the MinHash overflow analysis is unchanged. Empty for
    * < 3 tokens (same sequence-descend guard as [[shingles3]]). */
  def shingleHashes(th: Column): Column =
    when(size(th) >= 3,
      transform(sequence(lit(0), size(th) - 3), i =>
        (element_at(th, i + 1) * ShingleC % ShingleM * ShingleC % ShingleM
          + element_at(th, i + 2) * ShingleC % ShingleM
          + element_at(th, i + 3)) % ShingleM))
      .otherwise(array().cast("array<long>"))

  /** MinHash family j over precomputed base hashes. Null on empty sets. */
  def minhash(baseHashes: Column, j: Int): Column =
    array_min(transform(baseHashes, h => (h * minhashA(j) + minhashB(j)) % MinhashP))

  /** SimHash bit-j vote for one token hash h: +1 if bit j of h is set,
    * else -1. Bit extraction via shiftright + bitwiseAND, whose DuckDB
    * twin is `(h >> j) & 1` — identical semantics for the non-negative
    * h < 2^32 this is applied to. */
  def simhashVote(h: Column, j: Int): Column = {
    val bit = shiftright(h, j).bitwiseAND(lit(1L))
    bit * 2 - 1
  }

  /** Rolling polynomial fingerprint of a string: left fold over character
    * codes, acc = (acc * 31 + code) mod 1e9+7. Stays in whole-stage
    * codegen via the `aggregate` HOF. */
  def fingerprint(c: Column): Column =
    aggregate(
      transform(split(c, ""), ch => ascii(ch).cast("long")),
      lit(0L),
      (acc, code) => (acc * 31 + code) % 1000000007L)

  /** Winnowing-style min char-w-gram digest: min over md5 of every w-char
    * window. Null for strings shorter than w chars. Window width sets the
    * selectivity: 8 chars behaves like a MinHash over common substrings
    * (high collision across unrelated docs — good for near-dup grouping);
    * 64 chars is a content fingerprint (two docs share it only when they
    * share a real 64-char run — the decontamination key). */
  def winnowMin(c: Column, w: Int = 8): Column =
    when(length(c) >= w,
      array_min(transform(sequence(lit(1), length(c) - (w - 1)), i => md5(substring(c, i, lit(w))))))
      .otherwise(lit(null).cast("string"))

  /** Winnowing fingerprint SET over a precomputed hash sequence
    * (Schleimer/Wilkerson/Aiken, "Winnowing: Local Algorithms for
    * Document Fingerprinting", SIGMOD 2003): the distinct minima of every
    * t consecutive hashes. Guarantee: two documents sharing any run of
    * >= t consecutive hashes (for shingle hashes: t+2 consecutive tokens)
    * share at least one fingerprint — the position-robust containment
    * property a single global min ([[winnowMin]]) lacks: a benchmark item
    * EMBEDDED mid-document need not contain the superset document's
    * global min window, but it always contains a full local window of its
    * own. `hs` must be a NAMED array<long> column (the lambda references
    * it per position; an inlined expression would recompute the hash pass
    * O(len) times). Empty for sequences shorter than t. */
  def winnowSet(hs: Column, t: Int): Column =
    when(size(hs) >= t,
      array_distinct(transform(sequence(lit(1), size(hs) - (t - 1)), j =>
        array_min(slice(hs, j, lit(t))))))
      .otherwise(array().cast("array<bigint>"))

  /** Language marker stopword lists (tiny, deterministic n-gram heuristic
    * — the operator contract, not a trained model). Alphabetical lang
    * order fixes argmax tie-breaks. Includes non-ASCII scripts (Cyrillic,
    * CJK): marker matching is exact UTF-8 string equality in both engines,
    * so the heuristic extends beyond Latin corpora with no kernel change
    * — the multilingual contract a real crawl needs. */
  val LangMarkers: Seq[(String, Seq[String])] = Seq(
    "de" -> Seq("der", "die", "das", "und", "ist"),
    "en" -> Seq("the", "a", "and", "of", "is"),
    "es" -> Seq("el", "la", "los", "de", "y"),
    "fr" -> Seq("le", "les", "des", "de", "et"),
    "ru" -> Seq("и", "в", "не", "на", "что"),
    "zh" -> Seq("的", "是", "了", "在", "我"))

  /** Count of tokens contained in a marker list (multiset semantics:
    * every occurrence counts). */
  def markerHits(toks: Column, markers: Seq[String]): Column =
    size(filter(toks, t => t.isin(markers.map(lit(_)): _*)))

  // -----------------------------------------------------------------------
  // DuckDB SQL twins — fragment builders so the oracle text can't drift
  // from the Spark expression semantics. `e` is a SQL expression string.
  // -----------------------------------------------------------------------
  object Dk {
    def tokens(e: String): String = s"string_split_regex(trim($e), '\\s+')"

    /** toks must be a list-typed SQL expression (bind it in a CTE). */
    def shingles3(toks: String): String =
      s"[array_to_string($toks[i:i+2], ' ') for i in generate_series(1, len($toks)-2)]"

    /** 8-nibble hex→int, identical to [[hex32]]. */
    def hex32(e: String): String =
      (1 to 8).map { i =>
        val w = 1L << (4 * (8 - i))
        s"(instr('0123456789abcdef', substr(md5($e), $i, 1)) - 1) * ${w}::BIGINT"
      }.mkString("(", " + ", ")")

    /** 8 hex chars of a digest-typed expression at 1-based `start`,
      * identical to [[TextKernels.hex32Of]]. */
    def hex32Of(digest: String, start: Int): String =
      (0 until 8).map { i =>
        val w = 1L << (4 * (7 - i))
        s"(instr('0123456789abcdef', substr($digest, ${start + i}, 1)) - 1) * ${w}::BIGINT"
      }.mkString("(", " + ", ")")

    def baseHashes(shingles: String): String =
      s"[${hex32("s")} for s in $shingles]"

    /** toks must be a list-typed SQL expression (bind it in a CTE). */
    def tokenHashes(toks: String): String = s"[${hex32("t")} for t in $toks]"

    /** th must be a list-typed BIGINT expression (bind it in a CTE);
      * identical arithmetic to [[TextKernels.shingleHashes]] — DuckDB
      * `generate_series(1, n)` is empty for n < 1, covering the < 3
      * tokens case without a guard. */
    def shingleHashes(th: String): String =
      s"[((($th[i] * $ShingleC % $ShingleM) * $ShingleC % $ShingleM) + " +
        s"($th[i+1] * $ShingleC % $ShingleM) + $th[i+2]) % $ShingleM " +
        s"for i in generate_series(1, len($th)-2)]"

    /** hs must be a list-typed SQL expression of base hashes. */
    def minhash(hs: String, j: Int): String =
      s"list_aggregate([(h * ${minhashA(j)} + ${minhashB(j)}) % $MinhashP for h in $hs], 'min')"

    def fingerprint(e: String): String =
      s"list_reduce(list_prepend(0::BIGINT, [ascii(substr($e, i, 1))::BIGINT for i in generate_series(1, len($e))]), " +
        "(acc, code) -> (acc * 31 + code) % 1000000007)"

    /** hs must be a list-typed SQL expression of BIGINT hashes. */
    def winnowSet(hs: String, t: Int): String =
      s"CASE WHEN len($hs) >= $t THEN list_distinct([list_aggregate(($hs)[j:j+${t - 1}], 'min') " +
        s"for j in generate_series(1, len($hs)-${t - 1})]) ELSE [] END"

    def winnowMin(e: String, w: Int = 8): String =
      s"case when len($e) >= $w then list_aggregate([md5(substr($e, i, $w)) for i in generate_series(1, len($e)-${w - 1})], 'min') end"

    def markerHits(toks: String, markers: Seq[String]): String =
      s"len(list_filter($toks, t -> t in (${markers.map("'" + _ + "'").mkString(",")})))"
  }
}
