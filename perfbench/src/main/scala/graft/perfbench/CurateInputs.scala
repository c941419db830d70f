package graft.perfbench

import scala.util.Random

/** Seeded inputs of the `curate` workload.
  *
  * The base is fitted to the catalog's sf0.1 `documents` table (doc_id,
  * text, lang, source, n_chars), measured with DuckDB (numbers in
  * `perfbench/NOTES.md`): texts of 10–99 words drawn uniformly from the
  * same 30-word vocabulary; `lang` en 41 %, de/es/fr/zh 15 % each;
  * `source` = "src" + doc_id mod 20; and, as there, 5 % of the docs are a
  * near-duplicate of another base doc with " dup" appended. On top of the
  * base the workload plants work for each curation stage —
  *  - exact copies of base docs under new ids (exact dedup removes them:
  *    the keeper of a content hash is its smallest doc_id);
  *  - near-duplicate edits of base docs (one vocabulary word appended);
  *  - one hot near-dup cluster: a hub doc and many variants that each
  *    append two words, so one band bucket holds the whole cluster;
  *  - a few docs below the quality gate's 5-token floor.
  *
  * The ingest batch plants each class `CurateMain.ingest` assigns, and
  * records it: exact copies of base docs (`exact_dup`), base docs with a
  * word appended (`near_dup`), fresh texts (`novel`), and pairs of
  * identical fresh texts whose second member is a `batch_dup`. */
object CurateInputs {
  val Vocab: Vector[String] = Vector(
    "query", "row", "stream", "the", "spark", "line", "small", "fast", "group", "customer",
    "batch", "sort", "value", "hash", "filter", "big", "data", "part", "column", "order",
    "scan", "a", "slow", "agg", "key", "window", "table", "merge", "vector", "join")

  final case class Doc(doc_id: Long, text: String, lang: String, source: String, n_chars: Long)
  final case class BatchDoc(doc_id: Long, text: String, planted: String)

  /** Base docs; planted copies, edits and the hot cluster are extra. */
  val BaseDocs    = 400
  val HotVariants = 30
  val BatchDocs   = 120
  val BatchIdBase = 10000000L

  private def words(rng: Random, n: Int): String =
    Seq.fill(n)(Vocab(rng.nextInt(Vocab.size))).mkString(" ")

  /** A fresh text: 10–99 words, uniform, as in sf0.1. */
  private def text(rng: Random): String = words(rng, 10 + rng.nextInt(90))

  private def lang(rng: Random): String =
    if (rng.nextInt(100) < 41) "en" else Vector("de", "es", "fr", "zh")(rng.nextInt(4))

  private def doc(id: Long, text: String, rng: Random): Doc =
    Doc(id, text, lang(rng), s"src${id % 20}", text.length.toLong)

  /** The raw documents table, and the ids of its planted exact copies. */
  def corpus(seed: Long): (Seq[Doc], Seq[Long]) = {
    val rng   = new Random(seed * 0x9E3779B97F4A7C15L + 1)
    val texts = scala.collection.mutable.ArrayBuffer.empty[String]
    (0 until BaseDocs).foreach { i =>
      texts += (if (i > 0 && rng.nextInt(100) < 5) s"${texts(rng.nextInt(i))} dup" else text(rng))
    }
    val base = texts.zipWithIndex.map { case (t, i) => doc(i.toLong, t, rng) }.toSeq
    var next = BaseDocs.toLong
    def fresh(): Long = { next += 1; next - 1 }

    val copies = Seq.fill(BaseDocs / 20) {
      val src = base(rng.nextInt(BaseDocs)); doc(fresh(), src.text, rng)
    }
    val edits = Seq.fill(BaseDocs / 20) {
      val src = base(rng.nextInt(BaseDocs)); doc(fresh(), s"${src.text} ${words(rng, 1)}", rng)
    }
    val hub = doc(fresh(), words(rng, 80), rng)
    val variants = Seq.fill(HotVariants)(doc(fresh(), s"${hub.text} ${words(rng, 2)}", rng))
    val short = Seq.fill(BaseDocs / 100)(doc(fresh(), words(rng, 1 + rng.nextInt(4)), rng))

    val all = rng.shuffle(base ++ copies ++ edits ++ Seq(hub) ++ variants ++ short)
    (all, copies.map(_.doc_id))
  }

  /** The ingest batch against the standing corpus `docs`. */
  def batch(seed: Long, docs: Seq[Doc]): Seq[BatchDoc] = {
    val rng   = new Random(seed * 0x2545F4914F6CDD1DL + 7)
    // sources of copies and edits: docs the quality gate keeps
    val gated = docs.filter(_.text.split(' ').length >= 5).toVector
    var next  = BatchIdBase
    def fresh(): Long = { next += 1; next - 1 }
    val n = BatchDocs / 8
    val exact = Seq.fill(2 * n)(BatchDoc(fresh(), gated(rng.nextInt(gated.size)).text, "exact_dup"))
    val near  = Seq.fill(2 * n)(BatchDoc(fresh(), s"${gated(rng.nextInt(gated.size)).text} ${words(rng, 1)}", "near_dup"))
    val novel = Seq.fill(3 * n)(BatchDoc(fresh(), text(rng), "novel"))
    val pairs = Seq.fill(n / 2) {
      val t = text(rng)
      Seq(BatchDoc(fresh(), t, "novel"), BatchDoc(fresh(), t, "batch_dup"))
    }.flatten
    exact ++ near ++ novel ++ pairs
  }
}
