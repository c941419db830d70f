package graft.operators

import graft.functions.TextKernels._
import graft.functions.{VectorKernels => VK}
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Full-text retrieval over the corpus: an inverted index (posting lists
  * with term frequencies + document frequencies) and BM25-style ranked
  * search — the lexical retrieval primitive a training-data pipeline uses
  * for corpus exploration, targeted filtering, and hard-negative mining
  * next to the embedding-ANN path (`Similarity`).
  *
  * Scale shape (the standard distributed inverted-index build):
  *  - posting lists are ONE `groupBy(doc_id, term)` over exploded tokens —
  *    map-side partial aggregation collapses within-partition repeats, the
  *    shuffle key is (term, doc) so hot terms spread across their doc
  *    sets, and no row ever carries more than a token and two counters;
  *  - the query set is tiny and BROADCAST twice (term prune, then df) —
  *    the corpus-side index is touched only via equi-joins on term;
  *  - df/idf are computed on the PRUNED postings (only query terms), so
  *    the expensive global term-statistics pass is deferred until a query
  *    set needs it — at 100 TB the full index + df table would instead be
  *    built once and bucketed by term (`BucketedJoinSpec` shape), making
  *    each query wave a zero-shuffle probe;
  *  - per-(query, doc) scores sum as INTEGER micro-points, so aggregation
  *    order cannot perturb the result (float addition is not associative;
  *    int64 addition is) — the same order-independence trick the trained
  *    k-means path uses — and top-k is a per-query row_number window over
  *    the few thousand docs that share a query term, never a global sort.
  *
  * Cross-engine exactness: scores are floored to integer micro-points
  * from an IDENTICAL double expression tree in both engines (IEEE
  * division/multiplication are correctly rounded, so same operands + same
  * shape = same bits), and ranking ties break on doc_id. The idf is the
  * RATIONAL form (N - df + 0.5)/(df + 0.5) — BM25's idf without the final
  * log. The log is a monotone per-term transform: dropping it keeps
  * per-term ranking identical and makes the score exact in int64 across
  * engines; the tradeoff (rare terms weigh in linearly rather than
  * logarithmically in multi-term sums) is documented, deliberate, and
  * what makes the whole scorer hash-checkable against DuckDB.
  */
object Search {

  private def docs(s: SparkSession, dir: String): DataFrame =
    s.read.parquet(s"$dir/documents.parquet")

  /** BM25 constants (Robertson/Spärck Jones defaults). K1p1 is written as
    * its own literal — NOT computed as K1 + 1.0 — so the Scala double and
    * the SQL-interpolated literal are the same bits (1.2 + 1.0 in binary
    * is not the double nearest 2.2). 1 - B = 0.25 is exact. */
  private val K1   = 1.2
  private val K1p1 = 2.2
  private val B    = 0.75
  private val TopK = 5

  /** Planted query workload: every 100th doc gets a UNIQUE marker token
    * (`qk<doc_id>`) appended to its text, and contributes a 3-term query
    * of that marker plus its tokens 5..6 (query_id = doc_id + 900000).
    * The marker term has df = 1 — maximal idf — so a correct scorer MUST
    * rank the source doc first (the catalog test pins it), while the two
    * common terms exercise the tf/length-normalization arm; the sf corpus
    * is a ~50-word vocabulary soup where common terms alone cannot
    * discriminate. */
  private def queryFrame(t: DataFrame): DataFrame =
    t.filter(col("doc_id") % 100 === 0)
      .select((col("doc_id") + 900000L).as("query_id"),
        concat(array(concat(lit("qk"), col("doc_id").cast("string"))),
          slice(col("toks"), 5, 2)).as("qtoks"))

  /** The tokenized corpus (query-marker terms appended) every search
    * operator starts from. */
  private def tokFrame(s: SparkSession, dir: String): DataFrame =
    docs(s, dir).select(col("doc_id"),
      tokens(when(col("doc_id") % 100 === 0,
        concat(col("text"), lit(" qk"), col("doc_id").cast("string")))
        .otherwise(col("text"))).as("toks"))

  /** Per-(doc, term) tf table over [[tokFrame]] — the index-build pass. */
  private def tfOf(t: DataFrame): DataFrame =
    t.select(col("doc_id"), explode(col("toks")).as("term"))
      .groupBy(col("doc_id"), col("term")).agg(count(lit(1)).as("tf"))

  /** Distinct (query, term) rows over [[tokFrame]]'s query set. */
  private def qtOf(t: DataFrame): DataFrame =
    queryFrame(t)
      .select(col("query_id"), explode(col("qtoks")).as("term")).distinct()

  /** The ranked search: top-[[TopK]] docs per query by integer-scaled
    * BM25-style score. */
  def bm25TopK(s: SparkSession, dir: String): DataFrame = {
    val t = tokFrame(s, dir)
    bm25From(t, tfOf(t), qtOf(t))
  }

  /** [[bm25TopK]] against caller-supplied tokenized/tf/query frames, so a
    * composite operator (query expansion) can SHARE its index-build pass
    * with the first-pass ranker instead of tokenizing the corpus twice. */
  private def bm25From(t: DataFrame, tf: DataFrame, qt: DataFrame): DataFrame = {
    val dl = t.select(col("doc_id"), size(col("toks")).cast("long").as("dl"))
    val st = dl.agg(count(lit(1)).as("n"), sum(col("dl")).as("tdl"))
      .select(col("n"), (col("tdl").cast("double") / col("n")).as("avgdl"))
    val ptf = tf.join(broadcast(qt), Seq("term"))
    val df  = ptf.groupBy(col("term")).agg(countDistinct(col("doc_id")).as("df"))
    val idf = (col("n") - col("df") + 0.5) / (col("df") + 0.5)
    val num = col("tf") * K1p1
    val den = col("tf") + lit(K1) * (lit(1.0 - B) + lit(B) * (col("dl") / col("avgdl")))
    val sc = ptf.join(broadcast(df), Seq("term"))
      .join(dl, Seq("doc_id"))
      .crossJoin(broadcast(st))
      .select(col("query_id"), col("doc_id"),
        floor(lit(1e6) * idf * num / den).cast("long").as("s"))
    val agg = sc.groupBy(col("query_id"), col("doc_id"))
      .agg(sum(col("s")).as("score_scaled"))
    val w = Window.partitionBy(col("query_id"))
      .orderBy(col("score_scaled").desc, col("doc_id"))
    agg.withColumn("rank", row_number().over(w).cast("long"))
      .filter(col("rank") <= TopK)
      .select("query_id", "rank", "doc_id", "score_scaled")
  }

  /** Embedding dimensionality of the `embeddings` table (the Similarity
    * family's constant). */
  private val Dims = 64

  /** Pseudo-relevance feedback geometry: expansion terms are mined from
    * the top-[[FbDocs]] BM25 docs per query, and the top-[[ExpTerms]]
    * candidates by feedback-tf mass are kept. */
  private val FbDocs   = 3
  private val ExpTerms = 5

  /** Snippet window width in tokens (`search_snippet`). */
  private val SnippetW = 10

  /** MMR diversification (`search_mmr_rerank`): λ as percent and the
    * number of greedy selections out of the BM25 top-[[TopK]]. */
  private val MmrLam = 70L
  private val MmrM   = 3

  /** RRF constant (Cormack/Clarke/Büttcher 2009's k = 60) and the integer
    * scale: points = 10^9 // (k + rank) — exact int64 floor-division in
    * both engines, so fusion sums are order-independent and cross-engine
    * bit-exact (the BM25 integer-micro-points rule again). */
  private val RrfK = 60

  /** Semantic ranked list for the SAME query set as [[bm25TopK]]: the
    * source doc's embedding (vec_id == doc_id in the sf tables) against
    * the whole embedding corpus, exact cosine top-[[TopK]]. Self-match
    * included — both lists may rank the source doc, as a real hybrid
    * retriever's lists do. This is the EXACT baseline ranker; a 100 TB
    * deployment swaps in the catalog's approximate path
    * (`ann_multiprobe_topk` / `ann_ivf_trained_topk`) with the same
    * (query_id, doc_id, rank) output shape — the fusion layer is
    * ranker-agnostic by construction. */
  private def annList(s: SparkSession, dir: String): DataFrame = {
    val e = s.read.parquet(s"$dir/embeddings.parquet")
      .select(col("vec_id"), VK.toDouble(col("embedding")).as("v"))
      .withColumn("nrm", VK.norm(col("v")))
    val q = e.filter(col("vec_id") % 100 === 0)
      .select((col("vec_id") + 900000L).as("query_id"),
        col("v").as("qv"), col("nrm").as("qn"))
    Similarity.topk(e.crossJoin(broadcast(q))
        .select(col("query_id"), col("vec_id").as("neighbor_id"), Similarity.qcos.as("cos")), TopK)
      .select(col("query_id"), col("neighbor_id").as("doc_id"), col("rank"))
  }

  /** Hybrid retrieval: the lexical (BM25) and semantic (embedding cosine)
    * top-k lists for one query set, fused by reciprocal-rank fusion.
    * This is the composition a modern retrieval stack actually ships —
    * each sub-ranker is the catalog's own oracle-proven operator, and the
    * fusion layer adds no new float surface at all (integer floor-divided
    * RRF points, integer sums). Scale shape: both lists are per-query
    * top-k frames (rows = queries × k), so the fusion
    * union→groupBy→window works on a frame whose size is set by the
    * QUERY workload, not the corpus — the corpus-sized work lives inside
    * the two sub-rankers, each already in its documented scale shape. */
  def hybridRrf(s: SparkSession, dir: String): DataFrame = {
    val lists = bm25TopK(s, dir).select("query_id", "doc_id", "rank")
      .unionByName(annList(s, dir))
    val w = Window.partitionBy(col("query_id"))
      .orderBy(col("rrf_scaled").desc, col("doc_id"))
    lists
      .withColumn("pts", expr(s"1000000000L div (${RrfK}L + rank)"))
      .groupBy(col("query_id"), col("doc_id"))
      .agg(sum(col("pts")).as("rrf_scaled"), count(lit(1)).as("n_lists"))
      .withColumn("rank", row_number().over(w).cast("long"))
      .filter(col("rank") <= TopK)
      .select("query_id", "rank", "doc_id", "rrf_scaled", "n_lists")
  }

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "text_bm25_topk"    -> ((s, dir) => bm25TopK(s, dir)),
    "search_hybrid_rrf" -> ((s, dir) => hybridRrf(s, dir)),

    // Pseudo-relevance-feedback query expansion (Rocchio 1971's positive
    // arm / RM1 with uniform feedback-doc weights, integer-exact): run
    // the first-pass ranker, take each query's top-FbDocs docs as the
    // feedback set, and score every term they contain by its total tf
    // mass across the set — minus the original query terms (an expansion
    // term is by definition NEW vocabulary). Keeping the weights as raw
    // integer tf sums (not log-odds) is what makes the whole second-pass
    // query model hash-checkable cross-engine; the ranking is the
    // standard weight-desc/term-asc deterministic cut. Scale shape: the
    // feedback set is queries×FbDocs rows → BROADCAST to both the tf
    // join and the anti-join that strips original terms; the corpus-sized
    // work is the per-doc tf table the index build already produces, and
    // the candidate aggregate shuffles (query_id, term, int64) — never
    // text bodies. Second-pass retrieval then reuses text_bm25_topk
    // with qtoks ∪ expansion, unchanged machinery.
    "search_query_expand" -> ((s, dir) => {
      val t = tokFrame(s, dir)
      // tf/qt are SHARED subtrees with the first-pass ranker below —
      // bit-identical exchanges, so in-plan ReuseExchange dedups the
      // index-build pass (an explicit cache here measured as a pure
      // materialization barrier, +1 s — the q_hits lesson)
      val tf = tfOf(t)
      val qt = qtOf(t)
      val fb = bm25From(t, tf, qt).filter(col("rank") <= FbDocs)
        .select(col("query_id"), col("doc_id"))
      val cand = tf.join(broadcast(fb), Seq("doc_id"))
        .join(broadcast(qt), Seq("query_id", "term"), "left_anti")
        .groupBy(col("query_id"), col("term"))
        .agg(sum(col("tf")).as("weight"), count(lit(1)).as("n_fb_docs"))
      val w = Window.partitionBy(col("query_id"))
        .orderBy(col("weight").desc, col("term"))
      cand.withColumn("rank", row_number().over(w).cast("long"))
        .filter(col("rank") <= ExpTerms)
        .select("query_id", "rank", "term", "weight", "n_fb_docs")
    }),

    // Snippet generation — the result-page half of retrieval (Turpin et
    // al., SIGIR 2007 "Fast generation of result snippets in web
    // search"): for each query's top-FbDocs BM25 docs, the SnippetW-token
    // window containing the MOST query-term occurrences (ties → earliest
    // window). Optimality needs only hit positions: a maximal window can
    // always be shifted left until it STARTS at a hit, so candidates =
    // hit positions and the score is a range-window count over them —
    // never a scan of all |doc| window starts. Scale shape: the corpus
    // joins broadcast (query, doc) pairs FIRST (only top-docs ever
    // explode into positions), hit rows are (query, doc, pos) ints, the
    // range window is keyed by (query, doc), and the winning window
    // re-joins the pruned doc set by id to slice its text — whole docs
    // never shuffle with the hits.
    "search_snippet" -> ((s, dir) => {
      val t = docs(s, dir).select(col("doc_id"),
        tokens(when(col("doc_id") % 100 === 0,
          concat(col("text"), lit(" qk"), col("doc_id").cast("string")))
          .otherwise(col("text"))).as("toks"))
      val fb = bm25TopK(s, dir).filter(col("rank") <= FbDocs)
        .select(col("query_id"), col("doc_id"))
      val qt = queryFrame(t)
        .select(col("query_id"), explode(col("qtoks")).as("term")).distinct()
      val posn = t.join(broadcast(fb), Seq("doc_id"))
        .select(col("query_id"), col("doc_id"),
          posexplode(col("toks")).as(Seq("p0", "term")))
      val hits = posn.join(broadcast(qt), Seq("query_id", "term"))
        .select(col("query_id"), col("doc_id"), (col("p0") + 1L).as("pos"))
      val wr = Window.partitionBy(col("query_id"), col("doc_id"))
        .orderBy(col("pos")).rangeBetween(Window.currentRow, SnippetW - 1)
      val wb = Window.partitionBy(col("query_id"), col("doc_id"))
        .orderBy(col("window_hits").desc, col("pos"))
      val best = hits.withColumn("window_hits", count(lit(1)).over(wr))
        .withColumn("rn", row_number().over(wb)).filter(col("rn") === 1)
        .select(col("query_id"), col("doc_id"),
          col("pos").as("start_pos"), col("window_hits"))
      broadcast(best).join(t, Seq("doc_id"))
        .select(col("query_id"), col("doc_id"), col("start_pos"),
          col("window_hits"),
          array_join(slice(col("toks"), col("start_pos").cast("int"),
            lit(SnippetW)), " ").as("snippet"))
    }),

    // MMR diversification rerank (Carbonell & Goldstein, SIGIR 1998):
    // from each query's BM25 top-TopK, greedily select MmrM docs
    // maximizing λ·relevance − (1−λ)·max-similarity-to-selected — the
    // standard redundancy killer between retrieval and the result page
    // (or between retrieval and a RAG context window). Relevance is the
    // BM25 score normalized to ppm of the query's top score; similarity
    // is exact shingle Jaccard in ppm; λ = MmrLam% — so the whole greedy
    // trace is int64 and hash-exact (ties → smallest doc_id). Scale
    // shape: everything downstream of BM25 runs on K docs per query —
    // candidate sets and the K²-pair similarity matrix are broadcast
    // joins; shingle sets are computed only for candidate docs (semi-join
    // prune); the greedy loop is MmrM−1 tiny self-joins, each a window
    // over ≤ K rows per query. The corpus is never rescanned.
    "search_mmr_rerank" -> ((s, dir) => {
      val t = docs(s, dir).select(col("doc_id"),
        tokens(when(col("doc_id") % 100 === 0,
          concat(col("text"), lit(" qk"), col("doc_id").cast("string")))
          .otherwise(col("text"))).as("toks"))
      // queries × TopK rows; read three times (top-score row, candidate
      // set, round-1 seed) — without the pin each read re-runs BM25 over
      // the corpus.
      val bm = bm25TopK(s, dir).cache()
      val top1 = bm.filter(col("rank") === 1)
        .select(col("query_id"), col("score_scaled").as("smax"))
      val cands = bm.join(broadcast(top1), Seq("query_id"))
        .select(col("query_id"), col("doc_id"),
          expr("(score_scaled * 1000000) div smax").as("rel_ppm"))
        .cache() // queries × TopK rows
      // candidate docs only (queries × TopK, post semi-join) — but
      // DERIVING it is a full corpus token+shingle scan, and the frame is
      // broadcast twice (sha / shb sides of the pair join); the pin makes
      // that one scan, not two.
      val sets = Dedup.shingleSets(
          t.join(broadcast(cands.select("doc_id").distinct()), Seq("doc_id")), col("toks"))
        .cache()
      val sims = cands.select(col("query_id"), col("doc_id").as("a"))
        .join(cands.select(col("query_id"), col("doc_id").as("b")),
          Seq("query_id"))
        .filter(col("a") =!= col("b"))
        .join(broadcast(sets.select(col("doc_id").as("a"), col("sh").as("sha"))),
          Seq("a"))
        .join(broadcast(sets.select(col("doc_id").as("b"), col("sh").as("shb"))),
          Seq("b"))
        .select(col("query_id"), col("a"), col("b"),
          size(array_intersect(col("sha"), col("shb"))).cast("long").as("inter"),
          size(col("sha")).cast("long").as("na"),
          size(col("shb")).cast("long").as("nb"))
        .select(col("query_id"), col("a"), col("b"),
          expr("(inter * 1000000) div (na + nb - inter)").as("sim_ppm"))
      // sims is UNcached since the single-pass rewrite: its one consumer
      // is the per-query sims rollup — the former per-round loop read it
      // MmrM−1 times and pinned it; a cache now is only a barrier
      // The greedy trace runs as ONE pass: candidates, pair similarities
      // and the round-1 seed group by query_id, and each query's whole
      // MmrM-round selection happens inside a single task (a query's
      // state is ≤ K rel rows + K² sim rows — bounded by construction).
      // The former per-round formulation was MmrM−1 SEQUENTIAL tiny
      // Spark jobs, each paying an anti-join + self-join + window + an
      // eager localCheckpoint — a per-round job-scheduling floor that
      // dominated the query's wall time (guide §1.2: fix the job shape
      // first). Same integer arithmetic (λ·rel − (1−λ)·maxsim in int64,
      // ties to smallest doc_id), so the trace is value-identical; the
      // closure is per-GROUP driver-free work over ≤ K² longs, and
      // queries parallelize across tasks — the at-scale shape for a
      // greedy-by-definition rerank.
      val lam = MmrLam
      val oneMinusLam = 100 - MmrLam
      val m = MmrM
      val mmrTrace = udf((cs: Seq[Row], ss: Seq[Row], seed: Long) => {
        val rel = cs.map(r => r.getLong(0) -> r.getLong(1)).toMap
        val sim = ss.map(r => (r.getLong(0), r.getLong(1)) -> r.getLong(2)).toMap
        val out = scala.collection.mutable.ArrayBuffer[(Long, Long, Long, Long, Long)]()
        val selected = scala.collection.mutable.ArrayBuffer[Long](seed)
        out += ((seed, rel(seed), 0L, lam * rel(seed), 1L))
        for (r <- 2 to m) {
          val scored = rel.keysIterator.filterNot(selected.contains).toSeq.flatMap { c =>
            val toSel = selected.flatMap(b => sim.get((c, b)))
            if (toSel.isEmpty) None
            else {
              val ms = toSel.max
              Some((c, rel(c), ms, lam * rel(c) - oneMinusLam * ms))
            }
          }
          if (scored.nonEmpty) {
            val best = scored.minBy { case (c, _, _, sc) => (-sc, c) }
            out += ((best._1, best._2, best._3, best._4, r.toLong))
            selected += best._1
          }
        }
        out.toSeq
      })
      val grouped = cands
        .groupBy(col("query_id"))
        .agg(collect_list(struct(col("doc_id"), col("rel_ppm"))).as("cs"))
        .join(sims.groupBy(col("query_id"))
          .agg(collect_list(struct(col("a"), col("b"), col("sim_ppm"))).as("ss")),
          Seq("query_id"))
        .join(broadcast(bm.filter(col("rank") === 1)
          .select(col("query_id"), col("doc_id").as("seed"))), Seq("query_id"))
      val selected = grouped
        .select(col("query_id"),
          explode(mmrTrace(col("cs"), col("ss"), col("seed"))).as("r"))
        .select(col("query_id"), col("r._1").as("doc_id"), col("r._2").as("rel_ppm"),
          col("r._3").as("maxsim_ppm"), col("r._4").as("mmr_score"),
          col("r._5").as("round"))
        .localCheckpoint(true)
      bm.unpersist()
      cands.unpersist()
      sets.unpersist()
      selected
    }),

    // Impact-ordered index tiering (Ntoulas & Cho 2007 / WAND-era "fancy
    // lists"): each term's posting list is split into tier 0 — the top
    // ⌈25%⌉ postings by term frequency (the impact proxy; doc_id
    // tiebreak) — and tier 1, the long tail. Query evaluation reads
    // tier 0 first and touches tier 1 only when the top-k heap isn't
    // safe — the early-termination contract that makes a 100 TB index
    // answer interactive queries. The output is the capacity-planning
    // table: per (term, tier), posting count and tf mass in exact ppm of
    // the term's total — "what fraction of each list's mass does the
    // cheap tier hold". Scale shape: one groupBy(term, doc) posting
    // build (map-side combine), ONE term-partitioned window pass
    // computing rank/df/mass together (same partitioning → one
    // Exchange), then a (term, tier) re-aggregation of integer counters;
    // a hot term's window is its df — the documented skew cap
    // (MaxBandGroup discipline) applies if a stop-word list is ever
    // tiered, and real deployments drop stop-words before tiering.
    "search_tiered_index" -> ((s, dir) => {
      val tf = docs(s, dir)
        .select(col("doc_id"), explode(tokens(col("text"))).as("term"))
        .groupBy(col("term"), col("doc_id")).agg(count(lit(1)).as("tf"))
      val p  = Window.partitionBy(col("term"))
      val rk = tf
        .withColumn("rn", row_number().over(
          p.orderBy(col("tf").desc, col("doc_id").asc)).cast("long"))
        .withColumn("df", count(lit(1)).over(p))
        .withColumn("total_tf", sum(col("tf")).over(p))
      rk.withColumn("tier",
          when(col("rn") <= expr("(df + 3) div 4"), lit(0L)).otherwise(lit(1L)))
        .groupBy(col("term"), col("tier"))
        .agg(count(lit(1)).as("n_postings"), sum(col("tf")).as("tf_mass"),
          max(col("df")).as("df"), max(col("total_tf")).as("ttf"))
        .select(col("term"), col("tier"), col("n_postings"), col("tf_mass"),
          col("df"), expr("(tf_mass * 1000000) div ttf").as("mass_ppm"))
    }),

    // Retrieval quality evaluation (MRR / hit@1 / found@k) for BOTH
    // shipped rankers against the planted golden workload (query_id's
    // source doc is the known-relevant answer — the marker-term
    // construction makes that ground truth exact, not judged). All
    // integer: reciprocal ranks are 1e6 DIV rank, the mean is a DIV by
    // query count — the evaluator itself adds no float surface, so it is
    // hash-exact cross-engine, which is what lets a nightly index build
    // GATE on "MRR didn't drop" instead of eyeballing it. Scale shape:
    // the golden table is queries-sized and the lists are queries×k; the
    // join keys on (query_id, golden), so the whole evaluation never
    // touches the corpus — the rankers already did.
    "search_rank_eval" -> ((s, dir) => {
      val g = docs(s, dir).filter(col("doc_id") % 100 === 0)
        .select((col("doc_id") + 900000L).as("query_id"), col("doc_id").as("golden"))
      def eval(name: String, lst: DataFrame): DataFrame =
        g.join(lst.select(col("query_id"), col("doc_id").as("golden"), col("rank")),
            Seq("query_id", "golden"), "left_outer")
          .groupBy(col("query_id")).agg(min(col("rank")).as("grank"))
          .agg(count(lit(1)).as("n_queries"),
            count(when(col("grank") === 1L, 1)).as("hits_at_1"),
            count(col("grank")).as("found_at_k"),
            sum(when(col("grank").isNotNull, expr("1000000 DIV grank"))
              .otherwise(0L)).as("rrsum"))
          .select(lit(name).as("ranker"), col("n_queries"), col("hits_at_1"),
            col("found_at_k"), expr("rrsum DIV n_queries").as("mrr_ppm"))
      eval("bm25", bm25TopK(s, dir))
        .unionByName(eval("hybrid", hybridRrf(s, dir)))
    }),

    // Exact phrase matching over a POSITIONAL inverted index — the
    // operator BM25's bag-of-words postings cannot express ("new york"
    // must not match "york new"): postings carry (doc, pos, term); a
    // 2-term phrase query is an equi-join of the two terms' pruned lists
    // on (query, doc, adjacent positions). Workload: every 100th doc
    // contributes its tokens 5..6 as a phrase (query_id = doc_id +
    // 800000), so each query has its source doc as a guaranteed hit and
    // common bigrams fan out to real multi-doc matches. Scale shape: the
    // positional index build is the postings groupless explode (narrow);
    // query terms broadcast-prune it BEFORE anything shuffles, so the
    // adjacency join moves (query_id, doc_id, pos) int triples only —
    // postings of non-query terms never leave the scan; a 100 TB
    // deployment bucket-partitions the index by term (BucketedJoinSpec
    // shape) making the prune a zero-shuffle probe too.
    "search_phrase_match" -> ((s, dir) => {
      val t = docs(s, dir).select(col("doc_id"), tokens(col("text")).as("toks"))
      val q = t.filter(col("doc_id") % 100 === 0 && size(col("toks")) >= 6)
        .select((col("doc_id") + 800000L).as("query_id"),
          element_at(col("toks"), 5).as("t1"), element_at(col("toks"), 6).as("t2"))
      val post = t.select(col("doc_id"), posexplode(col("toks")))
        .select(col("doc_id"), (col("pos") + 1).cast("long").as("pos"), col("col").as("term"))
      val p1 = post.join(broadcast(q.select(col("query_id"), col("t1"))),
          col("term") === col("t1"))
        .select(col("query_id"), col("doc_id"), col("pos"))
      val p2 = post.join(broadcast(q.select(col("query_id"), col("t2"))),
          col("term") === col("t2"))
        .select(col("query_id"), col("doc_id"), (col("pos") - 1).as("pos"))
      p1.join(p2, Seq("query_id", "doc_id", "pos"))
        .groupBy(col("query_id"), col("doc_id"))
        .agg(count(lit(1)).as("n_matches"), min(col("pos")).as("first_pos"))
    }),

    // Corpus-derived stopword list: terms whose document-frequency share
    // crosses 80% — the list the BM25/tiering path drops before indexing
    // and tokenizer training reserves slots for. Deriving it from the
    // OBSERVED df (rather than shipping a fixed English list) is what
    // keeps the index honest on a multilingual crawl; the 800k-ppm
    // threshold is the conventional "appears in nearly every document"
    // cut. One distinct-terms-per-doc aggregation (map-side combined) +
    // a broadcast 1-row corpus count — vocab-sized output, integer ppm.
    "text_stopword_derive" -> ((s, dir) => {
      val d = docs(s, dir)
      val n = d.agg(count(lit(1)).as("n"))
      d.select(explode(array_distinct(tokens(col("text")))).as("term"))
        .groupBy(col("term")).agg(count(lit(1)).as("df"))
        .crossJoin(broadcast(n))
        .select(col("term"), col("df"), expr("(df * 1000000) div n").as("df_ppm"))
        .withColumn("stopword", col("df_ppm") >= 800000L)
    }))

  private val dkBm25 =
    s"""WITH corpus AS (
         |  SELECT doc_id, CASE WHEN doc_id % 100 = 0
         |    THEN text || ' qk' || doc_id::VARCHAR ELSE text END AS text
         |  FROM documents),
         |t AS (SELECT doc_id, ${Dk.tokens("text")} AS toks FROM corpus),
         |dl AS (SELECT doc_id, len(toks)::BIGINT AS dl FROM t),
         |st AS (SELECT count(*)::BIGINT AS n, sum(dl)::DOUBLE / count(*) AS avgdl FROM dl),
         |tf AS (SELECT doc_id, term, count(*)::BIGINT AS tf
         |  FROM (SELECT doc_id, unnest(toks) AS term FROM t) GROUP BY 1, 2),
         |q AS (SELECT doc_id + 900000 AS query_id,
         |    list_prepend('qk' || doc_id::VARCHAR, toks[5:6]) AS qtoks
         |  FROM t WHERE doc_id % 100 = 0),
         |qt AS (SELECT DISTINCT query_id, unnest(qtoks) AS term FROM q),
         |ptf AS (SELECT qt.query_id, tf.doc_id, tf.term, tf.tf
         |  FROM tf JOIN qt ON tf.term = qt.term),
         |df AS (SELECT term, count(DISTINCT doc_id)::BIGINT AS df FROM ptf GROUP BY 1),
         |sc AS (
         |  SELECT query_id, ptf.doc_id,
         |    floor(1000000.0::DOUBLE * ((n - df + 0.5::DOUBLE) / (df + 0.5::DOUBLE)) * (tf * $K1p1::DOUBLE)
         |      / (tf + $K1::DOUBLE * (${1.0 - B}::DOUBLE + $B::DOUBLE * (dl / avgdl))))::BIGINT AS s
         |  FROM ptf JOIN df ON ptf.term = df.term
         |  JOIN dl ON ptf.doc_id = dl.doc_id, st),
         |agg AS (SELECT query_id, doc_id, sum(s)::BIGINT AS score_scaled
         |  FROM sc GROUP BY 1, 2)
         |SELECT query_id, rank, doc_id, score_scaled FROM (
         |  SELECT *, row_number() OVER (
         |    PARTITION BY query_id ORDER BY score_scaled DESC, doc_id) AS rank
         |  FROM agg) WHERE rank <= $TopK""".stripMargin

  private val dkAnnList =
    s"""emb AS (SELECT vec_id, [x::DOUBLE for x in embedding] AS v FROM embeddings),
       |aq AS (SELECT vec_id + 900000 AS query_id, v AS qv FROM emb WHERE vec_id % 100 = 0),
       |ap AS (SELECT query_id, vec_id AS doc_id,
       |    ${graft.functions.VectorKernels.Dk.cosine("qv", "v", Dims)} AS cos
       |  FROM emb, aq),
       |al AS (SELECT query_id, doc_id, rank FROM (
       |    SELECT query_id, doc_id,
       |      row_number() OVER (PARTITION BY query_id ORDER BY cos DESC, doc_id) AS rank
       |    FROM ap) WHERE rank <= $TopK)""".stripMargin

  val oracles: Map[String, String] = Map(
    "text_bm25_topk" -> dkBm25,

    // The token/query CTEs are restated at top level (dkBm25's copies are
    // scoped inside the bm subquery); values are nonnegative tf counts so
    // the integer surface is overflow-free by construction.
    "search_query_expand" ->
      s"""WITH bm AS ($dkBm25),
         |corpus AS (
         |  SELECT doc_id, CASE WHEN doc_id % 100 = 0
         |    THEN text || ' qk' || doc_id::VARCHAR ELSE text END AS text
         |  FROM documents),
         |t AS (SELECT doc_id, ${Dk.tokens("text")} AS toks FROM corpus),
         |tf AS (SELECT doc_id, term, count(*)::BIGINT AS tf
         |  FROM (SELECT doc_id, unnest(toks) AS term FROM t) GROUP BY 1, 2),
         |q AS (SELECT doc_id + 900000 AS query_id,
         |    list_prepend('qk' || doc_id::VARCHAR, toks[5:6]) AS qtoks
         |  FROM t WHERE doc_id % 100 = 0),
         |qt AS (SELECT DISTINCT query_id, unnest(qtoks) AS term FROM q),
         |fb AS (SELECT query_id, doc_id FROM bm WHERE rank <= $FbDocs),
         |j AS (SELECT fb.query_id, tf.term, tf.tf
         |  FROM tf JOIN fb ON tf.doc_id = fb.doc_id),
         |cand AS (
         |  SELECT query_id, term, sum(tf)::BIGINT AS weight,
         |    count(*)::BIGINT AS n_fb_docs
         |  FROM j ANTI JOIN qt ON qt.query_id = j.query_id AND qt.term = j.term
         |  GROUP BY 1, 2)
         |SELECT query_id, rank, term, weight, n_fb_docs FROM (
         |  SELECT *, row_number() OVER (
         |    PARTITION BY query_id ORDER BY weight DESC, term) AS rank
         |  FROM cand) WHERE rank <= $ExpTerms""".stripMargin,
    "search_snippet" ->
      s"""WITH bm AS ($dkBm25),
         |corpus AS (
         |  SELECT doc_id, CASE WHEN doc_id % 100 = 0
         |    THEN text || ' qk' || doc_id::VARCHAR ELSE text END AS text
         |  FROM documents),
         |t AS (SELECT doc_id, ${Dk.tokens("text")} AS toks FROM corpus),
         |q AS (SELECT doc_id + 900000 AS query_id,
         |    list_prepend('qk' || doc_id::VARCHAR, toks[5:6]) AS qtoks
         |  FROM t WHERE doc_id % 100 = 0),
         |qt AS (SELECT DISTINCT query_id, unnest(qtoks) AS term FROM q),
         |fb AS (SELECT query_id, doc_id FROM bm WHERE rank <= $FbDocs),
         |posn AS (
         |  SELECT fb.query_id, t.doc_id, t.toks,
         |    unnest(generate_series(1, len(t.toks))) AS pos
         |  FROM t JOIN fb ON fb.doc_id = t.doc_id),
         |hits AS (
         |  SELECT p.query_id, p.doc_id, p.pos::BIGINT AS pos
         |  FROM posn p JOIN qt
         |    ON qt.query_id = p.query_id AND qt.term = p.toks[p.pos]),
         |sc AS (
         |  SELECT query_id, doc_id, pos,
         |    count(*) OVER (PARTITION BY query_id, doc_id ORDER BY pos
         |      RANGE BETWEEN CURRENT ROW AND ${SnippetW - 1} FOLLOWING)::BIGINT
         |      AS window_hits
         |  FROM hits),
         |best AS (SELECT query_id, doc_id, pos AS start_pos, window_hits FROM (
         |    SELECT *, row_number() OVER (PARTITION BY query_id, doc_id
         |      ORDER BY window_hits DESC, pos) AS rn FROM sc) WHERE rn = 1)
         |SELECT b.query_id, b.doc_id, b.start_pos, b.window_hits,
         |  array_to_string(t.toks[b.start_pos:b.start_pos + ${SnippetW - 1}], ' ')
         |    AS snippet
         |FROM best b JOIN t ON t.doc_id = b.doc_id""".stripMargin,

    // greedy rounds unrolled; sel_r CTEs are MATERIALIZED (each is
    // referenced by the next round's anti-filter AND union — DuckDB
    // would inline and re-evaluate the chain exponentially otherwise)
    "search_mmr_rerank" -> {
      val mmrExpr = s"$MmrLam * rel_ppm - ${100 - MmrLam} * maxsim_ppm"
      val rounds = (2 to MmrM).map { r =>
        s"""sc$r AS (
           |  SELECT c.query_id, c.doc_id, c.rel_ppm,
           |    max(s.sim_ppm)::BIGINT AS maxsim_ppm
           |  FROM cand c
           |  JOIN sims s ON s.query_id = c.query_id AND s.a = c.doc_id
           |  JOIN sel${r - 1} p ON p.query_id = s.query_id AND p.doc_id = s.b
           |  WHERE NOT EXISTS (SELECT 1 FROM sel${r - 1} q
           |    WHERE q.query_id = c.query_id AND q.doc_id = c.doc_id)
           |  GROUP BY 1, 2, 3),
           |pk$r AS (
           |  SELECT query_id, doc_id, rel_ppm, maxsim_ppm,
           |    ($mmrExpr)::BIGINT AS mmr_score, $r::BIGINT AS round
           |  FROM (SELECT *, row_number() OVER (PARTITION BY query_id
           |      ORDER BY $mmrExpr DESC, doc_id) AS rn
           |    FROM sc$r) WHERE rn = 1),
           |sel$r AS MATERIALIZED (SELECT * FROM sel${r - 1} UNION ALL
           |  SELECT query_id, doc_id, rel_ppm, maxsim_ppm, mmr_score, round
           |  FROM pk$r)""".stripMargin
      }.mkString(",\n")
      s"""WITH bm AS ($dkBm25),
         |corpus AS (
         |  SELECT doc_id, CASE WHEN doc_id % 100 = 0
         |    THEN text || ' qk' || doc_id::VARCHAR ELSE text END AS text
         |  FROM documents),
         |t AS (SELECT doc_id, ${Dk.tokens("text")} AS toks FROM corpus),
         |top1 AS (SELECT query_id, score_scaled AS smax FROM bm WHERE rank = 1),
         |cand AS MATERIALIZED (
         |  SELECT bm.query_id, bm.doc_id,
         |    ((score_scaled * 1000000) // smax)::BIGINT AS rel_ppm
         |  FROM bm JOIN top1 USING (query_id)),
         |sets AS MATERIALIZED (
         |  SELECT doc_id, list_distinct(${Dk.shingleHashes("th")}) AS sh
         |  FROM (SELECT doc_id, ${Dk.tokenHashes("toks")} AS th FROM t
         |    WHERE doc_id IN (SELECT doc_id FROM cand))),
         |sims AS MATERIALIZED (
         |  SELECT c1.query_id, c1.doc_id AS a, c2.doc_id AS b,
         |    ((len(list_intersect(sa.sh, sb.sh)) * 1000000)
         |      // (len(sa.sh) + len(sb.sh) - len(list_intersect(sa.sh, sb.sh))))
         |      ::BIGINT AS sim_ppm
         |  FROM cand c1
         |  JOIN cand c2 ON c1.query_id = c2.query_id AND c1.doc_id <> c2.doc_id
         |  JOIN sets sa ON sa.doc_id = c1.doc_id
         |  JOIN sets sb ON sb.doc_id = c2.doc_id),
         |sel1 AS MATERIALIZED (
         |  SELECT c.query_id, c.doc_id, c.rel_ppm, 0::BIGINT AS maxsim_ppm,
         |    ($MmrLam * c.rel_ppm)::BIGINT AS mmr_score, 1::BIGINT AS round
         |  FROM cand c JOIN bm ON bm.query_id = c.query_id
         |    AND bm.doc_id = c.doc_id
         |  WHERE bm.rank = 1),
         |$rounds
         |SELECT query_id, doc_id, rel_ppm, maxsim_ppm, mmr_score, round
         |FROM sel$MmrM""".stripMargin
    },

    "search_hybrid_rrf" ->
      s"""WITH bm AS ($dkBm25),
         |$dkAnnList,
         |u AS (
         |  SELECT query_id, doc_id, rank FROM bm
         |  UNION ALL
         |  SELECT query_id, doc_id, rank FROM al),
         |f AS (
         |  SELECT query_id, doc_id,
         |    sum(1000000000 // ($RrfK + rank))::BIGINT AS rrf_scaled,
         |    count(*)::BIGINT AS n_lists
         |  FROM u GROUP BY 1, 2)
         |SELECT query_id, rank, doc_id, rrf_scaled, n_lists FROM (
         |  SELECT *, row_number() OVER (
         |    PARTITION BY query_id ORDER BY rrf_scaled DESC, doc_id) AS rank
         |  FROM f) WHERE rank <= $TopK""".stripMargin,

    "search_tiered_index" ->
      s"""WITH t AS (SELECT doc_id, ${Dk.tokens("text")} AS toks FROM documents),
         |tf AS (
         |  SELECT term, doc_id, count(*)::BIGINT AS tf
         |  FROM (SELECT doc_id, unnest(toks) AS term FROM t) GROUP BY 1, 2),
         |rk AS (
         |  SELECT term, doc_id, tf,
         |    row_number() OVER (PARTITION BY term ORDER BY tf DESC, doc_id)::BIGINT AS rn,
         |    count(*) OVER (PARTITION BY term)::BIGINT AS df,
         |    sum(tf) OVER (PARTITION BY term)::BIGINT AS total_tf
         |  FROM tf),
         |tiers AS (
         |  SELECT term, (CASE WHEN rn <= (df + 3) // 4 THEN 0 ELSE 1 END)::BIGINT AS tier,
         |    tf, df, total_tf
         |  FROM rk)
         |SELECT term, tier, count(*)::BIGINT AS n_postings, sum(tf)::BIGINT AS tf_mass,
         |  max(df)::BIGINT AS df,
         |  (sum(tf) * 1000000 // max(total_tf))::BIGINT AS mass_ppm
         |FROM tiers GROUP BY 1, 2""".stripMargin,

    "search_rank_eval" ->
      s"""WITH bm AS ($dkBm25),
         |$dkAnnList,
         |u AS (
         |  SELECT query_id, doc_id, rank FROM bm
         |  UNION ALL
         |  SELECT query_id, doc_id, rank FROM al),
         |f AS (
         |  SELECT query_id, doc_id,
         |    sum(1000000000 // ($RrfK + rank))::BIGINT AS rrf_scaled,
         |    count(*)::BIGINT AS n_lists
         |  FROM u GROUP BY 1, 2),
         |hy AS (SELECT query_id, doc_id, rank FROM (
         |    SELECT *, row_number() OVER (
         |      PARTITION BY query_id ORDER BY rrf_scaled DESC, doc_id) AS rank
         |    FROM f) WHERE rank <= $TopK),
         |g AS (SELECT doc_id + 900000 AS query_id, doc_id AS golden
         |  FROM documents WHERE doc_id % 100 = 0),
         |evb AS (
         |  SELECT g.query_id, min(l.rank) AS grank FROM g
         |  LEFT JOIN bm l ON l.query_id = g.query_id AND l.doc_id = g.golden
         |  GROUP BY 1),
         |evh AS (
         |  SELECT g.query_id, min(l.rank) AS grank FROM g
         |  LEFT JOIN hy l ON l.query_id = g.query_id AND l.doc_id = g.golden
         |  GROUP BY 1)
         |SELECT 'bm25' AS ranker, count(*)::BIGINT AS n_queries,
         |  count(CASE WHEN grank = 1 THEN 1 END)::BIGINT AS hits_at_1,
         |  count(grank)::BIGINT AS found_at_k,
         |  (sum(CASE WHEN grank IS NOT NULL THEN 1000000 // grank ELSE 0 END)
         |    // count(*))::BIGINT AS mrr_ppm
         |FROM evb
         |UNION ALL
         |SELECT 'hybrid', count(*)::BIGINT,
         |  count(CASE WHEN grank = 1 THEN 1 END)::BIGINT,
         |  count(grank)::BIGINT,
         |  (sum(CASE WHEN grank IS NOT NULL THEN 1000000 // grank ELSE 0 END)
         |    // count(*))::BIGINT
         |FROM evh""".stripMargin,

    "search_phrase_match" ->
      s"""WITH t AS (SELECT doc_id, ${Dk.tokens("text")} AS toks FROM documents),
         |q AS (SELECT doc_id + 800000 AS query_id, toks[5] AS t1, toks[6] AS t2
         |  FROM t WHERE doc_id % 100 = 0 AND len(toks) >= 6),
         |post AS (SELECT doc_id,
         |    unnest([i for i in generate_series(1, len(toks))]) AS pos,
         |    unnest(toks) AS term
         |  FROM t),
         |p1 AS (SELECT q.query_id, p.doc_id, p.pos FROM post p JOIN q ON p.term = q.t1),
         |p2 AS (SELECT q.query_id, p.doc_id, p.pos - 1 AS pos
         |  FROM post p JOIN q ON p.term = q.t2)
         |SELECT p1.query_id, p1.doc_id, count(*)::BIGINT AS n_matches,
         |  min(p1.pos)::BIGINT AS first_pos
         |FROM p1 JOIN p2
         |  ON p1.query_id = p2.query_id AND p1.doc_id = p2.doc_id AND p1.pos = p2.pos
         |GROUP BY 1, 2""".stripMargin,

    "text_stopword_derive" ->
      s"""WITH t AS (SELECT doc_id, ${Dk.tokens("text")} AS toks FROM documents),
         |d AS (SELECT DISTINCT doc_id, unnest(toks) AS term FROM t),
         |df AS (SELECT term, count(*)::BIGINT AS df FROM d GROUP BY 1),
         |n AS (SELECT count(*)::BIGINT AS n FROM documents)
         |SELECT term, df, (df * 1000000 // n)::BIGINT AS df_ppm,
         |  (df * 1000000 // n) >= 800000 AS stopword
         |FROM df, n""".stripMargin)
}
