package graft.operators

import graft.functions.VectorKernels._
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Similarity search over the `embeddings` table (`array<float>` column).
  *
  * Two paths, as a real 100 TB pipeline would ship them:
  *  - brute-force cosine top-k — the exact baseline. Queries are a tiny
  *    set broadcast against the corpus; per-query top-k is a window over
  *    the query partition (at scale: replace row_number with a per-
  *    partition heap via the same plan shape — Spark's TakeOrdered per
  *    group). Cost: |Q| × corpus, embarrassingly parallel, no all-pairs.
  *  - sign-LSH / IVF bucketed top-k — the scale paths: candidates come
  *    only from the query's bucket/cell, so the join is a bucket-key
  *    equi-join (Σ bucket² not corpus²).
  *
  * Index sizes are NOT fixed constants: planes/cells derive from the
  * corpus row count via the integer rules in VectorKernels
  * ([[planesFor]]/[[cellsFor]]), on both the Spark side and inside the
  * oracle SQL (same CASE thresholds over count(*)) — at 1000× the data
  * the index deepens instead of the buckets going quadratic. At true
  * 100 TB the corpus side is written bucketed-by-cell so probes become
  * partition-pruned scans, not shuffles.
  *
  * All vector math is HOF-based (zip_with/aggregate) — codegen'd, portable
  * to the DuckDB oracle bit-for-bit (see VectorKernels).
  */
object Similarity {

  private val Dims      = 64
  private val K         = 5
  private val NQuery    = 5

  /** q_coreset_kcenter: selection budget (centers picked). */
  private val CoresetK = 8

  /** (vec_id, quantized vector) — the integer space every exact-trace
    * operator (k-means, coreset) runs in. */
  private def emb2(s: SparkSession, dir: String): DataFrame =
    s.read.parquet(s"$dir/embeddings.parquet")
      .select(col("vec_id"), quantize(col("embedding")).as("q"))
  private val MaxPlanes = 12 // static ceiling the dynamic SQL is written to
  private val MaxCells  = 32
  private val KmeansK     = 8
  private val KmeansIters = 2

  /** ann_power_iteration: rescale bound for the iterate between passes —
    * after each pass the vector is floor-divided down to ±PowScale so the
    * next pass's per-row products stay in int64 at ANY corpus size. */
  private val PowScale = 10000L

  /** Product quantization: M subspaces × PqSub dims, PqK codes each. The
    * sf-scale demo uses M=2/k=8 (64 float dims → 2 three-bit codes); a
    * production index uses M=8–64 with k=256 (1 byte/sub). The operator
    * shapes — per-subspace Lloyd training, code assignment, broadcast
    * ADC distance tables — are M/k-independent. */
  private val PqM   = 2
  private val PqSub = Dims / 2
  private val PqK   = 8

  /** ADC candidate-list size the exact re-rank refines (production R ≈
    * 10–100× K; here 50 of a 500-vector corpus = the same 10× ratio). */
  private val PqRerank = 50
  /** ann_matryoshka_recall truncation levels (prefix dims); the full-dim
    * level is the recall=1.0 self-check row. */
  private val MrlLevels = Seq(16, 32, Dims)

  private val BitextK         = 4        // neighborhood size for margin scoring
  private val BitextMarginPpm = 1300000L // accept: top-1 ≥ 1.3× its neighborhood
  private val BitextRecallMax = 50L      // recall audit's exact-side src subset

  /** The two bitext collections: source = even vec_ids; target = odd
    * vec_ids ∪ 10 planted translations (perturbed copies of sources
    * 0..18, tgt_id = src_id + 500001). Shared by the miner and its
    * recall audit so both score the identical corpus. */
  private def bitextSides(s: SparkSession, dir: String): (DataFrame, DataFrame) = {
    val raw = s.read.parquet(s"$dir/embeddings.parquet")
    val srcV = raw.filter(col("vec_id") % 2 === 0)
      .select(col("vec_id").as("src_id"), toDouble(col("embedding")).as("v"))
    val tgtV = raw.filter(col("vec_id") % 2 === 1)
      .select(col("vec_id").as("tgt_id"), toDouble(col("embedding")).as("v"))
      .unionByName(raw.filter(col("vec_id") % 2 === 0 && col("vec_id") < 20)
        .select((col("vec_id") + 500001L).as("tgt_id"),
          transform(col("embedding"),
            (x, i) => x.cast("double") + lit(0.005) * ((i % 5) - 2).cast("double")).as("v")))
    (srcV, tgtV)
  }

  /** TRAINED coarse quantizer: Lloyd's k-means iterations in the integer
    * quantized space (VectorKernels.quantize), so every step — distance,
    * per-dimension sum, floor-mean — is exact int64 and order-independent,
    * which is what makes a trained codebook ORACLE-CHECKABLE (float means
    * are summation-order-dependent and diverge across engines).
    *
    * Shape is the canonical k-means-on-Spark: centroids live on the
    * driver (k×dims longs — tiny) and ship into each assignment pass as
    * literals; the per-iteration update is one distributed
    * cell×dimension aggregation collected back (k·dims rows). Empty
    * cells keep their previous centroid. Seeded init = the md5-derived
    * [[VectorKernels.intCentroid]]s, so both engines start identically.
    * Every query that needs the codebook trains it; sharing one across
    * queries is a durable build stage's job, not per-query state. */
  private def kmeansTrain(s: SparkSession, dir: String): IndexedSeq[IndexedSeq[Long]] = {
    val qdf = s.read.parquet(s"$dir/embeddings.parquet")
      .select(col("vec_id"), quantize(col("embedding")).as("q")).cache()
    try lloyd(qdf, (0 until KmeansK).map(j => intCentroid(j, Dims).toIndexedSeq), Dims)
    finally { qdf.unpersist(); () }
  }

  /** [[KmeansIters]] exact-integer Lloyd rounds over the quantized `q`
    * column of `qdf`, from `init` (k centroids of `dims` longs). */
  private def lloyd(qdf: DataFrame, init: IndexedSeq[IndexedSeq[Long]],
      dims: Int): IndexedSeq[IndexedSeq[Long]] =
    (0 until KmeansIters).foldLeft(init) { (cents, _) =>
      val stats = withKmeansCell(qdf, cents)
        .select(col("cell"), posexplode(col("q")).as(Seq("pos", "qi")))
        .groupBy(col("cell"), col("pos"))
        .agg(sum(col("qi")).as("s"), count(lit(1)).as("n"))
        .collect()
      // collect guard: the collect is bounded by k·dims BY
      // CONSTRUCTION (cell × pos rollup); a future k/dims bump that
      // silently turns this into a data-sized collect must fail loudly
      require(stats.length <= cents.length * dims,
        s"Lloyd round collected ${stats.length} rows > k*dims (${cents.length * dims})")
      val byCell = stats.groupBy(_.getAs[Long]("cell"))
      cents.indices.map { j =>
        byCell.get(j.toLong) match {
          case Some(rows) =>
            val arr = Array.fill(dims)(0L)
            rows.foreach { r =>
              // floor division (Math.floorDiv == SQL floor(s/n)) — NOT
              // truncation: engines disagree on negative int division
              arr(r.getAs[Int]("pos")) =
                Math.floorDiv(r.getAs[Long]("s"), r.getAs[Long]("n"))
            }
            arr.toIndexedSeq
          case None => cents(j)
        }
      }
    }

  /** Seeded init for PQ subspace m, code j — disjoint from the coarse
    * codebook's seed range so the two codebooks are independent. */
  private def pqInit(m: Int, j: Int): IndexedSeq[Long] =
    intCentroid(100 * (m + 1) + j, PqSub).toIndexedSeq

  /** Product-quantization codebooks: [[PqM]] subspaces of [[PqSub]] dims,
    * [[PqK]] codes each, trained by the same exact-integer Lloyd loop as
    * [[kmeansTrain]] but per quantized SUBvector — so the full PQ
    * index-build is oracle-checkable (the DuckDB twin unrolls both
    * iterations per subspace over list slices). A query trains the
    * codebooks once and passes them to every code-assignment step. */
  private def pqTrain(s: SparkSession, dir: String): IndexedSeq[IndexedSeq[IndexedSeq[Long]]] = {
    val qdf = s.read.parquet(s"$dir/embeddings.parquet")
      .select(col("vec_id"), quantize(col("embedding")).as("qf")).cache()
    try (0 until PqM).map { m =>
      lloyd(qdf.select(col("vec_id"), slice(col("qf"), m * PqSub + 1, PqSub).as("q")),
        (0 until PqK).map(pqInit(m, _)), PqSub)
    } finally { qdf.unpersist(); () }
  }

  /** Runs `f` over `df` plus the squared distances from quantized `qcol`
    * to each literal centroid, projected ONCE as named columns
    * `<prefix>kd<j>` and dropped after `f` (the IVF lesson: conditional
    * branches are not subexpression-eliminated, so inlining the 64-dim
    * folds into every `when` of an argmin would evaluate each ~3x per
    * row; a multi-referenced non-trivial named column also blocks
    * CollapseProject from re-inlining). */
  private def withDistances(df: DataFrame, qcol: String,
      cents: IndexedSeq[IndexedSeq[Long]], prefix: String)(
      f: (DataFrame, IndexedSeq[Column]) => DataFrame): DataFrame = {
    val names = cents.indices.map(j => s"${prefix}kd$j")
    val withD = cents.indices.foldLeft(df)((d, j) =>
      d.withColumn(names(j), intDist2(col(qcol), cents(j))))
    f(withD, names.map(col)).drop(names: _*)
  }

  /** Appends `codeName` (the nearest of `cents` to quantized `qcol`,
    * first-wins, so the smallest code on ties) and `distName` (its
    * squared distance). Output columns are CALLER-NAMED because PQ
    * needs the assignment twice in one frame, once per subspace. */
  private def withCodeCol(df: DataFrame, qcol: String,
      cents: IndexedSeq[IndexedSeq[Long]],
      codeName: String, distName: String): DataFrame =
    withDistances(df, qcol, cents, s"${codeName}_") { (d, ds) =>
      val (code, dmin) = argmin(ds)
      d.withColumn(codeName, code).withColumn(distName, dmin)
    }

  /** Quantized corpus with both PQ subvector columns. */
  private def pqVectors(s: SparkSession, dir: String): DataFrame =
    Par.fanOut(s.read.parquet(s"$dir/embeddings.parquet"))
      .select(col("vec_id"), quantize(col("embedding")).as("qf"))
      .withColumn("qlo", slice(col("qf"), 1, PqSub))
      .withColumn("qhi", slice(col("qf"), PqSub + 1, PqSub))

  /** Append both per-subspace PQ code assignments (code_lo/d_lo,
    * code_hi/d_hi) to any frame carrying qlo/qhi — THE single
    * code-assignment path: [[pqCodes]] (oracle-checked by
    * `ann_pq_codes`) and the IVF-PQ index build both route through it,
    * so the two cannot desync. Stays a narrow projection over the
    * caller's scan (no join, no extra shuffle). */
  private def withPqCodes(df: DataFrame, books: IndexedSeq[IndexedSeq[IndexedSeq[Long]]]): DataFrame =
    withCodeCol(withCodeCol(df, "qlo", books(0), "code_lo", "d_lo"),
      "qhi", books(1), "code_hi", "d_hi")

  /** Corpus PQ codes (vec_id, code_lo, d_lo, code_hi, d_hi) under `books`. */
  private def pqCodes(s: SparkSession, dir: String,
      books: IndexedSeq[IndexedSeq[IndexedSeq[Long]]]): DataFrame =
    withPqCodes(pqVectors(s, dir), books)
      .select(col("vec_id"), col("code_lo"), col("d_lo"), col("code_hi"), col("d_hi"))

  /** IVF-PQ search body (shared by `ann_ivfpq_topk` and its recall
    * audit): stored index = (vec_id, cell, code_lo, code_hi); query
    * probes its 2 nearest trained cells; candidates rank by broadcast-ADC
    * lookup. Exact int64 throughout, so the composite is oracle-exact. */
  private def ivfPqTopk(s: SparkSession, dir: String): DataFrame = {
    val cents = kmeansTrain(s, dir)
    val books = pqTrain(s, dir)
    val base  = pqVectors(s, dir).withColumn("q", col("qf"))
    // the stored index: 3 longs per corpus vector, nothing else ships;
    // codes come from the same assignment path ann_pq_codes certifies
    val idx = withPqCodes(withKmeansCell(base, cents), books)
      .select(col("vec_id"), col("cell"), col("code_lo"), col("code_hi"))
    val qf = withKmeansCell2(base, cents).filter(col("vec_id") < NQuery)
    val qprobes = qf.select(col("vec_id").as("query_id"),
      explode(array(col("cell"), col("cell2"))).as("cell"))
    val qsub = base.filter(col("vec_id") < NQuery).withColumnRenamed("vec_id", "query_id")
    val adc = idx.join(broadcast(qprobes), Seq("cell"))
      .filter(col("vec_id") =!= col("query_id"))
      .join(adcTable(qsub, "qlo", books(0), "code_lo", "pd_lo"), Seq("query_id", "code_lo"))
      .join(adcTable(qsub, "qhi", books(1), "code_hi", "pd_hi"), Seq("query_id", "code_hi"))
      .select(col("query_id"), col("vec_id").as("neighbor_id"),
        (col("pd_lo") + col("pd_hi")).as("adc"))
    val w = Window.partitionBy(col("query_id"))
      .orderBy(col("adc").asc, col("neighbor_id").asc)
    adc.withColumn("rank", row_number().over(w).cast("long"))
      .filter(col("rank") <= K)
      .select(col("query_id"), col("neighbor_id"), col("rank"), col("adc"))
  }

  /** Adds (cell, d2) to a frame carrying quantized `q`: the nearest of the
    * literal centroids (smallest cell id on ties) and its distance. */
  private def withKmeansCell(df: DataFrame,
      cents: IndexedSeq[IndexedSeq[Long]]): DataFrame =
    withCodeCol(df, "q", cents, "cell", "d2")

  /** [[withKmeansCell]] + the SECOND-nearest cell (`cell2`) for nprobe=2
    * probing: the chosen cell's distance is masked to Long.MaxValue and
    * the argmin re-run — identical tie-breaks to rank-2 of an ORDER BY
    * (distance, cell) ranking, which is what the oracle uses. */
  private def withKmeansCell2(df: DataFrame,
      cents: IndexedSeq[IndexedSeq[Long]]): DataFrame =
    withDistances(df, "q", cents, "cell_") { (d, ds) =>
      val masked = ds.zipWithIndex.map { case (dj, j) =>
        when(lit(j.toLong) === col("cell"), lit(Long.MaxValue)).otherwise(dj)
      }
      d.withColumn("cell", argmin(ds)._1).withColumn("cell2", argmin(masked)._1)
    }

  /** Corpus projection with the vector norm precomputed once per vector,
    * for [[qcos]]. */
  private def emb(s: SparkSession, dir: String): DataFrame =
    Par.fanOut(s.read.parquet(s"$dir/embeddings.parquet"))
      .select(col("vec_id"), col("label"), toDouble(col("embedding")).as("v"))
      .withColumn("nrm", norm(col("v")))

  /** Corpus row count (drives the index-size rules; parquet metadata count,
    * one cheap job). */
  private def corpusN(s: SparkSession, dir: String): Long =
    s.read.parquet(s"$dir/embeddings.parquet").count()

  /** SQ8 codebook + codes: L2-normalize (IEEE-exact both engines),
    * quantize to the shared ×2000 int space, then scale each dimension to
    * an 8-bit code against the per-dimension corpus (min, range). The
    * stats are ONE posexplode aggregation collapsing to [[Dims]] rows —
    * collected as driver literals, the trained-codebook discipline
    * (`kmeansTrain`): at 100 TB the stats pass is a map-side-combined
    * 64-row rollup you run once and ship with the index. Code arithmetic
    * is exact int64 end-to-end: the scale step divides after subtracting
    * the remainder, so the double division is of an exactly-divisible
    * pair (≤2^53) and both engines floor identically.
    *
    * Scoring uses the DECODED reconstruction `d[i] = mn[i]·255 + c[i]·rng[i]`
    * (the quantized value held ×255 so it stays integral), NOT the raw
    * code dot product: codes are affine-shifted all-nonnegative, so raw
    * ⟨c_q, c_c⟩ is dominated by the per-dimension mean terms and ranks
    * near-randomly (measured recall 0.04) — the reason FAISS ADC decodes
    * against the codebook instead of dotting codes. Max |d| ≈ 1.5e6, so a
    * 64-dim dot is ≤ ~1.4e14 ≪ 2^63 — exact. */
  private def sqCodes(s: SparkSession, dir: String): DataFrame = {
    val qz = emb(s, dir).select(col("vec_id"),
      quantize(transform(col("v"), x => x / col("nrm"))).as("q"))
    // per-dim (min, range) training stats: ≤ Dims rows, collected
    val st = qz.select(posexplode(col("q")).as(Seq("i", "x")))
      .groupBy(col("i")).agg(min(col("x")).as("mn"), max(col("x")).as("mx"))
      .orderBy(col("i")).collect()
    require(st.length <= Dims, // bounded-collect guard (the Lloyd-round rule)
      s"sqCodes collected ${st.length} rows > Dims ($Dims)")
    val mins = st.map(_.getLong(1)).toSeq
    val rngs = st.map(r => math.max(1L, r.getLong(2) - r.getLong(1))).toSeq
    qz.select(col("vec_id"), transform(col("q"), (x, i) => {
      val d = (x - element_at(typedLit(mins), i + 1)) * 255L
      val r = element_at(typedLit(rngs), i + 1)
      ((d - d % r) / r).cast("long") // exact: numerator divisible by r
    }).as("c"))
      .withColumn("d", transform(col("c"), (x, i) =>
        element_at(typedLit(mins), i + 1) * 255L +
          x * element_at(typedLit(rngs), i + 1)))
  }

  /** Integer dot product of two decoded SQ8 lists (≤ ~1.4e14 ≪ 2^63). */
  private def sqDot(a: org.apache.spark.sql.Column, b: org.apache.spark.sql.Column) =
    aggregate(zip_with(a, b, (x, y) => x * y), lit(0L), (acc, x) => acc + x)

  /** The broadcast-probe pair cosine: query vector `qv` and norm `qn`
    * against corpus vector `v` and norm `nrm`. */
  private[graft] val qcos: Column =
    cosineWithNorms(col("qv"), col("v"), col("qn"), col("nrm"))

  /** Per-query top-`k` of a (query_id, neighbor_id, cos) frame. Ranks on
    * the UNROUNDED cosine, descending, ties to the smaller neighbor_id —
    * the oracles' `ORDER BY cos DESC, neighbor_id ASC`, so a tie at the
    * k boundary cuts identically in both engines — and rounds `cos` to 4
    * places only after ranking. A window over the query partition, never
    * a global sort. Output (query_id, neighbor_id, rank, cos). */
  private[graft] def topk(pairs: DataFrame, k: Int): DataFrame = {
    val w = Window.partitionBy(col("query_id")).orderBy(col("cos").desc, col("neighbor_id").asc)
    pairs.withColumn("rank", row_number().over(w).cast("long"))
      .filter(col("rank") <= k)
      .select(col("query_id"), col("neighbor_id"), col("rank"), round(col("cos"), 4).as("cos"))
  }

  /** Recall@[[K]] of ranked neighbor lists: each (query_id, neighbor_id)
    * row of `base` is a hit iff `probe` holds the same pair, rolled up per
    * (query_id, `by`…) to `hits` and `recall` = hits / K (4 places). A
    * left join from `base`, so a query with no overlap reads recall 0;
    * with K rows per query on both sides either list may be the base.
    * Touches ids only, never vectors. */
  private[graft] def recallAtK(base: DataFrame, probe: DataFrame, by: String*): DataFrame = {
    val ids = Seq("query_id", "neighbor_id")
    base.select((ids ++ by).map(col): _*)
      .join(probe.select(ids.map(col): _*).withColumn("m", lit(1)), ids, "left")
      .groupBy(("query_id" +: by).map(col): _*)
      .agg(count(col("m")).as("hits"), round(count(col("m")) / lit(K.toDouble), 4).as("recall"))
  }

  /** The PQ asymmetric-distance (ADC) table of one subspace: per query
    * of `q` (carrying `query_id` and the exact quantized subvector column
    * `sub`), one row per code of `book` with its squared distance —
    * (query_id, `code`, `dist`). Queries × PqK rows (M × 256 per query in
    * production), so it is BROADCAST: the corpus scan then ranks by two
    * dictionary joins and one add per row, touching only the code table,
    * never a float vector. */
  private[graft] def adcTable(q: DataFrame, sub: String, book: IndexedSeq[IndexedSeq[Long]],
      code: String, dist: String): DataFrame =
    broadcast(q.select(col("query_id"), explode(array(book.indices.map(c =>
        struct(lit(c.toLong).as(code), intDist2(col(sub), book(c)).as(dist))): _*)).as("x"))
      .select(col("query_id"), col(s"x.$code").as(code), col(s"x.$dist").as(dist)))

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    // Exact ANN baseline: broadcast the query set, scan the corpus once.
    "ann_bruteforce_topk" -> ((s, dir) => {
      val e = emb(s, dir)
      val q = e.filter(col("vec_id") < NQuery)
        .select(col("vec_id").as("query_id"), col("v").as("qv"), col("nrm").as("qn"))
      val pairs = e.join(broadcast(q), col("vec_id") =!= col("query_id"))
        .select(col("query_id"), col("vec_id").as("neighbor_id"), qcos.as("cos"))
      topk(pairs, K)
    }),

    // Hard-negative mining for contrastive training (the batch job behind
    // every embedding-model finetune at scale): for each probe, the top-K
    // most-similar DIFFERENT-label vectors (the hard negatives) annotated
    // with the probe's best same-label positive and the triplet verdict —
    // is_hard = negative at least as close as the positive (margin ≤ 0,
    // the pairs a triplet loss actually learns from). One broadcast-probe
    // corpus scan computes every pair cosine once; positives are a
    // per-query max (argmax via the same deterministic window discipline
    // as topk), negatives a per-query top-K. Comparisons happen on the
    // round-4 values both engines already agree on bit-for-bit.
    "q_hard_negatives" -> ((s, dir) => {
      val e = emb(s, dir)
      val q = e.filter(col("vec_id") < NQuery)
        .select(col("vec_id").as("query_id"), col("label").as("qlabel"),
          col("v").as("qv"), col("nrm").as("qn"))
      val pairs = e.join(broadcast(q), col("vec_id") =!= col("query_id"))
        .select(col("query_id"), col("qlabel"), col("vec_id").as("neighbor_id"),
          col("label"), round(qcos, 4).as("cos"))
      val wPos = Window.partitionBy(col("query_id"))
        .orderBy(col("cos").desc, col("neighbor_id").asc)
      val pos = pairs.filter(col("label") === col("qlabel"))
        .withColumn("r", row_number().over(wPos)).filter(col("r") === 1)
        .select(col("query_id"), col("neighbor_id").as("pos_id"), col("cos").as("cos_pos"))
      val neg = pairs.filter(col("label") =!= col("qlabel"))
        .withColumn("rank", row_number().over(wPos).cast("long"))
        .filter(col("rank") <= K)
        .select(col("query_id"), col("neighbor_id"), col("label"), col("rank"),
          col("cos").as("cos_neg"))
      neg.join(broadcast(pos), Seq("query_id"))
        .withColumn("is_hard", col("cos_neg") >= col("cos_pos"))
        .select(col("query_id"), col("rank"), col("neighbor_id"), col("label"),
          col("cos_neg"), col("pos_id"), col("cos_pos"), col("is_hard"))
    }),

    // Per-vector LSH bucket assignment + bucket histogram (the index build;
    // also the skew observable: max bucket size is the quantity that must
    // stay ~corpus/2^planes at scale).
    "ann_lsh_buckets" -> ((s, dir) => {
      val planes = planesFor(corpusN(s, dir))
      emb(s, dir).withColumn("bucket", lshBucket(col("v"), planes, Dims))
        .groupBy(col("bucket"))
        .agg(count(lit(1)).as("n_vectors"), min(col("vec_id")).as("min_vec_id"))
    }),

    // IVF-style ANN: coarse-quantize the corpus into cells (nearest of
    // cellsFor(n) deterministic centroids), probe the query's 2 nearest
    // cells. Distances are projected ONCE as named columns d0..d{c-1};
    // argmin/arg-second read the attributes (codegen does not hoist
    // conditionally-evaluated subtrees, so inlining the folds into every
    // `when` branch cost ~70 fold evaluations per row).
    "ann_ivf_topk" -> ((s, dir) => {
      val cells = cellsFor(corpusN(s, dir))
      val e = withCellDistances(emb(s, dir), "v", cells, Dims)
        .withColumn("cell", cellFromDistances(cells))
      val q = e.filter(col("vec_id") < NQuery)
        .withColumn("cell2", secondCellFromDistances(cells, col("cell")))
        .select(col("vec_id").as("query_id"), col("v").as("qv"), col("nrm").as("qn"),
          col("cell").as("cell1"), col("cell2"))
      val probes = q.select(col("query_id"), col("qv"), col("qn"),
        explode(array(col("cell1"), col("cell2"))).as("cell"))
      // corpus side narrowed back to (cell, id, v, nrm) — the distance
      // columns never enter the join
      val pairs = e.select(col("cell"), col("vec_id"), col("v"), col("nrm"))
        .join(broadcast(probes), Seq("cell"))
        .filter(col("vec_id") =!= col("query_id"))
        .select(col("query_id"), col("vec_id").as("neighbor_id"), qcos.as("cos"))
      topk(pairs, K)
    }),

    // LSH-bucketed ANN: candidates restricted to the query's bucket.
    "ann_lsh_topk" -> ((s, dir) => {
      val planes = planesFor(corpusN(s, dir))
      val b = emb(s, dir).withColumn("bucket", lshBucket(col("v"), planes, Dims))
      val q = b.filter(col("vec_id") < NQuery)
        .select(col("vec_id").as("query_id"), col("v").as("qv"), col("nrm").as("qn"),
          col("bucket"))
      val pairs = b.join(broadcast(q), Seq("bucket"))
        .filter(col("vec_id") =!= col("query_id"))
        .select(col("query_id"), col("vec_id").as("neighbor_id"), qcos.as("cos"))
      topk(pairs, K)
    }),

    // TRAINED coarse quantizer: k-means (2 Lloyd iterations, integer
    // quantized space, seeded init) → per-vector cell assignment + exact
    // integer distance. This closes the "production IVF trains its
    // codebook" gap: the same cell-probe ANN shape as ann_ivf_topk now
    // runs against DATA-ADAPTED centroids, and the whole training loop is
    // oracle-checked (the DuckDB twin unrolls both Lloyd iterations in
    // SQL — exactness is only possible because the space is integer).
    "ann_kmeans_cells" -> ((s, dir) => {
      val cents = kmeansTrain(s, dir)
      val qdf = s.read.parquet(s"$dir/embeddings.parquet")
        .select(col("vec_id"), quantize(col("embedding")).as("q"))
      withKmeansCell(qdf, cents).select(col("vec_id"), col("cell"), col("d2"))
    }),

    // Top principal direction by POWER ITERATION over the uncentered
    // second-moment matrix M = Σ_x x·xᵀ (the spectral core of embedding
    // whitening / PCA-based dimensionality audits): v_{t+1} = M·v_t is
    // computed WITHOUT materializing M — per row the scalar s = x·v_t,
    // then a per-dimension sum of x_d·s, which is the only shape that
    // survives 10^12 rows (M itself is dims² and never exists). Two
    // unrolled iterations from v0 = 1⃗ in the integer quantized space, so
    // every sum is exact int64 and order-independent (the trained-k-means
    // rule — float power iteration is summation-order-dependent and
    // cross-engine unverifiable). Between passes the iterate is rescaled
    // DIVISION-FIRST (v ÷ max(1, max|v|÷PowScale), a sign-correct floor)
    // — bounding it to ±PowScale without ever multiplying first, so the
    // next pass's per-row term |q_d·(q·v)| stays ≤ dims·16000²·PowScale
    // regardless of corpus size; the iterate itself is driver-shaped data
    // (dims longs, the codebook discipline) shipped back as a literal.
    // Scale shape: each pass is one narrow scan + a dims-row groupBy —
    // nothing corpus-sized shuffles; rounds are O(1) driver collects.
    "ann_power_iteration" -> ((s, dir) => {
      val qdf = emb2(s, dir)
      def pass(inner: org.apache.spark.sql.Column): DataFrame = qdf
        .select(posexplode(col("q")).as(Seq("pos", "qi")), inner.as("sx"))
        .groupBy(col("pos")).agg(sum(col("qi") * col("sx")).as("v"))
      def rescale(v: Array[Long]): IndexedSeq[Long] = {
        val g = math.max(1L, v.map(math.abs).max / PowScale)
        v.map(Math.floorDiv(_, g)).toIndexedSeq
      }
      val v1 = Array.fill(Dims)(0L)
      pass(aggregate(col("q"), lit(0L), (a, x) => a + x))
        .collect().foreach(r => v1(r.getAs[Int]("pos")) = r.getAs[Long]("v"))
      val v1q = rescale(v1)
      val v2f = pass(aggregate(zip_with(col("q"), typedLit(v1q), (x, y) => x * y),
        lit(0L), (a, x) => a + x))
      val g2 = v2f.agg(greatest(expr(s"max(abs(v)) div $PowScale"), lit(1L)).as("g"))
      v2f.crossJoin(broadcast(g2))
        .select(col("pos").cast("long").as("pos"),
          element_at(typedLit(v1q), col("pos").cast("int") + 1).as("v1q"),
          expr("(v - pmod(v, g)) div g").as("v2q"))
    }),

    // IVF cell-balance audit — the index-health report a production ANN
    // deployment watches continuously (FAISS's "imbalance factor"): query
    // latency under an inverted-file index is driven by the HOTTEST cell
    // a query probes, so a codebook whose cells drift unbalanced (data
    // drift after training) silently turns O(N/k) probes into O(N).
    // Reports per-cell mass + share, the global imbalance factor
    // IF = k·Σnᵢ²/N² in ppm (1.0 = perfectly balanced; FAISS re-trains
    // above ~1.5–2), and the empty-cell count (wasted codebook capacity).
    // Trains the same codebook as ann_kmeans_cells — the audit rides the
    // same assignment pass the index build already runs. Scale shape: one
    // narrow assignment scan → k-row partial agg; the k-row frame
    // cross-joins its own 1-row rollup. All integer-exact.
    "ann_cell_balance" -> ((s, dir) => {
      val cents = kmeansTrain(s, dir)
      val cells = withKmeansCell(emb2(s, dir), cents)
        .groupBy(col("cell")).agg(count(lit(1)).as("n_vecs"))
      val tot = cells.agg(sum(col("n_vecs")).as("n"),
          sum(col("n_vecs") * col("n_vecs")).as("sq"),
          count(lit(1)).as("present"))
      cells.crossJoin(broadcast(tot))
        .select(col("cell"), col("n_vecs"),
          expr("n_vecs * 1000000 div n").as("share_ppm"),
          expr(s"$KmeansK * sq * 1000000 div (n * n)").as("imbalance_ppm"),
          (lit(KmeansK.toLong) - col("present")).as("n_empty"))
    }),

    // Greedy k-center coreset (Gonzalez 1985 farthest-first traversal,
    // the 2-approximation) — the diversity-SELECTION dual of
    // dedup_semantic's redundancy REMOVAL, and the geometric core of
    // embedding-based data-pruning recipes: pick the doc farthest from
    // everything picked so far, k times. All distances are exact int64
    // in the quantized space, so the trace is hash-exact cross-engine;
    // ties break to the smallest vec_id. Output = the selection trace
    // (round, center, its distance-to-selected at pick time — a
    // decreasing sequence the spec asserts) plus a final row carrying
    // the k-center OBJECTIVE (covering radius after k centers). Scale
    // shape: k linear scans, each a running-min column update against a
    // BROADCAST literal center + a TakeOrdered(1) argmax — the canonical
    // k-center schedule; the driver touches k single-row collects (like
    // the k-means codebook, centers ARE driver-shaped data). The state
    // chain is k chained column ops over one cached (id, q) frame — at
    // 100 TB each round persists its mind column to storage instead.
    "q_coreset_kcenter" -> ((s, dir) => {
      import s.implicits._
      val qe = emb2(s, dir).cache()
      val seed = qe.orderBy(col("vec_id")).limit(1).collect()(0)
      var centerQ: Seq[Long] = seed.getSeq[Long](1)
      val picks = scala.collection.mutable.ArrayBuffer[(Long, Long, Long)](
        (0L, seed.getLong(0), 0L))
      var state = qe.withColumn("mind", lit(Long.MaxValue))
      for (r <- 1L until CoresetK) {
        state = state.withColumn("mind",
          least(col("mind"), intDist2c(col("q"), typedLit(centerQ))))
        val top = state.orderBy(col("mind").desc, col("vec_id"))
          .limit(1).collect()(0)
        picks += ((r, top.getLong(0), top.getLong(2)))
        centerQ = top.getSeq[Long](1)
      }
      val radius = state.withColumn("mind",
          least(col("mind"), intDist2c(col("q"), typedLit(centerQ))))
        .agg(max(col("mind"))).head().getLong(0)
      picks += ((CoresetK.toLong, -1L, radius))
      qe.unpersist()
      picks.toSeq.toDF("round", "vec_id", "sel_d2")
    }),

    // Product-quantization index build (Jégou et al. 2011): each vector
    // compresses to one code per subspace — here 64 dims → (code_lo,
    // code_hi), the 100 TB move that turns a petabyte of float32
    // embeddings into a table small enough to scan for every query.
    // Codebooks are trained per subspace by the same exact-integer Lloyd
    // loop as the coarse quantizer (the DuckDB twin unrolls
    // both iterations over list SLICES), and d_lo/d_hi expose the
    // per-subspace quantization error — the index-quality observable a
    // production build monitors before swapping a codebook in.
    "ann_pq_codes" -> ((s, dir) => pqCodes(s, dir, pqTrain(s, dir))),

    // PQ search with asymmetric distance computation (ADC): the query
    // stays EXACT (quantized subvectors), the corpus is its codes, and
    // the distance is dist(q_lo, book[code_lo]) + dist(q_hi,
    // book[code_hi]) — looked up in the broadcast [[adcTable]]s, not
    // computed. Ranking is by exact int64 ADC distance (ascending, id
    // tie-break), which is what makes a trained-quantizer SEARCH path
    // hash-exact across engines.
    "ann_pq_topk" -> ((s, dir) => {
      val books = pqTrain(s, dir)
      val codes = pqCodes(s, dir, books).select(col("vec_id"), col("code_lo"), col("code_hi"))
      val q = pqVectors(s, dir).filter(col("vec_id") < NQuery)
        .withColumnRenamed("vec_id", "query_id")
      val adc = codes
        .join(adcTable(q, "qlo", books(0), "code_lo", "pd_lo"), Seq("code_lo"))
        .join(adcTable(q, "qhi", books(1), "code_hi", "pd_hi"), Seq("query_id", "code_hi"))
        .filter(col("vec_id") =!= col("query_id"))
        .select(col("query_id"), col("vec_id").as("neighbor_id"),
          (col("pd_lo") + col("pd_hi")).as("adc"))
      val w = Window.partitionBy(col("query_id"))
        .orderBy(col("adc").asc, col("neighbor_id").asc)
      adc.withColumn("rank", row_number().over(w).cast("long"))
        .filter(col("rank") <= K)
        .select(col("query_id"), col("neighbor_id"), col("rank"), col("adc"))
    }),

    // Semantic dedup (SemDeDup, Abbas et al. 2023): near-duplicate
    // detection by clustering + within-cluster comparison, here in the
    // HIERARCHICAL shape that survives scale — the trained k-means
    // codebook (the same one the IVF search ships) as the coarse level,
    // a corpus-scaling sign-LSH bucket with hamming-1 multiprobe as the
    // fine level. Pure within-cell pairwise cosine is the paper's
    // configuration but is Σ|cell|²·dims work (MEASURED 34 s at sf0.1
    // with k=8 — the quadratic the fine level removes); candidates here
    // are (same cell ∧ same-or-one-flip bucket), so pairs ∝ corpus, and
    // survivors are still exact-cosine verified, so precision is exact.
    // Corpus = the planted-perturbation corpus the LSH dedup path uses
    // (comparable ground truth); a planted pair is missed only if the
    // perturbation crosses a CELL boundary or ≥2 hyperplanes (the spec
    // pins recall ≥ 85%, same observable discipline as the LSH path).
    "dedup_semantic" -> ((s, dir) => {
      val cents  = kmeansTrain(s, dir) // trained on the base corpus
      val e0     = s.read.parquet(s"$dir/embeddings.parquet")
      val planes = planesFor(2L * e0.count())
      val base = e0.select(col("vec_id"), toDouble(col("embedding")).as("v"))
      val pert = e0.select((col("vec_id") + 100000L).as("vec_id"),
        transform(col("embedding"), (x, i) => x.cast("double") + lit(0.01) * ((i % 3) - 1)).as("v"))
      val all = Par.fanOut(base.unionByName(pert))
      // candidate generation on (id, cell, bucket) longs only — cached:
      // both join sides read the keys, and without the cache the 8
      // distance folds + the planes×64-dim bucket fold run twice over the
      // corpus (the embeddingNearDups lesson; evicted by the caller's
      // clearCache — at scale cell and bucket are stored index columns)
      val keys = withKmeansCell(all.withColumn("q", quantize(col("v"))), cents)
        .withColumn("bkt", lshBucket(col("v"), planes, Dims))
        .select(col("vec_id"), col("cell"), col("bkt")).cache()
      val flips = (0 until planes).map(j => col("bkt").bitwiseXOR(lit(1L << j)))
      val probes = keys.select(col("vec_id"), col("cell"),
        explode(array(col("bkt") +: flips: _*)).as("pb"))
      val cand = probes.join(
          keys.select(col("vec_id").as("vec_b"), col("cell").as("cell_r"),
            col("bkt").as("bkt_r")),
          col("pb") === col("bkt_r") && col("cell") === col("cell_r") &&
            col("vec_id") < col("vec_b"))
        .select(col("vec_id").as("vec_a"), col("vec_b"), col("cell"))
      // the vector side never pays the assignment: it only carries
      // (id, v) for the exact verify of banding survivors
      Dedup.verifyCosinePairs(cand, all, 0.99)
    }),

    // The trained codebook powering the actual SEARCH path: same
    // cell-probe ANN shape as ann_ivf_topk (query probes its 2 nearest
    // cells, exact cosine on candidates, broadcast probe side), but
    // against the k-means-trained cells instead of the fixed seeded
    // codebook — index build and search are now both oracle-checked.
    "ann_ivf_trained_topk" -> ((s, dir) => {
      val cents = kmeansTrain(s, dir)
      val e = withKmeansCell2(
        emb(s, dir).withColumn("q", quantize(col("v"))), cents)
      val q = e.filter(col("vec_id") < NQuery)
        .select(col("vec_id").as("query_id"), col("v").as("qv"), col("nrm").as("qn"),
          explode(array(col("cell"), col("cell2"))).as("cell"))
      val pairs = e.select(col("cell"), col("vec_id"), col("v"), col("nrm"))
        .join(broadcast(q), Seq("cell"))
        .filter(col("vec_id") =!= col("query_id"))
        .select(col("query_id"), col("vec_id").as("neighbor_id"), qcos.as("cos"))
      topk(pairs, K)
    }),

    // IVF-PQ composite search (Jégou et al. 2011, the FAISS `IVFx,PQy`
    // production shape): the trained coarse codebook partitions the
    // corpus into cells, each vector is stored ONLY as its PQ codes, and
    // a query (a) probes its 2 nearest cells and (b) ranks the probed
    // candidates by broadcast-ADC lookup — never touching a float vector
    // on the corpus side. This is the 100 TB memory story end-to-end:
    // the stored index row is (cell, code_lo, code_hi) = 3 longs per
    // vector (M bytes in production), the cell probe prunes the scan to
    // nprobe/k of the corpus (partition-pruned when the index is written
    // bucketed-by-cell), and the per-query work is two dictionary joins
    // against M×k broadcast distance tables. Both codebooks are the
    // exact-integer Lloyd trainings the standalone IVF and PQ
    // paths already oracle-check, so the composite stays hash-exact:
    // the DuckDB twin chains both unrolled trainings and mirrors the
    // probe + ADC joins. Cells partition the corpus and (cell, cell2)
    // are distinct, so a candidate joins at most one probe row — no
    // dedup pass.
    "ann_ivfpq_topk" -> ((s, dir) => ivfPqTopk(s, dir)),

    // Recall@k of the IVF-PQ path against the exact float baseline — the
    // observable that prices the composite's BOTH approximations (cell
    // pruning + code quantization) in one number, the figure a production
    // index sweep tunes (nprobe, M, k) against.
    "ann_ivfpq_recall" -> ((s, dir) =>
      recallAtK(queries("ann_bruteforce_topk")(s, dir), ivfPqTopk(s, dir))),

    // Multi-probe LSH ANN: the query probes its own bucket PLUS every
    // hamming-1 bucket (one flipped hyperplane sign) — the standard
    // recall-raising move for a sign-LSH index (near neighbors straddling
    // ONE hyperplane are recovered; candidate cost grows only
    // (planes+1)x on the tiny broadcast query side, the corpus is still
    // scanned once and joined on its single bucket key). Probe buckets
    // are pairwise distinct, so a corpus vector joins at most one probe
    // row per query — no dedup pass needed.
    "ann_multiprobe_topk" -> ((s, dir) => {
      val planes = planesFor(corpusN(s, dir))
      val b = emb(s, dir).withColumn("bucket", lshBucket(col("v"), planes, Dims))
      val flips = (0 until planes).map(j => col("bucket").bitwiseXOR(lit(1L << j)))
      val q = b.filter(col("vec_id") < NQuery)
        .select(col("vec_id").as("query_id"), col("v").as("qv"), col("nrm").as("qn"),
          explode(array(col("bucket") +: flips: _*)).as("bucket"))
      val pairs = b.join(broadcast(q), Seq("bucket"))
        .filter(col("vec_id") =!= col("query_id"))
        .select(col("query_id"), col("vec_id").as("neighbor_id"), qcos.as("cos"))
      topk(pairs, K)
    }),

    // Recall@k of the approximate (LSH) path against the exact baseline —
    // the quality observable every approximate index must ship with: at
    // 100 TB you cannot eyeball neighbor lists, you track recall on a
    // query sample.
    "ann_recall" -> ((s, dir) =>
      recallAtK(queries("ann_bruteforce_topk")(s, dir), queries("ann_lsh_topk")(s, dir))),

    // Matryoshka truncation audit (Kusupati et al. 2022): recall@K of
    // brute-force search over PREFIX-truncated embeddings (dims 16, 32,
    // and full 64 as the =1.0 sanity level) against the full-dim exact
    // top-K. The planning curve behind every "serve the first p dims"
    // decision — MRL-trained embeddings front-load information, so a
    // shorter prefix buys a dims/p scan-cost reduction at the recall
    // printed here; the same audit shape prices any truncation (trained
    // or not). Scale: per level one broadcast-probe corpus scan over
    // sliced vectors (narrower than the full scan — slicing happens
    // before the join), K·|probes| rows after ranking.
    "ann_matryoshka_recall" -> ((s, dir) => {
      val e = emb(s, dir)
      val exact = queries("ann_bruteforce_topk")(s, dir)
      val levels = MrlLevels.map { p =>
        val ev = e.select(col("vec_id"), slice(col("v"), 1, p).as("v"))
          .withColumn("nrm", norm(col("v")))
        val q = ev.filter(col("vec_id") < NQuery)
          .select(col("vec_id").as("query_id"), col("v").as("qv"), col("nrm").as("qn"))
        val pairs = ev.join(broadcast(q), col("vec_id") =!= col("query_id"))
          .select(col("query_id"), col("vec_id").as("neighbor_id"), qcos.as("cos"))
        topk(pairs, K).select(col("query_id"), col("neighbor_id"))
          .withColumn("dims_kept", lit(p.toLong))
      }
      recallAtK(levels.reduce(_ unionByName _), exact, "dims_kept")
    }),

    // PQ retrieve + exact re-rank — the shape a production PQ deployment
    // actually ships, audited on planted ground truth. Pure ADC ranking
    // cannot resolve exact top-K on a near-uniform corpus (pairwise
    // distances concentrate; quantization noise swamps the margins —
    // measured: recall@5 ≈ 0 even at M=8/k=64), and no production system
    // asks it to: ADC is the CANDIDATE GENERATOR (top-[[PqRerank]] by
    // table lookup over the compressed codes), and the top-K comes from
    // an exact re-rank that fetches raw vectors for only those R ids.
    // The audit probes are perturbed copies of known vectors (the
    // dedup_semantic plant — real near-neighbor structure, the regime an
    // ANN index exists for), encoded ASYMMETRICALLY (query exact, corpus
    // codes), and the output answers, per probe: did the compressed
    // index keep the true neighbor in its R candidates, and where did
    // the re-rank put it. Scale: the re-rank joins queries×R ids against
    // the id-partitioned corpus — the "fetch R raw vectors" story, never
    // a corpus scan.
    "ann_pq_rerank" -> ((s, dir) => {
      val books = pqTrain(s, dir)
      val codes = pqCodes(s, dir, books).select(col("vec_id"), col("code_lo"), col("code_hi"))
      val probes = s.read.parquet(s"$dir/embeddings.parquet")
        .filter(col("vec_id") < NQuery)
        .select((col("vec_id") + 100000L).as("query_id"), col("vec_id").as("golden"),
          quantize(transform(col("embedding"),
            (x, i) => x.cast("double") + lit(0.01) * ((i % 3) - 1).cast("double"))).as("qf"))
        .withColumn("qlo", slice(col("qf"), 1, PqSub))
        .withColumn("qhi", slice(col("qf"), PqSub + 1, PqSub))
      val adc = codes
        .join(adcTable(probes, "qlo", books(0), "code_lo", "pd_lo"), Seq("code_lo"))
        .join(adcTable(probes, "qhi", books(1), "code_hi", "pd_hi"), Seq("query_id", "code_hi"))
        .select(col("query_id"), col("vec_id"), (col("pd_lo") + col("pd_hi")).as("adc"))
      val wA = Window.partitionBy(col("query_id"))
        .orderBy(col("adc").asc, col("vec_id").asc)
      val cand = adc.withColumn("crank", row_number().over(wA))
        .filter(col("crank") <= PqRerank).select(col("query_id"), col("vec_id"))
      val rer = pqVectors(s, dir).select(col("vec_id"), col("qf").as("cqf"))
        .join(broadcast(cand), Seq("vec_id"))
        .join(broadcast(probes.select(col("query_id"), col("golden"), col("qf"))),
          Seq("query_id"))
        .withColumn("d2", intDist2c(col("qf"), col("cqf")))
        .withColumn("rank", row_number().over(Window.partitionBy(col("query_id"))
          .orderBy(col("d2").asc, col("vec_id").asc)).cast("long"))
      rer.groupBy(col("query_id"), col("golden"))
        .agg(max(when(col("vec_id") === col("golden"), 1L).otherwise(0L)).as("ic"),
          min(when(col("vec_id") === col("golden"), col("rank"))).as("grank"))
        .select(col("query_id"), col("golden"),
          (col("ic") === 1L).as("in_candidates"),
          coalesce(col("grank"), lit(-1L)).as("golden_rank"),
          (coalesce(col("grank"), lit(Long.MaxValue)) <= K).as("found_at_k"))
    }),

    // Margin-based bitext mining (parallel-corpus discovery, the
    // CCMatrix/WikiMatrix shape: Artetxe & Schwenk 2019 ratio margin):
    // two embedding collections — "source" = even vec_ids, "target" =
    // odd vec_ids ∪ 10 planted translations (perturbed copies of source
    // vectors 0..18, tgt_id = src_id + 500001) — are aligned by taking,
    // per source vector, its best target neighbor and scoring it by the
    // RATIO of its similarity to the mean of the rest of the local
    // neighborhood (top-[[BitextK]] candidates). A translation pair is
    // far above its neighborhood (margin >> 1); a random nearest
    // neighbor is not (margin ≈ 1) — absolute cosine thresholds cannot
    // make that distinction, which is why margin scoring is the
    // published method. Scale shape: candidates come from a sign-LSH
    // bucket equi-join (source probes own + hamming-1 buckets, the
    // multiprobe move above) — never source×target; the margin is a
    // per-source window over its own candidates. Cross-engine
    // exactness: similarities become integer micro-points
    // (floor(1e6·(1+cos)) — shifted so the scale is sign-free), the
    // margin is pure int64 ((n-1)·s1·1e6 div Σrest), and single-
    // candidate sources (no neighborhood evidence) fall back to an
    // absolute shifted-cosine test at 1.9e6 (cos ≥ 0.9).
    "q_bitext_mine" -> ((s, dir) => {
      val (srcV, tgtV) = bitextSides(s, dir)
      val planes = planesFor(corpusN(s, dir))
      // both sides read twice (bucket-key join, then vector fetch for
      // survivors); cached like embeddingNearDups' keys — at scale the
      // bucket is a stored index column, computed never
      val sb = srcV.withColumn("bkt", lshBucket(col("v"), planes, Dims))
        .withColumn("nrm", norm(col("v"))).cache()
      val tb = tgtV.withColumn("bkt", lshBucket(col("v"), planes, Dims))
        .withColumn("nrm", norm(col("v"))).cache()
      val flips = (0 until planes).map(j => col("bkt").bitwiseXOR(lit(1L << j)))
      // probe explode ships (id, bucket) longs only; vectors join back by
      // unique id for banding survivors — the embeddingNearDups discipline
      val probes = sb.select(col("src_id"),
        explode(array(col("bkt") +: flips: _*)).as("pb"))
      val cand = probes.join(tb.select(col("tgt_id"), col("bkt").as("tbkt")),
          col("pb") === col("tbkt"))
        .select(col("src_id"), col("tgt_id"))
      val scored = cand
        .join(sb.select(col("src_id"), col("v").as("sv"), col("nrm").as("sn")), Seq("src_id"))
        .join(tb.select(col("tgt_id"), col("v").as("tv"), col("nrm").as("tn")), Seq("tgt_id"))
        .select(col("src_id"), col("tgt_id"),
          floor(lit(1e6) * (lit(1.0) + cosineWithNorms(col("sv"), col("tv"), col("sn"), col("tn"))))
            .cast("long").as("s"))
      val w  = Window.partitionBy(col("src_id")).orderBy(col("s").desc, col("tgt_id").asc)
      val rk = scored.withColumn("rn", row_number().over(w).cast("long"))
        .filter(col("rn") <= BitextK)
      rk.groupBy(col("src_id")).agg(
          count(lit(1)).as("n_topk"), sum(col("s")).as("sum_s"),
          max(when(col("rn") === 1, col("tgt_id"))).as("tgt_id"),
          max(when(col("rn") === 1, col("s"))).as("s1"))
        .select(col("src_id"), col("tgt_id"), col("s1").as("cos_shift_scaled"), col("n_topk"),
          when(col("n_topk") > 1,
            expr("((n_topk - 1) * s1 * 1000000) div (sum_s - s1)"))
            .otherwise(lit(1000000L)).as("margin_ppm"))
        .withColumn("accepted",
          (col("n_topk") > 1 && col("margin_ppm") >= BitextMarginPpm) ||
            (col("n_topk") === 1 && col("cos_shift_scaled") >= 1900000L))
    }),

    // Recall audit for the bitext miner — `ann_recall`'s role for the
    // cross-lingual path: on a source subset, the EXACT best target (a
    // broadcast brute-force argmax over the whole target side) is
    // compared against what the LSH-probed miner surfaced; hit = the
    // miner's top-1 equals the exact top-1, miss rows keep the exact
    // answer so the gap is inspectable. At 100 TB this runs on a sampled
    // source slice exactly like this — you track the recall number, the
    // bucketed miner does the work.
    "q_bitext_recall" -> ((s, dir) => {
      val (srcV, tgtV) = bitextSides(s, dir)
      val probe = srcV.filter(col("src_id") < BitextRecallMax)
        .withColumn("sn", norm(col("v")))
        .select(col("src_id"), col("v").as("sv"), col("sn"))
      val corpus = tgtV.withColumn("tn", norm(col("v")))
      val scored = corpus.crossJoin(broadcast(probe))
        .select(col("src_id"), col("tgt_id"),
          floor(lit(1e6) * (lit(1.0) + cosineWithNorms(col("sv"), col("v"), col("sn"), col("tn"))))
            .cast("long").as("s"))
      val w = Window.partitionBy(col("src_id")).orderBy(col("s").desc, col("tgt_id").asc)
      val exact = scored.withColumn("rn", row_number().over(w)).filter(col("rn") === 1)
        .select(col("src_id"), col("tgt_id").as("exact_tgt"), col("s").as("exact_s"))
      val mined = queries("q_bitext_mine")(s, dir)
        .filter(col("src_id") < BitextRecallMax)
        .select(col("src_id"), col("tgt_id").as("mined_tgt"))
      exact.join(mined, Seq("src_id"), "left")
        .select(col("src_id"), col("exact_tgt"), col("exact_s"), col("mined_tgt"),
          coalesce(col("mined_tgt") === col("exact_tgt"), lit(false)).as("hit"))
    }),

    // SQ8 (scalar-quantized) search — the OTHER classic point on the
    // compression/recall curve next to PQ: normalize, snap every
    // dimension to an 8-bit code against per-dimension corpus (min, max),
    // rank by the integer dot product of the DECODED codes (see
    // [[sqCodes]] for why raw code-dot mis-ranks). 4 bytes/dim float32 →
    // 1 byte/dim stored, so the corpus scan reads 4× less (the reason
    // FAISS/Lucene default to SQ8 before PQ); unlike PQ there is no
    // codebook train and decode is per-element arithmetic against the
    // 64-entry (min, range) table shipped as literals, so the whole path
    // stays int64-exact cross-engine. Scale: stats = one 64-row rollup
    // you run once with the index build; search = the broadcast-probe
    // corpus scan over the NARROW codes column; ranking = the same
    // per-query window as every top-k here. Normalized inputs make
    // decoded-dot ≈ cosine, so the recall audit below is apples-to-apples
    // against the exact baseline.
    // The stored index itself, flattened to scalar rows so the oracle
    // hash pins every byte: code ∈ [0, 255] by construction (the 4×
    // compression observable), decoded = the int64 reconstruction the
    // search ranks with.
    "ann_sq_codes" -> ((s, dir) =>
      sqCodes(s, dir).select(col("vec_id"),
          posexplode(arrays_zip(col("c"), col("d"))).as(Seq("i", "cd")))
        .select(col("vec_id"), col("i").cast("long").as("i"),
          col("cd.c").as("code"), col("cd.d").as("decoded"))),

    "ann_sq_topk" -> ((s, dir) => {
      val c = sqCodes(s, dir)
      val q = c.filter(col("vec_id") < NQuery)
        .select(col("vec_id").as("query_id"), col("d").as("qd"))
      val pairs = c.join(broadcast(q), col("vec_id") =!= col("query_id"))
        .select(col("query_id"), col("vec_id").as("neighbor_id"),
          sqDot(col("qd"), col("d")).as("score"))
      val w = Window.partitionBy(col("query_id"))
        .orderBy(col("score").desc, col("neighbor_id").asc)
      pairs.withColumn("rank", row_number().over(w).cast("long"))
        .filter(col("rank") <= K)
        .select(col("query_id"), col("neighbor_id"), col("rank"), col("score"))
    }),

    // Recall@K of the SQ8 path against the exact cosine baseline — the
    // observable that prices the 4× compression (ann_recall's role for
    // the quantized index).
    "ann_sq_recall" -> ((s, dir) =>
      recallAtK(queries("ann_bruteforce_topk")(s, dir), queries("ann_sq_topk")(s, dir))))

  // --- DuckDB oracles -----------------------------------------------------
  // The index sizes are the same integer CASE rules over count(*), cross-
  // joined in as `prm(np, nc)`, so one static SQL text tracks any corpus.

  private val dkCos = Dk.cosine("q.v", "c.v", Dims)
  private val dkEmb = "SELECT vec_id, label, [x::DOUBLE for x in embedding] AS v FROM embeddings"
  private val dkPrm =
    s"""prm AS (SELECT ${Dk.planesCase("n")} AS np, ${Dk.cellsCase("n")} AS nc
       |  FROM (SELECT count(*)::BIGINT AS n FROM embeddings))""".stripMargin
  private val dkBktDyn = Dk.lshBucketDyn("v", "np", Dims, MaxPlanes)

  private val dkBruteforce =
    s"""WITH e AS ($dkEmb),
       |pairs AS (
       |  SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id, $dkCos AS cos
       |  FROM e q JOIN e c ON q.vec_id < $NQuery AND c.vec_id <> q.vec_id),
       |ranked AS (
       |  SELECT query_id, neighbor_id, cos,
       |    row_number() OVER (PARTITION BY query_id ORDER BY cos DESC, neighbor_id ASC) AS rank
       |  FROM pairs)
       |SELECT query_id, neighbor_id, rank, round(cos, 4) AS cos
       |FROM ranked WHERE rank <= $K""".stripMargin

  private val dkLshTopk =
    s"""WITH e AS ($dkEmb), $dkPrm,
       |b AS (SELECT vec_id, v, $dkBktDyn AS bucket FROM e, prm),
       |pairs AS (
       |  SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id, $dkCos AS cos
       |  FROM b q JOIN b c ON q.bucket = c.bucket
       |  WHERE q.vec_id < $NQuery AND c.vec_id <> q.vec_id),
       |ranked AS (
       |  SELECT query_id, neighbor_id, cos,
       |    row_number() OVER (PARTITION BY query_id ORDER BY cos DESC, neighbor_id ASC) AS rank
       |  FROM pairs)
       |SELECT query_id, neighbor_id, rank, round(cos, 4) AS cos
       |FROM ranked WHERE rank <= $K""".stripMargin

  /** Unrolled-Lloyd CTE chain (e, c0, a0, c1, a1, c2): assignment =
    * row_number over (dist, cell) — identical to the Spark first-wins
    * argmin because distances are exact integers; update =
    * per-(cell, dimension) integer sums + floor(s/n) mean; empty cells
    * coalesce to the previous codebook. `e` carries both the double
    * vectors (for downstream cosine) and the quantized lists. */
  private def dkKmeansChain: String = {
    val c0rows = (0 until KmeansK)
      .map(j => s"($j, ${intCentroid(j, Dims).mkString("[", ",", "]")})").mkString(",\n    ")
    def assign(prevC: String, out: String) =
      s"""$out AS (SELECT vec_id, q, cell FROM (
         |  SELECT e.vec_id, e.q, c.cell,
         |    row_number() OVER (PARTITION BY e.vec_id
         |      ORDER BY ${Dk.intDist2("e.q", "c.c", Dims)}, c.cell) AS rn
         |  FROM e, $prevC c) WHERE rn = 1)""".stripMargin
    def update(a: String, prevC: String, out: String) =
      s"""${out}s AS (
         |  SELECT cell, i, sum(q[i])::BIGINT AS s, count(*)::BIGINT AS n
         |  FROM $a, generate_series(1, $Dims) t(i) GROUP BY 1, 2),
         |${out}v AS (
         |  -- exact int64 floor division (== Math.floorDiv): subtract the
         |  -- floor-mod first so the truncating // divides exactly — going
         |  -- through DOUBLE would lose integer precision past 2^53
         |  SELECT cell, list(((s - ((s % n + n) % n)) // n)::BIGINT ORDER BY i) AS c
         |  FROM ${out}s GROUP BY cell),
         |$out AS (SELECT p.cell, coalesce(v.c, p.c) AS c
         |  FROM $prevC p LEFT JOIN ${out}v v ON p.cell = v.cell)""".stripMargin
    s"""e AS (SELECT vec_id, [x::DOUBLE for x in embedding] AS v,
       |  ${Dk.quantize("embedding", Dims)} AS q FROM embeddings),
       |c0 AS (SELECT * FROM (VALUES
       |    $c0rows) t(cell, c)),
       |${assign("c0", "a0")},
       |${update("a0", "c0", "c1")},
       |${assign("c1", "a1")},
       |${update("a1", "c1", "c2")},
       |ad AS (SELECT e.vec_id, e.v, c.cell, ${Dk.intDist2("e.q", "c.c", Dims)} AS d2,
       |  row_number() OVER (PARTITION BY e.vec_id
       |    ORDER BY ${Dk.intDist2("e.q", "c.c", Dims)}, c.cell) AS rn
       |  FROM e, c2 c)""".stripMargin
  }

  /** One PQ subspace's unrolled Lloyd chain ([[dkKmeansChain]] with
    * parameterized CTE prefix, base table, dims and seeded init — two of
    * these share one WITH clause). Ends in `${p}ad` (assignment ranking:
    * rn=1 row = the code). */
  private def dkPqSubChain(p: String, base: String, m: Int): String = {
    val c0rows = (0 until PqK)
      .map(j => s"($j, ${pqInit(m, j).mkString("[", ",", "]")})").mkString(",\n    ")
    def assign(prevC: String, out: String) =
      s"""$out AS (SELECT vec_id, q, cell FROM (
         |  SELECT e.vec_id, e.q, c.cell,
         |    row_number() OVER (PARTITION BY e.vec_id
         |      ORDER BY ${Dk.intDist2("e.q", "c.c", PqSub)}, c.cell) AS rn
         |  FROM $base e, $prevC c) WHERE rn = 1)""".stripMargin
    def update(a: String, prevC: String, out: String) =
      s"""${out}s AS (
         |  SELECT cell, i, sum(q[i])::BIGINT AS s, count(*)::BIGINT AS n
         |  FROM $a, generate_series(1, $PqSub) t(i) GROUP BY 1, 2),
         |${out}v AS (
         |  SELECT cell, list(((s - ((s % n + n) % n)) // n)::BIGINT ORDER BY i) AS c
         |  FROM ${out}s GROUP BY cell),
         |$out AS (SELECT p.cell, coalesce(v.c, p.c) AS c
         |  FROM $prevC p LEFT JOIN ${out}v v ON p.cell = v.cell)""".stripMargin
    s"""${p}c0 AS (SELECT * FROM (VALUES
       |    $c0rows) t(cell, c)),
       |${assign(s"${p}c0", s"${p}a0")},
       |${update(s"${p}a0", s"${p}c0", s"${p}c1")},
       |${assign(s"${p}c1", s"${p}a1")},
       |${update(s"${p}a1", s"${p}c1", s"${p}c2")},
       |${p}ad AS (SELECT e.vec_id, c.cell, ${Dk.intDist2("e.q", "c.c", PqSub)} AS d2,
       |  row_number() OVER (PARTITION BY e.vec_id
       |    ORDER BY ${Dk.intDist2("e.q", "c.c", PqSub)}, c.cell) AS rn
       |  FROM $base e, ${p}c2 c)""".stripMargin
  }

  /** Full PQ chain: quantize, slice into the two subspaces, train both
    * codebooks, and emit the per-vector `codes` table. */
  private def dkPqChain: String =
    s"""eq AS (SELECT vec_id, ${Dk.quantize("embedding", Dims)} AS qf FROM embeddings),
       |le AS (SELECT vec_id, qf[1:$PqSub] AS q FROM eq),
       |he AS (SELECT vec_id, qf[${PqSub + 1}:$Dims] AS q FROM eq),
       |${dkPqSubChain("l", "le", 0)},
       |${dkPqSubChain("h", "he", 1)},
       |codes AS (
       |  SELECT l.vec_id, l.cell::BIGINT AS code_lo, l.d2 AS d_lo,
       |    h.cell::BIGINT AS code_hi, h.d2 AS d_hi
       |  FROM (SELECT * FROM lad WHERE rn = 1) l
       |  JOIN (SELECT * FROM had WHERE rn = 1) h USING (vec_id))""".stripMargin

  /** The per-query ADC dictionary CTEs (query subvectors + the two
    * subspace distance tables) — the fragment every PQ-flavoured oracle
    * needs verbatim; one definition so an ADC-shape edit cannot desync
    * [[dkPqSearchChain]] from [[dkIvfPqTopk]]. */
  private def dkAdcDict: String =
    s"""qs AS (SELECT vec_id AS query_id, qf[1:$PqSub] AS qlo,
       |    qf[${PqSub + 1}:$Dims] AS qhi FROM eq WHERE vec_id < $NQuery),
       |dtlo AS (SELECT query_id, c.cell::BIGINT AS code_lo,
       |    ${Dk.intDist2("qs.qlo", "c.c", PqSub)} AS pd_lo FROM qs, lc2 c),
       |dthi AS (SELECT query_id, c.cell::BIGINT AS code_hi,
       |    ${Dk.intDist2("qs.qhi", "c.c", PqSub)} AS pd_hi FROM qs, hc2 c)""".stripMargin

  /** PQ chain + the ADC search CTEs, ending in `pqr` (per-query ADC
    * ranking) — shared by the search oracle and its recall audit. */
  private def dkPqSearchChain: String =
    s"""$dkPqChain,
       |$dkAdcDict,
       |adcx AS (
       |  SELECT dtlo.query_id, codes.vec_id AS neighbor_id,
       |    (pd_lo + pd_hi)::BIGINT AS adc
       |  FROM codes
       |  JOIN dtlo ON dtlo.code_lo = codes.code_lo
       |  JOIN dthi ON dthi.query_id = dtlo.query_id AND dthi.code_hi = codes.code_hi
       |  WHERE codes.vec_id <> dtlo.query_id),
       |pqr AS (
       |  SELECT query_id, neighbor_id, adc,
       |    row_number() OVER (PARTITION BY query_id ORDER BY adc, neighbor_id) AS rank
       |  FROM adcx)""".stripMargin

  /** IVF-PQ twin: chain BOTH unrolled trainings (coarse `c2`/`ad` from
    * [[dkKmeansChain]], per-subspace `lc2`/`hc2`/`codes` from
    * [[dkPqChain]] — CTE namespaces are disjoint), then mirror the
    * 2-cell probe (rank-1/rank-2 rows of the assignment ranking, the
    * trained-IVF oracle's move) and the ADC dictionary joins. Full
    * WITH…SELECT, reusable as a CTE body by the recall audit. */
  private def dkIvfPqTopk: String =
    s"""WITH $dkKmeansChain,
       |$dkPqChain,
       |$dkAdcDict,
       |cells AS (SELECT vec_id, cell FROM ad WHERE rn = 1),
       |qp AS (SELECT vec_id AS query_id, cell FROM ad
       |  WHERE vec_id < $NQuery AND rn <= 2),
       |candx AS (
       |  SELECT qp.query_id, codes.vec_id, codes.code_lo, codes.code_hi
       |  FROM codes JOIN cells ON cells.vec_id = codes.vec_id
       |  JOIN qp ON qp.cell = cells.cell
       |  WHERE codes.vec_id <> qp.query_id),
       |adcx AS (
       |  SELECT candx.query_id, candx.vec_id AS neighbor_id,
       |    (pd_lo + pd_hi)::BIGINT AS adc
       |  FROM candx
       |  JOIN dtlo ON dtlo.query_id = candx.query_id
       |    AND dtlo.code_lo = candx.code_lo
       |  JOIN dthi ON dthi.query_id = candx.query_id
       |    AND dthi.code_hi = candx.code_hi),
       |ranked AS (
       |  SELECT query_id, neighbor_id, adc,
       |    row_number() OVER (PARTITION BY query_id
       |      ORDER BY adc, neighbor_id) AS rank
       |  FROM adcx)
       |SELECT query_id, neighbor_id, rank::BIGINT AS rank, adc
       |FROM ranked WHERE rank <= $K""".stripMargin

  /** SQ8 chain twin ([[sqCodes]]): normalize → shared ×2000 quantize →
    * per-dimension corpus (min, range) rollup → 8-bit codes; ends in
    * `codes(vec_id, c)`. The scale step mirrors the Spark expression
    * literally — subtract the remainder, then divide the now-exactly-
    * divisible pair. The numerator is ≥ 0 (mn is the corpus minimum), so
    * DuckDB's truncating `//` IS floor here and the codes are int64-exact
    * in both engines. */
  private def dkSqChain: String =
    s"""e AS ($dkEmb),
       |en AS (SELECT vec_id, v, ${Dk.norm("v", Dims)} AS nrm FROM e),
       |nv AS (SELECT vec_id,
       |    [v[i] / nrm for i in generate_series(1, $Dims)] AS w FROM en),
       |qz AS (SELECT vec_id, ${Dk.quantize("w", Dims)} AS q FROM nv),
       |st AS (SELECT i, min(q[i]) AS mn,
       |    greatest(1, max(q[i]) - min(q[i])) AS rng
       |  FROM qz, generate_series(1, $Dims) t(i) GROUP BY 1),
       |stl AS (SELECT list(mn ORDER BY i) AS mns,
       |    list(rng ORDER BY i) AS rngs FROM st),
       |codes AS (SELECT vec_id,
       |    [((q[i] - mns[i]) * 255 - ((q[i] - mns[i]) * 255) % rngs[i]) // rngs[i]
       |     for i in generate_series(1, $Dims)] AS c
       |  FROM qz, stl),
       |dec AS (SELECT vec_id,
       |    [mns[i] * 255 + c[i] * rngs[i] for i in generate_series(1, $Dims)] AS d
       |  FROM codes, stl)""".stripMargin

  /** Full SQ8 search SQL (integer decoded-code dot product, per-query
    * top-K) — the search oracle body, reused verbatim by the recall
    * audit. */
  private def dkSqTopk: String =
    s"""WITH $dkSqChain,
       |pairs AS (
       |  SELECT q.vec_id AS query_id, n.vec_id AS neighbor_id,
       |    list_reduce(list_prepend(0::BIGINT,
       |      [q.d[i] * n.d[i] for i in generate_series(1, $Dims)]),
       |      (a, b) -> a + b) AS score
       |  FROM dec q JOIN dec n ON q.vec_id < $NQuery AND n.vec_id <> q.vec_id),
       |ranked AS (
       |  SELECT query_id, neighbor_id, score,
       |    row_number() OVER (
       |      PARTITION BY query_id ORDER BY score DESC, neighbor_id ASC) AS rank
       |  FROM pairs)
       |SELECT query_id, neighbor_id, rank, score
       |FROM ranked WHERE rank <= $K""".stripMargin

  val oracles: Map[String, String] = Map(
    "ann_bruteforce_topk" -> dkBruteforce,
    "ann_pq_codes" ->
      s"""WITH $dkPqChain
         |SELECT vec_id, code_lo, d_lo, code_hi, d_hi FROM codes""".stripMargin,
    "ann_pq_topk" ->
      s"""WITH $dkPqSearchChain
         |SELECT query_id, neighbor_id, rank::BIGINT AS rank, adc
         |FROM pqr WHERE rank <= $K""".stripMargin,
    "ann_pq_rerank" ->
      s"""WITH $dkPqChain,
         |pqq AS (
         |  SELECT vec_id + 100000 AS query_id, vec_id AS golden,
         |    [embedding[i]::DOUBLE + 0.01 * (((i - 1) % 3) - 1)
         |     for i in generate_series(1, $Dims)] AS pv
         |  FROM embeddings WHERE vec_id < $NQuery),
         |pp AS (SELECT query_id, golden, ${Dk.quantize("pv", Dims)} AS qf FROM pqq),
         |pps AS (SELECT query_id, golden, qf, qf[1:$PqSub] AS qlo,
         |    qf[${PqSub + 1}:$Dims] AS qhi FROM pp),
         |pdtlo AS (SELECT query_id, c.cell::BIGINT AS code_lo,
         |    ${Dk.intDist2("pps.qlo", "c.c", PqSub)} AS pd_lo FROM pps, lc2 c),
         |pdthi AS (SELECT query_id, c.cell::BIGINT AS code_hi,
         |    ${Dk.intDist2("pps.qhi", "c.c", PqSub)} AS pd_hi FROM pps, hc2 c),
         |padc AS (
         |  SELECT pdtlo.query_id, codes.vec_id, (pd_lo + pd_hi)::BIGINT AS adc
         |  FROM codes
         |  JOIN pdtlo ON pdtlo.code_lo = codes.code_lo
         |  JOIN pdthi ON pdthi.query_id = pdtlo.query_id
         |    AND pdthi.code_hi = codes.code_hi),
         |cand AS (
         |  SELECT query_id, vec_id FROM (
         |    SELECT *, row_number() OVER (
         |      PARTITION BY query_id ORDER BY adc, vec_id) AS crank
         |    FROM padc) WHERE crank <= $PqRerank),
         |rer AS (
         |  SELECT c.query_id, c.vec_id,
         |    row_number() OVER (PARTITION BY c.query_id
         |      ORDER BY ${Dk.intDist2("p.qf", "e.qf", Dims)}, c.vec_id) AS rank
         |  FROM cand c JOIN eq e ON e.vec_id = c.vec_id
         |  JOIN pps p ON p.query_id = c.query_id)
         |SELECT p.query_id, p.golden,
         |  max(CASE WHEN r.vec_id = p.golden THEN 1 ELSE 0 END) = 1 AS in_candidates,
         |  coalesce(min(CASE WHEN r.vec_id = p.golden THEN r.rank END), -1)::BIGINT AS golden_rank,
         |  coalesce(min(CASE WHEN r.vec_id = p.golden THEN r.rank END), 9223372036854775807) <= $K AS found_at_k
         |FROM pps p JOIN rer r ON r.query_id = p.query_id
         |GROUP BY 1, 2""".stripMargin,
    "q_hard_negatives" ->
      s"""WITH e AS ($dkEmb),
         |pairs AS (
         |  SELECT q.vec_id AS query_id, q.label AS qlabel,
         |    c.vec_id AS neighbor_id, c.label, round($dkCos, 4) AS cos
         |  FROM e q JOIN e c ON q.vec_id < $NQuery AND c.vec_id <> q.vec_id),
         |pos AS (
         |  SELECT query_id, neighbor_id AS pos_id, cos AS cos_pos,
         |    row_number() OVER (PARTITION BY query_id
         |      ORDER BY cos DESC, neighbor_id ASC) AS r
         |  FROM pairs WHERE label = qlabel),
         |neg AS (
         |  SELECT query_id, neighbor_id, label, cos AS cos_neg,
         |    row_number() OVER (PARTITION BY query_id
         |      ORDER BY cos DESC, neighbor_id ASC) AS rank
         |  FROM pairs WHERE label <> qlabel)
         |SELECT n.query_id, n.rank::BIGINT AS rank, n.neighbor_id, n.label,
         |  n.cos_neg, p.pos_id, p.cos_pos, n.cos_neg >= p.cos_pos AS is_hard
         |FROM neg n JOIN (SELECT * FROM pos WHERE r = 1) p USING (query_id)
         |WHERE n.rank <= $K""".stripMargin,
    "ann_kmeans_cells" ->
      s"""WITH $dkKmeansChain
         |SELECT vec_id, cell, d2 FROM ad WHERE rn = 1""".stripMargin,
    "ann_cell_balance" ->
      s"""WITH $dkKmeansChain,
         |cz AS (SELECT cell, count(*)::BIGINT AS n_vecs
         |  FROM ad WHERE rn = 1 GROUP BY 1),
         |tot AS (SELECT sum(n_vecs)::BIGINT AS n,
         |    sum(n_vecs * n_vecs)::BIGINT AS sq, count(*)::BIGINT AS present
         |  FROM cz)
         |SELECT cell, n_vecs,
         |  (n_vecs * 1000000 // n)::BIGINT AS share_ppm,
         |  ($KmeansK * sq * 1000000 // (n * n))::BIGINT AS imbalance_ppm,
         |  ($KmeansK - present)::BIGINT AS n_empty
         |FROM cz, tot""".stripMargin,
    // both power-iteration passes unrolled; the inter-pass rescale is the
    // same division-first sign-correct floor as the Spark side (DuckDB //
    // truncates toward zero on negatives, so floor is emulated via the
    // pmod identity)
    "ann_power_iteration" ->
      s"""WITH qe AS (
         |  SELECT vec_id, ${Dk.quantize("embedding", Dims)} AS q FROM embeddings),
         |r1 AS (SELECT q,
         |    list_reduce(list_prepend(0::BIGINT, q), (a, b) -> a + b) AS sx
         |  FROM qe),
         |v1 AS (SELECT pos, sum(q[pos] * sx)::BIGINT AS v
         |  FROM r1, generate_series(1, $Dims) t(pos) GROUP BY 1),
         |g1 AS (SELECT greatest(max(abs(v)) // $PowScale, 1) AS g FROM v1),
         |v1q AS (SELECT pos, ((v - ((v % g + g) % g)) // g)::BIGINT AS vq
         |  FROM v1, g1),
         |vl AS (SELECT list(vq ORDER BY pos) AS l FROM v1q),
         |r2 AS (SELECT q, list_reduce(list_prepend(0::BIGINT,
         |    [q[i] * l[i] for i in generate_series(1, $Dims)]), (a, b) -> a + b) AS sx
         |  FROM qe, vl),
         |v2 AS (SELECT pos, sum(q[pos] * sx)::BIGINT AS v
         |  FROM r2, generate_series(1, $Dims) t(pos) GROUP BY 1),
         |g2 AS (SELECT greatest(max(abs(v)) // $PowScale, 1) AS g FROM v2)
         |SELECT (v2.pos - 1)::BIGINT AS pos, v1q.vq AS v1q,
         |  ((v2.v - ((v2.v % g + g) % g)) // g)::BIGINT AS v2q
         |FROM v2 JOIN v1q ON v1q.pos = v2.pos, g2""".stripMargin,
    // farthest-first traversal unrolled: round r's CTEs carry the
    // running min-distance (m_r), the argmax pick (p_r), and the picked
    // vector (c_r); sel_d2 is the distance AT pick time
    "q_coreset_kcenter" -> {
      // the 1-row center table cross-joins in (subqueries are illegal
      // inside DuckDB lambdas; a plain column is fine); every m_r is
      // MATERIALIZED — DuckDB inlines multiply-referenced CTEs, which
      // makes the round chain re-evaluate exponentially otherwise
      val rounds = (1 until CoresetK).map { r =>
        s"""m$r AS MATERIALIZED (SELECT vec_id, q,
           |  least(mind, ${Dk.intDist2("q", "cq", Dims)}) AS mind
           |  FROM m${r - 1}, (SELECT q AS cq FROM c${r - 1})),
           |p$r AS MATERIALIZED (SELECT vec_id, mind FROM m$r
           |  ORDER BY mind DESC, vec_id LIMIT 1),
           |c$r AS MATERIALIZED (SELECT m.q FROM m$r m JOIN p$r p ON m.vec_id = p.vec_id)""".stripMargin
      }.mkString(",\n")
      val trace = (1 until CoresetK).map { r =>
        s"SELECT $r::BIGINT AS round, (SELECT vec_id FROM p$r)::BIGINT AS vec_id, " +
          s"(SELECT mind FROM p$r)::BIGINT AS sel_d2"
      }.mkString("\nUNION ALL ")
      s"""WITH qe AS (SELECT vec_id, ${Dk.quantize("embedding", Dims)} AS q
         |  FROM embeddings),
         |c0 AS MATERIALIZED (
         |  SELECT q FROM qe WHERE vec_id = (SELECT min(vec_id) FROM qe)),
         |m0 AS MATERIALIZED (
         |  SELECT vec_id, q, 9223372036854775807 AS mind FROM qe),
         |$rounds
         |SELECT 0::BIGINT AS round, (SELECT min(vec_id) FROM qe)::BIGINT AS vec_id,
         |  0::BIGINT AS sel_d2
         |UNION ALL $trace
         |UNION ALL SELECT ${CoresetK}::BIGINT AS round, (-1)::BIGINT AS vec_id,
         |  (SELECT max(least(mind, ${Dk.intDist2("q", "cq", Dims)}))
         |   FROM m${CoresetK - 1},
         |     (SELECT q AS cq FROM c${CoresetK - 1}))::BIGINT AS sel_d2""".stripMargin
    },
    // trained codebook (the chain trains on the base corpus), then the
    // planted-perturbation corpus is ASSIGNED against c2 (mirror of the
    // Spark withKmeansCell tie-break: distance, then cell id), bucketed
    // by the corpus-scaling sign-LSH, and paired within
    // (cell ∧ own-or-hamming-1 bucket)
    "dedup_semantic" ->
      s"""WITH $dkKmeansChain,
         |pert AS (
         |  SELECT vec_id + 100000 AS vec_id,
         |    [embedding[i]::DOUBLE + 0.01 * (((i - 1) % 3) - 1)
         |     for i in generate_series(1, $Dims)] AS v
         |  FROM embeddings),
         |all2 AS (
         |  SELECT vec_id, v, q FROM e
         |  UNION ALL
         |  SELECT vec_id, v, ${Dk.quantize("v", Dims)} AS q FROM pert),
         |prm AS (SELECT ${Dk.planesCase("n")} AS np
         |  FROM (SELECT 2 * count(*)::BIGINT AS n FROM embeddings)),
         |asg AS (SELECT vec_id, v, cell,
         |    ${Dk.lshBucketDyn("v", "np", Dims)} AS bkt FROM (
         |  SELECT a.vec_id, a.v, c.cell,
         |    row_number() OVER (PARTITION BY a.vec_id
         |      ORDER BY ${Dk.intDist2("a.q", "c.c", Dims)}, c.cell) AS rn
         |  FROM all2 a, c2 c) , prm WHERE rn = 1),
         |sprobes AS (
         |  SELECT vec_id, cell,
         |    unnest(list_prepend(bkt,
         |      [xor(bkt, (1::BIGINT << j)) for j in generate_series(0, np - 1)])) AS pb
         |  FROM asg, prm),
         |scand AS (
         |  SELECT p.vec_id AS vec_a, c.vec_id AS vec_b, p.cell
         |  FROM sprobes p JOIN asg c ON p.pb = c.bkt AND p.cell = c.cell
         |    AND p.vec_id < c.vec_id)
         |SELECT vec_a, vec_b, s.cell,
         |  round(${Dk.cosine("l.v", "r.v", Dims)}, 4) AS cos
         |FROM scand s JOIN asg l ON l.vec_id = vec_a JOIN asg r ON r.vec_id = vec_b
         |WHERE round(${Dk.cosine("l.v", "r.v", Dims)}, 4) >= 0.99""".stripMargin,
    // rank-1/rank-2 rows of the same assignment ranking ARE (cell, cell2)
    // — same tie-breaks as the Spark masked-argmin (distance, then cell)
    "ann_ivf_trained_topk" ->
      s"""WITH $dkKmeansChain,
         |probes AS (
         |  SELECT vec_id AS query_id, v AS qv, cell FROM ad
         |  WHERE vec_id < $NQuery AND rn <= 2),
         |corpus AS (SELECT vec_id, v, cell FROM ad WHERE rn = 1),
         |pairs AS (
         |  SELECT p.query_id, c.vec_id AS neighbor_id,
         |    ${Dk.cosine("p.qv", "c.v", Dims)} AS cos
         |  FROM corpus c JOIN probes p ON c.cell = p.cell
         |  WHERE c.vec_id <> p.query_id),
         |ranked AS (
         |  SELECT query_id, neighbor_id, cos,
         |    row_number() OVER (PARTITION BY query_id ORDER BY cos DESC, neighbor_id ASC) AS rank
         |  FROM pairs)
         |SELECT query_id, neighbor_id, rank, round(cos, 4) AS cos
         |FROM ranked WHERE rank <= $K""".stripMargin,
    "ann_ivfpq_topk" -> dkIvfPqTopk,
    "ann_ivfpq_recall" ->
      s"""WITH bf AS ($dkBruteforce),
         |ap AS ($dkIvfPqTopk)
         |SELECT b.query_id, count(a.neighbor_id)::BIGINT AS hits,
         |  round(count(a.neighbor_id) / $K.0, 4) AS recall
         |FROM bf b LEFT JOIN ap a
         |  ON a.query_id = b.query_id AND a.neighbor_id = b.neighbor_id
         |GROUP BY 1""".stripMargin,
    "ann_multiprobe_topk" ->
      s"""WITH e AS ($dkEmb), $dkPrm,
         |b AS (SELECT vec_id, v, $dkBktDyn AS bucket FROM e, prm),
         |probes AS (
         |  SELECT vec_id AS query_id, v AS qv,
         |    unnest(list_prepend(bucket,
         |      [xor(bucket, (1::BIGINT << j)) for j in generate_series(0, np - 1)])) AS bucket
         |  FROM b, prm WHERE vec_id < $NQuery),
         |pairs AS (
         |  SELECT p.query_id, c.vec_id AS neighbor_id, ${Dk.cosine("p.qv", "c.v", Dims)} AS cos
         |  FROM b c JOIN probes p ON c.bucket = p.bucket
         |  WHERE c.vec_id <> p.query_id),
         |ranked AS (
         |  SELECT query_id, neighbor_id, cos,
         |    row_number() OVER (PARTITION BY query_id ORDER BY cos DESC, neighbor_id ASC) AS rank
         |  FROM pairs)
         |SELECT query_id, neighbor_id, rank, round(cos, 4) AS cos
         |FROM ranked WHERE rank <= $K""".stripMargin,
    "ann_lsh_buckets" ->
      s"""WITH e AS ($dkEmb), $dkPrm
         |SELECT $dkBktDyn AS bucket, count(*) AS n_vectors, min(vec_id) AS min_vec_id
         |FROM e, prm GROUP BY 1""".stripMargin,
    "ann_ivf_topk" -> {
      val dcols = (0 until MaxCells).map(j =>
        s"(CASE WHEN $j < nc THEN ${Dk.dist2("v", j, Dims)} ELSE 'infinity'::DOUBLE END) AS d$j")
        .mkString(",\n  ")
      val dmin = (0 until MaxCells).map(j => s"d$j").mkString("least(", ", ", ")")
      val cellCase = (0 until MaxCells).foldRight("-1") { case (j, acc) =>
        s"CASE WHEN d$j = $dmin THEN $j ELSE $acc END"
      }
      val mcols = (0 until MaxCells).map(j =>
        s"CASE WHEN $j = cell THEN 'infinity'::DOUBLE ELSE d$j END AS m$j").mkString(",\n  ")
      val mmin = (0 until MaxCells).map(j => s"m$j").mkString("least(", ", ", ")")
      val cell2Case = (0 until MaxCells).foldRight("-1") { case (j, acc) =>
        s"CASE WHEN m$j = $mmin THEN $j ELSE $acc END"
      }
      s"""WITH e AS ($dkEmb), $dkPrm,
         |d AS (SELECT vec_id, v,
         |  $dcols
         |FROM e, prm),
         |cls AS (SELECT vec_id, v, ($cellCase)::BIGINT AS cell,
         |  ${(0 until MaxCells).map(j => s"d$j").mkString(", ")} FROM d),
         |qm AS (SELECT vec_id, v, cell,
         |  $mcols
         |FROM cls WHERE vec_id < $NQuery),
         |q AS (SELECT vec_id AS query_id, v AS qv, cell AS cell1,
         |  ($cell2Case)::BIGINT AS cell2 FROM qm),
         |probes AS (
         |  SELECT query_id, qv, cell1 AS cell FROM q
         |  UNION ALL
         |  SELECT query_id, qv, cell2 AS cell FROM q),
         |pairs AS (
         |  SELECT p.query_id, c.vec_id AS neighbor_id, ${Dk.cosine("p.qv", "c.v", Dims)} AS cos
         |  FROM cls c JOIN probes p ON c.cell = p.cell
         |  WHERE c.vec_id <> p.query_id),
         |ranked AS (
         |  SELECT query_id, neighbor_id, cos,
         |    row_number() OVER (PARTITION BY query_id ORDER BY cos DESC, neighbor_id ASC) AS rank
         |  FROM pairs)
         |SELECT query_id, neighbor_id, rank, round(cos, 4) AS cos
         |FROM ranked WHERE rank <= $K""".stripMargin
    },
    "ann_lsh_topk" -> dkLshTopk,
    // The two top-k SQLs verbatim as CTE bodies (DuckDB scopes their
    // inner WITHs per subquery), joined on exact-side rows.
    "ann_recall" ->
      s"""WITH bf AS ($dkBruteforce),
         |ap AS ($dkLshTopk)
         |SELECT b.query_id, count(a.neighbor_id)::BIGINT AS hits,
         |  round(count(a.neighbor_id) / $K.0, 4) AS recall
         |FROM bf b LEFT JOIN ap a
         |  ON a.query_id = b.query_id AND a.neighbor_id = b.neighbor_id
         |GROUP BY 1""".stripMargin,

    // Matryoshka twin: per level a truncated-cosine brute-force top-K
    // (Dk.cosine over the first p dims — the list prefix), unioned and
    // scored against the full-dim exact rows.
    "ann_matryoshka_recall" -> {
      val level = (p: Int) =>
        s"""SELECT query_id, neighbor_id, $p::BIGINT AS dims_kept FROM (
           |  SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
           |    row_number() OVER (PARTITION BY q.vec_id
           |      ORDER BY ${Dk.cosine("q.v", "c.v", p)} DESC, c.vec_id ASC) AS rank
           |  FROM e q JOIN e c ON q.vec_id < $NQuery AND c.vec_id <> q.vec_id)
           |WHERE rank <= $K""".stripMargin
      s"""WITH e AS ($dkEmb),
         |bf AS ($dkBruteforce),
         |tr AS (
         |${MrlLevels.map(level).mkString("\nUNION ALL\n")})
         |SELECT t.query_id, t.dims_kept, count(b.neighbor_id)::BIGINT AS hits,
         |  round(count(b.neighbor_id) / $K.0, 4) AS recall
         |FROM tr t LEFT JOIN bf b
         |  ON b.query_id = t.query_id AND b.neighbor_id = t.neighbor_id
         |GROUP BY 1, 2""".stripMargin
    },

    // Bitext mining twin: same collections, same corpus-scaling planes,
    // same own+hamming-1 probe set, same integer margin arithmetic.
    "q_bitext_mine" ->
      s"""WITH $dkBitextChain
         |SELECT src_id, tgt_id, cos_shift_scaled, n_topk, margin_ppm,
         |  ((n_topk > 1 AND margin_ppm >= $BitextMarginPpm)
         |    OR (n_topk = 1 AND cos_shift_scaled >= 1900000)) AS accepted
         |FROM m""".stripMargin,

    // Recall audit twin: the mined chain verbatim plus an exact
    // brute-force argmax over the source subset.
    "q_bitext_recall" ->
      s"""WITH $dkBitextChain,
         |ex AS (
         |  SELECT q.src_id, t.tgt_id,
         |    floor(1000000 * (1.0 + ${Dk.cosine("q.v", "t.v", Dims)}))::BIGINT AS s
         |  FROM src q JOIN tgt t ON q.src_id < $BitextRecallMax),
         |exr AS (
         |  SELECT src_id, tgt_id AS exact_tgt, s AS exact_s FROM (
         |    SELECT *, row_number() OVER (
         |      PARTITION BY src_id ORDER BY s DESC, tgt_id) AS rn
         |    FROM ex) WHERE rn = 1)
         |SELECT exr.src_id, exr.exact_tgt, exr.exact_s,
         |  m.tgt_id AS mined_tgt,
         |  coalesce(m.tgt_id = exr.exact_tgt, false) AS hit
         |FROM exr LEFT JOIN m
         |  ON m.src_id = exr.src_id AND m.src_id < $BitextRecallMax""".stripMargin,

    "ann_sq_codes" ->
      s"""WITH $dkSqChain
         |SELECT codes.vec_id, i - 1 AS i, c[i] AS code, d[i] AS decoded
         |FROM codes JOIN dec ON codes.vec_id = dec.vec_id,
         |  generate_series(1, $Dims) t(i)""".stripMargin,

    "ann_sq_topk" -> dkSqTopk,

    // SQ8 recall twin — same shape as ann_recall: the two top-k SQLs
    // verbatim as CTE bodies, left-joined from the exact side.
    "ann_sq_recall" ->
      s"""WITH bf AS ($dkBruteforce),
         |ap AS ($dkSqTopk)
         |SELECT b.query_id, count(a.neighbor_id)::BIGINT AS hits,
         |  round(count(a.neighbor_id) / $K.0, 4) AS recall
         |FROM bf b LEFT JOIN ap a
         |  ON a.query_id = b.query_id AND a.neighbor_id = b.neighbor_id
         |GROUP BY 1""".stripMargin)

  /** Shared oracle CTE chain for the bitext pair: collections → planes →
    * buckets → own+hamming-1 probes → candidate scores → per-source top-k
    * margin table `m` (and `src`/`tgt` for the exact side). */
  private def dkBitextChain: String =
    s"""src AS (
       |  SELECT vec_id AS src_id, [x::DOUBLE for x in embedding] AS v
       |  FROM embeddings WHERE vec_id % 2 = 0),
       |tgt AS (
       |  SELECT vec_id AS tgt_id, [x::DOUBLE for x in embedding] AS v
       |  FROM embeddings WHERE vec_id % 2 = 1
       |  UNION ALL
       |  SELECT vec_id + 500001 AS tgt_id,
       |    [embedding[i]::DOUBLE + 0.005 * (((i - 1) % 5) - 2)
       |     for i in generate_series(1, $Dims)] AS v
       |  FROM embeddings WHERE vec_id % 2 = 0 AND vec_id < 20),
       |prm AS (SELECT ${Dk.planesCase("n")} AS np
       |  FROM (SELECT count(*)::BIGINT AS n FROM embeddings)),
       |sb AS (SELECT src_id, v, $dkBktDyn AS bkt FROM src, prm),
       |tb AS (SELECT tgt_id, v, $dkBktDyn AS bkt FROM tgt, prm),
       |probes AS (
       |  SELECT src_id, v, unnest(list_prepend(bkt,
       |    [xor(bkt, (1::BIGINT << j)) for j in generate_series(0, np - 1)])) AS pb
       |  FROM sb, prm),
       |sc AS (
       |  SELECT q.src_id, t.tgt_id,
       |    floor(1000000 * (1.0 + ${Dk.cosine("q.v", "t.v", Dims)}))::BIGINT AS s
       |  FROM probes q JOIN tb t ON q.pb = t.bkt),
       |rk AS (
       |  SELECT *, row_number() OVER (
       |    PARTITION BY src_id ORDER BY s DESC, tgt_id)::BIGINT AS rn
       |  FROM sc),
       |top AS (
       |  SELECT src_id, count(*)::BIGINT AS n_topk, sum(s)::BIGINT AS sum_s,
       |    max(CASE WHEN rn = 1 THEN tgt_id END)::BIGINT AS tgt_id,
       |    max(CASE WHEN rn = 1 THEN s END)::BIGINT AS s1
       |  FROM rk WHERE rn <= $BitextK GROUP BY 1),
       |m AS (
       |  SELECT src_id, tgt_id, s1 AS cos_shift_scaled, n_topk,
       |    (CASE WHEN n_topk > 1
       |      THEN ((n_topk - 1) * s1 * 1000000) // (sum_s - s1)
       |      ELSE 1000000 END)::BIGINT AS margin_ppm
       |  FROM top)""".stripMargin
}
