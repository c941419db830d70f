package graft.operators

import graft.functions.TextKernels._
import graft.functions.VectorKernels
import org.apache.spark.sql.{Column, DataFrame, Row, SparkSession, classic}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{LongType, StructField, StructType}

/** Deduplication operators for the training-data pipeline: exact,
  * MinHash+LSH, SimHash, n-gram Jaccard, and embedding-cosine near-dup.
  *
  * Scale design (the part that matters at 100 TB):
  *  - nothing here ever compares all pairs: candidate generation is always
  *    a shuffle-on-bucket-key equi-join (LSH band hash, simhash band, or
  *    label bucket), so the cost is Σ bucket² not corpus²;
  *  - signatures (8 minhashes / one 64-bit simhash / one bucket id) are
  *    the only payload shuffled for candidate generation; full shingle
  *    sets are re-joined by doc_id only for the candidates that survive
  *    banding;
  *  - everything is built-ins (HOFs + md5) → whole-stage codegen, and
  *    every hash is engine-portable, so each query has an exact DuckDB
  *    oracle.
  *
  * The sf corpora carry no real duplicates, so the pair-producing queries
  * plant them: corpus ∪ a perturbed copy (one appended token / a tiny
  * vector perturbation, ids offset by 1,000,000 resp. 100,000) — derived
  * deterministically from the input table, never synthesized from thin
  * air. The oracle plants the identical copies.
  */
object Dedup {

  private def docs(s: SparkSession, dir: String): DataFrame =
    s.read.parquet(s"$dir/documents.parquet")

  private def emb(s: SparkSession, dir: String): DataFrame =
    s.read.parquet(s"$dir/embeddings.parquet")

  /** documents ∪ near-dup copies (text + " zzz", doc_id + 1e6). */
  private def dupCorpus(s: SparkSession, dir: String): DataFrame = {
    val d = docs(s, dir).select(col("doc_id"), col("text"))
    d.unionByName(d.select(
      (col("doc_id") + 1000000L).as("doc_id"),
      concat(col("text"), lit(" zzz")).as("text")))
  }

  /** documents ∪ TWO perturbation generations (+1e6 " zzz", +2e6
    * " zzz zzz") — every document becomes a 3-member duplicate cluster, so
    * cluster resolution genuinely needs transitive closure, not just pair
    * output. */
  private def dupCorpus3(s: SparkSession, dir: String): DataFrame = {
    val d = docs(s, dir).select(col("doc_id"), col("text"))
    d.unionByName(d.select((col("doc_id") + 1000000L).as("doc_id"),
        concat(col("text"), lit(" zzz")).as("text")))
      .unionByName(d.select((col("doc_id") + 2000000L).as("doc_id"),
        concat(col("text"), lit(" zzz zzz")).as("text")))
  }

  /** Content-defined chunking (`dedup_cdc_chunks`): a token closes a
    * chunk when its content hash ≡ 0 mod this divisor (expected chunk
    * length = the divisor, in tokens). */
  private val CdcDiv = 8L

  /** documents ∪ copies with one token PREPENDED (doc_id + 1e6) — the
    * plant that separates content-defined from fixed-width chunking: a
    * leading insertion shifts every fixed-width chunk (zero dups found)
    * but leaves every content-defined boundary in place (all chunks
    * after the first still dup). */
  private def cdcCorpus(s: SparkSession, dir: String): DataFrame = {
    val d = docs(s, dir).select(col("doc_id"), col("text"))
    d.unionByName(d.select((col("doc_id") + 1000000L).as("doc_id"),
      concat(lit("qq "), col("text")).as("text")))
  }

  private val MinhashK = 8 // 4 bands × rows of 2

  /** Sorted-neighborhood method: blocking-key width, slide window, and
    * exact-verify threshold (`dedup_sorted_neighborhood`). */
  private val SnmKeyChars   = 32
  private val SnmWindow     = 4
  private val SnmMinJaccard = 0.5

  /** Suffix-array neighbor LCP (`dedup_suffix_lcp`): truncated suffix
    * sort-key width in chars, the token-window that guarantees it (k
    * joined tokens span ≥ 2k−1 chars, so 33 tokens cover 64 chars
    * whenever that many remain), and the duplicated-run report
    * threshold. */
  private val SuffixKeyChars = 64
  private val SuffixKeyToks  = 33
  private val SuffixDupChars = 40

  /** Deterministic hot-band cap: a band group keeps only its this-many
    * smallest doc_ids for candidate generation (bounds a degenerate band
    * to MaxBandGroup² pairs). Mirrored bit-for-bit in the DuckDB oracle. */
  val MaxBandGroup = 256

  /** The [[MaxBandGroup]] cap over a (doc_id, band, k1, k2) frame. */
  private[graft] def capBands(banded: DataFrame): DataFrame =
    banded.withColumn("rn", row_number().over(
        org.apache.spark.sql.expressions.Window
          .partitionBy(col("band"), col("k1"), col("k2")).orderBy(col("doc_id"))))
      .filter(col("rn") <= MaxBandGroup).drop("rn")

  /** Containment dedup (`dedup_containment`): discriminative-shingle df
    * cap for candidate generation (a shingle appearing in more than
    * [[ContainDfCap]] docs is boilerplate, not evidence of copying — its
    * posting list is dropped, bounding any shingle's pair fan-out to
    * DfCap²/2), the report threshold (0.8 of the smaller side, in ppm),
    * and the planted-quote geometry: docs with doc_id % 20 == 0 and at
    * least [[QuoteMinToks]] tokens spawn a quote doc = tokens
    * [[QuoteFrom]]..QuoteFrom+QuoteLen−1 (1-based) under id + 3e6. */
  val ContainDfCap   = 8L
  val ContainMinPpm  = 800000L
  val QuoteFrom      = 11
  val QuoteLen       = 30
  val QuoteMinToks   = 40
  val QuoteIdOffset  = 3000000L

  /** All-pairs cosine join (`dedup_allpairs_cosine`): threshold t = 9/10
    * over BINARY shingle sets, carried as the integer cross-multiplication
    * 100·|A∩B|² ≥ 81·|A|·|B| (⟺ |A∩B|/√(|A||B|) ≥ 0.9 for nonnegative
    * counts — no float, no sqrt). Shingles, not tokens: measured on this
    * corpus, token-set cosine ≥ 0.8 qualifies 12% of ALL pairs (shared
    * vocabulary, quadratic blowup at scale) while shingle sets isolate
    * true near-dups. Prefix-filter soundness needs the per-doc minimum
    * qualifying overlap o(x) = ⌈t²·|x|⌉ = (81·|x| + 99) div 100: any
    * partner y with |A∩B|/√(|x||y|) ≥ t has |y| ≥ t²|x| (else cos ≤
    * √(|y|/|x|) < t), hence overlap ≥ t·√(|x||y|) ≥ t·√(|x|·t²|x|) =
    * t²·|x|, and integrality lifts that to ⌈t²|x|⌉. */
  val ApCosNum = 9L  // t = ApCosNum / ApCosDen
  val ApCosDen = 10L

  /** (doc_id, cluster_id) labels over the dup3 corpus — the clustering
    * `dedup_cc_labels` returns and `dedup_cluster_histogram` reports on.
    * Each key computes it end to end; a pipeline that shares one
    * clustering across reports writes it as a durable stage table
    * (CurateMain's `clusters/`). */
  private def dup3Labels(s: SparkSession, dir: String): DataFrame =
    connectedComponents(minhashLsh(dupCorpus3(s, dir)).select("doc_a", "doc_b"))

  /** doc_id + 8 minhashes. ONE digest per TOKEN, then shingle hashes by
    * integer combination ([[graft.functions.TextKernels.shingleHashes]])
    * — shingle STRINGS are never materialized, which is where ~95% of the
    * signature-pass cost was measured to go (string allocation, not
    * hashing: 7.3 s → 0.6 s at sf0.1, `BENCH/BASELINE.md` "Round-4
    * signature redesign"). Token/shingle hash columns are named so the
    * expensive passes stay shared across the k minhash families. The
    * token hash is the oracle-portable md5-derived
    * [[graft.functions.TextKernels.hex32]]. */
  private[operators] def signatures(corpus: DataFrame): DataFrame = {
    val mhs = (0 until MinhashK).map(j => minhash(col("hs"), j).as(s"mh$j"))
    Par.fanOut(corpus) // the per-token digest pass must not run on one scan task
      .withColumn("th", tokenHashes(tokens(col("text"))))
      .withColumn("hs", shingleHashes(col("th")))
      .select(col("doc_id") +: mhs: _*)
  }

  /** (doc_id, band, k1, k2) band-key rows for LSH. The signature
    * projection is separated from the band explode by an explicit
    * repartition: without that Exchange, CollapseProject inlines the k
    * minhash expressions into the band structs and the token-digest +
    * shingle-combine pass runs ~8× per row (measured 5-6× wall at sf0.1
    * in the string-shingle era — digest-occurrence count in the plan goes
    * 18 → 1). The exchange shuffles only (doc_id, 8 longs): signatures
    * move, text never does — which is also the at-scale shape.
    * CurateMain writes this frame as its durable `banded/` stage, so a
    * resumed run or an ingest never re-pays the signature pass. */
  def bandedKeysFor(corpus: DataFrame): DataFrame =
    signatures(corpus)
      .repartition(col("doc_id"))
      .select(col("doc_id"), explode(array((0 until MinhashK / 2).map(b =>
        struct(lit(b).as("band"),
          col(s"mh${2 * b}").as("k1"), col(s"mh${2 * b + 1}").as("k2"))): _*)).as("b"))
      .select(col("doc_id"), col("b.band"), col("b.k1"), col("b.k2"))

  /** Full MinHash → LSH band join → exact-Jaccard verify pipeline, in the
    * at-scale shape:
    *  - only (doc_id, band, k1, k2) rows are cached/shuffled for candidate
    *    generation (the signature pass runs once into that cache; the
    *    full shingle arrays are never pinned in memory);
    *  - hot-band safety: a band group larger than [[MaxBandGroup]] is
    *    capped DETERMINISTICALLY to its MaxBandGroup smallest doc_ids
    *    (mirrored in the oracle, so exactness survives a triggered cap),
    *    bounding any degenerate band to MaxBandGroup² candidate pairs —
    *    [[lshBandStats]] reports group sizes and rows dropped, so the cap
    *    is never silent;
    *  - shingles for the exact-Jaccard verify are recomputed only for the
    *    documents that survive banding (semi-join on candidate ids),
    *    never for the whole corpus a second time.
    * `corpus` needs (doc_id, text); exposed corpus-in so the bench can
    * stress it with a planted hot-key corpus. */
  def minhashLsh(corpus: DataFrame): DataFrame =
    minhashLshFrom(corpus, bandedKeysFor(corpus))

  /** Driver heap one pair row costs on the small branches below: the
    * collected Row with its two boxed longs, the pair's union-find entries
    * and labels, and its share of the local frames built from them (up to
    * two id or label rows per pair). Spark's SizeEstimator reads 665 B for
    * [[connectedComponents]] and 632 B for [[minhashLshFrom]] on JDK 17
    * with compressed oops (`DedupCcSpec` keeps the figure within 2× of
    * that); Spark's own size estimate of the row, 24 B, is far below it. */
  private[graft] val PairDriverBytes = 768L

  /** Most rows a SMALL pair frame may have: rows × [[PairDriverBytes]]
    * within both `broadcastBudget` (`spark.sql.autoBroadcastJoinThreshold`,
    * the session's budget for a frame that is safe to ship to every
    * executor) and a quarter of `driverHeap`, so a raised threshold never
    * lets the driver take more than its heap can hold. -1 when broadcast
    * is disabled: every frame is then large. */
  private[graft] def smallPairCap(broadcastBudget: Long, driverHeap: Long): Long =
    if (broadcastBudget < 0) -1L
    else math.min(math.min(broadcastBudget, driverHeap / 4) / PairDriverBytes,
      Int.MaxValue - 1L)

  /** `pairs`' rows when the frame is SMALL ([[smallPairCap]] of the
    * session's threshold and the driver's max heap; no knob of its own).
    * One bounded `limit(cap + 1)` collect reads the row count — never a
    * count and then a collect; it costs no job when `pairs` is already a
    * local frame. None when the frame is over the cap or broadcast is
    * disabled. */
  private[graft] def smallPairs(
      pairs: DataFrame, driverHeap: Long = Runtime.getRuntime.maxMemory): Option[Array[Row]] = {
    val cap = smallPairCap(pairs.sparkSession.asInstanceOf[classic.SparkSession]
      .sessionState.conf.autoBroadcastJoinThreshold, driverHeap)
    if (cap < 0) None
    else {
      val rows = pairs.limit(cap.toInt + 1).collect()
      if (rows.length <= cap) Some(rows) else None
    }
  }

  /** `rows` as a local frame (a LocalRelation: no scan, no job to read). */
  private def localFrame(s: SparkSession, rows: Array[Row], schema: StructType): DataFrame =
    s.createDataFrame(java.util.Arrays.asList(rows: _*), schema)

  /** [[minhashLsh]] against an externally-supplied banded frame (read back
    * from a durable stage table on resume).
    *
    * [[smallPairs]] reads the cached candidate pairs once. Below its bound
    * the verify is two bounded actions: the survivors' shingle sets are
    * built from a corpus scan through a broadcast semi-join of the
    * collected ids (the [[incrementalIngest]] shape), and the verified
    * (doc_a, doc_b, jaccard) rows are collected and returned as a local
    * frame. Above it, the candidates stay distributed and the verified
    * frame is localCheckpointed. Both branches give the same rows. */
  def minhashLshFrom(corpus: DataFrame, banded: DataFrame): DataFrame = {
    val capped = capBands(banded).cache() // ids + band keys only — tiny
    // cand and sets both appear twice downstream (sh_a and sh_b sides);
    // without the caches the band join + shingle recompute would execute
    // once per appearance. Both frames are small by construction (ids-only
    // pairs; shingles of banding survivors only).
    val cand = capped.as("l").join(capped.as("r"),
        col("l.band") === col("r.band") && col("l.k1") === col("r.k1") &&
          col("l.k2") === col("r.k2") && col("l.doc_id") < col("r.doc_id"))
      .select(col("l.doc_id").as("doc_a"), col("r.doc_id").as("doc_b"))
      .distinct()
      .cache()
    def verify(pairs: DataFrame, sets: DataFrame): DataFrame = withPairSets(pairs, sets, sets)
      .select(col("doc_a"), col("doc_b"), jaccard(col("sh_a"), col("sh_b")).as("jaccard"))
      .filter(col("jaccard") >= 0.8)
    val verified = smallPairs(cand) match {
      case Some(rows) =>
        val s    = corpus.sparkSession
        val ids  = rows.flatMap(r => Seq(r.getLong(0), r.getLong(1))).distinct.map(Row(_))
        val sets = shingleSets(corpus.join(broadcast(localFrame(s, ids, StructType(Seq(
            StructField("doc_id", LongType, nullable = false))))), Seq("doc_id"), "left_semi"),
          tokens(col("text")))
        val v = verify(broadcast(localFrame(s, rows, cand.schema)), sets)
        localFrame(s, v.collect(), v.schema)
      case None =>
        val ids = cand.select(col("doc_a").as("doc_id"))
          .unionByName(cand.select(col("doc_b").as("doc_id"))).distinct()
        // the survivor-id set is ids-only and small by the capped-band
        // construction, so the planner broadcasts it within the threshold
        // and the semi-join never shuffles the corpus TEXT by doc_id
        // (guide §3.1): the scan streams through a broadcast hash semi-join
        val sets = shingleSets(corpus.join(ids, Seq("doc_id"), "left_semi"),
          tokens(col("text"))).cache()
        // materialize the (small) verified-pairs frame, then release the
        // three intermediate caches: Verify runs the whole catalog in one
        // session, and un-released caches would accumulate for its lifetime
        val v = verify(cand, sets).localCheckpoint()
        sets.unpersist()
        v
    }
    capped.unpersist()
    cand.unpersist()
    verified
  }

  /** Duplicate-CLUSTER resolution: connected components over a near-dup
    * pair list. LSH emits pairs; what a dedup pass actually needs is one
    * keeper per transitive cluster (a~b, b~c ⇒ {a,b,c} even when a,c were
    * never a candidate pair). Each node's label is its component's
    * smallest doc_id.
    *
    * Two branches, switched by the [[smallPairs]] bound (rows ×
    * [[PairDriverBytes]] within `spark.sql.autoBroadcastJoinThreshold` and
    * a quarter of the driver heap):
    *  - SMALL: the pairs are collected (free when they are already a
    *    local frame, as [[minhashLshFrom]] returns below the same bound)
    *    and [[unionFindLabels]] solves them on the driver — no rounds, no
    *    checkpoints; the labels come back as a local frame;
    *  - LARGE (or broadcast disabled): the distributed rounds of
    *    [[connectedComponentsIter]], unchanged.
    * Both give the same labels. `maxIter` bounds the distributed rounds
    * and is checked on both branches. */
  def connectedComponents(pairs: DataFrame, maxIter: Int = 25): DataFrame = {
    requireRounds(maxIter)
    smallPairs(pairs.select("doc_a", "doc_b")) match {
      case Some(rows) =>
        val s = pairs.sparkSession
        import s.implicits._
        unionFindLabels(rows.map(r => (r.getLong(0), r.getLong(1))))
          .toSeq.toDF("doc_id", "cluster_id")
      case None => connectedComponentsIter(pairs, maxIter)._1
    }
  }

  /** (doc_id, cluster_id) for every id in `pairs`, sorted by doc_id:
    * union-find whose root is always the smaller id, so each root — and
    * label — is its component's min doc_id, exactly the distributed
    * fixpoint. Path compression keeps each find near-constant. */
  private[graft] def unionFindLabels(pairs: Array[(Long, Long)]): Array[(Long, Long)] = {
    val parent = scala.collection.mutable.LongMap.empty[Long]
    def find(x: Long): Long = {
      if (!parent.contains(x)) parent(x) = x
      var root = x
      while (parent(root) != root) root = parent(root)
      var c = x
      while (c != root) { val next = parent(c); parent(c) = root; c = next }
      root
    }
    pairs.foreach { case (a, b) =>
      val (ra, rb) = (find(a), find(b))
      if (ra < rb) parent(rb) = ra else if (rb < ra) parent(ra) = rb
    }
    parent.keys.toArray.sorted.map(id => (id, find(id)))
  }

  private def requireRounds(maxIter: Int): Unit =
    require(maxIter >= 2,
      s"connectedComponents needs maxIter >= 2 (got $maxIter): convergence " +
        "compares two consecutive rounds")

  /** The distributed branch of [[connectedComponents]], plus the number of
    * rounds taken (the deep-chain property test pins the O(log D) round
    * count). The path for pair frames over the small bound, and the
    * reference the driver branch is tested against.
    *
    * Each round does (1) min-label PROPAGATION — l'(u) = min over the
    * closed neighborhood's labels (one equi-join + one groupBy(min) on
    * long keys) — then (2) pointer-jumping COMPRESSION — l''(u) =
    * l'(l'(u)) (one self-join of the labels frame). Compression doubles
    * the effective hop distance per round, so a diameter-D component
    * converges in O(log D) rounds (a 1,000-link chain in ~10), not the
    * D rounds plain propagation needs — the Shiloach-Vishkin shortcut,
    * same building blocks. Labels only decrease and every label is the id
    * of a node in the same component, so the fixpoint is the component
    * min everywhere.
    *
    * Scale shape: every round shuffles only (id, label) longs; the edge
    * list is checkpointed once. Lineage is truncated each round —
    * RELIABLY (HDFS-backed `checkpoint()`) when the SparkContext has a
    * checkpoint dir configured, so an executor loss mid-loop recovers
    * from storage instead of failing the job at cluster scale;
    * `localCheckpoint` (executor blocks, no fault tolerance) otherwise.
    * The per-round `count` is a scalar convergence check, not a data
    * collect. A graph that fails to converge in `maxIter` rounds (would
    * need diameter > 2^maxIter) throws instead of returning silently
    * wrong labels. `maxIter` must be at least 2: convergence is decided
    * by comparing two rounds, so even an empty pair frame takes two. */
  private[graft] def connectedComponentsIter(
      pairs: DataFrame, maxIter: Int = 25): (DataFrame, Int) = {
    requireRounds(maxIter)
    val reliable = pairs.sparkSession.sparkContext.getCheckpointDir.isDefined
    // non-eager: the checkpoint materializes inside the round's
    // convergence action instead of as its own job — one action per
    // round, not two (the per-round job floor is what dominates the CC
    // cost on small-diameter graphs; the lineage cut is identical)
    def ckpt(df: DataFrame): DataFrame =
      if (reliable) df.checkpoint(eager = false) else df.localCheckpoint(eager = false)
    val sym = pairs
      .select(col("doc_a").as("src"), col("doc_b").as("dst"))
      .unionByName(pairs.select(col("doc_b").as("src"), col("doc_a").as("dst")))
    // checkpointed: the distinct node set feeds BOTH the self-loop union
    // and the labels init — one materialization instead of two executions
    val nodes = ckpt(sym.select(col("src").as("id")).distinct())
    // CLOSED-neighborhood edge list (self-loops appended): the propagate
    // min then needs ONE equi-join + ONE partial-aggregating groupBy per
    // round — the former open-neighborhood formulation paid a second
    // labels join per round just to fold each node's own label back in
    // (and a prop cache + a chg-flag count on top; measured ~6 Exchange
    // rounds vs ~3 here, the dominant per-round floor at bench scale).
    val edges = ckpt(sym.unionByName(
      nodes.select(col("id").as("src"), col("id").as("dst"))))
    var labels = ckpt(nodes.withColumn("label", col("id")))
    // Convergence: labels only ever DECREASE, so Σlabel strictly drops
    // iff any label changed — an exact DECIMAL(38,0) sum compare replaces
    // the old chg-column count (one scalar aggregate per round, no old-
    // vs-new label join). Exact at any node count: ids < 2^63, nodes
    // < 2^63 ⇒ Σ < 2^126 < 10^38. `prev` starts null (no init action):
    // round 1 always decreases some label when any pair exists, and the
    // empty-graph case converges via 0 == 0 on round 2's compare.
    def sumOf(df: DataFrame): java.math.BigDecimal = {
      val r = df.agg(sum(col("label").cast("decimal(38,0)")), count(lit(1))).head()
      labelSum(r.getDecimal(0), r.getLong(1))
    }
    var prev: java.math.BigDecimal = null
    var converged = false
    var iter      = 0
    while (!converged && iter < maxIter) {
      // 1) propagate: l1(u) = min label over the CLOSED neighborhood
      //    (self-loops make the min total — no coalesce join needed)
      val l1 = edges.as("e").join(labels.as("l"), col("e.src") === col("l.id"))
        .groupBy(col("e.dst").as("id")).agg(min(col("l.label")).as("l1"))
      // 2) compress: label(u) = min(l1(u), l1(l1(u))) — l1 values are node
      //    ids and l1 is total over nodes, so the lookup is a self-join
      //    (left + coalesce kept for planner clarity; it always matches).
      //    Labels are monotone decreasing, so l1(l1(u)) <= l1(u).
      //    The l1 subtrees on both sides share their exchange in-plan
      //    (ReuseExchange); the b side is an ids-only rollup the planner
      //    broadcasts when small.
      val next = ckpt(l1.as("a")
        .join(l1.select(col("id").as("cid"), col("l1").as("cl")).as("b"),
          col("a.l1") === col("b.cid"), "left")
        .select(col("a.id").as("id"),
          least(col("a.l1"), coalesce(col("cl"), col("a.l1"))).as("label")))
      val cur = sumOf(next)
      converged = prev != null && cur.compareTo(prev) == 0
      prev = cur
      labels = next
      iter += 1
    }
    if (!converged)
      throw new IllegalStateException(
        s"connectedComponents did not converge in $maxIter rounds — " +
          "component diameter exceeds 2^maxIter (or the edge frame is " +
          "nondeterministic); raise maxIter rather than trusting these labels")
    (labels.select(col("id").as("doc_id"), col("label").as("cluster_id")), iter)
  }

  /** A CC round's Σlabel from its aggregate (`sum`, row count `n`): an
    * empty frame sums to 0, and a null sum over rows throws, since a lost
    * sum would compare equal to the next lost one and false-converge. */
  private[graft] def labelSum(sum: java.math.BigDecimal, n: Long): java.math.BigDecimal =
    if (sum != null) sum
    else if (n == 0) java.math.BigDecimal.ZERO
    else throw new IllegalStateException(
      s"connectedComponents: the label sum over $n nodes is null (overflow or " +
        "null labels); the convergence check cannot be trusted")

  /** Band-group size histogram + rows a [[MaxBandGroup]] cap would drop. */
  def lshBandStats(corpus: DataFrame): DataFrame =
    bandedKeysFor(corpus)
      .groupBy(col("band"), col("k1"), col("k2"))
      .agg(count(lit(1)).as("g"))
      .groupBy(col("g").as("group_size"))
      .agg(count(lit(1)).as("n_groups"),
        sum(greatest(col("g") - MaxBandGroup, lit(0L))).as("dropped_rows"))

  /** (doc_id, sh): each row's distinct shingle-hash SET over the token
    * array `toks`. th must be a NAMED column: shingleHashes references it
    * per shingle position inside its lambda, and an inlined tokenHashes
    * subtree would re-hash every token once per reference (the winnowSet/
    * bandedKeysFor CollapseProject trap — measured 2× on minhashLsh).
    * array_distinct ONCE here, not per pair inside [[jaccard]]: a doc's
    * set appears in every candidate pair it survives into, and the verify
    * join ships it — pre-distincting shrinks the cached/shuffled arrays
    * and jaccard's value is unchanged (set semantics either way). */
  private[graft] def shingleSets(df: DataFrame, toks: Column): DataFrame =
    df.withColumn("th", tokenHashes(toks))
      .select(col("doc_id"), array_distinct(shingleHashes(col("th"))).as("sh"))

  /** Candidate id pairs (`a`, `b`) with each side's [[shingleSets]] set
    * joined on BY ID as `sh_a` / `sh_b`. Candidate generation shuffles
    * ids only; the set payload joins back once per side, and only for
    * the pairs that survive blocking. */
  private[graft] def withPairSets(cand: DataFrame, setsA: DataFrame, setsB: DataFrame,
      a: String = "doc_a", b: String = "doc_b"): DataFrame =
    cand.join(setsA.select(col("doc_id").as(a), col("sh").as("sh_a")), Seq(a))
      .join(setsB.select(col("doc_id").as(b), col("sh").as("sh_b")), Seq(b))

  /** |A∩B| / |A∪B| over shingle SETS, 4 dp. CONTRACT: both inputs are
    * already-distinct arrays (every caller pre-distincts at set build,
    * where it runs once per doc instead of once per candidate pair). */
  private[graft] def jaccard(a: Column, b: Column): Column = {
    val i = size(array_intersect(a, b))
    round(i / (size(a) + size(b) - i), 4)
  }

  /** 64-bit SimHash of the whitespace tokens of `text` (multiset votes),
    * carried as two non-negative 32-bit halves (`simhash_hi`,
    * `simhash_lo`) so every shift/mask/xor is sign-free and
    * engine-portable. One md5 per token feeds both halves (hex chars 1-8
    * and 9-16 of the same digest).
    *
    * 64 bits is what makes simhash usable at scale: with 4×16-bit bands
    * the candidate join has 65,536 keys per band (vs 16 for a 16-bit
    * hash), so band-bucket sizes stay ~corpus/65k instead of the
    * quadratic-shuffle corpus/16 the old width degenerated to. */
  private def simhash64(corpus: DataFrame): DataFrame =
    simhash64From(corpus.select(col("doc_id"), explode(tokens(col("text"))).as("tok")))

  /** 64-bit simhash from any (doc_id, tok) feature frame — token features
    * here, byte 4-grams for the media phash (`mm_phash_hamming`). */
  private[operators] def simhash64From(toks: DataFrame): DataFrame = {
    val votes = toks
      .withColumn("d", md5(col("tok"))) // ONE digest per token, shared below
      .withColumn("hlo", hex32Of(col("d"), 1))
      .withColumn("hhi", hex32Of(col("d"), 9))
    val sums = (0 until 32).map(j => sum(simhashVote(col("hlo"), j)).as(s"vl$j")) ++
      (0 until 32).map(j => sum(simhashVote(col("hhi"), j)).as(s"vh$j"))
    def pack(prefix: String): Column =
      (0 until 32).map(j => when(col(s"$prefix$j") > 0, lit(1L << j)).otherwise(lit(0L))).reduce(_ + _)
    votes.groupBy(col("doc_id")).agg(sums.head, sums.tail: _*)
      .select(col("doc_id"), pack("vh").as("simhash_hi"), pack("vl").as("simhash_lo"))
  }

  /** The 4×16-bit banded hamming-pair search over a (doc_id, simhash_hi,
    * simhash_lo) frame (pigeonhole: hamming ≤ 3 ⇒ some band equal) —
    * shared by dedup_simhash_pairs and the media phash. */
  private[operators] def simhashPairsFrom(sh: DataFrame): DataFrame = {
    val slices = Seq(
      col("simhash_lo").bitwiseAND(lit(65535L)),
      shiftright(col("simhash_lo"), 16).bitwiseAND(lit(65535L)),
      col("simhash_hi").bitwiseAND(lit(65535L)),
      shiftright(col("simhash_hi"), 16).bitwiseAND(lit(65535L)))
    val banded = sh.select(col("doc_id"), col("simhash_hi"), col("simhash_lo"),
        explode(array(slices.zipWithIndex.map { case (k, b) =>
          struct(lit(b).as("band"), k.as("key"))
        }: _*)).as("b"))
      .select(col("doc_id"), col("simhash_hi"), col("simhash_lo"), col("b.band"), col("b.key"))
    banded.as("l").join(banded.as("r"),
        col("l.band") === col("r.band") && col("l.key") === col("r.key") &&
          col("l.doc_id") < col("r.doc_id"))
      .select(col("l.doc_id").as("doc_a"), col("r.doc_id").as("doc_b"),
        (bit_count(col("l.simhash_hi").bitwiseXOR(col("r.simhash_hi"))) +
          bit_count(col("l.simhash_lo").bitwiseXOR(col("r.simhash_lo")))).cast("long").as("hamming"))
      .distinct()
      .filter(col("hamming") <= 3)
  }

  /** Incremental-ingest classification — the daily-crawl shape: a NEW
    * batch is classified against the STANDING corpus without ever
    * re-deduplicating the old data. Each batch doc gets one status:
    *   exact_dup  its content hash occurs in the index;
    *   batch_dup  another batch doc with the same hash has a smaller id;
    *   near_dup   a batch keeper (neither of the above) whose shingle-set
    *              Jaccard with some LSH-candidate index doc is ≥ 0.8;
    *   novel      every other keeper.
    * The plan, three batch-sized materializations and the output:
    *   1 tags: one scan of the index's md5, semi-joined against the
    *     broadcast batch hashes, and the batch rows share one window over
    *     the hash — an index hit in the group marks exact dups, otherwise
    *     `min(doc_id)` keeps one doc and marks the rest batch dups;
    *   2 the keepers' capped band keys (their signature pass);
    *   3 candidates: `bandedOld` semi-joined against the broadcast batch
    *     band keys, THEN capped — exact, because the [[MaxBandGroup]] cap
    *     window is partitioned by (band, k1, k2) and the semi-join keeps
    *     whole groups — and joined to the broadcast batch keys (a pair
    *     sharing several bands appears once per band; the verify's
    *     result is a set, so that is harmless);
    *   4 verify: the candidate ids broadcast into one scan of `old`, the
    *     batch shingle sets broadcast onto the survivors; the verified
    *     ids join back onto the tags by a broadcast left join.
    * COST CONTRACT: every shuffle is sized by the batch or its
    * candidates, and the index is only scanned — `old` twice (hashes,
    * then candidate texts), `bandedOld` once: no join shuffles an index
    * row and index text never shuffles (`PlanShapeSpec` pins both). The
    * batch sides are broadcast, so a batch must fit in one; ingest a
    * larger crawl in several batches. `doc_id` keys the batch; `old`
    * need not be hash-unique (`dedup_incremental` passes the raw
    * documents table). `CurateMain --ingest` passes its durable
    * `deduped/` and `banded/` stage tables, so an ingest run pays the
    * batch's signature pass plus those index scans. */
  def incrementalIngest(old: DataFrame, bandedOld: DataFrame, newb: DataFrame): DataFrame = {
    val nh  = newb.withColumn("h", md5(col("text")))
    val hit = old.select(md5(col("text")).as("h"))
      .join(broadcast(nh.select(col("h"))), Seq("h"), "left_semi")
      .withColumn("indexed", lit(true))
    val byH = org.apache.spark.sql.expressions.Window.partitionBy(col("h"))
    // materialized before bandedKeysFor: its fanOut reads the input's
    // partition count, which would run the tag shuffles a second time
    val tagged = nh.unionByName(hit, allowMissingColumns = true)
      .select(col("doc_id"), col("text"), col("indexed"),
        when(count(col("indexed")).over(byH) > 0, lit("exact_dup"))
          .when(col("doc_id") =!= min(col("doc_id")).over(byH), lit("batch_dup")).as("status"))
      .filter(col("indexed").isNull).drop("indexed")
      .localCheckpoint()
    val keepers = tagged.filter(col("status").isNull).select(col("doc_id"), col("text"))
    val bN = capBands(bandedKeysFor(keepers)).localCheckpoint()
    val keys = Seq("band", "k1", "k2")
    val bO = capBands(bandedOld.join(broadcast(bN.select(keys.map(col): _*)), keys, "left_semi"))
    val cand = broadcast(bN.withColumnRenamed("doc_id", "n_id"))
      .join(bO.withColumnRenamed("doc_id", "o_id"), keys)
      .select(col("n_id"), col("o_id"))
      .localCheckpoint()
    def sets(src: DataFrame, idc: String, as: String) = shingleSets(
      src.join(broadcast(cand.select(col(idc).as("doc_id"))), Seq("doc_id"), "left_semi"),
      tokens(col("text"))).select(col("doc_id").as(idc), col("sh").as(as))
    val near = sets(old, "o_id", "sh_b")
      .join(broadcast(cand), Seq("o_id"))
      .join(broadcast(sets(keepers, "n_id", "sh_a")), Seq("n_id"))
      .filter(jaccard(col("sh_a"), col("sh_b")) >= 0.8)
      .select(col("n_id").as("doc_id"), lit(true).as("near")).distinct()
    tagged.join(broadcast(near), Seq("doc_id"), "left")
      .select(col("doc_id"), coalesce(col("status"),
        when(col("near"), lit("near_dup")).otherwise(lit("novel"))).as("status"))
  }

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    // Exact dedup: hash-groupBy on content digest; keeper = min doc_id.
    "dedup_exact" -> ((s, dir) =>
      docs(s, dir).groupBy(md5(col("text")).as("content_hash"))
        .agg(count(lit(1)).as("cnt"), min(col("doc_id")).as("keep_id"))),

    // Incremental ingest over a planted batch with one member per
    // classification (per old doc_id % 4): an exact copy of an old doc
    // (exact_dup), an old doc + ' zzz' (near_dup vs the index), a
    // reversed-token text (novel — same vocabulary, disjoint shingles),
    // and a second copy of that reversed text under a higher id
    // (batch_dup — duplicate WITHIN the batch, unseen by the index).
    "dedup_incremental" -> ((s, dir) => {
      val old = docs(s, dir).select(col("doc_id"), col("text"))
      val rev = array_join(reverse(tokens(col("text"))), " ")
      val base = 5000000L
      val newb = old.filter(col("doc_id") % 4 === 0)
        .select((col("doc_id") + base).as("doc_id"), col("text"))
        .unionByName(old.filter(col("doc_id") % 4 === 1)
          .select((col("doc_id") + base).as("doc_id"),
            concat(col("text"), lit(" zzz")).as("text")))
        .unionByName(old.filter(col("doc_id") % 4 === 2)
          .select((col("doc_id") + base).as("doc_id"), rev.as("text")))
        .unionByName(old.filter(col("doc_id") % 4 === 2)
          .select((col("doc_id") + 1 + base).as("doc_id"), rev.as("text")))
      incrementalIngest(old, bandedKeysFor(old), newb)
    }),

    // Per-doc MinHash signature (k=8 over word 3-gram shingles).
    "dedup_minhash_sig" -> ((s, dir) =>
      signatures(docs(s, dir).select(col("doc_id"), col("text")))),

    // Host-level content-overlap estimation by SKETCH MERGE: a host's
    // minhash is the component-wise min of its docs' signatures (union
    // semantics — exactly why minhash sketches compose), so host-pair
    // similarity costs |hosts|² sketch comparisons instead of a doc-level
    // cross join. The dedup-planning view: which host pairs are worth a
    // doc-level mirror pass. est_jaccard_ppm granularity is 1/k.
    "dedup_host_minhash" -> ((s, dir) => {
      val mins = (0 until MinhashK).map(j => min(col(s"mh$j")).as(s"mh$j"))
      val hs = signatures(docs(s, dir).select(col("doc_id"), col("text")))
        .join(docs(s, dir).select(col("doc_id"), col("source")), Seq("doc_id"))
        .groupBy(col("source").as("host"))
        .agg(mins.head, mins.tail: _*)
      val matches = (0 until MinhashK)
        .map(j => when(col(s"l.mh$j") === col(s"r.mh$j"), 1L).otherwise(0L))
        .reduce(_ + _)
      hs.as("l").join(hs.as("r"), col("l.host") < col("r.host"))
        .select(col("l.host").as("host_a"), col("r.host").as("host_b"),
          matches.as("matches"))
        .withColumn("est_jaccard_ppm", expr(s"(matches * 1000000) div $MinhashK"))
    }),

    // Full MinHash → LSH band join → exact-Jaccard verify pipeline in the
    // at-scale shape (see [[minhashLsh]]).
    "dedup_minhash_lsh" -> ((s, dir) => minhashLsh(dupCorpus(s, dir))),

    // Evaluation harness for the LSH pipeline: dupCorpus plants exactly
    // one known near-dup per doc (+1e6, " zzz"), so planted-pair recall is
    // measurable without an O(n²) brute-force truth pass, and the extras
    // count (verified pairs beyond the planted set — organic near-dups)
    // is the precision-side signal a production rollout watches before it
    // deletes data. All 1-row side frames.
    "dedup_eval_pr" -> ((s, dir) => {
      val pred = minhashLsh(dupCorpus(s, dir))
        .select(col("doc_a"), col("doc_b"))
      val planted = docs(s, dir).select(col("doc_id").as("doc_a"),
        (col("doc_id") + 1000000L).as("doc_b"))
      val tp  = pred.join(planted, Seq("doc_a", "doc_b"), "left_semi")
        .agg(count(lit(1)).as("tp"))
      val np  = planted.agg(count(lit(1)).as("n_planted"))
      val npr = pred.agg(count(lit(1)).as("n_predicted"))
      np.crossJoin(npr).crossJoin(tp).select(
        col("n_planted"), col("n_predicted"), col("tp"),
        (col("n_planted") - col("tp")).as("fn"),
        (col("n_predicted") - col("tp")).as("extra"),
        expr("(tp * 1000000) div n_planted").as("recall_ppm"))
    }),

    // Band-group observability for the LSH cap: size histogram of the
    // (band, k1, k2) groups plus the rows a MaxBandGroup cap would drop.
    // The 100×-scale evidence that banding stays linear: group sizes must
    // stay ~duplicate-cluster-sized, and dropped_rows > 0 is the loud
    // signal a degenerate band hit the cap.
    "dedup_lsh_band_stats" -> ((s, dir) => lshBandStats(dupCorpus(s, dir))),

    // Per-doc 64-bit SimHash (two 32-bit halves).
    "dedup_simhash" -> ((s, dir) => simhash64(docs(s, dir).select(col("doc_id"), col("text")))),

    // SimHash near-dup pairs: 4 16-bit bands over the 64-bit hash
    // (pigeonhole: hamming ≤ 3 ⇒ at least one of 4 bands identical, so
    // banding loses nothing) → verify with exact hamming distance.
    // 65,536 distinct keys per band keeps bucket sizes ~corpus/65k — the
    // band join stays linear-ish at 100×, unlike the old 16-key variant.
    "dedup_simhash_pairs" -> ((s, dir) =>
      simhashPairsFrom(simhash64(dupCorpus(s, dir)).cache())), // cache: 3 longs/doc

    // Duplicate-cluster resolution: MinHash-LSH pairs over a corpus with
    // 3-member planted clusters → connected components (min-label
    // propagation) → (doc_id, cluster_id). The step that turns pair
    // output into "keep one per cluster" at scale.
    "dedup_cc_labels" -> ((s, dir) => dup3Labels(s, dir)),

    // Cluster-size distribution — the dedup REPORT a storage owner reads
    // before approving the run ("how many docs do we actually delete"):
    // per cluster size, the cluster count and the doc mass it covers,
    // including the singleton row (docs no pair touched). Runs the
    // dedup_cc_labels clustering, then two tiny aggregations
    // (cluster→size, size→count) plus a two-scalar subtraction for
    // singletons; nothing corpus-sized moves past the clustering.
    "dedup_cluster_histogram" -> ((s, dir) => {
      val labels = dup3Labels(s, dir)
      val hist = labels.groupBy(col("cluster_id")).agg(count(lit(1)).as("sz"))
        .groupBy(col("sz").as("cluster_size"))
        .agg(count(lit(1)).as("n_clusters"))
        .withColumn("n_docs", expr("cluster_size * n_clusters"))
      val singles = dupCorpus3(s, dir).agg(count(lit(1)).as("total"))
        .crossJoin(labels.agg(count(lit(1)).as("clustered")))
        .select(lit(1L).as("cluster_size"),
          (col("total") - col("clustered")).as("n_clusters"))
        .withColumn("n_docs", col("n_clusters"))
        .filter(col("n_clusters") > 0)
      hist.unionByName(singles)
    }),

    // Direct n-gram Jaccard on adjacent-id pairs (the exact-verify kernel
    // in isolation, linear in corpus size).
    "dedup_ngram_jaccard" -> ((s, dir) => {
      val d = shingleSets(Par.fanOut(docs(s, dir)), tokens(col("text")))
      d.as("l").join(d.as("r"), col("r.doc_id") === col("l.doc_id") + 1)
        .select(col("l.doc_id").as("doc_a"), col("r.doc_id").as("doc_b"),
          jaccard(col("l.sh"), col("r.sh")).as("jaccard"))
    }),

    // ASYMMETRIC containment dedup (Broder 1997's containment coefficient
    // |A∩B|/|A|, the measure resemblance/Jaccard provably cannot see):
    // a 30-token quote embedded in a 99-token page has J ≤ 28/97 ≈ 0.29 —
    // invisible to every 0.8-Jaccard path in this catalog — but
    // containment 1.0. Exactly the shape aggregators, quote-reposts and
    // boilerplate-wrapped mirrors take in a crawl. Candidates come from a
    // DISCRIMINATIVE-shingle inverted index: explode distinct shingle
    // hashes, drop shingles with df > ContainDfCap (boilerplate — the
    // winnowing trade: evidence of copying is rare shingles, and a df cap
    // bounds any shingle's fan-out to df²/2 pairs), self-join postings.
    // Exact verify re-joins full shingle SETS by id (the minhashLsh
    // payload discipline) and reports integer containment ppm BOTH ways.
    // Scale shape: postings shuffle (hash, id); the df agg is map-side
    // partial; verify joins by id; nothing shuffles text. The planted
    // quotes are mid-doc token slices — position-robust by construction.
    "dedup_containment" -> ((s, dir) => {
      val base = docs(s, dir)
        .select(col("doc_id"), tokens(col("text")).as("toks"))
      val corpus = base.unionByName(
        base.filter(col("doc_id") % 20 === 0 && size(col("toks")) >= QuoteMinToks)
          .select((col("doc_id") + QuoteIdOffset).as("doc_id"),
            slice(col("toks"), QuoteFrom, QuoteLen).as("toks")))
      val d = shingleSets(corpus, col("toks"))
        .cache() // ids + int sets only; feeds postings AND both verify sides
      val post = d.select(col("doc_id"), explode(col("sh")).as("h"))
      val rare = post.groupBy(col("h")).agg(count(lit(1)).as("df"))
        .filter(col("df") <= ContainDfCap).select("h")
      val rp = post.join(rare, Seq("h"))
      val cand = rp.as("l").join(rp.as("r"),
          col("l.h") === col("r.h") && col("l.doc_id") < col("r.doc_id"))
        .select(col("l.doc_id").as("doc_a"), col("r.doc_id").as("doc_b"))
        .distinct()
      withPairSets(cand, d, d)
        .select(col("doc_a"), col("doc_b"),
          size(array_intersect(col("sh_a"), col("sh_b"))).cast("long").as("n_common"),
          size(col("sh_a")).cast("long").as("size_a"),
          size(col("sh_b")).cast("long").as("size_b"))
        .withColumn("cont_a_ppm", expr("(n_common * 1000000) div size_a"))
        .withColumn("cont_b_ppm", expr("(n_common * 1000000) div size_b"))
        .filter(greatest(col("cont_a_ppm"), col("cont_b_ppm")) >= ContainMinPpm)
    }),

    // Per-document NOVELTY attribution — "how much text did this doc add
    // to the corpus?", the dedup-side dual of DSIR's importance question
    // and the metric behind dedup-then-count data-age studies: every
    // distinct shingle is attributed to exactly ONE document (its first
    // occurrence = min doc_id, the same keeper rule dedup_exact uses), so
    // novelty counts PARTITION the shingle space — Σ n_novel over docs ==
    // corpus-wide distinct shingles, an exact conservation law the spec
    // asserts. Planted +1e6 copies attribute ≈ nothing (their only new
    // shingles straddle the appended token). Scale shape: postings are
    // (hash, id) int64 pairs, the min-attribution agg is map-side
    // partial, novelty counts are a second tiny agg keyed by doc_id, and
    // the finisher is an id↔id left join — no window, no text shuffle,
    // parallelism ∝ corpus shingles.
    "dedup_novelty" -> ((s, dir) => {
      // the non-empty guard runs on the RAW token count BEFORE the shingle
      // projection (equivalent: sh is empty iff < 3 tokens). Filtering on
      // the derived `sh` column is 60× slower: predicate pushdown
      // substitutes the alias's whole HOF tree into the Filter, HOFs are
      // CodegenFallback inside predicates, and the interpreted transform
      // re-evaluates the token-hash subtree per element_at — measured
      // 38.5 s vs 0.44 s on this corpus (`BENCH/BASELINE.md` "Round-5";
      // PlanShapeSpec pins the plan shape).
      val d = shingleSets(dupCorpus(s, dir).filter(size(tokens(col("text"))) >= 3),
          tokens(col("text")))
        .cache() // ids + int sets only; feeds postings AND per-doc sizes
      val post = d.select(col("doc_id"), explode(col("sh")).as("h"))
      val novel = post.groupBy(col("h")).agg(min(col("doc_id")).as("doc_id"))
        .groupBy(col("doc_id")).agg(count(lit(1)).as("n_novel"))
      d.select(col("doc_id"), size(col("sh")).cast("long").as("n_shingles"))
        .join(novel, Seq("doc_id"), "left")
        .withColumn("n_novel", coalesce(col("n_novel"), lit(0L)))
        .withColumn("novelty_ppm", expr("(n_novel * 1000000) div n_shingles"))
    }),

    // Exact threshold similarity self-join via PREFIX FILTERING (Bayardo,
    // Ma & Srikant, WWW 2007 "Scaling Up All Pairs Similarity Search";
    // the MapReduce spelling is Vernica et al., SIGMOD 2010): every pair
    // with binary-cosine ≥ 0.9 over shingle sets is found WITHOUT LSH's
    // probabilistic recall — the candidate theorem is exact. Order the
    // feature space by (df ASC, feature ASC) — global, total; each doc
    // indexes only its first |x| − ⌈t²|x|⌉ + 1 shingles in that order
    // (its RAREST shingles); any qualifying pair shares ≥ ⌈t²|x|⌉
    // features, so by pigeonhole the prefixes of BOTH sides intersect —
    // candidates = prefix-posting self-join, complete by construction
    // (AllPairsCosineSpec brute-force checks it). Verify is the integer
    // cross-multiplication (no sqrt). Scale shape: df agg map-side
    // partial; shingle dfs are tiny so prefix-posting groups stay small,
    // with a MaxBandGroup cap bounding degenerate groups
    // deterministically, mirrored in the oracle; shuffles carry
    // (feature-hash, id) and (id, int) only.
    "dedup_allpairs_cosine" -> ((s, dir) => {
      import org.apache.spark.sql.expressions.Window
      val d = shingleSets(Par.fanOut(dupCorpus(s, dir)), tokens(col("text")))
        .cache() // ids + int sets only
      // doc size rides along on every posting row (one long) — joining a
      // corpus-sized size table back would be a second id shuffle
      val post = d.select(col("doc_id"), size(col("sh")).cast("long").as("n"),
        explode(col("sh")).as("t"))
      val df = post.groupBy(col("t")).agg(count(lit(1)).as("df"))
      val pref = post.join(df, Seq("t"))
        .withColumn("pos", row_number().over(
          Window.partitionBy(col("doc_id")).orderBy(col("df"), col("t"))).cast("long"))
        .filter(col("pos") <=
          col("n") - expr(s"(${ApCosNum * ApCosNum} * n + ${ApCosDen * ApCosDen - 1}) div ${ApCosDen * ApCosDen}") + 1L)
        .withColumn("rn", row_number().over(
          Window.partitionBy(col("t")).orderBy(col("doc_id"))))
        .filter(col("rn") <= MaxBandGroup)
        .select(col("doc_id"), col("t"))
      val cand = pref.as("l").join(pref.as("r"),
          col("l.t") === col("r.t") && col("l.doc_id") < col("r.doc_id"))
        .select(col("l.doc_id").as("doc_a"), col("r.doc_id").as("doc_b"))
        .distinct()
      withPairSets(cand, d, d)
        .select(col("doc_a"), col("doc_b"),
          size(array_intersect(col("sh_a"), col("sh_b"))).cast("long").as("n_common"),
          size(col("sh_a")).cast("long").as("size_a"),
          size(col("sh_b")).cast("long").as("size_b"))
        .filter(col("n_common") * col("n_common") * (ApCosDen * ApCosDen) >=
          col("size_a") * col("size_b") * (ApCosNum * ApCosNum))
        .withColumn("cos2_ppm",
          expr("(n_common * n_common * 1000000) div (size_a * size_b)"))
    }),

    // Sorted-neighborhood dedup (Hernández & Stolfo, SIGMOD 1995): sort
    // the corpus ONCE by a blocking key — here the 32-char text prefix —
    // and compare each record only to its w−1 successors in that order.
    // The linear-scan alternative to LSH when near-dups share a sortable
    // key (URLs, titles, leading text); total candidates = (w−1)·N
    // regardless of cluster sizes, vs LSH's Σ bucket². Scale shape: the
    // global order is [[Par.globalRank]] with bucket = key prefix, so
    // (bucket, key, doc_id) order ≡ (key, doc_id) order; the rank pass
    // shuffles (doc_id, 32-char key) only; shingle sets re-join BY ID
    // for the surviving candidates ([[withPairSets]]); exact-verify is
    // the catalog's n-gram Jaccard. dupCorpus's planted
    // copies append " zzz" — prefix-identical, so they land adjacent.
    "dedup_sorted_neighborhood" -> ((s, dir) => {
      val c = Par.fanOut(dupCorpus(s, dir))
      val keyed = c.select(col("doc_id"),
          substring(col("text"), 1, SnmKeyChars).as("key"))
        .withColumn("bucket", substring(col("key"), 1, 1))
      val ranked = Par.globalRank(keyed, "bucket", Seq(col("key"), col("doc_id")), "rnk")
        .select(col("doc_id"), col("rnk"))
      val cand = ranked
        .withColumn("k", explode(sequence(lit(1L), lit((SnmWindow - 1).toLong))))
        .select(col("doc_id").as("doc_a"), (col("rnk") + col("k")).as("tr"),
          col("k").as("gap"))
        .join(ranked.select(col("doc_id").as("doc_b"), col("rnk").as("tr")), Seq("tr"))
        .select(col("doc_a"), col("doc_b"), col("gap"))
      val sh = shingleSets(c, tokens(col("text")))
      withPairSets(cand, sh, sh)
        .select(col("doc_a"), col("doc_b"), col("gap"),
          jaccard(col("sh_a"), col("sh_b")).as("jaccard"))
        .filter(col("jaccard") >= SnmMinJaccard)
    }),

    // Suffix-array neighbor LCP — the ACTUAL machinery of exact substring
    // dedup (Lee et al. 2021, "Deduplicating Training Data Makes Language
    // Models Better"): text_substr_dedup removes at fixed CHUNK
    // granularity; this measures duplication at ARBITRARY sub-chunk
    // granularity via the suffix-array property that every suffix's
    // longest duplicated prefix is realized against one of its two
    // NEIGHBORS in suffix-sorted order. Distributed construction is the
    // production recipe for SA at corpus scale: suffixes are represented
    // by a TRUNCATED sort key ([[SuffixKeyChars]] chars — joins of
    // [[SuffixKeyToks]] tokens guarantee ≥ the cap whenever that many
    // tokens remain, since a token is ≥ 1 char + separator), globally
    // range-sorted with the bucket-offset rank (the sorted-neighborhood
    // shape: per-bucket row_number + broadcast prefix-sum of bucket
    // counts — NO single-partition window), and each adjacent pair's LCP
    // is a 64-bounded prefix scan. Shuffles carry (rank, key64) — never
    // full text; the neighbor join is rank→rank+1 (uniform keys, no
    // skew by construction). Per-doc rollup: suffix count, the longest
    // duplicated span (capped at the key width, documented), and how
    // many suffixes open a duplicated run ≥ [[SuffixDupChars]] chars.
    // dupCorpus's planted copies differ only in a " zzz" tail, so every
    // original long doc carries cap-length duplicated suffixes.
    "dedup_suffix_lcp" -> ((s, dir) => {
      import org.apache.spark.sql.expressions.Window
      val t = Par.fanOut(dupCorpus(s, dir))
        .select(col("doc_id"), tokens(col("text")).as("toks"))
      val suf = t.select(col("doc_id"),
        explode(transform(sequence(lit(0), size(col("toks")) - 1), p =>
          substring(array_join(slice(col("toks"), p + 1, lit(SuffixKeyToks)), " "),
            1, SuffixKeyChars))).as("key"))
      // 2-char bucket: bucket order is a PREFIX order, so (bucket; key,
      // doc_id within bucket) ≡ the global (key, doc_id) suffix order —
      // and a suffix's sorted-order neighbors are its lead/lag WITHIN its
      // bucket window except at the two bucket edges, where the neighbor
      // is the adjacent bucket's extreme key. That makes the whole
      // neighbor-LCP pass ONE bucket-partitioned window (lead + lag ride
      // the same sort the rank needed anyway) plus a broadcast of the
      // per-bucket (prev-bucket max key, next-bucket min key) boundary
      // frame — replacing the former global-rank machinery (rank window,
      // cached rank table, and TWO rnk-keyed self-joins that re-shuffled
      // every (rnk, key64) row twice more). The 2-char bucket (vs 1) also
      // lifts window parallelism to the distinct-2-gram count (ADVICE r5).
      val bucketed = suf.withColumn("bucket", substring(col("key"), 1, 2))
      // ≤ |distinct 2-grams| rows; the single-partition window over it is
      // the same tiny-frame discipline as the old prefix-sum offsets
      val wb = Window.orderBy(col("bucket"))
      val bounds = bucketed.groupBy(col("bucket"))
        .agg(min(col("key")).as("bmin"), max(col("key")).as("bmax"))
        .select(col("bucket"),
          lag(col("bmax"), 1).over(wb).as("prev_max"),
          lead(col("bmin"), 1).over(wb).as("next_min"))
      // LCP: prefix equality is monotone in i, so the first mismatching
      // position minus one IS the LCP. The dominant equal-key runs
      // (planted copies) short-circuit to w with one comparison. The
      // mismatch scan is BLOCK-WISE — first differing 8-char block, then
      // a char-scan only inside it (≤ 8 + 8 substr calls vs the former
      // per-char scan's 64; the single-char substr allocations were
      // measured as ~2.5 s of the query's 3.8 s at sf0.1) — and each
      // scan is a NAMED COLUMN: the HOF expressions are interpreted
      // (no codegen CSE), so an inline form re-evaluated fb per
      // reference; multiply-referenced non-cheap aliases keep their own
      // Project under CollapseProject and run once per row. A char-scan
      // that finds no mismatch within w (the differing block diverges
      // only past w, i.e. one key is a prefix of the other) means
      // LCP = w, same as the old 0-position case. The null/empty guards:
      // a missing neighbor (corpus edge) contributes 0, like the old
      // left joins' coalesce.
      val aK = col("key"); val bK = col("nk")
      val wN = least(length(aK), length(bK))
      // COMPACT single-expression LCP (the pre-column form) — used only
      // for the ≤|buckets| first-row-per-bucket boundary fallbacks below
      def lcpOf(a: Column, b: Column): Column = {
        val w = least(length(a), length(b))
        def mm = array_position(transform(sequence(lit(1), w),
          i => a.substr(i, lit(1)) === b.substr(i, lit(1))), false)
        when(b.isNull, lit(0L)).when(w === 0, lit(0L))
          .when(a === b, w.cast("long"))
          .when(mm === 0L, w.cast("long"))
          .otherwise(mm - 1L)
      }
      // ties (identical keys) need no further ordering: every member of an
      // equal-key run gets dup_len = len(key) from its in-run neighbor, so
      // the per-doc rollup is permutation-invariant within runs.
      // Each adjacent pair's LCP is computed ONCE, on its lower row (vs
      // the next key): the lag-side value of row i+1 is the SAME pair, so
      // it arrives via lag(lcp_n) over the same sort — halving the scans.
      // Only each bucket's first row falls back to an explicit LCP
      // against the previous bucket's max key (≤ |buckets| evaluations).
      val wk = Window.partitionBy(col("bucket")).orderBy(col("key"), col("doc_id"))
      bucketed.join(broadcast(bounds), Seq("bucket"))
        .withColumn("nk", coalesce(lead(col("key"), 1).over(wk), col("next_min")))
        .withColumn("fb", when(bK.isNull || wN === 0 || aK === bK, lit(0L))
          .otherwise(array_position(transform(
            sequence(lit(0), ((wN + 7) / 8).cast("int") - 1), // ⌈w/8⌉ blocks
            i => aK.substr(i * 8 + 1, lit(8)) === bK.substr(i * 8 + 1, lit(8))), false)))
        .withColumn("cm", when(col("fb") > 0L,
            array_position(transform(
              sequence((col("fb") - 1L) * 8L + 1L,
                least(col("fb") * 8L, wN.cast("long"))),
              i => aK.substr(i.cast("int"), lit(1)) === bK.substr(i.cast("int"), lit(1))), false))
          .otherwise(lit(0L)))
        .withColumn("lcp_n",
          when(bK.isNull, lit(0L))
            .when(wN === 0, lit(0L))
            .when(aK === bK, wN.cast("long"))
            .when(col("fb") === 0L, wN.cast("long"))
            .when(col("cm") === 0L, wN.cast("long"))
            .otherwise((col("fb") - 1L) * 8L + col("cm") - 1L))
        .withColumn("dup_len",
          greatest(col("lcp_n"),
            coalesce(lag(col("lcp_n"), 1).over(wk),
              lcpOf(col("key"), col("prev_max")))))
        .groupBy(col("doc_id"))
        .agg(count(lit(1)).as("n_suffixes"),
          max(col("dup_len")).cast("long").as("max_dup_len"),
          count(when(col("dup_len") >= SuffixDupChars, 1)).as("n_dup_spans"))
    }),

    // Content-defined chunking (the storage-dedup CDC recipe — gear/
    // Rabin-style — applied to training text): a chunk BOUNDARY is where
    // the token's content hash ≡ 0 mod [[CdcDiv]], so boundaries move
    // with the CONTENT, not the position. That is the property fixed-
    // width chunking (text_dup_chunk_ratio / text_substr_dedup) lacks:
    // one token inserted at the front shifts every fixed-width chunk
    // hash, but leaves every CDC boundary in place — [[cdcCorpus]]
    // plants exactly that (a copy with one PREPENDED token), and all
    // chunks after each copy's first still dedup (spec-pinned). Per-doc
    // boundary extraction is one narrow array pass (no explode of
    // positions); the only corpus-wide move is the chunk-digest groupBy
    // — shuffles carry (digest, doc_id), never text. No min/max chunk
    // bounds (the sequential-scan variant): expected chunk = CdcDiv
    // tokens, documented; degenerate runs of boundary tokens make short
    // chunks, never unbounded ones.
    "dedup_cdc_chunks" -> ((s, dir) => {
      val t = cdcCorpus(s, dir)
        .select(col("doc_id"), tokens(col("text")).as("toks"))
        .withColumn("n", size(col("toks")))
        .filter(col("n") >= 1)
      // ascending boundary positions; the last token always closes a chunk
      val withBp = t
        .withColumn("bposr", filter(sequence(lit(1), col("n")), i =>
          hex32(concat(lit("cdc:"), element_at(col("toks"), i))) % CdcDiv === 0L))
        .withColumn("bpos",
          when(size(col("bposr")) > 0 && element_at(col("bposr"), -1) === col("n"),
            col("bposr"))
            .otherwise(concat(col("bposr"), array(col("n")))))
      val chunks = withBp
        .select(col("doc_id"), col("toks"),
          explode(transform(sequence(lit(1), size(col("bpos"))), k => struct(
            when(k === 1, lit(1)).otherwise(element_at(col("bpos"), k - 1) + 1).as("st"),
            element_at(col("bpos"), k).as("en")))).as("b"))
        .select(col("doc_id"),
          md5(array_join(
            slice(col("toks"), col("b.st"), col("b.en") - col("b.st") + 1), " ")).as("h"),
          (col("b.en") - col("b.st") + 1).cast("long").as("clen"))
      val dupH = chunks.groupBy(col("h"))
        .agg(countDistinct(col("doc_id")).as("nd"))
      chunks.join(dupH, Seq("h"))
        .groupBy(col("doc_id"))
        .agg(count(lit(1)).as("n_chunks"),
          sum(col("clen")).cast("long").as("n_toks"),
          count(when(col("nd") >= 2, 1)).as("n_dup_chunks"))
        .withColumn("dup_ppm", expr("(n_dup_chunks * 1000000) div n_chunks"))
    }),

    // Embedding-cosine near-dup: candidates come from sign-LSH buckets
    // whose plane count GROWS with the corpus (planesFor keeps ~64
    // vectors/bucket), with HAMMING-1 MULTIPROBE (each vector also probes
    // every one-flipped-plane bucket — the ann_multiprobe_topk move), then
    // survivors are exact-cosine verified. Round 3 joined on the single
    // own bucket: a near-dup pair straddling ONE hyperplane was silently
    // missed (DedupEmbeddingSpec plants exactly that pair). Probe cost is
    // (planes+1)× on an (id, bucket)-longs frame only — vectors join back
    // by id for surviving candidates (the minhashLsh shape). `probe_dist`
    // (0 = same bucket, 1 = one plane apart) is the shipped observable;
    // the oracle mirrors the identical probe set, so the check stays
    // hash-exact. Planted near-dups = tiny deterministic perturbation;
    // threshold 0.99 separates them from the corpus's true cosine range
    // (max ≈ 0.51).
    "dedup_embedding_cosine" -> ((s, dir) => embPairs(s, dir)),

    // The recall observable for the dedup path: how many verified pairs
    // each probe depth contributed. n_pairs at probe_dist=1 is EXACTLY
    // what single-probe missed — at 100 TB you track this fraction on a
    // sample, you don't eyeball pair lists (`ann_recall`'s role for the
    // search path).
    "dedup_embedding_probe_stats" -> ((s, dir) =>
      embPairs(s, dir)
        .groupBy(col("probe_dist"))
        .agg(count(lit(1)).as("n_pairs"), round(min(col("cos")), 4).as("min_cos"))))

  /** Verified embedding near-dup pairs over the planted corpus — the
    * upstream of both embedding queries (the cosine list and its
    * probe-depth rollup), computed by each. */
  private def embPairs(s: SparkSession, dir: String): DataFrame =
    embeddingNearDups(dupEmbeddings(s, dir),
      VectorKernels.planesFor(2L * emb(s, dir).count())) // metadata-cheap count

  /** documents' embeddings ∪ a perturbed copy (ids + 100,000) — the
    * planted-near-dup corpus both embedding-dedup queries run on. */
  private def dupEmbeddings(s: SparkSession, dir: String): DataFrame = {
    val e    = emb(s, dir)
    val base = e.select(col("vec_id"), VectorKernels.toDouble(col("embedding")).as("v"))
    val pert = e.select((col("vec_id") + 100000L).as("vec_id"),
      transform(col("embedding"), (x, i) => x.cast("double") + lit(0.01) * ((i % 3) - 1)).as("v"))
    base.unionByName(pert)
  }

  /** Verified near-dup pairs over a (vec_id, v: array<double>) corpus:
    * sign-LSH candidate generation with hamming-≤`probeHamming` multiprobe
    * (0 = own bucket only — the round-3 single-probe shape, kept for the
    * straddling-pair regression test), exact-cosine verification at
    * `threshold` ([[verifyCosinePairs]]). Scale shape: the (planes+1)×
    * probe explosion happens on an (id, bucket) longs-only frame; each
    * unordered pair surfaces exactly once (from the smaller id's probe set
    * — own ≠ flipped and flips are pairwise distinct, so no dedup pass is
    * needed). */
  def embeddingNearDups(all: DataFrame, planes: Int, dims: Int = 64,
      threshold: Double = 0.99, probeHamming: Int = 1): DataFrame = {
    // cached: both join sides (probe explode + own-bucket side) read keys,
    // and without the cache the planes×64-dim bucket fold runs twice over
    // the corpus. Tiny (2 longs/row); evicted by the caller's clearCache
    // (at scale the bucket is a stored index column, computed never).
    val keys = all.select(col("vec_id"),
      VectorKernels.lshBucket(col("v"), planes, dims).as("bkt")).cache()
    val flips =
      if (probeHamming >= 1) (0 until planes).map(j => col("bkt").bitwiseXOR(lit(1L << j)))
      else Seq.empty
    val probes = keys.select(col("vec_id"), col("bkt").as("own"),
      explode(array(col("bkt") +: flips: _*)).as("pb"))
    val cand = probes.join(
        keys.select(col("vec_id").as("vec_b"), col("bkt").as("bkt_b")),
        col("pb") === col("bkt_b") && col("vec_id") < col("vec_b"))
      .select(col("vec_id").as("vec_a"), col("vec_b"),
        when(col("pb") === col("own"), lit(0L)).otherwise(lit(1L)).as("probe_dist"))
    verifyCosinePairs(cand, all, threshold)
  }

  /** Exact-cosine verify of candidate vector pairs: `cand` carries
    * (vec_a, vec_b, …) ids, `all` the (vec_id, v: array<double>) corpus.
    * Vectors, with their norms computed once, join back by unique id on
    * both sides only for the candidates (never a corpus-wide pairing),
    * and a pair survives iff round(cos, 4) >= `threshold` — the rounded
    * value both engines agree on bit-for-bit. Output: `cand`'s columns
    * plus `cos`. */
  private[operators] def verifyCosinePairs(cand: DataFrame, all: DataFrame,
      threshold: Double): DataFrame = {
    val vecs = all.withColumn("nrm", VectorKernels.norm(col("v")))
    cand
      .join(vecs.select(col("vec_id").as("vec_a"), col("v").as("va"), col("nrm").as("na")),
        Seq("vec_a"))
      .join(vecs.select(col("vec_id").as("vec_b"), col("v").as("vb"), col("nrm").as("nb")),
        Seq("vec_b"))
      .select(cand.columns.toSeq.map(col) :+ round(VectorKernels.cosineWithNorms(
        col("va"), col("vb"), col("na"), col("nb")), 4).as("cos"): _*)
      .filter(col("cos") >= threshold)
  }

  // --- DuckDB oracles -----------------------------------------------------

  private[graft] val dkCorpus =
    """corpus AS (
      |  SELECT doc_id, text FROM documents
      |  UNION ALL
      |  SELECT doc_id + 1000000 AS doc_id, text || ' zzz' AS text FROM documents)""".stripMargin

  private[graft] def dkSig(src: String): String = {
    val mhs = (0 until MinhashK).map(j => s"${Dk.minhash("hs", j)} AS mh$j").mkString(", ")
    s"""toksrc AS (SELECT doc_id, ${Dk.tokens("text")} AS toks FROM $src),
       |thsrc AS (SELECT doc_id, ${Dk.tokenHashes("toks")} AS th FROM toksrc),
       |hsrc AS (SELECT doc_id, ${Dk.shingleHashes("th")} AS hs FROM thsrc),
       |sig AS (SELECT doc_id, hs AS sh, $mhs FROM hsrc),
       |banded AS (
       |  SELECT doc_id, band,
       |    CASE band ${(0 until 4).map(b => s"WHEN $b THEN mh${2 * b}").mkString(" ")} END AS k1,
       |    CASE band ${(0 until 4).map(b => s"WHEN $b THEN mh${2 * b + 1}").mkString(" ")} END AS k2
       |  FROM sig, (SELECT unnest(generate_series(0, 3)) AS band))""".stripMargin
  }

  /** [[dkSig]] with suffixed CTE names so two signature chains (e.g. the
    * standing index and an incoming batch) can coexist in one query. */
  private def dkSigSfx(src: String, x: String): String = {
    val mhs = (0 until MinhashK).map(j => s"${Dk.minhash("hs", j)} AS mh$j").mkString(", ")
    s"""tok$x AS (SELECT doc_id, ${Dk.tokens("text")} AS toks FROM $src),
       |th$x AS (SELECT doc_id, ${Dk.tokenHashes("toks")} AS th FROM tok$x),
       |hs$x AS (SELECT doc_id, ${Dk.shingleHashes("th")} AS hs FROM th$x),
       |sig$x AS (SELECT doc_id, hs AS sh, $mhs FROM hs$x),
       |band$x AS (
       |  SELECT doc_id, band,
       |    CASE band ${(0 until 4).map(b => s"WHEN $b THEN mh${2 * b}").mkString(" ")} END AS k1,
       |    CASE band ${(0 until 4).map(b => s"WHEN $b THEN mh${2 * b + 1}").mkString(" ")} END AS k2
       |  FROM sig$x, (SELECT unnest(generate_series(0, 3)) AS band)),
       |cap$x AS (
       |  SELECT doc_id, band, k1, k2 FROM (
       |    SELECT *, row_number() OVER (PARTITION BY band, k1, k2 ORDER BY doc_id) AS rn
       |    FROM band$x) WHERE rn <= $MaxBandGroup)""".stripMargin
  }

  private[operators] val dkJaccard =
    "round(len(list_intersect(l.sh, r.sh)) / " +
      "(len(list_distinct(l.sh)) + len(list_distinct(r.sh)) - len(list_intersect(l.sh, r.sh))), 4)"

  /** The LSH-candidate → jaccard-verify CTE block (`capped` through
    * `pairs`), over the `sig`/`banded` CTEs a preceding [[dkSig]] defines
    * — the verified near-dup PAIRS, before any clustering. Consumed
    * directly by pair-level oracles (the split-leakage audit) and as the
    * front half of [[dkLshCcBlock]]. */
  private[operators] val dkLshPairsBlock: String =
    s"""capped AS (
       |  SELECT doc_id, band, k1, k2 FROM (
       |    SELECT *, row_number() OVER (PARTITION BY band, k1, k2 ORDER BY doc_id) AS rn
       |    FROM banded) WHERE rn <= $MaxBandGroup),
       |cand AS (
       |  SELECT DISTINCT l.doc_id AS doc_a, r.doc_id AS doc_b
       |  FROM capped l JOIN capped r
       |    ON l.band = r.band AND l.k1 = r.k1 AND l.k2 = r.k2 AND l.doc_id < r.doc_id),
       |pairs AS (
       |  SELECT doc_a, doc_b FROM cand
       |  JOIN sig l ON l.doc_id = doc_a
       |  JOIN sig r ON r.doc_id = doc_b
       |  WHERE $dkJaccard >= 0.8)""".stripMargin

  /** The LSH-candidate → jaccard-verify → transitive-closure CTE block
    * (`capped` through `closure`), over the `sig`/`banded` CTEs a
    * preceding [[dkSig]] defines. Shared verbatim by the `dedup_cc_labels`
    * oracle, the curate-chain oracle, and the keep-best resolution oracle
    * — one spelling of the clustering semantics, three consumers. Callers
    * must open `WITH RECURSIVE` and finish with their own label/keeper
    * selection off `closure`. */
  private[operators] val dkLshCcBlock: String =
    s"""$dkLshPairsBlock,
       |edges AS (
       |  SELECT doc_a AS src, doc_b AS dst FROM pairs
       |  UNION ALL
       |  SELECT doc_b AS src, doc_a AS dst FROM pairs),
       |closure AS (
       |  SELECT src AS a, dst AS b FROM edges
       |  UNION
       |  SELECT c.a, e.dst FROM closure c JOIN edges e ON c.b = e.src)""".stripMargin

  private val dkCorpus3 =
    """corpus AS (
      |  SELECT doc_id, text FROM documents
      |  UNION ALL
      |  SELECT doc_id + 1000000 AS doc_id, text || ' zzz' AS text FROM documents
      |  UNION ALL
      |  SELECT doc_id + 2000000 AS doc_id, text || ' zzz zzz' AS text FROM documents)""".stripMargin

  private def dkSimhash(src: String): String =
    dkSimhashFrom(s"SELECT doc_id, unnest(${Dk.tokens("text")}) AS tok FROM $src")

  /** [[simhash64From]]'s oracle twin over any `(doc_id, tok)` SELECT. */
  private[operators] def dkSimhashFrom(toksSql: String): String = {
    val votes = (0 until 32).map(j => s"sum(((hlo >> $j) & 1) * 2 - 1) AS vl$j").mkString(", ") + ", " +
      (0 until 32).map(j => s"sum(((hhi >> $j) & 1) * 2 - 1) AS vh$j").mkString(", ")
    def pack(p: String) =
      (0 until 32).map(j => s"(CASE WHEN $p$j > 0 THEN ${1L << j} ELSE 0 END)").mkString(" + ")
    s"""toks AS ($toksSql),
       |hashed AS (SELECT doc_id, ${Dk.hex32Of("d", 1)} AS hlo, ${Dk.hex32Of("d", 9)} AS hhi
       |  FROM (SELECT doc_id, md5(tok) AS d FROM toks)),
       |votes AS (SELECT doc_id, $votes FROM hashed GROUP BY doc_id),
       |sh64 AS (SELECT doc_id, (${pack("vh")})::BIGINT AS simhash_hi,
       |  (${pack("vl")})::BIGINT AS simhash_lo FROM votes)""".stripMargin
  }

  /** [[simhashPairsFrom]]'s oracle twin: banded pairs + hamming ≤ 3 over
    * the `sh64` CTE (which [[dkSimhashFrom]] defines). */
  private[operators] val dkSimhashPairs: String =
    s"""banded AS (
       |  SELECT doc_id, simhash_hi, simhash_lo, band,
       |    (CASE band WHEN 0 THEN simhash_lo & 65535
       |               WHEN 1 THEN (simhash_lo >> 16) & 65535
       |               WHEN 2 THEN simhash_hi & 65535
       |               ELSE (simhash_hi >> 16) & 65535 END) AS key
       |  FROM sh64, (SELECT unnest([0, 1, 2, 3]) AS band)),
       |ph AS (
       |  SELECT DISTINCT l.doc_id AS doc_a, r.doc_id AS doc_b,
       |    (bit_count(xor(l.simhash_hi, r.simhash_hi))
       |      + bit_count(xor(l.simhash_lo, r.simhash_lo)))::BIGINT AS hamming
       |  FROM banded l JOIN banded r
       |    ON l.band = r.band AND l.key = r.key AND l.doc_id < r.doc_id)""".stripMargin

  val oracles: Map[String, String] = Map(
    "dedup_exact" ->
      """SELECT md5(text) AS content_hash, count(*) AS cnt, min(doc_id) AS keep_id
        |FROM documents GROUP BY 1""".stripMargin,
    "dedup_incremental" ->
      s"""WITH old AS (SELECT doc_id, text FROM documents),
         |newb AS (
         |  SELECT doc_id + 5000000 AS doc_id, text FROM documents WHERE doc_id % 4 = 0
         |  UNION ALL
         |  SELECT doc_id + 5000000, text || ' zzz' FROM documents WHERE doc_id % 4 = 1
         |  UNION ALL
         |  SELECT doc_id + 5000000,
         |    array_to_string(list_reverse(${Dk.tokens("text")}), ' ')
         |  FROM documents WHERE doc_id % 4 = 2
         |  UNION ALL
         |  SELECT doc_id + 1 + 5000000,
         |    array_to_string(list_reverse(${Dk.tokens("text")}), ' ')
         |  FROM documents WHERE doc_id % 4 = 2),
         |oldh AS (SELECT DISTINCT md5(text) AS h FROM old),
         |nh AS (SELECT doc_id, text, md5(text) AS h FROM newb),
         |exact AS (SELECT doc_id FROM nh WHERE h IN (SELECT h FROM oldh)),
         |rest AS (SELECT * FROM nh WHERE h NOT IN (SELECT h FROM oldh)),
         |keep AS (SELECT min(doc_id) AS doc_id FROM rest GROUP BY h),
         |bdup AS (SELECT doc_id FROM rest WHERE doc_id NOT IN (SELECT doc_id FROM keep)),
         |keepers AS (SELECT doc_id, text FROM rest WHERE doc_id IN (SELECT doc_id FROM keep)),
         |${dkSigSfx("keepers", "_n")},
         |${dkSigSfx("old", "_o")},
         |cand AS (
         |  SELECT DISTINCT n.doc_id AS n_id, o.doc_id AS o_id
         |  FROM cap_n n JOIN cap_o o
         |    ON n.band = o.band AND n.k1 = o.k1 AND n.k2 = o.k2),
         |near AS (
         |  SELECT DISTINCT n_id AS doc_id FROM cand
         |  JOIN sig_n l ON l.doc_id = n_id
         |  JOIN sig_o r ON r.doc_id = o_id
         |  WHERE $dkJaccard >= 0.8)
         |SELECT doc_id, 'exact_dup' AS status FROM exact
         |UNION ALL SELECT doc_id, 'batch_dup' FROM bdup
         |UNION ALL SELECT doc_id, 'near_dup' FROM near
         |UNION ALL SELECT doc_id, 'novel' FROM keepers
         |  WHERE doc_id NOT IN (SELECT doc_id FROM near)""".stripMargin,
    "dedup_minhash_sig" ->
      s"""WITH ${dkSig("documents")}
         |SELECT doc_id, ${(0 until MinhashK).map(j => s"mh$j").mkString(", ")} FROM sig""".stripMargin,
    "dedup_host_minhash" ->
      s"""WITH ${dkSig("documents")},
         |hs AS (
         |  SELECT d.source AS host,
         |    ${(0 until MinhashK).map(j => s"min(mh$j) AS mh$j").mkString(", ")}
         |  FROM sig JOIN documents d USING (doc_id)
         |  GROUP BY 1)
         |SELECT l.host AS host_a, r.host AS host_b,
         |  (${(0 until MinhashK).map(j => s"CASE WHEN l.mh$j = r.mh$j THEN 1 ELSE 0 END").mkString(" + ")})::BIGINT AS matches,
         |  ((${(0 until MinhashK).map(j => s"CASE WHEN l.mh$j = r.mh$j THEN 1 ELSE 0 END").mkString(" + ")}) * 1000000 // $MinhashK)::BIGINT AS est_jaccard_ppm
         |FROM hs l JOIN hs r ON l.host < r.host""".stripMargin,
    "dedup_minhash_lsh" ->
      s"""WITH $dkCorpus,
         |${dkSig("corpus")},
         |capped AS (
         |  SELECT doc_id, band, k1, k2 FROM (
         |    SELECT *, row_number() OVER (PARTITION BY band, k1, k2 ORDER BY doc_id) AS rn
         |    FROM banded) WHERE rn <= $MaxBandGroup),
         |cand AS (
         |  SELECT DISTINCT l.doc_id AS doc_a, r.doc_id AS doc_b
         |  FROM capped l JOIN capped r
         |    ON l.band = r.band AND l.k1 = r.k1 AND l.k2 = r.k2 AND l.doc_id < r.doc_id)
         |SELECT doc_a, doc_b, $dkJaccard AS jaccard
         |FROM cand
         |JOIN sig l ON l.doc_id = doc_a
         |JOIN sig r ON r.doc_id = doc_b
         |WHERE $dkJaccard >= 0.8""".stripMargin,
    "dedup_eval_pr" ->
      s"""WITH $dkCorpus,
         |${dkSig("corpus")},
         |$dkLshPairsBlock,
         |planted AS (SELECT doc_id AS doc_a, doc_id + 1000000 AS doc_b FROM documents),
         |m AS (SELECT count(*)::BIGINT AS tp FROM pairs JOIN planted USING (doc_a, doc_b)),
         |np AS (SELECT count(*)::BIGINT AS n_planted FROM planted),
         |npr AS (SELECT count(*)::BIGINT AS n_predicted FROM pairs)
         |SELECT n_planted, n_predicted, tp,
         |  (n_planted - tp)::BIGINT AS fn,
         |  (n_predicted - tp)::BIGINT AS extra,
         |  (tp * 1000000 // n_planted)::BIGINT AS recall_ppm
         |FROM np, npr, m""".stripMargin,
    "dedup_lsh_band_stats" ->
      s"""WITH $dkCorpus,
         |${dkSig("corpus")},
         |gs AS (SELECT band, k1, k2, count(*)::BIGINT AS g FROM banded GROUP BY 1, 2, 3)
         |SELECT g AS group_size, count(*) AS n_groups,
         |  sum(greatest(g - $MaxBandGroup, 0))::BIGINT AS dropped_rows
         |FROM gs GROUP BY 1""".stripMargin,
    "dedup_simhash" ->
      s"""WITH ${dkSimhash("documents")}
         |SELECT doc_id, simhash_hi, simhash_lo FROM sh64""".stripMargin,
    "dedup_simhash_pairs" ->
      s"""WITH $dkCorpus,
         |${dkSimhash("corpus")},
         |banded AS (
         |  SELECT doc_id, simhash_hi, simhash_lo, band,
         |    (CASE band WHEN 0 THEN simhash_lo & 65535
         |               WHEN 1 THEN (simhash_lo >> 16) & 65535
         |               WHEN 2 THEN simhash_hi & 65535
         |               ELSE (simhash_hi >> 16) & 65535 END) AS key
         |  FROM sh64, (SELECT unnest(generate_series(0, 3)) AS band))
         |SELECT DISTINCT l.doc_id AS doc_a, r.doc_id AS doc_b,
         |  (bit_count(xor(l.simhash_hi, r.simhash_hi)) +
         |   bit_count(xor(l.simhash_lo, r.simhash_lo)))::BIGINT AS hamming
         |FROM banded l JOIN banded r
         |  ON l.band = r.band AND l.key = r.key AND l.doc_id < r.doc_id
         |WHERE (bit_count(xor(l.simhash_hi, r.simhash_hi)) +
         |       bit_count(xor(l.simhash_lo, r.simhash_lo))) <= 3""".stripMargin,
    // Same banding/cap/verify pipeline as dedup_minhash_lsh over the
    // 3-generation corpus, then connected components as a recursive
    // transitive closure + per-node min reachable label — exactly the
    // fixpoint the Spark min-label propagation converges to.
    "dedup_cc_labels" ->
      s"""WITH RECURSIVE $dkCorpus3,
         |${dkSig("corpus")},
         |$dkLshCcBlock
         |SELECT a AS doc_id, least(a, min(b))::BIGINT AS cluster_id
         |FROM closure GROUP BY a""".stripMargin,
    "dedup_cluster_histogram" ->
      s"""WITH RECURSIVE $dkCorpus3,
         |${dkSig("corpus")},
         |$dkLshCcBlock,
         |labels AS (
         |  SELECT a AS doc_id, least(a, min(b))::BIGINT AS cluster_id
         |  FROM closure GROUP BY a),
         |sizes AS (SELECT cluster_id, count(*)::BIGINT AS sz
         |  FROM labels GROUP BY 1),
         |hist AS (
         |  SELECT sz AS cluster_size, count(*)::BIGINT AS n_clusters,
         |    (sz * count(*))::BIGINT AS n_docs
         |  FROM sizes GROUP BY 1),
         |singles AS (
         |  SELECT 1::BIGINT AS cluster_size,
         |    ((SELECT count(*) FROM corpus)
         |      - (SELECT count(*) FROM labels))::BIGINT AS n_clusters)
         |SELECT cluster_size, n_clusters, n_docs FROM hist
         |UNION ALL
         |SELECT cluster_size, n_clusters, n_clusters AS n_docs
         |FROM singles WHERE n_clusters > 0""".stripMargin,
    "dedup_ngram_jaccard" ->
      s"""WITH toksrc AS (SELECT doc_id, ${Dk.tokens("text")} AS toks FROM documents),
         |thsrc AS (SELECT doc_id, ${Dk.tokenHashes("toks")} AS th FROM toksrc),
         |d AS (SELECT doc_id, list_distinct(${Dk.shingleHashes("th")}) AS sh FROM thsrc)
         |SELECT l.doc_id AS doc_a, r.doc_id AS doc_b, $dkJaccard AS jaccard
         |FROM d l JOIN d r ON r.doc_id = l.doc_id + 1""".stripMargin,
    "dedup_containment" ->
      s"""WITH base AS (SELECT doc_id, ${Dk.tokens("text")} AS toks FROM documents),
         |corpus AS (
         |  SELECT doc_id, toks FROM base
         |  UNION ALL
         |  SELECT doc_id + $QuoteIdOffset AS doc_id,
         |    toks[$QuoteFrom:${QuoteFrom + QuoteLen - 1}] AS toks
         |  FROM base WHERE doc_id % 20 = 0 AND len(toks) >= $QuoteMinToks),
         |thc AS (SELECT doc_id, ${Dk.tokenHashes("toks")} AS th FROM corpus),
         |d AS (SELECT doc_id, list_distinct(${Dk.shingleHashes("th")}) AS sh FROM thc),
         |post AS (SELECT doc_id, unnest(sh) AS h FROM d),
         |rare AS (SELECT h FROM post GROUP BY h HAVING count(*) <= $ContainDfCap),
         |rp AS (SELECT doc_id, h FROM post JOIN rare USING (h)),
         |cand AS (SELECT DISTINCT l.doc_id AS doc_a, r.doc_id AS doc_b
         |  FROM rp l JOIN rp r ON l.h = r.h AND l.doc_id < r.doc_id),
         |ver AS (SELECT doc_a, doc_b,
         |    len(list_intersect(a.sh, b.sh))::BIGINT AS n_common,
         |    len(a.sh)::BIGINT AS size_a, len(b.sh)::BIGINT AS size_b
         |  FROM cand JOIN d a ON a.doc_id = cand.doc_a
         |  JOIN d b ON b.doc_id = cand.doc_b)
         |SELECT doc_a, doc_b, n_common, size_a, size_b,
         |  ((n_common * 1000000) // size_a)::BIGINT AS cont_a_ppm,
         |  ((n_common * 1000000) // size_b)::BIGINT AS cont_b_ppm
         |FROM ver
         |WHERE greatest((n_common * 1000000) // size_a,
         |               (n_common * 1000000) // size_b) >= $ContainMinPpm""".stripMargin,
    "dedup_novelty" ->
      s"""WITH $dkCorpus,
         |tok AS (SELECT doc_id, ${Dk.tokens("text")} AS toks FROM corpus),
         |thn AS (SELECT doc_id, ${Dk.tokenHashes("toks")} AS th FROM tok),
         |d AS (SELECT doc_id, list_distinct(${Dk.shingleHashes("th")}) AS sh
         |  FROM thn),
         |dd AS (SELECT doc_id, sh FROM d WHERE len(sh) > 0),
         |post AS (SELECT doc_id, unnest(sh) AS h FROM dd),
         |firsts AS (SELECT h, min(doc_id) AS doc_id FROM post GROUP BY 1),
         |novel AS (SELECT doc_id, count(*)::BIGINT AS n_novel
         |  FROM firsts GROUP BY 1)
         |SELECT dd.doc_id, len(sh)::BIGINT AS n_shingles,
         |  coalesce(n_novel, 0)::BIGINT AS n_novel,
         |  ((coalesce(n_novel, 0) * 1000000) // len(sh))::BIGINT AS novelty_ppm
         |FROM dd LEFT JOIN novel ON dd.doc_id = novel.doc_id""".stripMargin,
    "dedup_allpairs_cosine" ->
      s"""WITH $dkCorpus,
         |tok AS (SELECT doc_id, ${Dk.tokens("text")} AS toks FROM corpus),
         |thap AS (SELECT doc_id, ${Dk.tokenHashes("toks")} AS th FROM tok),
         |d AS (SELECT doc_id, list_distinct(${Dk.shingleHashes("th")}) AS ts FROM thap),
         |post AS (SELECT doc_id, len(ts)::BIGINT AS n, unnest(ts) AS t FROM d),
         |df AS (SELECT t, count(*)::BIGINT AS df FROM post GROUP BY 1),
         |pref AS (
         |  SELECT doc_id, t FROM (
         |    SELECT p.doc_id, p.t, p.n,
         |      row_number() OVER (PARTITION BY p.doc_id ORDER BY df.df, p.t) AS pos
         |    FROM post p JOIN df USING (t))
         |  WHERE pos <= n - ((${ApCosNum * ApCosNum} * n + ${ApCosDen * ApCosDen - 1}) // ${ApCosDen * ApCosDen}) + 1),
         |cap AS (SELECT doc_id, t FROM (
         |    SELECT *, row_number() OVER (PARTITION BY t ORDER BY doc_id) AS rn
         |    FROM pref) WHERE rn <= $MaxBandGroup),
         |cand AS (SELECT DISTINCT l.doc_id AS doc_a, r.doc_id AS doc_b
         |  FROM cap l JOIN cap r ON l.t = r.t AND l.doc_id < r.doc_id),
         |ver AS (SELECT doc_a, doc_b,
         |    len(list_intersect(a.ts, b.ts))::BIGINT AS n_common,
         |    len(a.ts)::BIGINT AS size_a, len(b.ts)::BIGINT AS size_b
         |  FROM cand JOIN d a ON a.doc_id = cand.doc_a
         |  JOIN d b ON b.doc_id = cand.doc_b)
         |SELECT doc_a, doc_b, n_common, size_a, size_b,
         |  ((n_common * n_common * 1000000) // (size_a * size_b))::BIGINT AS cos2_ppm
         |FROM ver
         |WHERE n_common * n_common * ${ApCosDen * ApCosDen} >=
         |      size_a * size_b * ${ApCosNum * ApCosNum}""".stripMargin,
    "dedup_sorted_neighborhood" ->
      s"""WITH $dkCorpus,
         |toksrc AS (SELECT doc_id, ${Dk.tokens("text")} AS toks FROM corpus),
         |thsrc AS (SELECT doc_id, ${Dk.tokenHashes("toks")} AS th FROM toksrc),
         |d AS (SELECT doc_id, list_distinct(${Dk.shingleHashes("th")}) AS sh FROM thsrc),
         |keyed AS (SELECT doc_id, substr(text, 1, $SnmKeyChars) AS key FROM corpus),
         |ranked AS (
         |  SELECT doc_id, row_number() OVER (ORDER BY key, doc_id) AS rnk FROM keyed),
         |cand AS (
         |  SELECT l.doc_id AS doc_a, r.doc_id AS doc_b, (r.rnk - l.rnk)::BIGINT AS gap
         |  FROM ranked l JOIN ranked r
         |    ON r.rnk > l.rnk AND r.rnk <= l.rnk + ${SnmWindow - 1})
         |SELECT * FROM (
         |  SELECT c.doc_a, c.doc_b, c.gap, $dkJaccard AS jaccard
         |  FROM cand c JOIN d l ON l.doc_id = c.doc_a JOIN d r ON r.doc_id = c.doc_b)
         |WHERE jaccard >= $SnmMinJaccard""".stripMargin,
    // Suffix neighbor LCP twin: DuckDB sorts the truncated suffix keys
    // with one global row_number (single-node engine — the Spark side's
    // bucket-offset rank is the distributed equivalent of the same total
    // order), takes each adjacent pair's LCP by counting matching
    // prefixes, and rolls up per doc exactly like the Spark plan.
    "dedup_suffix_lcp" ->
      s"""WITH $dkCorpus,
         |t AS (SELECT doc_id, ${Dk.tokens("text")} AS toks FROM corpus),
         |s AS (SELECT doc_id,
         |    unnest([substr(array_to_string(toks[i:i+${SuffixKeyToks - 1}], ' '), 1, $SuffixKeyChars)
         |            for i in generate_series(1, len(toks))]) AS key
         |  FROM t),
         |ranked AS (SELECT doc_id, key,
         |    row_number() OVER (ORDER BY key, doc_id) AS rnk FROM s),
         |lcp AS (SELECT rnk,
         |    len([i for i in generate_series(1, least(length(key), length(nk)))
         |         if substr(key, 1, i) = substr(nk, 1, i)]) AS lcp
         |  FROM (SELECT rnk, key, lead(key) OVER (ORDER BY rnk) AS nk FROM ranked)
         |  WHERE nk IS NOT NULL),
         |d AS (SELECT r.doc_id,
         |    greatest(coalesce(ln.lcp, 0), coalesce(lp.lcp, 0)) AS dup_len
         |  FROM ranked r
         |  LEFT JOIN lcp ln ON ln.rnk = r.rnk
         |  LEFT JOIN lcp lp ON lp.rnk = r.rnk - 1)
         |SELECT doc_id, count(*)::BIGINT AS n_suffixes,
         |  max(dup_len)::BIGINT AS max_dup_len,
         |  sum(CASE WHEN dup_len >= $SuffixDupChars THEN 1 ELSE 0 END)::BIGINT AS n_dup_spans
         |FROM d GROUP BY 1""".stripMargin,
    // CDC twin: identical prepended-token plant, identical boundary rule
    // (token hash ≡ 0 mod CdcDiv, last token always closes), identical
    // chunk digests and dup rollup.
    "dedup_cdc_chunks" ->
      s"""WITH corpus AS (
         |  SELECT doc_id, text FROM documents
         |  UNION ALL
         |  SELECT doc_id + 1000000 AS doc_id, 'qq ' || text AS text FROM documents),
         |t AS (SELECT doc_id, ${Dk.tokens("text")} AS toks FROM corpus),
         |t2 AS (SELECT doc_id, toks, len(toks) AS n FROM t WHERE len(toks) >= 1),
         |b AS (SELECT doc_id, toks, n,
         |    [i for i in generate_series(1, n)
         |     if ${Dk.hex32("'cdc:' || toks[i]")} % $CdcDiv = 0] AS bposr
         |  FROM t2),
         |b2 AS (SELECT doc_id, toks, n,
         |    CASE WHEN len(bposr) > 0 AND bposr[-1] = n THEN bposr
         |         ELSE list_append(bposr, n) END AS bpos
         |  FROM b),
         |ch AS (SELECT doc_id,
         |    unnest([md5(array_to_string(
         |        toks[(CASE WHEN k = 1 THEN 1 ELSE bpos[k-1] + 1 END):bpos[k]], ' '))
         |      for k in generate_series(1, len(bpos))]) AS h,
         |    unnest([bpos[k] - (CASE WHEN k = 1 THEN 0 ELSE bpos[k-1] END)
         |      for k in generate_series(1, len(bpos))]) AS clen
         |  FROM b2),
         |duph AS (SELECT h, count(DISTINCT doc_id) AS nd FROM ch GROUP BY 1)
         |SELECT c.doc_id, count(*)::BIGINT AS n_chunks, sum(c.clen)::BIGINT AS n_toks,
         |  sum(CASE WHEN d.nd >= 2 THEN 1 ELSE 0 END)::BIGINT AS n_dup_chunks,
         |  ((sum(CASE WHEN d.nd >= 2 THEN 1 ELSE 0 END) * 1000000) // count(*))::BIGINT AS dup_ppm
         |FROM ch c JOIN duph d ON d.h = c.h GROUP BY 1""".stripMargin,
    "dedup_embedding_cosine" ->
      s"""WITH $dkEmbNearDups
         |SELECT vec_a, vec_b, probe_dist, cos FROM verified""".stripMargin,
    "dedup_embedding_probe_stats" ->
      s"""WITH $dkEmbNearDups
         |SELECT probe_dist, count(*)::BIGINT AS n_pairs, round(min(cos), 4) AS min_cos
         |FROM verified GROUP BY 1""".stripMargin)

  /** Shared CTE chain for both embedding-dedup oracles: planted-perturbed
    * corpus → corpus-scaling planes → hamming-1 multiprobe candidate join
    * (probe list = own bucket prepended to every one-bit flip, mirroring
    * the Spark probe set bit-for-bit) → exact-cosine verify. */
  private def dkEmbNearDups: String =
    s"""base AS (
       |  SELECT vec_id, [x::DOUBLE for x in embedding] AS v FROM embeddings
       |  UNION ALL
       |  SELECT vec_id + 100000 AS vec_id,
       |    [embedding[i]::DOUBLE + 0.01 * (((i - 1) % 3) - 1) for i in generate_series(1, 64)] AS v
       |  FROM embeddings),
       |prm AS (SELECT ${VectorKernels.Dk.planesCase("n")} AS np
       |  FROM (SELECT 2 * count(*)::BIGINT AS n FROM embeddings)),
       |b AS (SELECT vec_id, v, ${VectorKernels.Dk.lshBucketDyn("v", "np", 64)} AS bkt
       |  FROM base, prm),
       |probes AS (
       |  SELECT vec_id, bkt AS own,
       |    unnest(list_prepend(bkt,
       |      [xor(bkt, (1::BIGINT << j)) for j in generate_series(0, np - 1)])) AS pb
       |  FROM b, prm),
       |cand AS (
       |  SELECT p.vec_id AS vec_a, c.vec_id AS vec_b,
       |    (CASE WHEN p.pb = p.own THEN 0 ELSE 1 END)::BIGINT AS probe_dist
       |  FROM probes p JOIN b c ON p.pb = c.bkt AND p.vec_id < c.vec_id),
       |verified AS (
       |  SELECT vec_a, vec_b, probe_dist,
       |    round(${VectorKernels.Dk.cosine("l.v", "r.v", 64)}, 4) AS cos
       |  FROM cand JOIN b l ON l.vec_id = vec_a JOIN b r ON r.vec_id = vec_b
       |  WHERE round(${VectorKernels.Dk.cosine("l.v", "r.v", 64)}, 4) >= 0.99)""".stripMargin
}
