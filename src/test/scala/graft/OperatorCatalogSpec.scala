package graft

import graft.streaming.StreamingQueries
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Smoke + semantics checks for the SparkEntry operator catalog over the
  * sf0.001 testdata. The exact cross-engine value check is the driver's
  * DuckDB oracle compare (tools/check_oracles.py replays it locally);
  * here we pin the invariants that don't need a second engine.
  */
class OperatorCatalogSpec extends AnyFunSuite with SparkSessionTestWrapper {

  private val dir = "/root/testdata/sf0.001"

  test("every oracle key has a query and every query runs non-empty") {
    assert(SparkEntry.oracleSql.keySet.subsetOf(SparkEntry.queries.keySet))
    SparkEntry.queries.foreach { case (name, fn) =>
      val n = fn(spark, dir).count()
      assert(n > 0, s"$name returned no rows")
    }
  }

  test("entry() returns verified extracted spans") {
    assert(SparkEntry.entry(spark).count() > 0)
  }

  test("dedup_exact groups match distinct hashes") {
    val docs = spark.read.parquet(s"$dir/documents.parquet")
    val out  = SparkEntry.queries("dedup_exact")(spark, dir)
    assert(out.count() == docs.select(md5(col("text"))).distinct().count())
    assert(out.agg(sum("cnt")).head.getLong(0) == docs.count())
  }

  test("dedup_minhash_lsh finds every planted near-dup pair") {
    val docs = spark.read.parquet(s"$dir/documents.parquet")
    // planted pairs are (id, id+1e6); all must survive LSH + jaccard>=0.8
    // for docs with >= 9 tokens (jaccard (n-2)/(n-1) >= 0.875)
    val out = SparkEntry.queries("dedup_minhash_lsh")(spark, dir)
      .filter(col("doc_b") === col("doc_a") + 1000000L)
    val eligible = docs
      .filter(size(split(trim(col("text")), "\\s+")) >= 9)
      .count()
    assert(out.count() >= eligible * 95 / 100, s"found ${out.count()} of $eligible planted pairs")
  }

  test("text_repetition_stats: planted dup line is counted, fractions bounded") {
    val out = SparkEntry.queries("text_repetition_stats")(spark, dir).cache()
    // every 3rd doc carries its first line planted again → dup_line_frac > 0
    assert(out.filter(col("doc_id") % 3 === 0 && col("dup_line_frac") <= 0.0).count() == 0)
    // fractions are valid ratios
    assert(out.filter(col("dup_line_frac") < 0 || col("dup_line_frac") > 1
      || col("dup_line_char_frac") < 0 || col("dup_line_char_frac") > 1
      || col("top_2gram_frac") < 0 || col("top_2gram_frac") > 1).count() == 0)
    out.unpersist()
    ()
  }

  test("text_substr_dedup matches a driver-side reference over the planted corpus") {
    // Independent reimplementation of the global-first-occurrence chunk
    // rule (scala collections, no Spark) over the same planted corpus:
    // documents ∪ (2-chunk prefix copies + the corpus-wide footer). Exact
    // per-doc equality on (n_chunks, kept_chunks, rewritten) — robust to
    // short docs whose copies have shifted (hence unique, hence kept)
    // chunk grids.
    val W = 10
    val footer = "standard footer text all rights reserved contact legal team here"
      .split(" ").toSeq
    val base = spark.read.parquet(s"$dir/documents.parquet")
      .select("doc_id", "text").collect()
      .map(r => (r.getLong(0), r.getString(1).trim.split("\\s+").toSeq))
    val corpus = base ++ base.map { case (id, t) => (id + 1000000L, t.take(2 * W) ++ footer) }
    val chunkKey = (toks: Seq[String], p: Int) => toks.slice(p * W, p * W + W).mkString(" ")
    val owner: Map[String, (Long, Int)] = corpus
      .flatMap { case (id, toks) =>
        (0 until toks.length / W).map(p => (chunkKey(toks, p), id, p)) }
      .groupBy(_._1).map { case (k, os) =>
        val ownDoc = os.map(_._2).min
        k -> (ownDoc, os.filter(_._2 == ownDoc).map(_._3).min)
      }
    val expected = corpus.map { case (id, toks) =>
      val nch  = toks.length / W
      val keep = (0 until nch).filter(p => owner(chunkKey(toks, p)) == ((id, p)))
      id -> ((nch.toLong, keep.size.toLong,
        (keep.flatMap(p => toks.slice(p * W, p * W + W)) ++ toks.drop(nch * W)).mkString(" ")))
    }.toMap
    val out = SparkEntry.queries("text_substr_dedup")(spark, dir).collect()
    assert(out.length == expected.size)
    out.foreach { r =>
      val id  = r.getAs[Long]("doc_id")
      val got = (r.getAs[Long]("n_chunks"), r.getAs[Long]("kept_chunks"),
        r.getAs[String]("rewritten"))
      assert(got == expected(id), s"doc $id: got $got want ${expected(id)}")
    }
    // the planted hot key: the chunk-aligned footer appears in every copy
    // of a >=2-chunk doc but survives in exactly one document corpus-wide
    val alignedFooterKeepers = corpus.collect {
      case (id, toks) if id >= 1000000L && toks.length % W == 0 &&
        owner(chunkKey(toks, toks.length / W - 1)) == ((id, toks.length / W - 1)) => id
    }
    assert(alignedFooterKeepers.length == 1,
      s"footer kept by ${alignedFooterKeepers.length} docs")
  }

  test("text_lm_familiarity: scores positive, one bigram per adjacent token pair") {
    val out = SparkEntry.queries("text_lm_familiarity")(spark, dir).cache()
    try {
      assert(out.filter(col("fam_score") <= 0).count() == 0, "non-positive familiarity")
      // n_bigrams == tokens - 1, re-derived independently from the corpus
      val toks = spark.read.parquet(s"$dir/documents.parquet")
        .select(col("doc_id"), (size(split(trim(col("text")), "\\s+")) - 1).cast("long").as("want"))
      assert(out.join(toks, Seq("doc_id")).filter(col("n_bigrams") =!= col("want")).count() == 0)
    } finally { out.unpersist(); () }
  }

  test("dedup_keep_best: odd clusters keep the clean copy, even clusters tie-break to min id") {
    val out = SparkEntry.queries("dedup_keep_best")(spark, dir).cache()
    try {
      // pair clusters {i, i+1e6}: parity decides the keeper — odd originals
      // carry the planted punct-junk suffix, so the CLEAN +1e6 copy must
      // win (keep-best diverges from min-id); even pairs are byte-identical
      // (equal quality), so the (quality DESC, doc_id ASC) tie-break keeps
      // the original
      val pairClusters = out.groupBy("cluster_id")
        .agg(count(lit(1)).as("n"), max(col("keeper_id")).as("k"),
          min(col("keeper_id")).as("k2"))
        .filter(col("n") === 2).collect()
      assert(pairClusters.nonEmpty)
      pairClusters.foreach { r =>
        val c = r.getLong(0)
        assert(r.getLong(2) == r.getLong(3), s"cluster $c has two keeper ids")
        val k = r.getLong(2)
        if (c % 2 == 1) assert(k == c + 1000000L, s"odd cluster $c kept $k, not the clean copy")
        else assert(k == c, s"even cluster $c kept $k, not the min id")
      }
      assert(pairClusters.exists(_.getLong(0) % 2 == 1), "no odd cluster formed")
      // exactly one kept member per cluster, cluster-wide
      assert(out.filter(col("kept")).groupBy("cluster_id").count()
        .filter(col("count") =!= 1).count() == 0)
      assert(out.filter(col("kept")).count() ==
        out.select("cluster_id").distinct().count())
      // singletons (docs too short to clear the 0.8 jaccard bar) keep themselves
      val singles = out.groupBy("cluster_id").agg(count(lit(1)).as("n"))
        .filter(col("n") === 1).select("cluster_id")
      assert(out.join(singles, Seq("cluster_id"), "left_semi")
        .filter(!col("kept")).count() == 0)
    } finally { out.unpersist(); () }
  }

  test("q_split_leakage: inline-hash audit equals the join-based spelling, both orientations surface") {
    import graft.functions.TextKernels.hex32
    val out = SparkEntry.queries("q_split_leakage")(spark, dir).cache()
    try {
      // independent reconstruction: same verified pairs (memoized frame),
      // but split labels materialized as a FRAME and joined — the
      // straightforward spelling the shipped inline-predicate pass must
      // reproduce exactly (symmetrization, orientation, aggregation)
      val d = spark.read.parquet(s"$dir/documents.parquet").select(col("doc_id"), col("text"))
      val corpus = d.unionByName(d.select((col("doc_id") + 1000000L).as("doc_id"),
        concat(col("text"), lit(" zzz")).as("text")))
      val split = corpus.select(col("doc_id"),
        when(hex32(concat(lit("split:"), col("doc_id").cast("string"))) % 100 < 90,
          lit("train")).otherwise(lit("val")).as("split"))
      val pairs = graft.operators.Dedup.minhashLsh(corpus)
        .select("doc_a", "doc_b")
      val sym = pairs.unionByName(
        pairs.select(col("doc_b").as("doc_a"), col("doc_a").as("doc_b")))
      val expected = sym
        .join(split.select(col("doc_id").as("doc_a"), col("split").as("sa")), Seq("doc_a"))
        .join(split.select(col("doc_id").as("doc_b"), col("split").as("sb")), Seq("doc_b"))
        .filter(col("sa") === "val" && col("sb") === "train")
        .groupBy(col("doc_a").as("doc_id"))
        .agg(count(lit(1)).as("n_train_dups"), min(col("doc_b")).as("min_train_dup"))
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
      val got = out.collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
      assert(got == expected)
      assert(got.nonEmpty, "no leaked val docs found — plant failed")
      // the audit must flag leaked VAL docs on both sides of the planted
      // pair shape: originals whose copy landed in train, and copies
      // whose original landed in train
      assert(got.exists(_._1 < 1000000L), "no original-side val doc flagged")
      assert(got.exists(_._1 >= 1000000L), "no copy-side val doc flagged")
      // a flagged doc's nearest train dup is a different doc
      got.foreach { case (id, n, m) => assert(n >= 1 && m != id) }
    } finally { out.unpersist(); () }
  }

  test("q_domain_cap: per-source quota holds and the kept set is the true quality top-cap") {
    val out = SparkEntry.queries("q_domain_cap")(spark, dir).collect()
    val bySrc = out.groupBy(_.getAs[String]("source"))
    bySrc.foreach { case (src, rows) =>
      assert(rows.length <= 10, s"$src exceeds the cap")
      assert(rows.map(_.getAs[Long]("rk")).sorted.toSeq == (1L to rows.length),
        s"$src ranks not contiguous from 1")
    }
    // independent driver-side recomputation of the policy: top-cap per
    // source by (quality DESC, doc_id ASC) from the text_quality score
    val qual = SparkEntry.queries("text_quality")(spark, dir)
      .select(col("doc_id"), col("quality"))
    val srcs = spark.read.parquet(s"$dir/documents.parquet")
      .select(col("doc_id"), col("source"))
    val expected = qual.join(srcs, Seq("doc_id")).collect()
      .groupBy(_.getAs[String]("source"))
      .flatMap { case (s0, rs) =>
        rs.toSeq.sortBy(r => (-r.getAs[Double]("quality"), r.getAs[Long]("doc_id")))
          .take(10).map(r => (r.getAs[Long]("doc_id"), s0))
      }.toSet
    assert(out.map(r => (r.getAs[Long]("doc_id"), r.getAs[String]("source"))).toSet
      == expected)
  }

  test("text_chunk_windows: stride progression covers every token, overlap = W-S") {
    val docs = spark.read.parquet(s"$dir/documents.parquet")
      .select(col("doc_id"),
        size(split(trim(col("text")), "\\s+")).cast("long").as("n"))
    val out = SparkEntry.queries("text_chunk_windows")(spark, dir).cache()
    try {
      // chunk starts are 0, S, 2S, ...; every doc's last chunk reaches its
      // final token (start + n_tok == n) and no chunk is empty
      assert(out.filter(col("start_tok") =!= col("chunk_id") * 12).count() == 0)
      assert(out.filter(col("n_tok") < 1).count() == 0)
      val last = out.groupBy("doc_id")
        .agg(max(col("start_tok") + col("n_tok")).as("covered"),
          count(lit(1)).as("nchunks"))
        .join(docs, Seq("doc_id"))
      assert(last.filter(col("covered") =!= col("n")).count() == 0,
        "some doc's windows do not reach its last token")
      // every doc present; docs with <= W tokens produce exactly one chunk
      assert(last.count() == docs.count())
      assert(last.filter(col("n") <= 16 && col("nchunks") =!= 1).count() == 0)
      // consecutive full windows overlap by exactly W-S = 4 tokens: the
      // next chunk's start is 12 tokens after the previous one's
      assert(last.filter(col("n") > 16 && col("nchunks") < 2).count() == 0)
    } finally { out.unpersist(); () }
  }

  test("q_url_dedup: scheme/www/case/utm/fragment variants collapse to one canonical page") {
    val out = SparkEntry.queries("q_url_dedup")(spark, dir).cache()
    try {
      // canonical form never carries furniture
      assert(out.filter(col("canonical_url").rlike("^www\\.|://|[?#]|/$|[A-Z]")).count() == 0)
      // every group of docs sharing (doc_id % 200) collapsed: one keeper,
      // the min id, everyone else dropped
      val grp = out.withColumn("pid", col("doc_id") % 200)
        .groupBy("pid")
        .agg(countDistinct(col("canonical_url")).as("ncanon"),
          min(col("doc_id")).as("minid"), max(col("keeper_id")).as("kmax"),
          min(col("keeper_id")).as("kmin"),
          sum(when(col("kept"), 1L).otherwise(0L)).as("nkept"))
      assert(grp.filter(col("ncanon") =!= 1).count() == 0, "a variant escaped canonicalization")
      assert(grp.filter(col("kmax") =!= col("kmin") || col("kmax") =!= col("minid")).count() == 0)
      assert(grp.filter(col("nkept") =!= 1).count() == 0)
    } finally { out.unpersist(); () }
  }

  test("q_dsir_weight: planted target domain scores above the spam domain and the keep line") {
    val out = SparkEntry.queries("q_dsir_weight")(spark, dir).cache()
    try {
      val mean = (m: Long) => out.filter(col("doc_id") % 4 === m)
        .agg(avg(col("importance"))).head.getDouble(0)
      val (target, spam, neutral) = (mean(0L), mean(1L), mean(2L))
      assert(target > spam, s"target mean $target not above spam mean $spam")
      assert(target > neutral, s"target mean $target not above neutral mean $neutral")
      // direction of the keep gate: a strict majority of target docs pass,
      // and target docs pass at a higher rate than spam docs
      val rate = (m: Long) => {
        val g = out.filter(col("doc_id") % 4 === m)
        g.filter(col("keep")).count().toDouble / g.count()
      }
      assert(rate(0L) > 0.5, s"only ${rate(0L)} of target docs kept")
      assert(rate(0L) > rate(1L), "spam docs kept at >= the target rate")
    } finally { out.unpersist(); () }
  }

  test("q_host_pagerank: the planted hub ranks first and rank mass is conserved-ish") {
    val out = SparkEntry.queries("q_host_pagerank")(spark, dir).cache()
    try {
      assert(out.count() == 20)
      val hub = out.filter(col("host") === "src0").head()
      assert(hub.getAs[Long]("crawl_rank") == 1L, s"hub ranked ${hub.getAs[Long]("crawl_rank")}")
      // the hub absorbs ~1/3 of all links; its rank must clearly separate
      // from the rotating-target background
      val rest = out.filter(col("host") =!= "src0")
        .agg(avg(col("pr2"))).head.getDouble(0)
      assert(hub.getAs[Long]("pr2") > 2 * rest,
        s"hub pr2 ${hub.getAs[Long]("pr2")} not separated from mean $rest")
      // every iteration keeps total mass within the floor-loss bound:
      // sum(r) <= n·SCALE and >= n·SCALE − edges (one unit lost per floor)
      val tot = out.agg(sum(col("pr2"))).head.getLong(0)
      assert(tot <= 20L * 1000000L && tot > 19L * 1000000L, s"mass $tot out of bound")
      // ranks are a dense permutation with deterministic tie-break
      assert(out.select("crawl_rank").distinct().count() ==
        out.select("pr2").distinct().count())
    } finally { out.unpersist(); () }
  }

  test("q_hits: the planted hub is the top authority, normalization is exact") {
    val out = SparkEntry.queries("q_hits")(spark, dir).cache()
    try {
      assert(out.count() == 20)
      // src0 absorbs ~1/3 of all in-links => top authority by a wide margin
      val hub = out.filter(col("host") === "src0").head()
      assert(hub.getAs[Long]("auth_rank") == 1L,
        s"hub auth-ranked ${hub.getAs[Long]("auth_rank")}")
      assert(hub.getAs[Long]("auth2") == 1000000L, "max-normalized top != SCALE")
      val restMax = out.filter(col("host") =!= "src0")
        .agg(max(col("auth2"))).head.getLong(0)
      assert(restMax * 2 <= 1000000L,
        s"runner-up auth $restMax not separated from the hub")
      // every score sits on the integer lattice [0, SCALE]; each
      // half-step's max lands exactly on SCALE ((m*S) div m = S)
      Seq("auth1", "hub1", "auth2", "hub2").foreach { c =>
        val (mn, mx) = (out.agg(min(col(c))).head.getLong(0),
          out.agg(max(col(c))).head.getLong(0))
        assert(mn >= 0L && mx == 1000000L, s"$c range [$mn,$mx] off-lattice")
      }
      // ranks are dense with the deterministic (score desc, host) tie-break
      assert(out.select("auth_rank").distinct().count() ==
        out.select("auth2").distinct().count())
      assert(out.select("hub_rank").distinct().count() ==
        out.select("hub2").distinct().count())
    } finally { out.unpersist(); () }
  }

  test("text_bpe_merges equals a sequential greedy BPE reference, doc by doc") {
    // independent reference: plain Scala — count pairs, adopt the argmax
    // (count DESC, pair ASC), rewrite each doc with a SEQUENTIAL
    // left-to-right greedy fold (the semantics the run-parity window
    // claims to reproduce), twice
    def round(corpus: Map[Long, Vector[String]]): (Map[Long, Vector[String]], (String, String)) = {
      val counts = scala.collection.mutable.Map.empty[(String, String), Long]
      corpus.values.foreach { t =>
        t.iterator.zip(t.iterator.drop(1)).foreach { p =>
          counts(p) = counts.getOrElse(p, 0L) + 1L
        }
      }
      val best = counts.toSeq.minBy { case ((a, b), c) => (-c, a, b) }._1
      val rewritten = corpus.map { case (id, t) =>
        val out = Vector.newBuilder[String]
        var i = 0
        while (i < t.length) {
          if (i + 1 < t.length && t(i) == best._1 && t(i + 1) == best._2) {
            out += s"${t(i)}_${t(i + 1)}"; i += 2
          } else { out += t(i); i += 1 }
        }
        id -> out.result()
      }
      (rewritten, best)
    }
    val corpus0 = spark.read.parquet(s"$dir/documents.parquet")
      .select(col("doc_id"), col("text")).collect()
      .map(r => r.getLong(0) -> r.getString(1).trim.split("\\s+").toVector).toMap
    val (c1, b1) = round(corpus0)
    val (c2, b2) = round(c1)
    val out = SparkEntry.queries("text_bpe_merges")(spark, dir).collect()
    assert(out.length == corpus0.size)
    out.foreach { r =>
      val id = r.getAs[Long]("doc_id")
      assert(r.getAs[String]("merge1") == s"${b1._1}_${b1._2}")
      assert(r.getAs[String]("merge2") == s"${b2._1}_${b2._2}")
      assert(r.getAs[Long]("n_before") == corpus0(id).length.toLong)
      assert(r.getAs[Long]("n_after") == c2(id).length.toLong)
      assert(r.getAs[String]("bpe_text") == c2(id).mkString(" "),
        s"doc $id: greedy reference diverges")
    }
    // and the run-parity edge specifically: a self-adjacent run "x x x x x"
    // greedily merges offsets 0 and 2, leaving [x_x, x_x, x]
    val (solo, _) = round(Map(1L -> Vector("x", "x", "x", "x", "x")))
    assert(solo(1L) == Vector("x_x", "x_x", "x"))
  }

  test("q_memorization_audit: a val doc whose twin landed in train reads fully memorized") {
    val out = SparkEntry.queries("q_memorization_audit")(spark, dir).cache()
    try {
      // output = val docs only (~10% of the doubled corpus)
      val ids = out.select("doc_id").collect().map(_.getLong(0)).toSet
      assert(ids.nonEmpty && ids.size < 400)
      // twin split is recoverable from the output itself: the twin of id
      // is id±1e6, and it sits in train iff it is NOT among the val rows
      val twinInTrain = ids.filter { id =>
        val twin = if (id >= 1000000L) id - 1000000L else id + 1000000L
        !ids.contains(twin)
      }
      assert(twinInTrain.nonEmpty)
      val notFull = out.filter(col("doc_id").isin(twinInTrain.toSeq: _*))
        .filter(col("memorized_frac") < 1.0).count()
      assert(notFull == 0, s"$notFull twin-in-train val docs not fully memorized")
      // fractions are well-formed and the audit found genuine zeros too
      // (an unpaired val doc with no chunk collisions)
      assert(out.filter(col("memorized_frac") > 1.0 || col("memorized_frac") < 0.0).count() == 0)
      assert(out.filter(col("memorized_chunks") > col("n_chunks")).count() == 0)
    } finally { out.unpersist(); () }
  }

  test("q_skew_salted_join: the hot key spreads across partitions; dim fan-out is exact") {
    val events = spark.read.parquet(s"$dir/events.parquet")
      .select(col("event_id"),
        when(col("event_id") % 2 === 0, lit(0L)).otherwise(col("user_id")).as("user_id"))
    val p = 32
    // unsalted: every hot-key row hashes to ONE reduce partition
    val unsalted = events.filter(col("user_id") === 0L)
      .select(pmod(hash(col("user_id")), lit(p)).as("part"))
      .distinct().count()
    assert(unsalted == 1L)
    // salted: the same rows cover at least half the salt fan-out
    val salted = events.filter(col("user_id") === 0L)
      .select(pmod(hash(col("user_id"), col("event_id") % graft.operators.Relational.SkewSalts), lit(p)).as("part"))
      .distinct().count()
    assert(salted >= graft.operators.Relational.SkewSalts / 2,
      s"hot key covered only $salted partitions")
    // the result itself: hot key holds half the events, every key's
    // aggregate present exactly once per (key, segment)
    val out = SparkEntry.queries("q_skew_salted_join")(spark, dir)
    val hot = out.filter(col("user_id") === 0L)
      .agg(sum(col("n_events"))).head.getLong(0)
    assert(hot >= events.count() / 2)
    assert(out.groupBy("user_id", "c_mktsegment").count()
      .filter(col("count") =!= 1).count() == 0)
  }

  test("q_domain_mix: temperature resampling flattens the planted skew, no upsampling") {
    val rows = SparkEntry.queries("q_domain_mix")(spark, dir).collect()
      .map(r => (r.getAs[String]("domain"), r.getAs[Double]("share_raw"),
        r.getAs[Long]("keep_scaled"), r.getAs[Double]("share_sampled"))).toSeq
    // no domain keeps more than 100% and the rarest keeps exactly 100%
    assert(rows.forall(_._3 <= 1000000L))
    assert(rows.filter(r => r._2 == rows.map(_._2).min).forall(_._3 == 1000000L))
    // the dominant domain's share shrinks, the rarest's grows (flattening)
    val top  = rows.maxBy(_._2)
    val rare = rows.minBy(_._2)
    assert(top._4 < top._2 && rare._4 > rare._2,
      s"mix did not flatten: $rows")
  }

  test("text_bm25_topk: unique-marker query term ranks its source doc first") {
    val top = SparkEntry.queries("text_bm25_topk")(spark, dir)
      .filter(col("rank") === 1).collect()
    assert(top.nonEmpty)
    // the df=1 marker term's idf must dominate: rank-1 = the source doc
    top.foreach { r =>
      assert(r.getAs[Long]("doc_id") == r.getAs[Long]("query_id") - 900000L,
        s"query ${r.getAs[Long]("query_id")} rank-1 was ${r.getAs[Long]("doc_id")}")
    }
  }

  test("search_hybrid_rrf: source doc tops the fusion with both lists contributing") {
    val top = SparkEntry.queries("search_hybrid_rrf")(spark, dir)
      .filter(col("rank") === 1).collect()
    assert(top.nonEmpty)
    top.foreach { r =>
      assert(r.getAs[Long]("doc_id") == r.getAs[Long]("query_id") - 900000L)
      assert(r.getAs[Long]("n_lists") == 2L,
        s"query ${r.getAs[Long]("query_id")}: lexical and semantic lists should both rank the source")
    }
  }

  test("q_burst_detect: the planted flash-crowd bucket is flagged, mass conserved") {
    val out = SparkEntry.queries("q_burst_detect")(spark, dir).cache()
    try {
      // the planted re-stamp concentrates ~10% of view mass in the first
      // view bucket — it must flag
      val v  = out.filter(col("event_type") === "view")
      val b0 = v.agg(min(col("bucket"))).head.getLong(0)
      val first = v.filter(col("bucket") === b0).head()
      assert(first.getAs[Boolean]("is_burst"),
        s"planted burst not flagged (rate_ppm ${first.getAs[Long]("rate_ppm")})")
      // per type: bucket counts sum to the reported total, and the mean
      // bucket sits at rate_ppm ~1e6 by construction (sum cnt·nb = nb·T)
      val bad = out.groupBy(col("event_type"), col("total"))
        .agg(sum(col("cnt")).as("s")).filter(col("s") =!= col("total"))
      assert(bad.count() == 0, "bucket counts do not sum to the type total")
      // the absolute floor holds: no burst bucket below BurstMinCnt...
      assert(out.filter(col("is_burst") && col("cnt") < 3).count() == 0)
      // ...and it is load-bearing on this corpus: sparse types DO have
      // lonely-event buckets beating 3x their tiny mean rate that only
      // the floor suppresses (the rate-only rule would flag them all)
      assert(out.filter(col("rate_ppm") >= 3000000L && !col("is_burst"))
        .count() > 0, "floor suppressed nothing — corpus lost its sparse types")
    } finally { out.unpersist(); () }
  }

  test("search_query_expand: expansion is new vocabulary from the feedback set") {
    val out = SparkEntry.queries("search_query_expand")(spark, dir).cache()
    try {
      assert(out.count() > 0)
      // per query: <= 5 terms, ranks dense from 1, feedback support <= 3 docs
      val per = out.groupBy(col("query_id"))
        .agg(count(lit(1)).as("n"), max(col("rank")).as("mx"),
          max(col("n_fb_docs")).as("fb"))
      assert(per.filter(col("n") > 5 || col("mx") =!= col("n") ||
        col("fb") > 3).count() == 0)
      // no expansion term repeats an original query term: the qk marker of
      // the query's own source doc must never appear
      assert(out.filter(col("term") ===
        concat(lit("qk"), (col("query_id") - 900000L).cast("string"))).count() == 0)
      // weights are non-increasing down each ranked list
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy(col("query_id")).orderBy(col("rank"))
      assert(out.withColumn("prev", lag(col("weight"), 1).over(w))
        .filter(col("prev") < col("weight")).count() == 0)
    } finally { out.unpersist(); () }
  }

  test("search_snippet: each reported window is the brute-force optimum") {
    import graft.functions.TextKernels.tokens
    val out = SparkEntry.queries("search_snippet")(spark, dir).cache()
    try {
      assert(out.count() > 0)
      // independent ground truth: collect the top-docs' tokens and each
      // query's terms, scan EVERY window start by hand
      val t = spark.read.parquet(s"$dir/documents.parquet")
        .select(col("doc_id"),
          tokens(when(col("doc_id") % 100 === 0,
            concat(col("text"), lit(" qk"), col("doc_id").cast("string")))
            .otherwise(col("text"))).as("toks"))
      val docToks = t.join(out.select("doc_id").distinct(), Seq("doc_id"))
        .collect().map(r => r.getLong(0) -> r.getSeq[String](1)).toMap
      val qTerms = t.filter(col("doc_id") % 100 === 0)
        .collect().map { r =>
          val toks = r.getSeq[String](1)
          (r.getLong(0) + 900000L) ->
            (Set(s"qk${r.getLong(0)}") ++ toks.slice(4, 6))
        }.toMap
      out.collect().foreach { r =>
        val (qid, did) = (r.getAs[Long]("query_id"), r.getAs[Long]("doc_id"))
        val toks  = docToks(did)
        val terms = qTerms(qid)
        // best = max hits over ALL window starts (the optimality claim);
        // the reported start is the earliest HIT position attaining it
        // (a maximal window shifts left only into positions that add no
        // hits, so restricting starts to hits loses nothing)
        val scores = (1 to toks.length).map(p =>
          (p, toks.slice(p - 1, p - 1 + 10).count(terms.contains)))
        val bestHits  = scores.map(_._2).max
        val bestStart = scores.filter { case (p, sc) =>
          sc == bestHits && terms.contains(toks(p - 1)) }.map(_._1).min
        assert(r.getAs[Long]("window_hits") == bestHits.toLong,
          s"q$qid d$did: hits ${r.getAs[Long]("window_hits")} vs brute $bestHits")
        assert(r.getAs[Long]("start_pos") == bestStart.toLong,
          s"q$qid d$did: start ${r.getAs[Long]("start_pos")} vs brute $bestStart")
        assert(r.getAs[String]("snippet") ==
          toks.slice(bestStart - 1, bestStart - 1 + 10).mkString(" "))
      }
    } finally { out.unpersist(); () }
  }

  test("dedup_novelty: attribution partitions the shingle space; copies add ≈ nothing") {
    import graft.functions.TextKernels.{tokens => tks, tokenHashes, shingleHashes}
    val out = SparkEntry.queries("dedup_novelty")(spark, dir).cache()
    try {
      // conservation law: every distinct shingle is attributed to exactly
      // one doc, so Σ n_novel == corpus-wide distinct shingle count
      val totalNovel = out.agg(sum(col("n_novel"))).head.getLong(0)
      val d = spark.read.parquet(s"$dir/documents.parquet")
        .select(col("doc_id"), col("text"))
      val corpus = d.unionByName(d.select(
        (col("doc_id") + 1000000L).as("doc_id"),
        concat(col("text"), lit(" zzz")).as("text")))
      val distinctShingles = corpus
        .select(explode(shingleHashes(tokenHashes(tks(col("text"))))).as("h"))
        .distinct().count()
      assert(totalNovel == distinctShingles,
        s"attribution leak: sum(n_novel)=$totalNovel vs distinct=$distinctShingles")
      // a +1e6 copy differs from its original by ONE appended token ⇒ at
      // most one width-3 shingle the corpus has never seen
      val copyMax = out.filter(col("doc_id") >= 1000000L)
        .agg(max(col("n_novel"))).head.getLong(0)
      assert(copyMax <= 1L, s"a planted copy claimed $copyMax novel shingles")
      // and originals dominate: every shingle an original shares with its
      // copy is owned by the original (smaller id)
      val origNovel = out.filter(col("doc_id") < 1000000L)
        .agg(sum(col("n_novel"))).head.getLong(0)
      assert(origNovel > totalNovel / 2)
    } finally { out.unpersist(); () }
  }

  test("q_batch_pad_waste: length-sorted batching strictly dominates arrival order") {
    val out = SparkEntry.queries("q_batch_pad_waste")(spark, dir).cache()
    try {
      val m = out.groupBy(col("layout"))
        .agg(sum(col("tok_sum")).as("toks"),
          sum(col("padded") - col("tok_sum")).as("waste"),
          max(col("n_docs")).as("max_batch"))
        .collect().map(r => r.getString(0) ->
          (r.getLong(1), r.getLong(2), r.getLong(3))).toMap
      assert(m.keySet == Set("sorted", "arrival"))
      // token conservation: both layouts batch the same corpus
      assert(m("sorted")._1 == m("arrival")._1)
      // the point of the operator: sorting by length cuts padding
      assert(m("sorted")._2 < m("arrival")._2,
        s"sorted waste ${m("sorted")._2} !< arrival ${m("arrival")._2}")
      assert(m.values.forall(_._3 <= 32L))
      // batches are full except at most one remainder batch per layout
      val partial = out.filter(col("n_docs") < 32).groupBy(col("layout"))
        .count().collect().map(_.getLong(1))
      assert(partial.forall(_ <= 1L))
    } finally { out.unpersist(); () }
  }

  test("q_ccnet_buckets: per-language terciles are balanced and score-monotone") {
    val out = SparkEntry.queries("q_ccnet_buckets")(spark, dir).cache()
    try {
      // tercile balance: bucket sizes within a language differ by ≤ 1
      out.groupBy(col("lang"), col("bucket_id")).count()
        .groupBy(col("lang"))
        .agg(max(col("count")).as("mx"), min(col("count")).as("mn"),
          count(lit(1)).as("nb"))
        .collect().foreach { r =>
          assert(r.getLong(3) == 3L, s"${r.getString(0)}: missing a tercile")
          assert(r.getLong(1) - r.getLong(2) <= 1L,
            s"${r.getString(0)}: unbalanced terciles")
        }
      // monotone: head's lowest score ≥ middle's highest ≥ tail's highest
      val bands = out.groupBy(col("lang"), col("bucket_id"))
        .agg(min(col("fam_score")).as("lo"), max(col("fam_score")).as("hi"))
        .collect().map(r => (r.getString(0), r.getLong(1)) ->
          (r.getLong(2), r.getLong(3))).toMap
      bands.keys.map(_._1).toSeq.distinct.foreach { l =>
        assert(bands((l, 2L))._1 >= bands((l, 1L))._2, s"$l head < middle")
        assert(bands((l, 1L))._1 >= bands((l, 0L))._2, s"$l middle < tail")
      }
    } finally { out.unpersist(); () }
  }

  test("q_coreset_kcenter: the trace IS farthest-first (full Scala replay)") {
    import graft.functions.VectorKernels.quantize
    val out = SparkEntry.queries("q_coreset_kcenter")(spark, dir)
      .orderBy(col("round")).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    // independent replay: collect the quantized corpus, run greedy
    // k-center by hand, compare every (round, center, distance)
    val vecs = spark.read.parquet(s"$dir/embeddings.parquet")
      .select(col("vec_id"), quantize(col("embedding")).as("q"))
      .collect().map(r => r.getLong(0) -> r.getSeq[Long](1).toArray).toMap
    def d2(a: Array[Long], b: Array[Long]): Long =
      a.zip(b).map { case (x, y) => (x - y) * (x - y) }.sum
    var centers = Seq(vecs.keys.min)
    val mind = scala.collection.mutable.Map[Long, Long]() ++
      vecs.keys.map(_ -> Long.MaxValue)
    val expect = scala.collection.mutable.ArrayBuffer[(Long, Long, Long)](
      (0L, centers.head, 0L))
    for (r <- 1L until 8L) {
      vecs.foreach { case (id, q) =>
        mind(id) = math.min(mind(id), d2(q, vecs(centers.last)))
      }
      val (pick, pd) = mind.toSeq.sortBy { case (id, d) => (-d, id) }.head
      expect += ((r, pick, pd))
      centers = centers :+ pick
    }
    vecs.foreach { case (id, q) =>
      mind(id) = math.min(mind(id), d2(q, vecs(centers.last)))
    }
    expect += ((8L, -1L, mind.values.max))
    assert(out.toSeq == expect.toSeq)
    // farthest-first: pick distances never increase
    val ds = out.filter(r => r._1 >= 1 && r._1 <= 7).map(_._3)
    assert(ds.zip(ds.tail).forall { case (a, b) => a >= b })
  }

  test("search_mmr_rerank: greedy trace matches a by-hand MMR replay") {
    import graft.functions.TextKernels.{tokens => tks, tokenHashes, shingleHashes}
    val out = SparkEntry.queries("search_mmr_rerank")(spark, dir).cache()
    try {
      val bm = SparkEntry.queries("text_bm25_topk")(spark, dir)
        .select("query_id", "rank", "doc_id", "score_scaled").collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)))
      val byQ = bm.groupBy(_._1)
      // candidate shingle sets via the shared kernels (the greedy LOOP is
      // what this test replays independently)
      val candDocs = bm.map(_._3).toSet
      val sets = spark.read.parquet(s"$dir/documents.parquet")
        .filter(col("doc_id").isin(candDocs.toSeq: _*))
        .select(col("doc_id"), array_distinct(shingleHashes(tokenHashes(
          tks(when(col("doc_id") % 100 === 0,
            concat(col("text"), lit(" qk"), col("doc_id").cast("string")))
            .otherwise(col("text")))))).as("sh"))
        .collect().map(r => r.getLong(0) -> r.getSeq[Long](1).toSet).toMap
      def jac(a: Long, b: Long): Long = {
        val (sa, sb) = (sets(a), sets(b))
        val i = (sa & sb).size.toLong
        (i * 1000000L) / (sa.size + sb.size - i)
      }
      val expect = byQ.flatMap { case (q, rows) =>
        val smax = rows.find(_._2 == 1L).get._4
        val rel = rows.map(r => r._3 -> (r._4 * 1000000L) / smax).toMap
        var sel = Seq(rows.find(_._2 == 1L).get._3)
        val first = (q, sel.head, rel(sel.head), 0L, 70L * rel(sel.head), 1L)
        first +: (2L to 3L).map { r =>
          val cands = rel.keys.filterNot(sel.contains)
          val scored = cands.map { c =>
            val ms = sel.map(jac(c, _)).max
            (c, ms, 70L * rel(c) - 30L * ms)
          }
          val (c, ms, sc) = scored.toSeq.sortBy(x => (-x._3, x._1)).head
          sel = sel :+ c
          (q, c, rel(c), ms, sc, r)
        }
      }.toSet
      val got = out.collect().map(r => (r.getLong(0), r.getLong(1),
        r.getLong(2), r.getLong(3), r.getLong(4), r.getLong(5))).toSet
      assert(got == expect)
    } finally { out.unpersist(); () }
  }

  test("eval_bleu: identity scores perfect; tail corruption inflates length only") {
    val out = SparkEntry.queries("eval_bleu")(spark, dir).cache()
    try {
      val id = out.filter(col("corruption") === 0)
      assert(id.count() > 0)
      assert(id.filter(col("bleu1_ppm") =!= 1000000L ||
        col("bleu2_ppm") =!= 1000000L ||
        col("brevity_ppm") =!= 1000000L).count() == 0)
      // tail append: +3 tokens, every ref n-gram still matched, no
      // brevity penalty (hypothesis is LONGER), precision strictly < 1
      val tl = out.filter(col("corruption") === 3)
      assert(tl.filter(col("hyp_len") =!= col("ref_len") + 3).count() == 0)
      assert(tl.filter(col("uni_match") < col("ref_len")).count() == 0)
      assert(tl.filter(col("brevity_ppm") =!= 1000000L).count() == 0)
      assert(tl.filter(col("bleu1_ppm") >= 1000000L).count() == 0)
    } finally { out.unpersist(); () }
  }

  test("q_random_walks: every hop follows a real edge; one walk per source host") {
    import graft.operators.WebOps
    val out = SparkEntry.queries("q_random_walks")(spark, dir).cache()
    try {
      val edges = spark.read.parquet(s"$dir/documents.parquet")
        .select(col("source").as("src"), WebOps.linkTarget.as("dst"))
        .filter(col("src") =!= col("dst")).distinct()
        .collect().map(r => (r.getString(0), r.getString(1))).toSet
      val walks = out.collect()
        .map(r => (r.getString(0), r.getString(1), r.getLong(2)))
        .groupBy(_._1)
      assert(walks.keySet == edges.map(_._1))
      walks.values.foreach { rows =>
        val byStep = rows.sortBy(_._3)
        // steps contiguous from 0 (a sink host ends the walk early)
        assert(byStep.map(_._3).toSeq == (0L until byStep.length).toSeq)
        assert(byStep.head._2 == byStep.head._1) // starts at the source
        byStep.sliding(2).foreach {
          case Array(a, b) => assert(edges.contains((a._2, b._2)),
            s"walk ${a._1}: hop ${a._2}->${b._2} is not an edge")
          case _ =>
        }
      }
    } finally { out.unpersist(); () }
  }

  test("text_readability: planted sentence grid parses back; bands match thresholds") {
    import graft.functions.TextKernels.{tokens => tks}
    val out = SparkEntry.queries("text_readability")(spark, dir).cache()
    try {
      val orig = spark.read.parquet(s"$dir/documents.parquet")
        .select(col("doc_id"), size(tks(col("text"))).cast("long").as("n"))
        .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
      out.collect().foreach { r =>
        val (id, w, s2) = (r.getAs[Long]("doc_id"), r.getAs[Long]("n_words"),
          r.getAs[Long]("n_sents"))
        assert(w == orig(id), s"doc $id: token count changed by planting")
        assert(s2 == w / 8, s"doc $id: expected ${w / 8} sentences, got $s2")
        val lix  = r.getAs[Long]("lix_ppm")
        val band = r.getAs[String]("lix_band")
        val want = if (lix < 25000000L) "easy" else if (lix < 35000000L) "medium"
          else if (lix < 45000000L) "hard" else "very_hard"
        assert(band == want)
      }
    } finally { out.unpersist(); () }
  }

  test("q_data_profiler: planted nulls counted; key column fully distinct") {
    val out = SparkEntry.queries("q_data_profiler")(spark, dir).cache()
    try {
      val m = out.collect().map(r => r.getString(0) ->
        (r.getLong(1), r.getLong(2), r.getLong(3))).toMap
      assert(m.keySet == Set("o_orderkey", "o_custkey", "o_orderstatus",
        "o_totalprice", "o_orderdate", "o_orderpriority"))
      val orders = spark.read.parquet(s"$dir/orders.parquet")
      val nRows = orders.count()
      assert(m.values.forall(_._1 == nRows))
      val planted = orders.filter(col("o_orderkey") % 50 === 0).count()
      assert(m("o_custkey")._2 == planted, "planted null count wrong")
      assert(m("o_orderkey")._2 == 0 && m("o_orderkey")._3 == nRows,
        "key column must be non-null and fully distinct")
      // distinct counts exclude nulls
      assert(m("o_custkey")._3 <=
        orders.select(col("o_custkey")).distinct().count())
    } finally { out.unpersist(); () }
  }

  test("q_context_fit: fit and kept are monotone in ctx; loss vanishes at max") {
    // (ctx, n_docs, docs_fit, tokens_kept, trunc_loss_ppm); tokens_total
    // checked for invariance separately
    val out = SparkEntry.queries("q_context_fit")(spark, dir)
      .orderBy(col("ctx")).collect()
    val rows = out.map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
      r.getLong(4), r.getLong(6)))
    assert(rows.map(_._1).toSeq == Seq(32L, 64L, 128L))
    assert(out.map(_.getLong(3)).distinct.length == 1,
      "tokens_total must not vary with ctx")
    rows.sliding(2).foreach {
      case Array(a, b) =>
        assert(a._3 <= b._3 && a._4 <= b._4 && a._5 >= b._5,
          s"monotonicity broke between ctx ${a._1} and ${b._1}")
      case _ =>
    }
    // the corpus maxes out under 128 tokens: nothing truncated, all fit
    assert(rows.last._5 == 0L && rows.last._3 == rows.last._2)
  }

  test("q_shard_balance: Gini matches a by-hand computation") {
    val r = SparkEntry.queries("q_shard_balance")(spark, dir).collect()(0)
    val counts = spark.read.parquet(s"$dir/documents.parquet")
      .groupBy(col("source")).count()
      .collect().map(x => (x.getString(0), x.getLong(1)))
      .sortBy(x => (x._2, x._1)).map(_._2)
    val n = counts.length.toLong
    val tot = counts.sum
    val rc = counts.zipWithIndex.map { case (c, i) => (i + 1) * c }.sum
    assert(r.getAs[Long]("n_shards") == n)
    assert(r.getAs[Long]("n_docs") == tot)
    assert(r.getAs[Long]("gini_ppm") ==
      ((2 * rc - (n + 1) * tot) * 1000000L) / (n * tot))
    assert(r.getAs[Long]("imbalance_ppm") ==
      (counts.max * 1000000L) / counts.min)
  }

  test("q_schema_drift: planted evolution triaged correctly") {
    val m = SparkEntry.queries("q_schema_drift")(spark, dir).collect()
      .map(r => r.getString(0) -> r.getAs[String]("status")).toMap
    assert(m("o_channel") == "new")
    assert(m("o_orderpriority") == "dropped")
    assert(m("o_custkey") == "null_rate_changed")
    assert(Seq("o_orderkey", "o_orderstatus", "o_totalprice", "o_orderdate")
      .forall(m(_) == "stable"))
  }

  test("q_walk_skipgrams: symmetric pair multiset with the exact per-walk count") {
    val out = SparkEntry.queries("q_walk_skipgrams")(spark, dir).cache()
    try {
      val m = out.collect()
        .map(r => (r.getString(0), r.getString(1)) -> r.getLong(2)).toMap
      // every in-window ordered pair has its mirror (both are emitted
      // from the same walk positions)
      m.foreach { case ((c, x), n) =>
        assert(m.getOrElse((x, c), 0L) == n, s"asymmetric pair ($c,$x)")
      }
      // total = sum over walks of ordered in-window pairs:
      // 2*((L-1) + max(L-2, 0)) for walk node-count L, window 2
      val walkLens = SparkEntry.queries("q_random_walks")(spark, dir)
        .groupBy(col("walk")).count().collect().map(_.getLong(1))
      val expect = walkLens.map(l =>
        2L * ((l - 1).max(0) + (l - 2).max(0))).sum
      assert(m.values.sum == expect)
    } finally { out.unpersist(); () }
  }

  test("text_code_detect: planted code docs flagged, prose never") {
    val out = SparkEntry.queries("text_code_detect")(spark, dir).cache()
    try {
      assert(out.filter(col("doc_id") % 10 === 0 && !col("is_code"))
        .count() == 0, "a planted code doc escaped")
      assert(out.filter(col("doc_id") % 10 =!= 0 && col("is_code"))
        .count() == 0, "a prose doc was flagged as code")
    } finally { out.unpersist(); () }
  }

  test("dedup_cluster_histogram: covers every doc exactly once") {
    val out = SparkEntry.queries("dedup_cluster_histogram")(spark, dir).cache()
    try {
      val base = spark.read.parquet(s"$dir/documents.parquet").count()
      assert(out.agg(sum(col("n_docs"))).head().getLong(0) == 3 * base,
        "histogram mass != corpus size")
      // the planted corpus is 3-member clusters: size-3 rows dominate
      val by = out.collect()
        .map(r => r.getLong(0) -> r.getLong(2)).toMap
      assert(by.getOrElse(3L, 0L) > (3 * base) / 2)
    } finally { out.unpersist(); () }
  }

  test("stream_hll_window: stream-merged sketch tracks exact distinct per window") {
    val out = SparkEntry.queries("stream_hll_window")(spark, dir).cache()
    try {
      assert(out.count() > 0)
      assert(out.filter(col("m_hit") + col("v_zero") =!= 512L).count() == 0)
      val exact = spark.read.parquet(s"$dir/events.parquet")
        .groupBy((expr("unix_micros(CAST(ts AS TIMESTAMP))")
          .divide(lit(300000000L))).cast("long").as("wk"))
        .agg(countDistinct(col("user_id")).as("exact"))
        .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
      out.collect().foreach { r =>
        val wk  = r.getAs[Long]("window_start_us") / 300000000L
        val raw = r.getAs[Double]("raw_estimate")
        val vz  = r.getAs[Long]("v_zero")
        // the operator emits RAW + (m_hit, v_zero) so the consumer can
        // apply the small-range correction — do what a consumer does:
        // linear counting below 2.5m with empty registers present
        val est = if (vz > 0 && raw <= 2.5 * 512)
          512.0 * math.log(512.0 / vz) else raw
        val ex = exact(wk).toDouble
        // 512 registers => ~4.6% standard error; allow a wide band
        assert(est > 0 && est / ex < 2.0 && ex / est < 2.0,
          s"window $wk: estimate $est vs exact $ex out of band")
      }
    } finally { out.unpersist(); () }
  }

  // the three stream leaves whose oracle is their batch twin's oracle,
  // checked against the twin's Spark output directly
  test("stream leaves equal their batch twins as multisets") {
    Seq("stream_sessionize" -> "q_sessionize",
      "stream_asof_join" -> "q_asof_join",
      "stream_interval_join" -> "q_range_join").foreach { case (stream, batch) =>
      val twin = SparkEntry.queries(batch)(spark, dir).cache()
      try {
        val out = SparkEntry.queries(stream)(spark, dir)
          .select(twin.columns.map(col).toSeq: _*).cache()
        try {
          assert(twin.count() > 0, s"$batch is empty")
          assert(out.exceptAll(twin).count() == 0, s"$stream has rows $batch lacks")
          assert(twin.exceptAll(out).count() == 0, s"$batch has rows $stream lacks")
        } finally { out.unpersist(); () }
      } finally { twin.unpersist(); () }
    }
  }

  test("the stream replay feed fails loudly past ReplayMaxRows") {
    val e = intercept[IllegalArgumentException] {
      StreamingQueries.collectBounded(spark.range(StreamingQueries.ReplayMaxRows + 1L))
    }
    assert(e.getMessage.contains("StreamingOps"), e.getMessage)
  }

  test("q_retention_cohorts: offset-0 is the cohort itself; retention never exceeds it") {
    val out = SparkEntry.queries("q_retention_cohorts")(spark, dir).cache()
    try {
      assert(out.filter(col("week_offset") === 0 &&
        col("retention_ppm") =!= 1000000L).count() == 0)
      assert(out.filter(col("n_active") > col("cohort_size")).count() == 0)
      val users = spark.read.parquet(s"$dir/events.parquet")
        .select(col("user_id")).distinct().count()
      val cohortTotal = out.filter(col("week_offset") === 0)
        .agg(sum(col("cohort_size"))).head().getLong(0)
      assert(cohortTotal == users, "cohorts must partition the user base")
    } finally { out.unpersist(); () }
  }

  test("q_graph_modularity: the (all) row is the exact sum; Q bounded") {
    val out = SparkEntry.queries("q_graph_modularity")(spark, dir).cache()
    try {
      val per = out.filter(col("community") =!= "(all)")
      val all = out.filter(col("community") === "(all)").collect()(0)
      assert(per.agg(sum(col("contrib"))).head().getLong(0) ==
        all.getAs[Long]("contrib"))
      assert(per.agg(sum(col("n_hosts"))).head().getLong(0) ==
        all.getAs[Long]("n_hosts"))
      assert(all.getAs[Long]("modularity_ppm") <= 1000000L)
      // every in-community edge count is bounded by the edge total
      assert(per.filter(col("in_edges") * 2 > col("deg_sum")).count() == 0,
        "a community claims more internal edges than half its degree mass")
    } finally { out.unpersist(); () }
  }

  test("extract_caption_align: neighbors bracket the media span and really are text") {
    val out = SparkEntry.queries("extract_caption_align")(spark, dir).cache()
    try {
      assert(out.count() > 0)
      assert(out.filter(col("media_ref") === "").count() == 0)
      assert(out.filter(col("prev_text_pos") =!= -1 &&
        col("prev_text_pos") >= col("pos")).count() == 0,
        "a 'preceding' text span does not precede")
      assert(out.filter(col("next_text_pos") =!= -1 &&
        col("next_text_pos") <= col("pos")).count() == 0)
      // a resolved neighbor always carries its snippet; -1 never does
      assert(out.filter(col("prev_text_pos") =!= -1 &&
        col("prev_snippet") === "").count() == 0)
      assert(out.filter(col("prev_text_pos") === -1 &&
        col("prev_snippet") =!= "").count() == 0)
    } finally { out.unpersist(); () }
  }

  test("eval_span_f1: planted damage scores below perfect, clean docs at it") {
    val out = SparkEntry.queries("eval_span_f1")(spark, dir).cache()
    try {
      assert(out.filter(col("n_match") > col("n_pred") ||
        col("n_match") > col("n_gold")).count() == 0)
      assert(out.filter(col("f1_ppm") > 1000000L).count() == 0)
      // the degradation drops spans corpus-wide: recall must suffer
      val t = out.agg(sum(col("n_pred")).as("p"), sum(col("n_gold")).as("g"),
        sum(col("n_match")).as("m")).collect()(0)
      assert(t.getLong(0) < t.getLong(1), "degradation dropped nothing")
      assert(t.getLong(2) < t.getLong(1), "perfect recall through damage")
      // docs untouched by both planting rules score a perfect F1
      assert(out.filter(col("n_pred") === col("n_gold") &&
        col("n_match") === col("n_gold") &&
        col("f1_ppm") =!= 1000000L).count() == 0)
    } finally { out.unpersist(); () }
  }

  test("text_topic_boundaries: gap scores match a by-hand replay") {
    import graft.functions.TextKernels.{tokens => tks}
    val out = SparkEntry.queries("text_topic_boundaries")(spark, dir).cache()
    try {
      val docs = spark.read.parquet(s"$dir/documents.parquet")
        .select(col("doc_id"), tks(col("text")).as("toks"))
        .collect().map(r => r.getLong(0) -> r.getSeq[String](1)).toMap
      val got = out.collect().map(r => (r.getLong(0), r.getLong(1)) ->
        (r.getLong(2), r.getLong(3))).toMap
      var checked = 0
      docs.foreach { case (id, toks) =>
        val nb = toks.length / 8
        (0 until nb - 1).foreach { i =>
          val a = toks.slice(i * 8, i * 8 + 8).toSet
          val b = toks.slice(i * 8 + 8, i * 8 + 16).toSet
          assert(got((id, i.toLong)) ==
            ((a & b).size.toLong, (a | b).size.toLong),
            s"doc $id gap $i")
          checked += 1
        }
      }
      assert(checked.toLong == out.count())
    } finally { out.unpersist(); () }
  }

  test("text_quality_adaptive_gate: derived decile threshold drops the worst, conservatively") {
    val out = SparkEntry.queries("text_quality_adaptive_gate")(spark, dir).cache()
    val n   = out.count()
    val dropped = out.filter(!col("keep")).count()
    // the gate must do real work on the planted spread, but never drop
    // MORE than the decile target (the straddling bin is kept)
    assert(dropped > 0, "gate dropped nothing — planted spread missing?")
    assert(dropped <= (n + 9) / 10, s"dropped $dropped of $n > decile target")
    // threshold separates cleanly: every dropped bin < every kept bin
    val maxDropped = out.filter(!col("keep")).agg(max("qbin")).head.getLong(0)
    val minKept    = out.filter(col("keep")).agg(min("qbin")).head.getLong(0)
    assert(maxDropped < minKept)
    out.unpersist()
    ()
  }

  test("dedup_incremental: each planted batch member gets its classification") {
    val out = SparkEntry.queries("dedup_incremental")(spark, dir).cache()
    // new ids are source+5e6 (mod 0/1/2) and source+1+5e6 (the within-batch
    // copies — the only ids ≡ 3 mod 4 after subtracting the base)
    def statusOf(mod: Long) = out.filter((col("doc_id") - 5000000L) % 4 === mod)
    // exact copies of indexed docs
    assert(statusOf(0).filter(col("status") =!= "exact_dup").count() == 0)
    // ' zzz' perturbations: never exact/batch dups; ≥95% caught as near
    val m1 = statusOf(1).cache()
    assert(m1.filter(col("status").isin("exact_dup", "batch_dup")).count() == 0)
    assert(m1.filter(col("status") === "near_dup").count() >= m1.count() * 95 / 100)
    // reversed texts under the LOWER id are batch keepers → novel
    assert(statusOf(2).filter(col("status") =!= "novel").count() == 0)
    // their higher-id copies are duplicates WITHIN the batch
    assert(statusOf(3).filter(col("status") =!= "batch_dup").count() == 0)
    m1.unpersist(); out.unpersist()
    ()
  }

  test("q_corpus_diff: every planted evolution class lands in its status") {
    val out = SparkEntry.queries("q_corpus_diff")(spark, dir).cache()
    assert(out.filter(col("doc_id") % 10 === 0 && col("doc_id") < 7000000L &&
      col("status") =!= "removed").count() == 0)
    assert(out.filter(col("doc_id") % 10 === 1 && col("status") =!= "changed").count() == 0)
    assert(out.filter(col("doc_id") >= 7000000L && col("status") =!= "added").count() == 0)
    out.unpersist()
    ()
  }

  test("q_event_funnel: conversions bounded by purchases, flag consistent, both outcomes occur") {
    val out = SparkEntry.queries("q_event_funnel")(spark, dir).cache()
    assert(out.filter(col("n_conversions") > col("n_purchases")).count() == 0)
    assert(out.filter(col("converted") =!= (col("n_conversions") > 0)).count() == 0)
    // the 24h window must discriminate: some purchases convert, some don't
    val t = out.agg(sum("n_purchases"), sum("n_conversions")).head
    assert(t.getLong(1) > 0 && t.getLong(1) < t.getLong(0),
      s"window not discriminating: ${t.getLong(1)} of ${t.getLong(0)}")
    out.unpersist()
    ()
  }

  test("dedup_embedding_cosine finds planted pairs via corpus-scaling LSH buckets") {
    val out = SparkEntry.queries("dedup_embedding_cosine")(spark, dir).cache()
    // every reported pair is a planted near-dup above threshold (precision
    // is exact: survivors are cosine-verified) …
    assert(out.filter(col("vec_b") =!= col("vec_a") + 100000L).count() == 0)
    assert(out.agg(min("cos")).head.getDouble(0) >= 0.99)
    // … and recall is the single-probe sign-LSH rate: a planted pair is
    // missed only when the perturbation flips a hyperplane sign. High but
    // < 100% by construction (the quadratic-proof trade the round-2
    // label-bucket version didn't make); `ann_recall` is the shipped
    // observable for this rate.
    val n = spark.read.parquet(s"$dir/embeddings.parquet").count()
    assert(out.count() >= n * 85 / 100, s"LSH recall collapsed: ${out.count()} of $n")
    out.unpersist()
  }

  test("ann_bruteforce_topk returns k ranked neighbors per query") {
    val out = SparkEntry.queries("ann_bruteforce_topk")(spark, dir)
    assert(out.count() == 25) // 5 queries × k=5
    assert(out.groupBy("query_id").count().filter(col("count") =!= 5).count() == 0)
    // ranks are cosine-descending per query
    val viol = out.as("a").join(out.as("b"),
      col("a.query_id") === col("b.query_id") && col("a.rank") < col("b.rank") &&
        col("a.cos") < col("b.cos"))
    assert(viol.count() == 0)
  }

  test("ann_sq: codes are true bytes, decode is the affine inverse, recall holds") {
    val codes = SparkEntry.queries("ann_sq_codes")(spark, dir).cache()
    // the 4x-compression claim: every stored code fits one byte
    assert(codes.filter(col("code") < 0 || col("code") > 255).count() == 0)
    // per dimension the full byte range is actually used (min hits 0):
    // a constant-offset bug in the (min, range) stats would shift this
    assert(codes.groupBy("i").agg(min("code").as("lo")).filter(col("lo") =!= 0).count() == 0)
    codes.unpersist()
    // quantized search still finds most true neighbors (exact at this sf)
    val rec = SparkEntry.queries("ann_sq_recall")(spark, dir)
    assert(rec.filter(col("recall") < 0.8).count() == 0,
      "SQ8 recall fell below 0.8 for some query")
  }

  test("ann_kmeans_cells: Lloyd iterations strictly improve the objective") {
    import graft.functions.VectorKernels
    val out = SparkEntry.queries("ann_kmeans_cells")(spark, dir).cache()
    val n   = spark.read.parquet(s"$dir/embeddings.parquet").count()
    assert(out.count() == n)
    assert(out.filter(col("cell") < 0 || col("cell") >= 8).count() == 0)
    // k-means objective (sum of assigned distances) under the TRAINED
    // codebook must beat the seeded-init codebook's — proves the
    // iterations adapted to the data, not just re-labeled it
    val q = spark.read.parquet(s"$dir/embeddings.parquet")
      .select(VectorKernels.quantize(col("embedding")).as("q"))
    val initMin = least((0 until 8).map(j =>
      VectorKernels.intDist2(col("q"), VectorKernels.intCentroid(j, 64))): _*)
    val initObj    = q.agg(sum(initMin)).head.getLong(0)
    val trainedObj = out.agg(sum(col("d2"))).head.getLong(0)
    assert(trainedObj < initObj, s"trained objective $trainedObj !< init $initObj")
    out.unpersist()
  }

  test("ann_multiprobe_topk recall dominates the single-probe path") {
    // multi-probe candidates are a superset of single-probe candidates
    // (own bucket + every hamming-1 bucket), so hits against the exact
    // baseline can only increase
    val bf = SparkEntry.queries("ann_bruteforce_topk")(spark, dir)
      .select(col("query_id"), col("neighbor_id")).cache()
    def hits(name: String): Long = SparkEntry.queries(name)(spark, dir)
      .select(col("query_id"), col("neighbor_id"))
      .join(bf, Seq("query_id", "neighbor_id")).count()
    val (single, multi) = (hits("ann_lsh_topk"), hits("ann_multiprobe_topk"))
    assert(multi >= single, s"multiprobe hits $multi < single-probe $single")
    assert(multi > 0)
    bf.unpersist()
  }

  test("ann_matryoshka_recall: full-dim row is exact, levels match a driver replay") {
    val out = SparkEntry.queries("ann_matryoshka_recall")(spark, dir).collect()
      .map(r => (r.getAs[Long]("query_id"), r.getAs[Long]("dims_kept")) ->
        ((r.getAs[Long]("hits"), r.getAs[Double]("recall")))).toMap
    assert(out.size == 5 * 3) // 5 queries × levels {16, 32, 64}
    // the full-dim level reproduces the exact top-k: recall ≡ 1.0
    (0L until 5L).foreach { q =>
      assert(out((q, 64L)) == ((5L, 1.0)), s"query $q full-dim row ${out((q, 64L))}")
    }
    // driver-side replay of the dims=16 level against the exact top-5
    val rows = spark.read.parquet(s"$dir/embeddings.parquet")
      .select(col("vec_id"), col("embedding")).collect()
      .map(r => r.getAs[Long]("vec_id") ->
        r.getSeq[Float](1).map(_.toDouble).toArray).toMap
    def top5(p: Int, q: Long): Set[Long] = {
      val qv = rows(q).take(p)
      val qn = math.sqrt(qv.map(x => x * x).sum)
      rows.toSeq.filter(_._1 != q).map { case (id, v0) =>
        val v = v0.take(p)
        val c = qv.zip(v).map { case (a, b) => a * b }.sum /
          (qn * math.sqrt(v.map(x => x * x).sum))
        (id, c)
      }.sortBy { case (id, c) => (-c, id) }.take(5).map(_._1).toSet
    }
    (0L until 5L).foreach { q =>
      val expect = (top5(16, q) intersect top5(64, q)).size.toLong
      assert(out((q, 16L))._1 == expect, s"query $q dims=16 hits")
      assert(math.abs(out((q, 16L))._2 - expect / 5.0) < 1e-9, s"query $q dims=16 recall")
    }
    // truncation actually bites somewhere (otherwise the audit is vacuous)
    assert((0L until 5L).exists(q => out((q, 16L))._1 < 5L),
      "dims=16 recall is perfect everywhere — plant degenerate")
  }

  test("ann_lsh_topk neighbors are a subset of brute-force candidates' scores") {
    val bf  = SparkEntry.queries("ann_bruteforce_topk")(spark, dir)
    val lsh = SparkEntry.queries("ann_lsh_topk")(spark, dir)
    // every LSH hit must carry the same cosine the exact path computes
    val joined = lsh.select(col("query_id"), col("neighbor_id"), col("cos").as("lsh_cos"))
      .join(bf.select(col("query_id"), col("neighbor_id"), col("cos").as("bf_cos")),
        Seq("query_id", "neighbor_id"))
    assert(joined.filter(col("lsh_cos") =!= col("bf_cos")).count() == 0)
  }

  test("text_langid picks the alphabetically-first max-scoring language") {
    val out  = SparkEntry.queries("text_langid")(spark, dir)
    val best = greatest(col("s_de"), col("s_en"), col("s_es"), col("s_fr"))
    val viol = out.filter(
      (col("lang_pred") === "und" && best > 0) ||
        (col("lang_pred") =!= "und" &&
          (best === 0 || col("lang_pred") =!= when(col("s_de") === best, "de")
            .when(col("s_en") === best, "en")
            .when(col("s_es") === best, "es")
            .otherwise("fr"))))
    assert(viol.count() == 0)
  }

  test("text_keyword_extract equals a brute-force integer tf-idf top-3") {
    val docs = spark.read.parquet(s"$dir/documents.parquet")
      .select(col("doc_id"), col("text")).collect()
      .map(r => (r.getAs[Long]("doc_id"), r.getAs[String]("text").trim.split("\\s+").toSeq))
    val n = docs.length.toLong
    val tf = docs.flatMap { case (id, tk) =>
      tk.groupBy(identity).map { case (t, xs) => (id, t, xs.size.toLong) }
    }
    val df = tf.groupBy(_._2).map { case (t, xs) => t -> xs.size.toLong }
    val want = tf.groupBy(_._1).toSeq.flatMap { case (id, terms) =>
      terms.toSeq.map { case (_, t, f) => (t, f, df(t), f * (n * 1000000L / df(t))) }
        .sortBy { case (t, _, _, s) => (-s, t) }.take(3).zipWithIndex
        .map { case ((t, f, d, s), i) => (id, i + 1L) -> ((t, f, d, s)) }
    }.toMap
    val out = SparkEntry.queries("text_keyword_extract")(spark, dir).collect()
      .map(r => (r.getAs[Long]("doc_id"), r.getAs[Long]("rank")) ->
        ((r.getAs[String]("term"), r.getAs[Long]("tf"), r.getAs[Long]("df"),
          r.getAs[Long]("score")))).toMap
    assert(out == want,
      s"diff: ${(out.keySet -- want.keySet) ++ (want.keySet -- out.keySet)}")
    // rarity dominates: a rank-1 keyword never has higher df AND lower tf
    // than its rank-2 (score is tf-monotone and idf-antitone in df)
    assert(out.nonEmpty)
  }

  test("q_fuzzy_join: half-blocking finds exactly the hamming<=1 pairs (lossless)") {
    val docs = spark.read.parquet(s"$dir/documents.parquet")
      .select(col("doc_id"), col("text")).collect()
      .map(r => (r.getAs[Long]("doc_id"), r.getAs[String]("text")))
    def title(t: String): String = t.take(16).padTo(16, ' ')
    val clean = docs.map { case (id, t) => (id, title(t)) }
    val dirty = docs.filter(_._1 % 10 == 0).map { case (id, t) =>
      val p = (id % 16).toInt
      val tt = title(t)
      (id + 2000000L, tt.substring(0, p) + "~" + tt.substring(p + 1))
    }
    // equal-length strings: levenshtein <= 1 == hamming <= 1, and one
    // substitution leaves one 8-char half intact, so blocking is lossless
    val want = (for {
      (di, dt) <- dirty
      (ci, ct) <- clean
      dist = dt.zip(ct).count { case (a, b) => a != b }
      if dist <= 1
    } yield (di, ci) -> dist.toLong).toMap
    val out = SparkEntry.queries("q_fuzzy_join")(spark, dir).collect()
      .map(r => (r.getAs[Long]("dirty_id"), r.getAs[Long]("clean_id")) ->
        r.getAs[Long]("dist")).toMap
    assert(out == want,
      s"diff: ${(out.keySet -- want.keySet) ++ (want.keySet -- out.keySet)}")
    // every planted dirty record links back to its own original
    dirty.foreach { case (di, _) =>
      assert(out.contains((di, di - 2000000L)), s"dirty $di missed its original")
    }
  }

  test("mm_dedup_bytes: every planted mirror copy groups with its original") {
    // mirror the engine's multibyte plant so replay hashes key the same rows
    val docs = spark.read.parquet(s"$dir/documents.parquet")
      .select(col("doc_id"), col("text")).collect()
      .map(r => (r.getAs[Long]("doc_id"), r.getAs[String]("text")))
      .map { case (id, t) => (id, if (id % 10 == 3) t + " ünïcødé–𝄞" else t) }
    val out = SparkEntry.queries("mm_dedup_bytes")(spark, dir).collect()
      .map(r => r.getAs[String]("media_hash") ->
        ((r.getAs[Long]("n_copies"), r.getAs[Long]("keeper"), r.getAs[Boolean]("dup"))))
      .toMap
    def md5hex(s: String): String =
      java.security.MessageDigest.getInstance("MD5").digest(s.getBytes("UTF-8"))
        .map(b => f"$b%02x").mkString
    // rows == distinct payload hashes of the planted corpus
    val planted = docs ++ docs.filter(_._1 % 5 == 0).map { case (id, t) => (id + 1000000L, t) }
    assert(out.size == planted.map(x => md5hex(x._2)).distinct.length)
    // every planted mirror's group has >= 2 copies and keeps the smallest id
    docs.filter(_._1 % 5 == 0).foreach { case (id, t) =>
      val (n, keeper, dup) = out(md5hex(t))
      val expectKeeper = planted.filter(x => md5hex(x._2) == md5hex(t)).map(_._1).min
      assert(n >= 2 && dup, s"doc $id mirror not grouped (n=$n)")
      assert(keeper == expectKeeper, s"doc $id keeper $keeper != $expectKeeper")
    }
    // dup flag is exactly n_copies >= 2
    out.values.foreach { case (n, _, dup) => assert(dup == (n >= 2)) }
  }

  test("mm_phash_hamming equals a driver-side simhash replay; planted re-encodes found") {
    // replay mirrors the engine's multibyte plant (Multimodal.Utf8Suffix)
    // and — crucially — grams by CODE POINT, not UTF-16 unit: Spark and
    // DuckDB substring() count code points, so a Java-String replay that
    // sliced chars would split the 4-byte 𝄞 into surrogate halves and
    // hash different grams
    val docs = spark.read.parquet(s"$dir/documents.parquet")
      .select(col("doc_id"), col("text")).collect()
      .map(r => (r.getAs[Long]("doc_id"), r.getAs[String]("text")))
      .map { case (id, t) => (id, if (id % 10 == 3) t + " ünïcødé–𝄞" else t) }
    def cps(t: String): Array[Int] = t.codePoints().toArray
    def cpSub(t: String, from: Int, n: Int): String = {
      val a = cps(t)
      new String(a, math.min(from, a.length), math.max(0, math.min(n, a.length - from)))
    }
    val planted = docs ++ docs.filter(_._1 % 7 == 0).map { case (id, t) =>
      val p = (id % 8).toInt
      (id + 3000000L, cpSub(t, 0, p) + "~" + cpSub(t, p + 1, Int.MaxValue))
    }
    val md = java.security.MessageDigest.getInstance("MD5")
    def simhash(t: String): (Long, Long) = {
      val a = cps(t)
      val grams = (0 until math.max(1, a.length - 3)).map(i =>
        new String(a, i, math.min(4, a.length - i)))
      val votes = Array.fill(64)(0L)
      grams.foreach { g =>
        val hex = md.digest(g.getBytes("UTF-8")).map(b => f"$b%02x").mkString
        val lo = java.lang.Long.parseLong(hex.substring(0, 8), 16)
        val hi = java.lang.Long.parseLong(hex.substring(8, 16), 16)
        (0 until 32).foreach { j =>
          votes(j) += (if (((lo >> j) & 1) == 1) 1 else -1)
          votes(32 + j) += (if (((hi >> j) & 1) == 1) 1 else -1)
        }
      }
      val pack = (off: Int) =>
        (0 until 32).map(j => if (votes(off + j) > 0) 1L << j else 0L).sum
      (pack(32), pack(0)) // (hi, lo)
    }
    val codes = planted.map { case (id, t) => id -> simhash(t) }.toMap
    def band(c: (Long, Long), b: Int): Long = b match {
      case 0 => c._2 & 65535L; case 1 => (c._2 >> 16) & 65535L
      case 2 => c._1 & 65535L; case _ => (c._1 >> 16) & 65535L
    }
    val ids = codes.keys.toSeq.sorted
    val want = (for {
      i <- ids.indices; j <- (i + 1) until ids.length
      (a, b) = (ids(i), ids(j))
      if (0 to 3).exists(k => band(codes(a), k) == band(codes(b), k))
      h = java.lang.Long.bitCount(codes(a)._1 ^ codes(b)._1) +
        java.lang.Long.bitCount(codes(a)._2 ^ codes(b)._2)
      if h <= 3
    } yield (a, b) -> h.toLong).toMap
    val out = SparkEntry.queries("mm_phash_hamming")(spark, dir).collect()
      .map(r => (r.getAs[Long]("doc_a"), r.getAs[Long]("doc_b")) ->
        r.getAs[Long]("hamming")).toMap
    assert(out == want,
      s"diff: ${(out.keySet -- want.keySet) ++ (want.keySet -- out.keySet)}")
    // a one-byte re-encode flips few gram votes: most planted pairs land
    // within the hamming budget (the near-dup regime this op exists for)
    val plantedPairs = docs.filter(_._1 % 7 == 0).map(_._1)
    val found = plantedPairs.count(id => out.contains((id, id + 3000000L)))
    assert(found >= plantedPairs.length * 85 / 100,
      s"phash recall collapsed: $found of ${plantedPairs.length}")
  }

  test("mm_decode_meta covers every doc with sane metadata") {
    val out = SparkEntry.queries("mm_decode_meta")(spark, dir)
    assert(out.count() == 500)
    assert(out.filter(col("width") < 16 || col("width") >= 1040).count() == 0)
    assert(out.filter(!col("fmt").isin("image", "audio", "video")).count() == 0)
  }

  test("q_bitext_mine: planted translations mined with dominant margins") {
    val out = SparkEntry.queries("q_bitext_mine")(spark, dir).cache()
    // planted translation pairs are (src_id, src_id + 500001) for even
    // src_id < 20; the miner must surface most as accepted top-1 (a 2-bit
    // bucket straddle can hide one from the hamming-1 probe set)
    val planted = out.filter(col("tgt_id") === col("src_id") + 500001L)
    assert(planted.count() >= 8, s"only ${planted.count()} planted pairs mined top-1")
    val acc = planted.filter(col("accepted")).count()
    assert(acc >= 8, s"only $acc planted pairs accepted")
    // margin separation: every planted margin (with a neighborhood to
    // compare against) beats every natural-pair margin
    val minPlanted = planted.filter(col("n_topk") > 1)
      .agg(min(col("margin_ppm"))).head.getLong(0)
    val maxNatural = out.filter(col("tgt_id") =!= col("src_id") + 500001L
        && col("n_topk") > 1)
      .agg(max(col("margin_ppm"))).head.getLong(0)
    assert(minPlanted > maxNatural,
      s"planted min margin $minPlanted !> natural max margin $maxNatural")
    out.unpersist()
    ()
  }

  test("q_host_hits: ppm normalization exact, scores and ranks consistent") {
    val out = SparkEntry.queries("q_host_hits")(spark, dir).cache()
    val n   = out.count()
    // L1 normalization in integer ppm: totals land in (1e6 - nhosts, 1e6]
    val ta = out.agg(sum(col("auth_ppm"))).head.getLong(0)
    val th = out.agg(sum(col("hub_ppm"))).head.getLong(0)
    assert(ta > 1000000L - n && ta <= 1000000L, s"auth total $ta")
    assert(th > 1000000L - n && th <= 1000000L, s"hub total $th")
    // a host nobody links to has zero authority; no negative scores
    assert(out.filter(col("in_deg") === 0 && col("auth_ppm") > 0).count() == 0)
    assert(out.filter(col("auth_ppm") < 0 || col("hub_ppm") < 0).count() == 0)
    out.unpersist()
    ()
  }

  test("q_quality_tradeoff: curve is a monotone exact partition of the corpus") {
    val out  = SparkEntry.queries("q_quality_tradeoff")(spark, dir).cache()
    val docs = spark.read.parquet(s"$dir/documents.parquet")
    // keeping every bin retains exactly the whole corpus
    assert(out.agg(max(col("chars_kept_ppm"))).head.getLong(0) == 1000000L)
    assert(out.agg(max(col("docs_kept_ppm"))).head.getLong(0) == 1000000L)
    assert(out.agg(sum(col("n_docs"))).head.getLong(0) == docs.count())
    // cum_docs decreases as the threshold bin rises (monotone curve)
    val viol = out.alias("a").join(out.alias("b"),
        col("a.qbin") < col("b.qbin") && col("a.cum_docs") < col("b.cum_docs"))
    assert(viol.count() == 0)
    out.unpersist()
    ()
  }

  test("q_url_version_intervals: SCD2 intervals chain without gaps or overlaps") {
    val out = SparkEntry.queries("q_url_version_intervals")(spark, dir).cache()
    val ev  = spark.read.parquet(s"$dir/events.parquet")
    // every observation lands in exactly one interval
    assert(out.agg(sum(col("n_obs"))).head.getLong(0) == ev.count())
    // exactly one open (current) interval per url
    val cur = out.filter(col("is_current")).groupBy(col("url_id")).count()
    assert(cur.filter(col("count") =!= 1).count() == 0)
    // intervals chain: valid_to of run k == valid_from of run k+1; ordered
    val nxt = out.select(col("url_id"), (col("run_id") - 1).as("run_id"),
      col("valid_from_us").as("next_from"))
    val chained = out.join(nxt, Seq("url_id", "run_id"))
    assert(chained.filter(col("valid_to_us") =!= col("next_from")).count() == 0)
    assert(out.filter(col("valid_from_us") > col("last_seen_us")).count() == 0)
    assert(out.filter(!col("is_current") &&
      col("last_seen_us") >= col("valid_to_us")).count() == 0)
    out.unpersist()
    ()
  }

  test("text_lexical_diversity: counters nest and agree with text_tokens") {
    val out = SparkEntry.queries("text_lexical_diversity")(spark, dir).cache()
    assert(out.filter(col("n_hapax") > col("n_types")
      || col("n_types") > col("n_tokens")
      || col("top_cf") > col("n_tokens")
      || col("ttr_ppm") > 1000000L).count() == 0)
    // cross-operator consistency: token totals match the text_tokens query
    val tok = SparkEntry.queries("text_tokens")(spark, dir)
      .select(col("doc_id"), col("ws_tokens"))
    assert(out.join(tok, Seq("doc_id"))
      .filter(col("n_tokens") =!= col("ws_tokens")).count() == 0)
    out.unpersist()
    ()
  }

  test("text_collocations: min-count honored, unigram counts bound bigram counts") {
    val out = SparkEntry.queries("text_collocations")(spark, dir)
    assert(out.filter(col("n_ab") < 5).count() == 0)
    assert(out.filter(col("cf_a") < col("n_ab") || col("cf_b") < col("n_ab")).count() == 0)
    assert(out.filter(col("lift_ppm") < 0).count() == 0)
  }

  test("q_reciprocal_links: reciprocated edges bounded by out-degree, flag consistent") {
    val out = SparkEntry.queries("q_reciprocal_links")(spark, dir).cache()
    assert(out.filter(col("n_recip") > col("out_deg")).count() == 0)
    assert(out.filter(col("link_farm_flag") =!= (col("recip_ppm") >= 500000L)).count() == 0)
    out.unpersist()
    ()
  }

  test("eval_langid_confusion: matrix partitions the corpus, rows normalize to 1e6") {
    val out  = SparkEntry.queries("eval_langid_confusion")(spark, dir).cache()
    val docs = spark.read.parquet(s"$dir/documents.parquet")
    assert(out.agg(sum(col("n"))).head.getLong(0) == docs.count())
    // per-truth-class shares sum to ~1e6 (floor loss < cells per row)
    val rows = out.groupBy(col("lang"))
      .agg(sum(col("share_ppm")).as("sp"), count(lit(1)).as("cells"))
    assert(rows.filter(col("sp") > 1000000L
      || col("sp") <= lit(1000000L) - col("cells")).count() == 0)
    assert(out.filter(col("correct") =!= (col("lang") === col("lang_pred"))).count() == 0)
    out.unpersist()
    ()
  }

  test("q_source_datacard: volumes partition the planted corpus, dup share exact") {
    val out  = SparkEntry.queries("q_source_datacard")(spark, dir).cache()
    val docs = spark.read.parquet(s"$dir/documents.parquet")
    val planted = docs.filter(col("doc_id") % 10 === 0).count()
    assert(out.agg(sum(col("n_docs"))).head.getLong(0) == docs.count() + planted)
    // each planted byte-exact copy makes itself AND its original dup rows
    assert(out.agg(sum(col("dup_docs"))).head.getLong(0) == 2 * planted)
    assert(out.filter(col("top_lang_docs") > col("n_docs")
      || col("mean_qbin") > 100 || col("dup_ppm") > 1000000L).count() == 0)
    out.unpersist()
    ()
  }

  test("q_host_trustrank: trust stays on the seed-reachable graph and propagates") {
    val out = SparkEntry.queries("q_host_trustrank")(spark, dir).cache()
    assert(out.filter(col("is_seed")).count() == 3)
    assert(out.filter(col("tr1") < 0 || col("tr2") < 0).count() == 0)
    // every seed keeps at least its teleport share each round
    assert(out.filter(col("is_seed") && col("tr2") < 50000L).count() == 0)
    // trust flows off the seed set (the graph is seed-connected)
    assert(out.filter(!col("is_seed") && col("tr2") > 0).count() > 0)
    // total trust never exceeds the injected mass (d=0.85 leaks per hop):
    // 2 rounds of teleport + initial propagation stay under 2 * PrScale
    assert(out.agg(sum(col("tr2"))).head.getLong(0) <= 2000000L)
    out.unpersist()
    ()
  }

  test("q_bitext_recall: exact argmax finds every planted twin; miner recall is high") {
    val out = SparkEntry.queries("q_bitext_recall")(spark, dir).cache()
    // the exact side must name the planted translation for every planted src
    val planted = out.filter(col("src_id") < 20)
    assert(planted.count() == 10)
    assert(planted.filter(col("exact_tgt") =!= col("src_id") + 500001L).count() == 0,
      "brute-force argmax missed a planted twin")
    // the LSH-probed miner recovers most of them (hamming-1 probe bound)
    assert(planted.filter(col("hit")).count() >= 8)
    out.unpersist()
    ()
  }

  test("text_stopword_derive: df bounded by corpus size, flag matches threshold") {
    val out  = SparkEntry.queries("text_stopword_derive")(spark, dir).cache()
    val docs = spark.read.parquet(s"$dir/documents.parquet").count()
    assert(out.filter(col("df") > docs).count() == 0)
    assert(out.filter(col("stopword") =!= (col("df_ppm") >= 800000L)).count() == 0)
    // the sf corpus is a small-vocabulary soup: its core vocab IS near-universal
    assert(out.filter(col("stopword")).count() > 0)
    out.unpersist()
    ()
  }

  test("search_phrase_match equals a brute-force sliding-window scan") {
    val texts = spark.read.parquet(s"$dir/documents.parquet")
      .select(col("doc_id"), col("text")).collect()
      .map(r => r.getAs[Long]("doc_id") -> r.getAs[String]("text").trim.split("\\s+"))
    val phrases = texts.filter { case (id, tk) => id % 100 == 0 && tk.length >= 6 }
      .map { case (id, tk) => (id + 800000L, tk(4), tk(5)) }
    val want = (for {
      (qid, t1, t2) <- phrases
      (did, tk) <- texts
      hits = tk.indices.dropRight(1).filter(i => tk(i) == t1 && tk(i + 1) == t2)
      if hits.nonEmpty
    } yield (qid, did) -> ((hits.length.toLong, hits.min + 1L))).toMap
    val out = SparkEntry.queries("search_phrase_match")(spark, dir).collect()
      .map(r => (r.getAs[Long]("query_id"), r.getAs[Long]("doc_id")) ->
        ((r.getAs[Long]("n_matches"), r.getAs[Long]("first_pos")))).toMap
    assert(out == want,
      s"diff keys: ${(out.keySet -- want.keySet) ++ (want.keySet -- out.keySet)}")
    // every query hits its own source doc (the planted guarantee)
    phrases.foreach { case (qid, _, _) =>
      assert(out.contains((qid, qid - 800000L)), s"query $qid missed its source doc")
    }
    // phrase order is enforced somewhere: some reversed bigram would match
    // more docs than the ordered phrase does (sanity against bag-of-words)
    assert(phrases.nonEmpty)
  }

  test("search_tiered_index: tiers partition each posting list, tier 0 = ceil(df/4)") {
    val out = SparkEntry.queries("search_tiered_index")(spark, dir).cache()
    val byTerm = out.groupBy(col("term"))
      .agg(sum(col("n_postings")).as("np"), max(col("df")).as("df"),
        sum(when(col("tier") === 0, col("n_postings"))).as("t0"),
        sum(col("mass_ppm")).as("mp"))
    // postings partition exactly; tier 0 holds ceil(df/4) of them
    assert(byTerm.filter(col("np") =!= col("df")).count() == 0)
    assert(byTerm.filter(col("t0") =!= expr("(df + 3) div 4")).count() == 0)
    // ppm masses sum to ~1e6 per term (floor loss < 2 tiers)
    assert(byTerm.filter(col("mp") > 1000000L || col("mp") <= 1000000L - 2).count() == 0)
    out.unpersist()
    ()
  }

  test("q_hard_negatives: negatives cross labels, ranks order by cosine, verdict is consistent") {
    val emb = spark.read.parquet(s"$dir/embeddings.parquet")
      .select(col("vec_id"), col("label").as("true_label"))
    val out = SparkEntry.queries("q_hard_negatives")(spark, dir).cache()
    try {
      // the mined negative really is a different-label vector…
      val labelled = out
        .join(emb.withColumnRenamed("vec_id", "neighbor_id"), Seq("neighbor_id"))
        .join(emb.select(col("vec_id").as("query_id"), col("true_label").as("qlabel")),
          Seq("query_id"))
      assert(labelled.filter(col("label") =!= col("true_label")).count() == 0)
      assert(labelled.filter(col("label") === col("qlabel")).count() == 0)
      // …ranks descend in cosine, and the triplet verdict matches the margin
      import org.apache.spark.sql.expressions.Window
      val w = Window.partitionBy(col("query_id")).orderBy(col("rank"))
      assert(out.withColumn("prev", lag(col("cos_neg"), 1).over(w))
        .filter(col("prev") < col("cos_neg")).count() == 0)
      assert(out.filter(col("is_hard") =!= (col("cos_neg") >= col("cos_pos"))).count() == 0)
    } finally { out.unpersist(); () }
  }

  test("q_snapshot_expire: statuses partition the file inventory; only rewritten files expire") {
    val out = SparkEntry.queries("q_snapshot_expire")(spark, dir).collect()
      .map(r => r.getAs[String]("status") -> r.getAs[Long]("n_files")).toMap
    val orders = spark.read.parquet(s"$dir/orders.parquet")
    assert(out.values.sum == orders.count())
    assert(out("live") == orders.filter(col("o_orderstatus") =!= "F").count())
    // both removed-file outcomes occur: old rewrites expire, recent stay
    assert(out.getOrElse("expirable", 0L) > 0 && out.getOrElse("retained", 0L) > 0)
  }

  test("q_distribution_drift: ppm shares of each half sum to ~1e6, counts partition the stream") {
    val out = SparkEntry.queries("q_distribution_drift")(spark, dir).cache()
    try {
      val n = spark.read.parquet(s"$dir/events.parquet").count()
      assert(out.agg(sum(col("n_base") + col("n_current"))).head().getLong(0) == n)
      // integer DIV floors, so each half's shares sum to (1e6 - categories, 1e6]
      Seq("ppm_base", "ppm_current").foreach { c =>
        val s = out.agg(sum(col(c))).head().getLong(0)
        assert(s <= 1000000L && s > 1000000L - out.count(), s"$c sums to $s")
      }
      assert(out.filter(col("drifted") =!= (col("drift_ppm") > 20000L)).count() == 0)
    } finally { out.unpersist(); () }
  }

  test("q_k_anonymity: verdict and suppression agree with the group size") {
    val out = SparkEntry.queries("q_k_anonymity")(spark, dir).cache()
    try {
      assert(out.agg(sum("n")).head().getLong(0) ==
        spark.read.parquet(s"$dir/customer.parquet").count())
      assert(out.filter(col("k_anonymous") =!= (col("n") >= 5L)).count() == 0)
      assert(out.filter(col("rows_suppressed") =!=
        when(col("n") < 5L, col("n")).otherwise(lit(0L))).count() == 0)
    } finally { out.unpersist(); () }
  }

  test("q_cube_agg: every grouping-set subtotal sums its children exactly") {
    val out = SparkEntry.queries("q_cube_agg")(spark, dir).cache()
    try {
      val grand = out.filter(col("returnflag") === "(all)" && col("linestatus") === "(all)")
      val leaves = out.filter(col("returnflag") =!= "(all)" && col("linestatus") =!= "(all)")
      assert(grand.count() == 1)
      assert(grand.head().getAs[Long]("cnt") ==
        leaves.agg(sum("cnt")).head().getLong(0))
      // one-dim subtotals partition the leaves too
      val byFlag = out.filter(col("returnflag") =!= "(all)" && col("linestatus") === "(all)")
      assert(byFlag.agg(sum("cnt")).head().getLong(0) ==
        leaves.agg(sum("cnt")).head().getLong(0))
    } finally { out.unpersist(); () }
  }

  test("q_pivot_events: wide counts re-fold to the long counts") {
    val out = SparkEntry.queries("q_pivot_events")(spark, dir)
    val ev  = spark.read.parquet(s"$dir/events.parquet")
      .filter(col("event_type").isin("click", "view", "purchase", "error"))
    assert(out.agg(sum(col("n_click") + col("n_view") + col("n_purchase") + col("n_error")))
      .head().getLong(0) == ev.count())
    assert(out.count() ==
      spark.read.parquet(s"$dir/events.parquet").select("user_id").distinct().count())
  }

  test("q_cdc_merge: deletes vanish, updates/inserts land, survivors are untouched") {
    val out  = SparkEntry.queries("q_cdc_merge")(spark, dir).cache()
    try {
      val base = spark.read.parquet(s"$dir/documents.parquet")
      assert(out.filter(col("doc_id") % 10 === 0 && col("doc_id") < 900000L).count() == 0)
      assert(out.filter(col("status") === "updated").count() ==
        base.filter(col("doc_id") % 10 === 1 || col("doc_id") % 10 === 2).count())
      assert(out.filter(col("status") === "inserted").count() ==
        base.filter(col("doc_id") % 10 === 5).count())
      // kept rows carry the base content hash verbatim
      val kept = out.filter(col("status") === "kept")
        .join(base.select(col("doc_id"), md5(col("text")).as("want")), Seq("doc_id"))
      assert(kept.filter(col("content_hash") =!= col("want")).count() == 0)
      // merged table is still keyed: doc_id unique
      assert(out.select("doc_id").distinct().count() == out.count())
    } finally { out.unpersist(); () }
  }

  test("q_exact_quantile equals a driver-side sort (percentile_disc semantics)") {
    val out = SparkEntry.queries("q_exact_quantile")(spark, dir).collect()
      .map(r => r.getAs[String]("l_returnflag") ->
        ((r.getAs[Long]("n"), r.getAs[Double]("median_qty"), r.getAs[Double]("p90_qty")))).toMap
    val byFlag = spark.read.parquet(s"$dir/lineitem.parquet")
      .select("l_returnflag", "l_quantity").collect()
      .map(r => (r.getString(0), r.getDouble(1))).groupBy(_._1)
    byFlag.foreach { case (flag, rows) =>
      val v = rows.map(_._2).sorted
      val n = v.length
      // value at rank ceil(q*n), 1-based
      val want = (n.toLong, v((n + 1) / 2 - 1), v((9 * n + 9) / 10 - 1))
      assert(out(flag) == want, s"$flag: got ${out(flag)}, want $want")
    }
  }

  test("q_debounce: keeps are exactly the quiet-period events and every event is audited") {
    val out = SparkEntry.queries("q_debounce")(spark, dir).cache()
    try {
      assert(out.count() == spark.read.parquet(s"$dir/events.parquet").count())
      assert(out.filter(col("kept") =!=
        (col("gap_us").isNull || col("gap_us") > 3600L * 1000000L)).count() == 0)
      // the corpus really exercises both outcomes
      assert(out.filter(!col("kept")).count() > 0)
      // exactly one first event (null gap) per user
      assert(out.filter(col("gap_us").isNull).count() ==
        out.select("user_id").distinct().count())
    } finally { out.unpersist(); () }
  }

  test("eval_cer: planted corruption classes have closed-form edit distances") {
    val rows = SparkEntry.queries("eval_cer")(spark, dir).collect()
      .map(r => r.getAs[Long]("doc_id") ->
        ((r.getAs[Long]("corruption"), r.getAs[Long]("n_chars"),
          r.getAs[Long]("dist"), r.getAs[Long]("cer_ppm")))).toMap
    val samples = spark.read.parquet(s"$dir/documents.parquet")
      .select(col("doc_id"), substring(col("text"), 1, 400).as("s")).collect()
      .map(r => r.getAs[Long]("doc_id") -> r.getAs[String]("s")).toMap
    assert(rows.keySet == samples.keySet)
    rows.foreach { case (id, (cls, n, dist, cer)) =>
      val s = samples(id)
      assert(n == s.length)
      assert(cer == dist * 1000000L / math.max(n, 1L))
      cls match {
        case 0 => assert(dist == 0L, s"doc $id: clean class must have CER 0")
        case 1 => // substitution-only: bounded by #e, positive iff any 'e'
          val e = s.count(_ == 'e').toLong
          assert(dist <= e && (e == 0L || dist > 0L), s"doc $id: dist=$dist #e=$e")
        case 2 => // pure deletion of k chars: distance is exactly k
          assert(dist == s.count(_ == 'o').toLong, s"doc $id deletion")
        case 3 => // pure insertion of the fixed 15-char tail
          assert(dist == 15L, s"doc $id insertion: $dist")
      }
    }
    assert(rows.values.map(_._1).toSet == Set(0L, 1L, 2L, 3L))
  }

  test("dedup_sorted_neighborhood finds the prefix-adjacent planted near-dups") {
    val out = SparkEntry.queries("dedup_sorted_neighborhood")(spark, dir).cache()
    try {
      val nDocs = spark.read.parquet(s"$dir/documents.parquet").count()
      // every pair the window emits passed the exact verify
      assert(out.filter(col("jaccard") < 0.5).count() == 0)
      assert(out.filter(col("gap") < 1 || col("gap") > 3).count() == 0)
      // the planted copies (id+1e6, " zzz" appended) share the 32-char
      // blocking prefix, so the sort puts them in the same neighborhood
      val planted = out.filter(col("doc_b") === col("doc_a") + 1000000L)
      assert(planted.count() >= (nDocs * 9) / 10,
        s"found ${planted.count()} of $nDocs planted pairs")
      // and they are true near-dups, not borderline — up to a small tail
      // of short docs where the appended " zzz" is a big share of a tiny
      // shingle set
      assert(planted.filter(col("jaccard") < 0.9).count() <= nDocs / 20)
    } finally { out.unpersist(); () }
  }

  // --- product quantization: driver-side re-run of the exact-integer
  // Lloyd loop (the same arithmetic, independently coded) pins training,
  // code assignment, and ADC search end to end ------------------------------

  private def pqDriverBooks(): (Array[(Long, Array[Long])], IndexedSeq[IndexedSeq[Long]], IndexedSeq[IndexedSeq[Long]]) = {
    val q = spark.read.parquet(s"$dir/embeddings.parquet")
      .select(col("vec_id"), col("embedding")).collect()
      .map(r => r.getAs[Long]("vec_id") ->
        r.getAs[scala.collection.Seq[Float]]("embedding").toArray
          .map(x => math.floor(x.toDouble * 2000.0 + 0.5).toLong))
    def d2(a: Seq[Long], b: Seq[Long]): Long =
      a.zip(b).map { case (x, y) => (x - y) * (x - y) }.sum
    def lloyd(sub: Array[(Long, Array[Long])],
        init: IndexedSeq[IndexedSeq[Long]]): IndexedSeq[IndexedSeq[Long]] = {
      var cents = init
      (0 until 2).foreach { _ =>
        val byCell = sub.map { case (_, qv) =>
          (cents.indices.minBy(j => (d2(qv.toSeq, cents(j)), j)), qv)
        }.groupBy(_._1)
        cents = cents.indices.map { j =>
          byCell.get(j) match {
            case Some(rows) => (0 until 32).map(i =>
              Math.floorDiv(rows.map(_._2(i)).sum, rows.length.toLong)).toIndexedSeq
            case None => cents(j)
          }
        }
      }
      cents
    }
    val bookLo = lloyd(q.map { case (id, v) => (id, v.slice(0, 32)) },
      (0 until 8).map(j => graft.functions.VectorKernels.intCentroid(100 + j, 32).toIndexedSeq))
    val bookHi = lloyd(q.map { case (id, v) => (id, v.slice(32, 64)) },
      (0 until 8).map(j => graft.functions.VectorKernels.intCentroid(200 + j, 32).toIndexedSeq))
    (q, bookLo, bookHi)
  }

  private def pqD2(a: Seq[Long], b: Seq[Long]): Long =
    a.zip(b).map { case (x, y) => (x - y) * (x - y) }.sum

  private def pqCode(qv: Seq[Long], book: IndexedSeq[IndexedSeq[Long]]): Int =
    book.indices.minBy(j => (pqD2(qv, book(j)), j))

  test("ann_pq_codes: codes match a driver-side re-run of the integer Lloyd loop") {
    val (q, bookLo, bookHi) = pqDriverBooks()
    val want = q.map { case (id, qv) =>
      val (lo, hi) = (qv.slice(0, 32).toSeq, qv.slice(32, 64).toSeq)
      val (cl, ch) = (pqCode(lo, bookLo), pqCode(hi, bookHi))
      id -> ((cl.toLong, pqD2(lo, bookLo(cl)), ch.toLong, pqD2(hi, bookHi(ch))))
    }.toMap
    val out = SparkEntry.queries("ann_pq_codes")(spark, dir).collect()
    assert(out.length == q.length)
    out.foreach { r =>
      val id = r.getAs[Long]("vec_id")
      assert((r.getAs[Long]("code_lo"), r.getAs[Long]("d_lo"),
        r.getAs[Long]("code_hi"), r.getAs[Long]("d_hi")) == want(id), s"vec $id")
    }
    // compression does real work: several codes in use per subspace
    assert(out.map(_.getAs[Long]("code_lo")).distinct.length > 2)
    assert(out.map(_.getAs[Long]("code_hi")).distinct.length > 2)
  }

  test("ann_pq_topk: ADC ranking matches an exhaustive driver recompute; recall audit consistent") {
    val (q, bookLo, bookHi) = pqDriverBooks()
    val codes = q.map { case (id, qv) =>
      id -> ((pqCode(qv.slice(0, 32).toSeq, bookLo), pqCode(qv.slice(32, 64).toSeq, bookHi)))
    }.toMap
    val want = q.filter(_._1 < 5).flatMap { case (qid, qv) =>
      val (lo, hi) = (qv.slice(0, 32).toSeq, qv.slice(32, 64).toSeq)
      q.filter(_._1 != qid).map { case (nid, _) =>
        val (cl, ch) = codes(nid)
        (qid, nid, pqD2(lo, bookLo(cl)) + pqD2(hi, bookHi(ch)))
      }.sortBy { case (_, nid, adc) => (adc, nid) }.take(5).zipWithIndex
        .map { case ((qid2, nid, adc), i) => (qid2, nid) -> ((i + 1L, adc)) }
    }.toMap
    val out = SparkEntry.queries("ann_pq_topk")(spark, dir).collect()
    assert(out.length == want.size)
    out.foreach { r =>
      val key = (r.getAs[Long]("query_id"), r.getAs[Long]("neighbor_id"))
      assert(want.contains(key), s"unexpected pair $key")
      assert((r.getAs[Long]("rank"), r.getAs[Long]("adc")) == want(key), s"pair $key")
    }
  }

  test("ann_pq_rerank: planted near-neighbors retrieved at rank 1 through ADC + exact re-rank") {
    val (q, bookLo, bookHi) = pqDriverBooks()
    val codes = q.map { case (id, qv) =>
      id -> ((pqCode(qv.slice(0, 32).toSeq, bookLo), pqCode(qv.slice(32, 64).toSeq, bookHi)))
    }.toMap
    // driver recompute: perturbed probes → ADC top-50 candidates → exact
    // re-rank (independent implementation of the whole retrieve path)
    val raw = spark.read.parquet(s"$dir/embeddings.parquet")
      .filter(col("vec_id") < 5).select(col("vec_id"), col("embedding")).collect()
      .map(r => r.getAs[Long]("vec_id") ->
        r.getAs[scala.collection.Seq[Float]]("embedding").toArray)
    val want = raw.map { case (g, emb) =>
      val pert = emb.zipWithIndex.map { case (x, i) =>
        math.floor((x.toDouble + 0.01 * ((i % 3) - 1)) * 2000.0 + 0.5).toLong }
      val (plo, phi) = (pert.slice(0, 32).toSeq, pert.slice(32, 64).toSeq)
      val cand = q.map { case (nid, _) =>
        val (cl, ch) = codes(nid)
        (nid, pqD2(plo, bookLo(cl)) + pqD2(phi, bookHi(ch)))
      }.sortBy { case (nid, adc) => (adc, nid) }.take(50).map(_._1)
      val rer = cand.map(nid => (nid, pqD2(pert.toSeq, q.toMap.apply(nid).toSeq)))
        .sortBy { case (nid, d2) => (d2, nid) }
      val grank = rer.indexWhere(_._1 == g) match { case -1 => -1L; case i => i + 1L }
      (g + 100000L) -> ((g, cand.contains(g), grank, grank >= 1 && grank <= 5))
    }.toMap
    val out = SparkEntry.queries("ann_pq_rerank")(spark, dir).collect()
    assert(out.length == 5)
    out.foreach { r =>
      val qid = r.getAs[Long]("query_id")
      val w = want(qid)
      assert(r.getAs[Long]("golden") == w._1)
      assert(r.getAs[Boolean]("in_candidates") == w._2, s"query $qid in_candidates")
      assert(r.getAs[Long]("golden_rank") == w._3, s"query $qid golden_rank")
      assert(r.getAs[Boolean]("found_at_k") == w._4, s"query $qid found_at_k")
    }
    // the index does its job on real near-neighbor structure: every
    // planted probe's source survives compression and re-ranks first
    assert(out.forall(_.getAs[Boolean]("in_candidates")), "golden fell out of ADC candidates")
    assert(out.forall(_.getAs[Long]("golden_rank") == 1L), "golden not rank 1 after re-rank")
  }

  test("text_tokenizer_fertility: per-lang ratios match a driver recount") {
    val rows = spark.read.parquet(s"$dir/documents.parquet")
      .select(col("lang"), col("text")).collect()
      .map { r =>
        val t = r.getAs[String]("text")
        val w = t.trim.split("\\s+").count(_.nonEmpty).toLong
        val bpe = "[a-z]+|[0-9]+|[^a-z0-9\\s]".r.findAllIn(t.toLowerCase).length.toLong
        (r.getAs[String]("lang"), w, bpe)
      }.filter(_._2 > 0)
    val want = rows.groupBy(_._1).map { case (lang, xs) =>
      val (ws, ts) = (xs.map(_._2).sum, xs.map(_._3).sum)
      val fsum = xs.map { case (_, w, t) => t * 1000000L / w }.sum
      lang -> ((xs.length.toLong, ws, ts, ts * 1000000L / ws, fsum / xs.length))
    }
    val out = SparkEntry.queries("text_tokenizer_fertility")(spark, dir).collect()
    assert(out.length == want.size)
    out.foreach { r =>
      val lang = r.getAs[String]("lang")
      assert((r.getAs[Long]("n_docs"), r.getAs[Long]("n_words"),
        r.getAs[Long]("n_tokens"), r.getAs[Long]("fertility_ppm"),
        r.getAs[Long]("mean_doc_fertility_ppm")) == want(lang), s"lang $lang")
      // fertility ≥ 1 token per word by the segmenter's construction
      assert(r.getAs[Long]("fertility_ppm") >= 1000000L)
    }
  }

  test("text_bigram_lm: conditional table matches a driver-side bigram recount") {
    val texts = spark.read.parquet(s"$dir/documents.parquet")
      .select(col("text")).collect().map(_.getAs[String]("text"))
    val bigrams = texts.flatMap { t =>
      val ws = t.trim.split("\\s+").toSeq
      if (ws.length < 2) Seq.empty else ws.zip(ws.tail)
    }
    val cBg = bigrams.groupBy(identity).map { case (k, v) => k -> v.length.toLong }
    val cLeft = cBg.toSeq.groupBy(_._1._1).map { case (w1, xs) => w1 -> xs.map(_._2).sum }
    val want = cBg.toSeq.filter { case ((w1, _), _) => cLeft(w1) >= 10L }
      .groupBy(_._1._1).flatMap { case (w1, xs) =>
        xs.sortBy { case ((_, w2), c) => (-c, w2) }.take(3).zipWithIndex
          .map { case (((`w1`, w2), c), i) =>
            (w1, w2) -> ((c, cLeft(w1), c * 1000000L / cLeft(w1), i + 1L)) }
      }
    val out = SparkEntry.queries("text_bigram_lm")(spark, dir).collect()
    assert(out.length == want.size)
    out.foreach { r =>
      val key = (r.getAs[String]("w1"), r.getAs[String]("w2"))
      assert(want.contains(key), s"unexpected bigram $key")
      assert((r.getAs[Long]("c_bigram"), r.getAs[Long]("c_left"),
        r.getAs[Long]("p_ppm"), r.getAs[Long]("rank")) == want(key), s"bigram $key")
    }
    // the table is a genuine probability table: per-w1 top-3 masses ≤ 1e6
    out.groupBy(_.getAs[String]("w1")).foreach { case (w1, rs) =>
      assert(rs.map(_.getAs[Long]("p_ppm")).sum <= 1000000L, s"w1 $w1 over-mass")
    }
  }

  test("search_rank_eval: metrics match a recount of the rankers' own lists") {
    val out = SparkEntry.queries("search_rank_eval")(spark, dir).collect()
      .map(r => r.getAs[String]("ranker") -> r).toMap
    assert(out.keySet == Set("bm25", "hybrid"))
    val goldens = spark.read.parquet(s"$dir/documents.parquet")
      .filter(col("doc_id") % 100 === 0).select(col("doc_id")).collect()
      .map(_.getAs[Long]("doc_id"))
    def recount(q: String): (Long, Long, Long, Long) = {
      val ranks = SparkEntry.queries(q)(spark, dir).collect()
        .map(r => (r.getAs[Long]("query_id"), r.getAs[Long]("doc_id")) -> r.getAs[Long]("rank"))
        .toMap
      val granks = goldens.map(g => ranks.get((g + 900000L, g)))
      (goldens.length.toLong, granks.count(_.contains(1L)).toLong,
        granks.count(_.isDefined).toLong,
        granks.flatMap(_.map(1000000L / _)).sum / goldens.length)
    }
    Seq("bm25" -> "text_bm25_topk", "hybrid" -> "search_hybrid_rrf").foreach {
      case (ranker, q) =>
        val r = out(ranker)
        val (n, h1, fk, mrr) = recount(q)
        assert(r.getAs[Long]("n_queries") == n)
        assert(r.getAs[Long]("hits_at_1") == h1, s"$ranker hits@1")
        assert(r.getAs[Long]("found_at_k") == fk, s"$ranker found@k")
        assert(r.getAs[Long]("mrr_ppm") == mrr, s"$ranker mrr")
    }
    // the planted marker term makes BM25 rank the source doc first, always
    assert(out("bm25").getAs[Long]("hits_at_1") == out("bm25").getAs[Long]("n_queries"))
    assert(out("bm25").getAs[Long]("mrr_ppm") == 1000000L)
  }

  test("q_upsample_epochs: rare domains repeat, heavy domains thin, epochs contiguous") {
    val out = SparkEntry.queries("q_upsample_epochs")(spark, dir)
    val docs = spark.read.parquet(s"$dir/documents.parquet")
    val nByDom = docs.collect().map { r =>
      val m = r.getAs[Long]("doc_id") % 20
      if (m < 10) "web" else if (m < 16) "news" else if (m < 18) "books"
      else if (m == 18) "code" else "wiki"
    }.groupBy(identity).map { case (d, xs) => d -> xs.length.toLong }
    val w = Map("web" -> 350000L, "news" -> 150000L, "books" -> 250000L,
      "code" -> 150000L, "wiki" -> 100000L)
    val nTotal = nByDom.values.sum
    val rate = nByDom.map { case (d, n) => d -> nTotal * w(d) / n }
    val rows = out.collect()
    val byDom = rows.groupBy(_.getAs[String]("domain"))
    // per-doc epochs are 1..repeat with repeat in {floor(rate), floor+1}
    rows.groupBy(r => r.getAs[Long]("doc_id")).foreach { case (id, rs) =>
      val eps = rs.map(_.getAs[Long]("epoch")).sorted.toSeq
      assert(eps == (1L to eps.length).toSeq, s"doc $id epochs not contiguous")
      val d = rs.head.getAs[String]("domain")
      val fl = rate(d) / 1000000L
      assert(eps.length == fl || eps.length == fl + 1, s"doc $id repeat ${eps.length}")
    }
    // upsampling fired: some rare-domain doc trains >1 epoch
    assert(byDom("books").map(_.getAs[Long]("epoch")).max >= 2L)
    assert(byDom("code").map(_.getAs[Long]("epoch")).max >= 3L)
    // downsampling fired: web emits fewer rows than its doc count
    assert(byDom("web").length < nByDom("web"))
    // per-domain realized mass is near target (hash-fractional tolerance):
    // expected rows = n_d * rate / 1e6, allow ±15% relative
    nByDom.keys.foreach { d =>
      val want = nByDom(d).toDouble * rate(d).toDouble / 1e6
      val got = byDom(d).length.toDouble
      assert(math.abs(got - want) <= math.max(5.0, 0.15 * want),
        s"$d realized $got vs target $want")
    }
  }

  test("q_mixture_allocate: water-filling binds caps, redistributes, conserves budget") {
    val out = SparkEntry.queries("q_mixture_allocate")(spark, dir).collect()
    assert(out.length == 5)
    val budget = out.head.getAs[Long]("budget")
    assert(out.map(_.getAs[Long]("budget")).distinct.length == 1)
    // recompute from parquet
    val av = spark.read.parquet(s"$dir/documents.parquet")
      .collect().map { r =>
        val m = r.getAs[Long]("doc_id") % 20
        val dom = if (m < 10) "web" else if (m < 16) "news"
          else if (m < 18) "books" else if (m == 18) "code" else "wiki"
        dom -> r.getAs[Long]("n_chars")
      }.groupBy(_._1).map { case (d, xs) => d -> xs.map(_._2).sum }
    val w = Map("web" -> 350000L, "news" -> 150000L, "books" -> 250000L,
      "code" -> 150000L, "wiki" -> 100000L)
    assert(budget == av.values.sum * 60 / 100)
    val desired = av.map { case (d, a) => d -> (budget * w(d) / 1000000L) }
    val alloc1  = av.map { case (d, a) => d -> math.min(a, desired(d)) }
    val capped  = av.keys.map(d => d -> (desired(d) >= av(d))).toMap
    val leftover = budget - alloc1.values.sum
    val wOpen = w.filter { case (d, _) => !capped(d) }.values.sum
    out.foreach { r =>
      val d = r.getAs[String]("domain")
      assert(r.getAs[Long]("avail") == av(d))
      assert(r.getAs[Long]("alloc1") == alloc1(d))
      assert(r.getAs[Boolean]("capped") == capped(d))
      val extra = if (!capped(d) && wOpen > 0) leftover * w(d) / wOpen else 0L
      assert(r.getAs[Long]("alloc_final") == math.min(av(d), alloc1(d) + extra))
    }
    // the plant is doing its job: some domains cap, some receive extra
    assert(capped.values.count(identity) >= 1, "no domain capped — plant broken")
    assert(capped.values.count(!_) >= 1, "all domains capped — plant broken")
    assert(leftover > 0, "no stranded budget to redistribute")
    val total = out.map(_.getAs[Long]("alloc_final")).sum
    assert(total <= budget, "over-allocated the budget")
    assert(total > alloc1.values.sum, "redistribution never fired")
  }

  test("q_softdedup_weights: each content group carries ~1 doc of loss mass") {
    val out = SparkEntry.queries("q_softdedup_weights")(spark, dir)
    val n = spark.read.parquet(s"$dir/documents.parquet").count()
    assert(out.count() == n + n / 10) // corpus + 10% planted dups
    // every planted dup pair (id, id+1e6) has copies>=2 and weight<=500000
    val dups = out.filter(col("doc_id") >= 1000000L)
    assert(dups.filter(col("copies") < 2 || col("weight_ppm") > 500000L).count() == 0)
    // weight is exactly the integer reciprocal
    assert(out.filter(col("weight_ppm") =!= expr("1000000 DIV copies")).count() == 0)
    // every copies=1 doc keeps full weight — soft dedup never penalizes
    // unique content
    assert(out.filter(col("copies") === 1 && col("weight_ppm") =!= 1000000L).count() == 0)
  }

  test("q_curriculum_interleave: analytic position equals the true interleave") {
    val out = SparkEntry.queries("q_curriculum_interleave")(spark, dir).collect()
    val n = out.length
    assert(out.map(_.getAs[Long]("pos")).sorted.toSeq == (1L to n).toSeq,
      "pos is not a permutation of 1..N")
    // brute-force: per-domain rank by (n_chars desc, doc_id), then global
    // order by (rk, domain)
    val rows = spark.read.parquet(s"$dir/documents.parquet")
      .select(col("doc_id"), col("n_chars")).collect()
      .map { r =>
        val id = r.getAs[Long]("doc_id"); val m = id % 20
        val dom = if (m < 10) "web" else if (m < 16) "news"
          else if (m < 18) "books" else if (m == 18) "code" else "wiki"
        (id, dom, r.getAs[Long]("n_chars"))
      }
    val ranked = rows.groupBy(_._2).toSeq.flatMap { case (_, xs) =>
      xs.sortBy { case (id, _, nc) => (-nc, id) }.zipWithIndex
        .map { case ((id, d, _), i) => (id, d, i + 1L) }.toSeq
    }
    val want = ranked.sortBy { case (_, d, rk) => (rk, d) }.zipWithIndex
      .map { case ((id, d, rk), i) => id -> ((d, rk, i + 1L)) }.toMap
    out.foreach { r =>
      val id = r.getAs[Long]("doc_id")
      val (d, rk, pos) = want(id)
      assert(r.getAs[String]("domain") == d)
      assert(r.getAs[Long]("rk") == rk, s"doc $id rank")
      assert(r.getAs[Long]("pos") == pos, s"doc $id position")
    }
    // round-robin property: the first |domains-with-rank-1| positions are
    // distinct domains
    val head = out.sortBy(_.getAs[Long]("pos")).take(5).map(_.getAs[String]("domain"))
    assert(head.distinct.length == head.length, s"head not interleaved: ${head.toSeq}")
  }

  test("q_join_size_audit: totals and top contributors match a driver-side recount") {
    val out = SparkEntry.queries("q_join_size_audit")(spark, dir).collect()
    val counts = spark.read.parquet(s"$dir/events.parquet")
      .groupBy(col("user_id")).count().collect()
      .map(r => r.getAs[Long]("user_id") -> r.getAs[Long]("count")).toMap
    val totalPairs = counts.values.map(n => n * n).sum
    val totalRows  = counts.values.sum
    val wantTop = counts.toSeq.map { case (u, n) => (u, n * n) }
      .sortBy { case (u, p) => (-p, u) }.take(10).map(_._1)
    assert(out.length == 10)
    assert(out.map(_.getAs[Long]("user_id")).toSet == wantTop.toSet)
    out.foreach { r =>
      val u = r.getAs[Long]("user_id")
      assert(r.getAs[Long]("n_rows") == counts(u))
      assert(r.getAs[Long]("pairs") == counts(u) * counts(u))
      assert(r.getAs[Long]("total_rows") == totalRows)
      assert(r.getAs[Long]("total_pairs") == totalPairs)
      assert(r.getAs[Long]("n_keys") == counts.size.toLong)
      assert(r.getAs[Long]("share_ppm") == counts(u) * counts(u) * 1000000L / totalPairs)
    }
  }

  test("ann_power_iteration: trace equals a full Scala replay, rescale bounded") {
    val out = SparkEntry.queries("ann_power_iteration")(spark, dir).collect()
      .map(r => r.getAs[Long]("pos") -> ((r.getAs[Long]("v1q"), r.getAs[Long]("v2q"))))
      .toMap
    val dims = 64
    val qs = spark.read.parquet(s"$dir/embeddings.parquet")
      .select(col("embedding")).collect()
      .map(_.getSeq[Float](0).toArray.map(x =>
        math.floor(x.toDouble * 2000.0 + 0.5).toLong))
    def pass(v: Array[Long]): Array[Long] = {
      val acc = Array.fill(dims)(0L)
      qs.foreach { q =>
        val s = (0 until dims).map(i => q(i) * v(i)).sum
        (0 until dims).foreach(i => acc(i) += q(i) * s)
      }
      acc
    }
    def rescale(v: Array[Long]): Array[Long] = {
      val g = math.max(1L, v.map(math.abs).max / 10000L)
      v.map(Math.floorDiv(_, g))
    }
    val v1q = rescale(pass(Array.fill(dims)(1L)))
    val v2q = rescale(pass(v1q))
    assert(out.size == dims)
    (0 until dims).foreach { i =>
      assert(out(i.toLong) == ((v1q(i), v2q(i))), s"dim $i mismatch")
    }
    assert(v2q.map(math.abs).max <= 10000L && v2q.map(math.abs).max > 5000L,
      "rescaled iterate should sit near full scale")
  }

  test("q_bootstrap_sample: replicate sizes concentrate, zero-draw mass ~ 1/e") {
    val out = SparkEntry.queries("q_bootstrap_sample")(spark, dir).collect()
    assert(out.length == 3)
    val n = spark.read.parquet(s"$dir/documents.parquet").count()
    out.foreach { r =>
      assert(r.getAs[Long]("n_source") == n)
      val ss = r.getAs[Long]("sample_size")
      assert(math.abs(ss - n) <= n / 5, s"replicate size $ss vs corpus $n")
      val drop = r.getAs[Long]("n_dropped").toDouble / n
      assert(drop > 0.30 && drop < 0.44, s"zero-draw fraction $drop not ~ e^-1")
      assert(r.getAs[Long]("mean_w_ppm") ==
        r.getAs[Long]("w_sum") * 1000000L / math.max(ss, 1L))
    }
    // replicates must actually differ (that's the variance being estimated)
    assert(out.map(_.getAs[Long]("sample_size")).distinct.length >= 2)
  }

  test("ann_cell_balance: masses partition the corpus; IF >= 1; matches the cells query") {
    val out = SparkEntry.queries("ann_cell_balance")(spark, dir).collect()
    val fromCells = SparkEntry.queries("ann_kmeans_cells")(spark, dir)
      .groupBy(col("cell")).count().collect()
      .map(r => r.getAs[Long]("cell") -> r.getAs[Long]("count")).toMap
    val n = spark.read.parquet(s"$dir/embeddings.parquet").count()
    assert(out.map(_.getAs[Long]("n_vecs")).sum == n)
    out.foreach { r =>
      assert(r.getAs[Long]("n_vecs") == fromCells(r.getAs[Long]("cell")))
      assert(r.getAs[Long]("share_ppm") == r.getAs[Long]("n_vecs") * 1000000L / n)
      // Cauchy–Schwarz: k·Σn²/N² >= 1, exactly even under the floor
      assert(r.getAs[Long]("imbalance_ppm") >= 1000000L)
      assert(r.getAs[Long]("n_empty") == 8L - fromCells.size)
    }
  }

  test("ann_ivfpq_topk: ADC exact vs driver replay, <=2 probed cells, recall audit consistent") {
    val out = SparkEntry.queries("ann_ivfpq_topk")(spark, dir).collect()
    assert(out.nonEmpty)
    // every returned ADC recomputes exactly from the driver-side PQ replay
    val (q, bookLo, bookHi) = pqDriverBooks()
    val vecs = q.toMap
    out.foreach { r =>
      val (qid, nid) = (r.getAs[Long]("query_id"), r.getAs[Long]("neighbor_id"))
      val (qv, nv) = (vecs(qid), vecs(nid))
      val adc =
        pqD2(qv.slice(0, 32).toSeq, bookLo(pqCode(nv.slice(0, 32).toSeq, bookLo))) +
          pqD2(qv.slice(32, 64).toSeq, bookHi(pqCode(nv.slice(32, 64).toSeq, bookHi)))
      assert(r.getAs[Long]("adc") == adc, s"pair ($qid,$nid) adc")
    }
    val byQ = out.groupBy(_.getAs[Long]("query_id"))
    // ranks contiguous from 1, ADC non-decreasing with rank
    byQ.foreach { case (qid, rows) =>
      val sorted = rows.sortBy(_.getAs[Long]("rank"))
      assert(sorted.map(_.getAs[Long]("rank")).toSeq == (1L to sorted.length).toSeq, s"query $qid ranks")
      assert(sorted.length <= 5)
      val adcs = sorted.map(_.getAs[Long]("adc")).toSeq
      assert(adcs == adcs.sorted, s"query $qid adc not ranked")
    }
    // nprobe=2: candidates come from at most two coarse cells per query
    val cellOf = SparkEntry.queries("ann_kmeans_cells")(spark, dir)
      .select(col("vec_id"), col("cell")).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    byQ.foreach { case (qid, rows) =>
      val probed = rows.map(r => cellOf(r.getAs[Long]("neighbor_id"))).toSet
      assert(probed.size <= 2, s"query $qid candidates span ${probed.size} cells")
    }
    // cell pruning can only worsen-or-keep each rank's ADC vs the
    // full-corpus PQ scan at the same rank
    val full = SparkEntry.queries("ann_pq_topk")(spark, dir).collect()
      .map(r => (r.getAs[Long]("query_id"), r.getAs[Long]("rank")) -> r.getAs[Long]("adc"))
      .toMap
    out.foreach { r =>
      val key = (r.getAs[Long]("query_id"), r.getAs[Long]("rank"))
      full.get(key).foreach(fadc =>
        assert(r.getAs[Long]("adc") >= fadc, s"$key beats the unpruned scan"))
    }
    // recall audit: hits = |ivfpq ∩ exact| per query, recall = hits/K
    val bf = SparkEntry.queries("ann_bruteforce_topk")(spark, dir).collect()
      .map(r => (r.getAs[Long]("query_id"), r.getAs[Long]("neighbor_id"))).toSet
    val wantHits = out
      .filter(r => bf((r.getAs[Long]("query_id"), r.getAs[Long]("neighbor_id"))))
      .groupBy(_.getAs[Long]("query_id")).view.mapValues(_.length.toLong).toMap
    val rec = SparkEntry.queries("ann_ivfpq_recall")(spark, dir).collect()
    assert(rec.length == 5)
    rec.foreach { r =>
      val h = wantHits.getOrElse(r.getAs[Long]("query_id"), 0L)
      assert(r.getAs[Long]("hits") == h, s"query ${r.getAs[Long]("query_id")} hits")
      assert(math.abs(r.getAs[Double]("recall") - h / 5.0) < 1e-9)
    }
  }

  test("eval_kappa: confusion partitions the corpus; kappa strictly inside (0,1)") {
    val out = SparkEntry.queries("eval_kappa")(spark, dir).collect()
    assert(out.length == 1)
    val r = out(0)
    val n = spark.read.parquet(s"$dir/documents.parquet").count()
    val Seq(n11, n10, n01, n00) =
      Seq("n11", "n10", "n01", "n00").map(r.getAs[Long])
    assert(n11 + n10 + n01 + n00 == n)
    val po = (n11 + n00) * 1000000L / n
    val pe = ((n11 + n10) * (n11 + n01) + (n01 + n00) * (n10 + n00)) * 1000000L / (n * n)
    assert(r.getAs[Long]("po_ppm") == po && r.getAs[Long]("pe_ppm") == pe)
    assert(r.getAs[Long]("kappa_ppm") == Math.floorDiv((po - pe) * 1000000L, 1000000L - pe))
    // the ±noise re-rater agrees far above chance but not perfectly
    assert(r.getAs[Long]("kappa_ppm") > 500000L && r.getAs[Long]("kappa_ppm") < 1000000L,
      s"kappa ${r.getAs[Long]("kappa_ppm")} not in the planted band")
  }

  test("text_blocklist_filter: planted contamination counted exactly; clean docs keep") {
    val out = SparkEntry.queries("text_blocklist_filter")(spark, dir).collect()
    out.foreach { r =>
      val id = r.getAs[Long]("doc_id")
      val wantBad = (if (id % 7 == 0) 1L else 0L) + (if (id % 13 == 0) 2L else 0L)
      val wantDistinct =
        if (id % 13 == 0) 2L else if (id % 7 == 0) 1L else 0L
      assert(r.getAs[Long]("n_bad") == wantBad, s"doc $id n_bad")
      assert(r.getAs[Long]("n_bad_distinct") == wantDistinct, s"doc $id distinct")
      assert(r.getAs[Boolean]("keep") == (wantBad == 0L), s"doc $id keep")
    }
    assert(out.exists(!_.getAs[Boolean]("keep")) && out.exists(_.getAs[Boolean]("keep")))
  }

  test("eval_ece: pure bins exactly calibrated, noisy bins not, ECE is the weighted gap") {
    val out = SparkEntry.queries("eval_ece")(spark, dir).collect()
    val n = spark.read.parquet(s"$dir/documents.parquet").count()
    assert(out.map(_.getAs[Long]("n")).sum == n, "bins must partition the corpus")
    // confidence >= 800000 ⇒ |logit| >= EceNoise ⇒ the noisy label can
    // never flip the sign ⇒ accuracy is exactly 1.0
    val pure = out.filter(_.getAs[Long]("bin") >= 8)
    assert(pure.nonEmpty)
    pure.foreach(r => assert(r.getAs[Long]("acc_ppm") == 1000000L,
      s"bin ${r.getAs[Long]("bin")} should be exactly pure"))
    assert(out.exists(r => r.getAs[Long]("bin") < 8 &&
      r.getAs[Long]("acc_ppm") < 1000000L), "noise must show in some low bin")
    val wantEce = out.map(r => r.getAs[Long]("gap_ppm") * r.getAs[Long]("n")).sum /
      out.map(_.getAs[Long]("n")).sum
    out.foreach(r => assert(r.getAs[Long]("ece_ppm") == wantEce))
    out.foreach { r =>
      assert(r.getAs[Long]("gap_ppm") ==
        math.abs(r.getAs[Long]("avg_conf_ppm") - r.getAs[Long]("acc_ppm")))
    }
  }

  test("dedup_suffix_lcp matches a driver-side suffix-sort reference") {
    // Independent reimplementation (plain collections, no Spark): build
    // every truncated suffix key over the same planted corpus, sort
    // globally, take each neighbor pair's LCP, roll up per doc.
    val rows = spark.read.parquet(s"$dir/documents.parquet")
      .select("doc_id", "text").collect()
      .map(r => (r.getLong(0), r.getString(1)))
    val corpus = rows ++ rows.map { case (id, t) => (id + 1000000L, t + " zzz") }
    val sufs = corpus.flatMap { case (id, t) =>
      val toks = t.trim.split("\\s+")
      toks.indices.map(p => (toks.slice(p, p + 33).mkString(" ").take(64), id))
    }.sortBy(x => (x._1, x._2))
    def lcp(a: String, b: String): Int = a.zip(b).takeWhile { case (x, y) => x == y }.size
    val dupLen = sufs.indices.map { i =>
      val prev = if (i > 0) lcp(sufs(i - 1)._1, sufs(i)._1) else 0
      val next = if (i < sufs.length - 1) lcp(sufs(i)._1, sufs(i + 1)._1) else 0
      (sufs(i)._2, math.max(prev, next))
    }
    val want = dupLen.groupBy(_._1).map { case (id, xs) =>
      id -> ((xs.size.toLong, xs.map(_._2).max.toLong, xs.count(_._2 >= 40).toLong))
    }
    val out = SparkEntry.queries("dedup_suffix_lcp")(spark, dir).collect()
    assert(out.length == want.size, "one row per corpus doc")
    out.foreach { r =>
      val id = r.getAs[Long]("doc_id")
      val (n, mx, nd) = want(id)
      assert(r.getAs[Long]("n_suffixes") == n, s"doc $id n_suffixes")
      assert(r.getAs[Long]("max_dup_len") == mx, s"doc $id max_dup_len")
      assert(r.getAs[Long]("n_dup_spans") == nd, s"doc $id n_dup_spans")
    }
    // the planted copies force cap-length duplicated suffixes on long docs
    out.filter(r => r.getAs[Long]("doc_id") < 1000000L && {
      val (n, _, _) = want(r.getAs[Long]("doc_id")); n >= 33
    }).foreach(r => assert(r.getAs[Long]("max_dup_len") == 64L,
      s"doc ${r.getAs[Long]("doc_id")} should hit the 64-char cap"))
  }

  test("q_preference_pairs: planted canned pairs leak-gated, kept is the conjunction") {
    val out = SparkEntry.queries("q_preference_pairs")(spark, dir).collect()
    val nDocs = spark.read.parquet(s"$dir/documents.parquet").count()
    assert(out.length == (nDocs / 5).toInt, "one row per prompt group")
    val planted = out.filter(_.getAs[Long]("prompt_id") % 7 == 0)
    assert(planted.nonEmpty)
    planted.foreach { r =>
      val pid = r.getAs[Long]("prompt_id")
      assert(r.getAs[Long]("chosen_score") == 1000L, s"prompt $pid chosen")
      assert(r.getAs[Long]("rejected_score") == -1L, s"prompt $pid rejected")
      assert(r.getAs[Long]("shared_chunks") > 0L, s"prompt $pid must leak")
      assert(!r.getAs[Boolean]("kept"), s"prompt $pid must be gated")
      // the margin PASSES — the leak gate, not the margin, rejects it
      assert(r.getAs[Long]("margin") == 1001L, s"prompt $pid margin")
    }
    out.foreach { r =>
      val want = r.getAs[Long]("n_responses") >= 2L &&
        r.getAs[Long]("margin") >= 200L && r.getAs[Long]("shared_chunks") == 0L
      assert(r.getAs[Boolean]("kept") == want,
        s"prompt ${r.getAs[Long]("prompt_id")} kept flag")
    }
    assert(out.exists(_.getAs[Boolean]("kept")), "some pairs must survive")
  }

  test("eval_pass_at_k matches the exact binomial value within 1 ppm") {
    def choose(n: Long, k: Long): BigInt =
      (0L until k).map(i => BigInt(n - i)).product / (1L to k).map(BigInt(_)).product
    def exactPpm(n: Long, c: Long, k: Long): Long = {
      val frac = BigDecimal(choose(n - c, k)) / BigDecimal(choose(n, k))
      ((BigDecimal(1) - frac) * 1000000).setScale(0, BigDecimal.RoundingMode.FLOOR).toLong
    }
    val out = SparkEntry.queries("eval_pass_at_k")(spark, dir).collect()
    assert(out.length == 50)
    out.foreach { r =>
      val (n, c) = (r.getAs[Long]("n_samples"), r.getAs[Long]("n_correct"))
      for ((k, col) <- Seq((1L, "pass1_ppm"), (5L, "pass5_ppm"), (10L, "pass10_ppm"))) {
        val got  = r.getAs[Long](col)
        val want = exactPpm(n, c, k)
        assert(math.abs(got - want) <= 1L,
          s"problem ${r.getAs[Long]("problem_id")} $col: got $got want $want")
      }
      assert(r.getAs[Long]("pass1_ppm") <= r.getAs[Long]("pass5_ppm") &&
        r.getAs[Long]("pass5_ppm") <= r.getAs[Long]("pass10_ppm"), "monotone in k")
    }
    // the per-problem difficulty plant must spread the estimates
    assert(out.map(_.getAs[Long]("pass1_ppm")).distinct.length > 10)
  }

  private def h32(s: String): Long = {
    val d = java.security.MessageDigest.getInstance("MD5").digest(s.getBytes("UTF-8"))
    java.lang.Long.parseLong(d.take(4).map("%02x".format(_)).mkString, 16)
  }

  test("dedup_cdc_chunks matches a driver-side reference; prepended token keeps chunks stable") {
    // Independent reimplementation: same boundary rule (token hash ≡ 0
    // mod 8, last token closes), chunks keyed by their text.
    val rows = spark.read.parquet(s"$dir/documents.parquet")
      .select("doc_id", "text").collect()
      .map(r => (r.getLong(0), r.getString(1)))
    val corpus = rows ++ rows.map { case (id, t) => (id + 1000000L, "qq " + t) }
    val chunksOf = corpus.map { case (id, t) =>
      val toks = t.trim.split("\\s+")
      val n = toks.length
      val bposr = (1 to n).filter(i => h32("cdc:" + toks(i - 1)) % 8 == 0)
      val bpos = if (bposr.nonEmpty && bposr.last == n) bposr else bposr :+ n
      val chunks = bpos.indices.map { k =>
        val st = if (k == 0) 1 else bpos(k - 1) + 1
        toks.slice(st - 1, bpos(k)).mkString(" ")
      }
      id -> chunks
    }.toMap
    val docsPerChunk = chunksOf.toSeq
      .flatMap { case (id, cs) => cs.distinct.map(_ -> id) }
      .groupBy(_._1).map { case (c, xs) => c -> xs.map(_._2).distinct.size }
    val out = SparkEntry.queries("dedup_cdc_chunks")(spark, dir).collect()
    assert(out.length == corpus.length, "one row per corpus doc")
    out.foreach { r =>
      val id = r.getAs[Long]("doc_id")
      val cs = chunksOf(id)
      assert(r.getAs[Long]("n_chunks") == cs.size.toLong, s"doc $id n_chunks")
      assert(r.getAs[Long]("n_toks") ==
        cs.map(_.split(" ").length.toLong).sum, s"doc $id n_toks")
      val dup = cs.count(c => docsPerChunk(c) >= 2).toLong
      assert(r.getAs[Long]("n_dup_chunks") == dup, s"doc $id n_dup_chunks")
      assert(r.getAs[Long]("dup_ppm") ==
        dup * 1000000L / cs.size, s"doc $id dup_ppm")
    }
    // THE content-defined property: the copy differs only by a PREPENDED
    // token, so at most the first chunk of each member changes — every
    // multi-chunk doc still dups all later chunks. Fixed-width chunking
    // would find zero.
    out.filter(_.getAs[Long]("n_chunks") >= 2L).foreach { r =>
      assert(r.getAs[Long]("n_dup_chunks") >= r.getAs[Long]("n_chunks") - 1,
        s"doc ${r.getAs[Long]("doc_id")} lost interior chunks to the shift")
    }
    assert(out.count(_.getAs[Long]("n_chunks") >= 2L) > 0, "plant must exercise multi-chunk docs")
  }

  test("q_chat_turns: each plant trips exactly its gate; kept is the conjunction") {
    val out = SparkEntry.queries("q_chat_turns")(spark, dir).collect()
    val nDocs = spark.read.parquet(s"$dir/documents.parquet").count()
    assert(out.length == ((nDocs + 7) / 8).toInt, "one row per conversation")
    val full = out.filter(_.getAs[Long]("n_turns") == 8L)
    assert(full.nonEmpty)
    full.foreach { r =>
      val c = r.getAs[Long]("conv_id")
      if (c % 11 == 0)
        assert(!r.getAs[Boolean]("alternation_ok"), s"conv $c alternation plant")
      if (c % 13 == 0)
        assert(r.getAs[Long]("n_empty_turns") >= 1L, s"conv $c empty-turn plant")
      if (c % 7 == 0)
        assert(r.getAs[Long]("n_artifact_turns") >= 1L, s"conv $c artifact plant")
      assert(r.getAs[Boolean]("opens_user") && r.getAs[Boolean]("closes_assistant"),
        s"conv $c full conversations open user / close assistant by layout")
      val want = r.getAs[Boolean]("alternation_ok") &&
        r.getAs[Boolean]("opens_user") && r.getAs[Boolean]("closes_assistant") &&
        r.getAs[Long]("n_empty_turns") == 0L && r.getAs[Long]("n_artifact_turns") == 0L
      assert(r.getAs[Boolean]("kept") == want, s"conv $c kept flag")
    }
    assert(full.exists(_.getAs[Boolean]("kept")), "unplanted conversations survive")
    assert(full.exists(r => !r.getAs[Boolean]("kept")), "planted conversations are gated")
  }

  test("eval_majority_vote matches a driver-side consolidation reference") {
    val ids = spark.read.parquet(s"$dir/documents.parquet")
      .select("doc_id").collect().map(_.getLong(0))
    val perDoc = ids.map { id =>
      val votes = (0L until 3L).map { ann =>
        if (h32(s"noise:$id:$ann") % 1000 < (ann + 1) * 100)
          h32(s"flip:$id:$ann") % 5
        else h32(s"vote:$id") % 5
      }
      val (label, cnt) = votes.groupBy(identity).map { case (l, v) => (l, v.size) }
        .toSeq.maxBy { case (l, c) => (c, -l) }
      (label, cnt)
    }
    val want = perDoc.groupBy(_._1).map { case (label, xs) =>
      label -> ((xs.size.toLong, xs.count(_._2 == 3).toLong,
        xs.count(_._2 == 2).toLong, xs.count(_._2 == 1).toLong,
        xs.map(_._2.toLong).sum * 1000000L / (xs.size * 3L)))
    }
    val out = SparkEntry.queries("eval_majority_vote")(spark, dir).collect()
    assert(out.length == want.size)
    out.foreach { r =>
      val (nd, nu, nm, nt, share) = want(r.getAs[Long]("label"))
      assert(r.getAs[Long]("n_docs") == nd)
      assert(r.getAs[Long]("n_unanimous") == nu)
      assert(r.getAs[Long]("n_majority") == nm)
      assert(r.getAs[Long]("n_tiebreak") == nt)
      assert(r.getAs[Long]("winner_share_ppm") == share)
      assert(nu + nm + nt == nd, "vote classes partition the docs")
    }
    assert(out.map(_.getAs[Long]("n_docs")).sum == ids.length.toLong)
  }

  test("text_span_corruption matches a driver-side span sampler") {
    val rows = spark.read.parquet(s"$dir/documents.parquet")
      .select("doc_id", "text").collect()
      .map(r => (r.getLong(0), r.getString(1)))
    val want = rows.map { case (id, t) =>
      val n = t.trim.split("\\s+").length
      val cand = (1 to n).map(i => h32(s"corrupt:$id:$i") % 100 < 5)
      val mask = (1 to n).map(j => (math.max(1, j - 2) to j).exists(s => cand(s - 1)))
      val spans = (1 to n).count(j => mask(j - 1) && (j == 1 || !mask(j - 2)))
      id -> ((n.toLong, mask.count(identity).toLong, spans.toLong))
    }.toMap
    val out = SparkEntry.queries("text_span_corruption")(spark, dir).collect()
    assert(out.length == want.size)
    out.foreach { r =>
      val id = r.getAs[Long]("doc_id")
      val (n, masked, spans) = want(id)
      assert(r.getAs[Long]("n_tokens") == n, s"doc $id n_tokens")
      assert(r.getAs[Long]("n_masked") == masked, s"doc $id n_masked")
      assert(r.getAs[Long]("n_spans") == spans, s"doc $id n_spans")
      assert(r.getAs[Long]("input_len") == n - masked + spans)
      assert(r.getAs[Long]("target_len") == masked + spans + 1)
      // every sentinel covers ≥1 masked token (runs can exceed the span
      // width when chained starts merge — that's the T5 merge semantics)
      if (spans > 0)
        assert(masked >= spans, s"doc $id span widths")
    }
    // the 5% × width-3 draw must land near T5's ~15% corruption corpus-wide
    val totMask = out.map(_.getAs[Long]("n_masked")).sum.toDouble
    val totTok  = out.map(_.getAs[Long]("n_tokens")).sum.toDouble
    assert(totMask / totTok > 0.08 && totMask / totTok < 0.22,
      f"corpus corruption rate ${totMask / totTok}%.3f out of band")
  }

  test("text_fim_transform: digest matches a driver render; reconstruction is lossless") {
    def md5hex(s: String): String =
      java.security.MessageDigest.getInstance("MD5").digest(s.getBytes("UTF-8"))
        .map("%02x".format(_)).mkString
    val rows = spark.read.parquet(s"$dir/documents.parquet")
      .select("doc_id", "text").collect()
      .map(r => (r.getLong(0), r.getString(1)))
    val want = rows.map { case (id, t) =>
      val toks = t.trim.split("\\s+")
      val n = toks.length
      val c1 = h32(s"fima:$id") % (n + 1)
      val c2 = h32(s"fimb:$id") % (n + 1)
      val (a, b) = (math.min(c1, c2).toInt, math.max(c1, c2).toInt)
      val applied = id % 2 == 0 && n >= 3
      val rendered =
        if (applied)
          Seq("<PRE>", toks.slice(0, a).mkString(" "),
            "<SUF>", toks.slice(b, n).mkString(" "),
            "<MID>", toks.slice(a, b).mkString(" ")).mkString(" ")
        else toks.mkString(" ")
      id -> ((applied, a.toLong, (b - a).toLong, (n - b).toLong, md5hex(rendered)))
    }.toMap
    val out = SparkEntry.queries("text_fim_transform")(spark, dir).collect()
    assert(out.length == want.size)
    out.foreach { r =>
      val id = r.getAs[Long]("doc_id")
      val (applied, p, m, sfx, hash) = want(id)
      assert(r.getAs[Boolean]("fim_applied") == applied, s"doc $id applied")
      assert(r.getAs[Long]("prefix_toks") == p, s"doc $id prefix")
      assert(r.getAs[Long]("middle_toks") == m, s"doc $id middle")
      assert(r.getAs[Long]("suffix_toks") == sfx, s"doc $id suffix")
      assert(r.getAs[String]("out_hash") == hash, s"doc $id digest")
      assert(r.getAs[Boolean]("reconstruct_ok"), s"doc $id must reconstruct")
    }
    assert(out.count(_.getAs[Boolean]("fim_applied")) > 0, "plant must apply FIM")
    assert(out.exists(r => !r.getAs[Boolean]("fim_applied")), "and pass some through")
  }

  test("eval_bt_ratings matches a driver-side MM reference and recovers strengths") {
    val ids = spark.read.parquet(s"$dir/documents.parquet")
      .select("doc_id").collect().map(_.getLong(0))
    val matches = ids.map { id =>
      val a = h32(s"ma:$id") % 8
      val b = (a + 1 + h32(s"mb:$id") % 7) % 8
      val aWins = h32(s"w:$id") % (a + 1 + b + 1) < a + 1
      val (i, j) = (math.min(a, b), math.max(a, b))
      (i, j, if (aWins) a == i else b == i)
    }
    val pairs = matches.groupBy(x => (x._1, x._2)).map { case ((i, j), xs) =>
      (i, j, xs.length.toLong, xs.count(_._3).toLong)
    }.toSeq
    val nM = Array.fill(8)(0L); val nW = Array.fill(8)(0L)
    pairs.foreach { case (i, j, n, wi) =>
      nM(i.toInt) += n; nM(j.toInt) += n
      nW(i.toInt) += wi; nW(j.toInt) += n - wi
    }
    var p = Array.fill(8)(1000000L)
    for (_ <- 0 until 3) {
      val d = Array.fill(8)(0L)
      pairs.foreach { case (i, j, n, _) =>
        val t = n * 1000000000L / (p(i.toInt) + p(j.toInt))
        d(i.toInt) += t; d(j.toInt) += t
      }
      val raw = (0 until 8).map(k => nW(k) * 1000000000L / d(k))
      val tot = raw.sum
      p = raw.map(r => r * 8000000L / tot).toArray
    }
    val out = SparkEntry.queries("eval_bt_ratings")(spark, dir).collect()
    assert(out.length == 8)
    out.foreach { r =>
      val k = r.getAs[Long]("model").toInt
      assert(r.getAs[Long]("n_matches") == nM(k), s"model $k matches")
      assert(r.getAs[Long]("n_wins") == nW(k), s"model $k wins")
      assert(r.getAs[Long]("bt_ppm") == p(k), s"model $k rating")
    }
    // planted strengths are 1..8 — the fitted ratings must recover at
    // least the extreme ordering and correlate with strength overall
    val byModel = out.map(r => r.getAs[Long]("model") -> r.getAs[Long]("bt_ppm")).toMap
    assert(byModel(7L) > byModel(0L), "strongest must out-rate weakest")
    val concordant = (for (x <- 0 until 8; y <- x + 1 until 8)
      yield if (byModel(y.toLong) > byModel(x.toLong)) 1 else 0).sum
    assert(concordant >= 20, s"rating/strength concordance too low: $concordant/28")
  }

  test("text_instruction_density: header plant scores high; gate is consistent") {
    val out = SparkEntry.queries("text_instruction_density")(spark, dir).collect()
    val nDocs = spark.read.parquet(s"$dir/documents.parquet").count()
    assert(out.length == nDocs.toInt)
    out.foreach { r =>
      val score = ((r.getAs[Long]("imp_starts") * 500 +
        r.getAs[Long]("questions") * 300 +
        r.getAs[Long]("list_markers") * 200) * 1000) / r.getAs[Long]("n_tokens")
      assert(r.getAs[Long]("score_ppm") == score, s"doc ${r.getAs[Long]("doc_id")} score")
      assert(r.getAs[Boolean]("kept") == (score >= 1500L),
        s"doc ${r.getAs[Long]("doc_id")} gate")
    }
    val (planted, organic) = out.partition(_.getAs[Long]("doc_id") % 5 == 0)
    // the header contributes exactly 1 imperative start, 1 question mark
    // and 3 list markers on top of the organic signals
    planted.foreach { r =>
      assert(r.getAs[Long]("imp_starts") >= 1 && r.getAs[Long]("questions") >= 1 &&
        r.getAs[Long]("list_markers") >= 3, s"doc ${r.getAs[Long]("doc_id")} header signals")
    }
    val medOrganic = organic.map(_.getAs[Long]("score_ppm")).sorted.apply(organic.length / 2)
    val medPlanted = planted.map(_.getAs[Long]("score_ppm")).sorted.apply(planted.length / 2)
    assert(medPlanted > medOrganic, s"plant must raise the median score ($medPlanted vs $medOrganic)")
    assert(planted.count(_.getAs[Boolean]("kept")) * 2 > planted.length,
      "most planted docs must pass the gate")
  }
}
