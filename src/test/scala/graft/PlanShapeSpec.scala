package graft

import org.scalatest.funsuite.AnyFunSuite

/** Load-bearing physical-plan shapes as ASSERTIONS (not just the human-
  * review printout in PlanAudit): a regression in pushdown / broadcast /
  * top-k strategy / shuffle count now fails CI instead of needing a
  * reviewer to spot it in `explain` output. These shapes are exactly the
  * properties that decide whether the same plan survives a 100× scale-up.
  */
class PlanShapeSpec extends AnyFunSuite with SparkSessionTestWrapper {

  private val dir = "/root/testdata/sf0.001"

  /** A RoundRobinPartitioning exchange is [[graft.operators.Par.fanOut]]'s
    * input rebalance: guide-sanctioned repartition-after-read for the
    * bench's one-row-group parquet inputs (a no-op at production split
    * counts), moving each input row exactly once. The payload-discipline
    * assertions below guard KEYED (hash/range) join/agg/window shuffles —
    * the ones with quadratic/hot-key risk — so the fan-out exchange is
    * exempt from them. */
  private def isFanOut(e: org.apache.spark.sql.execution.exchange.ShuffleExchangeExec): Boolean =
    e.outputPartitioning.isInstanceOf[
      org.apache.spark.sql.catalyst.plans.physical.RoundRobinPartitioning]

  private def plan(name: String): String =
    SparkEntry.queries(name)(spark, dir).queryExecution.executedPlan.toString

  private def count(hay: String, needle: String): Int =
    hay.sliding(needle.length).count(_ == needle)

  test("small dimension joins broadcast (q_join_customer_orders)") {
    val p = plan("q_join_customer_orders")
    assert(p.contains("BroadcastHashJoin"), p.take(2000))
    assert(!p.contains("SortMergeJoin"), "dim join degraded to SortMerge")
  }

  test("top-k is TakeOrderedAndProject, never global sort+limit (q_topk_orders)") {
    val p = plan("q_topk_orders")
    assert(p.contains("TakeOrderedAndProject"), p.take(2000))
    assert(!p.contains("GlobalLimit"), "top-k planned as global sort+limit")
  }

  test("filtered scans push predicates into parquet (q_parse_number, q_anti_join)") {
    Seq("q_parse_number", "q_anti_join").foreach { q =>
      val p = plan(q)
      assert(p.contains("PushedFilters: ["), s"$q: no PushedFilters section")
      assert(p.contains("PushedFilters: [IsNotNull") || p.contains("PushedFilters: [LessThan") ||
        p.contains("PushedFilters: [EqualTo") || p.contains("PushedFilters: [GreaterThan"),
        s"$q: predicate did not reach the parquet scan:\n${p.take(2000)}")
    }
  }

  test("projections prune the parquet ReadSchema (text_tokens reads only what it uses)") {
    val p = plan("text_tokens")
    // documents carries text/source/ts columns; the token counter needs
    // doc_id + text only — a full-width scan is the classic 100TB bug
    assert(p.contains("ReadSchema"), p.take(2000))
    assert(!p.contains("source"), "text_tokens scan reads unused column 'source'")
  }

  test("exact dedup is one shuffle (dedup_exact)") {
    val p = plan("dedup_exact")
    assert(count(p, "Exchange") == 1, s"expected exactly 1 Exchange:\n${p.take(3000)}")
  }

  test("narrow text kernels stay inside whole-stage codegen (text_langid)") {
    val p = plan("text_langid")
    // executedPlan.toString marks whole-stage-codegen stages with "*(n)"
    assert(p.contains("*("), s"no WholeStageCodegen span:\n${p.take(2000)}")
    assert(count(p, "Exchange") == 0, "narrow per-row kernel introduced a shuffle")
  }

  test("ANN probe joins broadcast the query side, scan corpus once (ann_lsh_topk)") {
    val p = plan("ann_lsh_topk")
    assert(p.contains("BroadcastHashJoin") || p.contains("BroadcastNestedLoopJoin"),
      p.take(2000))
    assert(!p.contains("CartesianProduct"), "ANN candidate join went cartesian")
  }

  test("PII scrub and chunk hashing stay codegen'd; chunk dedup shuffles only hashes") {
    val pii = plan("text_pii_redact")
    assert(pii.contains("*("), s"no WholeStageCodegen span:\n${pii.take(2000)}")
    assert(count(pii, "Exchange") == 0, "narrow PII scrub introduced a shuffle")
    // chunk ratio: groupBy(h) + groupBy(doc_id) + one join — shuffles carry
    // (hash, id) pairs only, never document text (the at-scale property)
    val executed = SparkEntry.queries("text_dup_chunk_ratio")(spark, dir)
      .queryExecution.executedPlan
    val chunks = executed match { // AQE root hides the exchanges from collect
      case a: org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec => a.initialPlan
      case other => other
    }
    val exchanged = chunks.collect {
      case e: org.apache.spark.sql.execution.exchange.ShuffleExchangeExec if !isFanOut(e) => e.output.map(_.name)
    }
    assert(exchanged.nonEmpty)
    exchanged.foreach { cols =>
      assert(!cols.contains("text"), s"chunk-dedup shuffle carries full text: $cols")
    }
  }

  test("chunk windows are a pure narrow explode: zero shuffles, codegen'd") {
    val p = plan("text_chunk_windows")
    assert(count(p, "Exchange") == 0,
      s"per-doc chunking introduced a shuffle:\n${p.take(2000)}")
    assert(p.contains("*("), s"no WholeStageCodegen span:\n${p.take(2000)}")
  }

  test("DSIR weights broadcast back; no shuffle in the scoring pass carries text") {
    val executed = SparkEntry.queries("q_dsir_weight")(spark, dir)
      .queryExecution.executedPlan
    val root = executed match {
      case a: org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec => a.initialPlan
      case other => other
    }
    val p = root.toString
    assert(p.contains("BroadcastHashJoin"), s"weight table not broadcast:\n${p.take(2000)}")
    root.collect {
      case e: org.apache.spark.sql.execution.exchange.ShuffleExchangeExec if !isFanOut(e) => e.output.map(_.name)
    }.foreach { cols =>
      assert(!cols.contains("text") && !cols.contains("th"),
        s"DSIR shuffle carries text/token arrays: $cols")
    }
  }

  test("pagerank iterations broadcast the rank table; shuffles carry (host, int64) only") {
    val executed = SparkEntry.queries("q_host_pagerank")(spark, dir)
      .queryExecution.executedPlan
    val root = executed match {
      case a: org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec => a.initialPlan
      case other => other
    }
    assert(root.toString.contains("BroadcastHashJoin"),
      s"rank table not broadcast:\n${root.toString.take(2000)}")
    root.collect {
      case e: org.apache.spark.sql.execution.exchange.ShuffleExchangeExec if !isFanOut(e) => e.output.map(_.name)
    }.foreach { cols =>
      assert(!cols.contains("text"), s"pagerank shuffle carries text: $cols")
    }
  }

  test("substr-dedup shuffles carry (hash, id, pos); text moves only in the doc_id rebuild") {
    val executed = SparkEntry.queries("text_substr_dedup")(spark, dir)
      .queryExecution.executedPlan
    val root = executed match {
      case a: org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec => a.initialPlan
      case other => other
    }
    val exchanges = root.collect {
      case e: org.apache.spark.sql.execution.exchange.ShuffleExchangeExec if !isFanOut(e) =>
        (e.output.map(_.name), e.outputPartitioning)
    }
    assert(exchanges.nonEmpty)
    exchanges.foreach { case (cols, part) =>
      // the occurrence/owner/kept aggregations shuffle ids+hashes only;
      // the one shuffle allowed to carry tokenized text is the final
      // rebuild join, and it must be keyed by doc_id (the rewrite's
      // inherent single text movement)
      if (cols.exists(c => c == "text" || c == "toks")) {
        val keys = part match {
          case h: org.apache.spark.sql.catalyst.plans.physical.HashPartitioning =>
            h.expressions.flatMap(_.references.toSeq).map(_.name).distinct
          case other => Seq(s"non-hash:$other")
        }
        assert(keys == Seq("doc_id"),
          s"text-carrying shuffle keyed by $keys, not doc_id: $cols")
      }
    }
  }

  test("LM familiarity count tables and joins shuffle int64 keys only, never text") {
    val executed = SparkEntry.queries("text_lm_familiarity")(spark, dir)
      .queryExecution.executedPlan
    val root = executed match {
      case a: org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec => a.initialPlan
      case other => other
    }
    val exchanges = root.collect {
      case e: org.apache.spark.sql.execution.exchange.ShuffleExchangeExec if !isFanOut(e) => e.output.map(_.name)
    }
    assert(exchanges.nonEmpty)
    exchanges.foreach { cols =>
      assert(!cols.exists(c => c == "text" || c == "toks" || c == "th"),
        s"LM familiarity shuffle carries text: $cols")
    }
  }

  test("keep-best resolution: max_by groupBy + broadcast join-back, text never shuffles") {
    val executed = SparkEntry.queries("dedup_keep_best")(spark, dir)
      .queryExecution.executedPlan
    val root = executed match {
      case a: org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec => a.initialPlan
      case other => other
    }
    val exchanges = root.collect {
      case e: org.apache.spark.sql.execution.exchange.ShuffleExchangeExec if !isFanOut(e) =>
        (e.output.map(_.name), e.outputPartitioning)
    }
    assert(exchanges.nonEmpty)
    // no shuffle anywhere in the resolution chain carries document text
    exchanges.foreach { case (cols, _) =>
      assert(!cols.contains("text"), s"keep-best shuffle carries text: $cols")
    }
    // round 6: the keeper is resolved by a max_by GROUP BY (partial
    // aggregation collapses a hot cluster map-side — no per-cluster
    // window sort task), and the keepers frame broadcast-joins back
    val p = root.toString
    assert(!p.contains("Window"),
      s"keep-best resolution regressed to a per-cluster window:\n${p.take(2000)}")
    assert(p.contains("partial_max_by") || p.contains("partial_maxby") ||
      (p.contains("max_by") && p.contains("HashAggregate")),
      s"keeper selection is not a partial max_by aggregation:\n${p.take(2000)}")
    assert(p.contains("BroadcastHashJoin"),
      s"keepers frame not broadcast back:\n${p.take(2000)}")
    // the keeper agg repartitions by cluster_id with ids+quality only
    val aggEx = exchanges.filter {
      case (_, hp: org.apache.spark.sql.catalyst.plans.physical.HashPartitioning) =>
        hp.expressions.flatMap(_.references.toSeq).map(_.name).contains("cluster_id")
      case _ => false
    }
    assert(aggEx.nonEmpty, s"no cluster_id-keyed keeper-agg exchange in: $exchanges")
  }

  test("dedup_embedding_cosine joins on the scaling LSH bucket, never on label") {
    // assert on the pair-BUILD plan (the shipped embeddingNearDups path):
    // the catalog query memoizes the built pairs per corpus dir, so its
    // own plan is a checkpoint scan once any embedding query has run
    import org.apache.spark.sql.functions.{col, transform, lit}
    val e = spark.read.parquet(s"$dir/embeddings.parquet")
    val all = e.select(col("vec_id"), graft.functions.VectorKernels.toDouble(col("embedding")).as("v"))
      .unionByName(e.select((col("vec_id") + 100000L).as("vec_id"),
        transform(col("embedding"), (x, i) => x.cast("double") + lit(0.01) * ((i % 3) - 1)).as("v")))
    val executed = graft.operators.Dedup.embeddingNearDups(all,
        graft.functions.VectorKernels.planesFor(2L * e.count()))
      .queryExecution.executedPlan
    val p = executed.toString
    // the round-2 shape joined on the 10-value `label` column — candidate
    // pairs ∝ corpus²/10; the scan must not even READ label any more
    assert(!p.contains("label"), s"embedding near-dup still touches label:\n${p.take(2000)}")
    assert(!p.contains("CartesianProduct"), "embedding near-dup went cartesian")
    // equality join on the bucket key (bkt) — SortMergeJoin or
    // ShuffledHashJoin are both fine shapes; the key is what matters
    assert(p.contains("bkt"), s"no bucket key in join:\n${p.take(2000)}")
  }

  test("corpus_curate: flagship stays broadcast/anti-join shaped, no cartesian") {
    val executed = SparkEntry.queries("corpus_curate")(spark, dir)
      .queryExecution.executedPlan.toString
    assert(!executed.contains("CartesianProduct"), "curation chain went cartesian")
  }

  test("corpus_curate stage 2: the content-hash shuffle carries (hash, id), never text") {
    import org.apache.spark.sql.functions.col
    val corpus = spark.read.parquet(s"$dir/documents.parquet")
      .select(col("doc_id"), col("text"))
    val executed = graft.operators.Curation.exactDedupKeepers(corpus)
      .queryExecution.executedPlan
    val root = executed match {
      case a: org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec => a.initialPlan
      case other => other
    }
    val exchanges = root.collect {
      case e: org.apache.spark.sql.execution.exchange.ShuffleExchangeExec if !isFanOut(e) =>
        (e.outputPartitioning, e.output.map(_.name))
    }
    assert(exchanges.nonEmpty, root.toString.take(2000))
    exchanges.foreach { case (part, cols) =>
      if (cols.contains("text")) {
        // the only text-carrying shuffle is the semi-join's corpus side,
        // keyed by the UNIQUE doc_id — uniform by construction
        val keys = part match {
          case h: org.apache.spark.sql.catalyst.plans.physical.HashPartitioning =>
            h.expressions.flatMap(_.references.map(_.name))
          case p => fail(s"text-carrying exchange with non-hash partitioning $p")
        }
        assert(keys == Seq("doc_id"),
          s"text shuffled on non-doc_id keys $keys (cols $cols)")
      } else {
        // hash-keyed stage-2 shuffles carry only hash + id columns (the
        // partial agg names them _groupingexpression / min internally)
        val ok = Set("content_hash", "doc_id", "_groupingexpression", "min")
        assert(cols.forall(ok), s"stage-2 shuffle carries unexpected columns: $cols")
      }
    }
    // partial aggregation is present: HashAggregate above AND below the
    // hash-keyed exchange (map-side combine is what collapses a hot key)
    assert(count(root.toString, "HashAggregate") >= 2, root.toString.take(3000))
  }

  test("ann_recall reuses the broadcast probe shape of both top-k paths") {
    val p = plan("ann_recall")
    assert(p.contains("BroadcastHashJoin"), p.take(2000))
    assert(!p.contains("CartesianProduct"))
  }

  test("text_bm25_topk: query-side joins broadcast, top-k pre-pruned by WindowGroupLimit") {
    val p = plan("text_bm25_topk")
    // the corpus-sized side must never sort-merge against the tiny query
    // frames; the only non-broadcast exchanges are the index groupBys and
    // the per-query window
    assert(p.contains("BroadcastHashJoin"), p.take(2000))
    assert(!p.contains("SortMergeJoin"), "query-side join degraded to SortMerge")
    assert(!p.contains("CartesianProduct"), "scorer planned a cartesian")
    // Spark 4 rank-limit pushdown: each partition keeps only its top-k
    // candidates BEFORE the per-query exchange
    assert(p.contains("WindowGroupLimit"), s"top-k not pre-pruned:\n${p.take(2000)}")
  }

  test("q_domain_cap: partial WindowGroupLimit pre-prunes before the source exchange, no text aboard") {
    val executed = SparkEntry.queries("q_domain_cap")(spark, dir)
      .queryExecution.executedPlan
    val p = executed.toString
    // the rank<=cap filter must push a map-side group limit below the
    // exchange: a hot domain ships ~numPartitions*cap rows, not all rows
    assert(p.contains("WindowGroupLimit"), s"rank filter not pushed:\n${p.take(2000)}")
    assert(p.contains("Partial"), s"no PARTIAL group-limit before the shuffle:\n${p.take(2000)}")
    val root = executed match {
      case a: org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec => a.initialPlan
      case other => other
    }
    root.collect {
      case e: org.apache.spark.sql.execution.exchange.ShuffleExchangeExec if !isFanOut(e) =>
        assert(!e.output.map(_.name).contains("text"),
          s"domain-cap shuffle carries text: ${e.output.map(_.name)}")
    }
  }

  test("q_domain_mix: corpus is scanned and counted, never shuffled by row") {
    val p = plan("q_domain_mix")
    // the 5-row weight table broadcasts back; the only exchanges aggregate
    // (domain, count) pairs — nothing exchanges per-document rows
    assert(p.contains("BroadcastHashJoin") || p.contains("BroadcastNestedLoopJoin"),
      p.take(2000))
    assert(!p.contains("SortMergeJoin"), "per-doc frame shuffled for a 5-row dim join")
  }

  test("search_hybrid_rrf: fusion inherits both sub-rankers' shapes, no cartesian blowup") {
    val p = plan("search_hybrid_rrf")
    assert(!p.contains("SortMergeJoin"), p.take(2000))
    // the one nested-loop is the broadcast of the 5-query embedding frame
    assert(!p.contains("CartesianProduct"), "fusion planned a real cartesian")
    assert(p.contains("WindowGroupLimit"))
  }

  test("q_event_funnel: no join node at all — union + one shuffle + windows") {
    val p = plan("q_event_funnel")
    assert(!p.contains("Join"), s"funnel planned a join:\n${p.take(2000)}")
    // one Exchange for the user_id partitioning, one for the final groupBy
    assert(count(p, "Exchange") <= 2, s"extra shuffles:\n${p.take(3000)}")
  }

  test("q_corpus_diff: hash-comparing full-outer join, never cartesian") {
    val p = plan("q_corpus_diff")
    assert(p.contains("FullOuter"), p.take(2000))
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"))
  }

  test("golden diff legs plan as sort-merge anti-joins, never broadcast (extract flagship)") {
    val parts = spark.sparkContext.defaultParallelism
    val out   = graft.plans.ExtractJob.extract(
      graft.plans.ExtractJob.generateInputs(spark, 200L, 7L, parts), parts)
    val gold  = graft.plans.ExtractJob.generateGoldens(spark, 200L, 7L, parts)
    val p     = graft.plans.GoldenDiff.diff(out, gold).queryExecution.executedPlan.toString
    assert(p.contains("LeftAnti"), p.take(2000))
    assert(!p.contains("CartesianProduct"))
    // BOTH sides scale with the corpus: a broadcast here means Catalyst's
    // tiny size estimate for the range().map() golden side won (and at
    // 200k docs the driver collects ~1 GB of build rows and dies on
    // maxResultSize — the regression the merge hint pins away)
    assert(!p.contains("BroadcastExchange"),
      s"golden diff broadcast a corpus-scaled side:\n${p.take(2000)}")
  }

  test("bitext mining: candidates from bucket equi-joins, never source×target") {
    val p = plan("q_bitext_mine")
    assert(!p.contains("CartesianProduct"),
      s"bitext candidate join went cartesian:\n${p.take(2000)}")
    assert(!p.contains("BroadcastNestedLoopJoin"),
      s"bitext candidate join lost its equi-key:\n${p.take(2000)}")
  }

  test("tiered index: one posting shuffle + one term-window shuffle, nothing more") {
    // groupBy(term, doc) then window partitionBy(term): the (term) exchange
    // also serves the final (term, tier) agg — a third KEYED shuffle means
    // the partitioning reuse broke (the round-robin fan-out of the scan is
    // exempt: it rebalances input rows, not keys)
    val keyed = shuffleCols(rootOf("search_tiered_index"))
    assert(keyed.size == 2,
      s"expected exactly 2 keyed Exchanges, got ${keyed.size}: $keyed")
  }

  test("HITS iterations broadcast score tables; shuffles carry (host, int64) only") {
    val executed = SparkEntry.queries("q_host_hits")(spark, dir)
      .queryExecution.executedPlan
    val root = executed match {
      case a: org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec => a.initialPlan
      case other => other
    }
    assert(root.toString.contains("BroadcastHashJoin"),
      s"score table not broadcast:\n${root.toString.take(2000)}")
    assert(!root.toString.contains("CartesianProduct"))
    root.collect {
      case e: org.apache.spark.sql.execution.exchange.ShuffleExchangeExec if !isFanOut(e) => e.output.map(_.name)
    }.foreach { cols =>
      assert(!cols.contains("text"), s"HITS shuffle carries text: $cols")
    }
  }

  test("collocations: unigram counts broadcast back to the bigram table") {
    val p = plan("text_collocations")
    assert(p.contains("BroadcastHashJoin"),
      s"unigram side not broadcast:\n${p.take(2000)}")
    assert(!p.contains("SortMergeJoin"),
      "vocab-sized unigram join degraded to SortMerge")
  }

  test("z-order audit: file assignment is a stateless map — no Sort before the stat aggs") {
    val p = plan("q_zorder_layout")
    // fixed-width z-ranges need no global sort; the only acceptable Sorts
    // would come from a regression to ntile/row_number file assignment
    assert(!p.contains("Sort "), s"z-file assignment picked up a sort:\n${p.take(3000)}")
    // one partial+final agg pair per layout, nothing more
    assert(count(p, "Exchange") == 2, s"expected exactly 2 Exchanges:\n${p.take(3000)}")
  }

  test("compaction plan: the window is partitioned by table partition, never global") {
    val executed = SparkEntry.queries("q_compaction_plan")(spark, dir)
      .queryExecution.executedPlan
    val root = executed match {
      case a: org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec => a.initialPlan
      case other => other
    }
    val windows = root.collect {
      case w: org.apache.spark.sql.execution.window.WindowExec => w
    }
    assert(windows.nonEmpty)
    windows.foreach { w =>
      assert(w.partitionSpec.nonEmpty,
        "compaction cumsum window lost its partition key (single-partition sort at scale)")
    }
  }

  test("global shuffle: bucket offsets broadcast; only the tiny offset frame sorts globally") {
    val executed = SparkEntry.queries("q_global_shuffle")(spark, dir)
      .queryExecution.executedPlan
    val root = executed match {
      case a: org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec => a.initialPlan
      case other => other
    }
    assert(root.toString.contains("BroadcastHashJoin"),
      s"offset table not broadcast:\n${root.toString.take(2000)}")
    // the per-doc window must be keyed by bucket — the whole point is
    // that no corpus-sized single-partition window exists
    val windows = root.collect {
      case w: org.apache.spark.sql.execution.window.WindowExec => w
    }
    val docWindows = windows.filter(_.output.map(_.name).contains("doc_id"))
    assert(docWindows.nonEmpty)
    docWindows.foreach(w => assert(w.partitionSpec.nonEmpty,
      "doc-grain window lost its bucket key"))
  }

  test("sorted-neighborhood: offsets broadcast, rank windows keyed, text never shuffles whole") {
    val executed = SparkEntry.queries("dedup_sorted_neighborhood")(spark, dir)
      .queryExecution.executedPlan
    val root = executed match {
      case a: org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec => a.initialPlan
      case other => other
    }
    assert(root.toString.contains("BroadcastHashJoin"),
      s"offset table not broadcast:\n${root.toString.take(2000)}")
    root.collect {
      case e: org.apache.spark.sql.execution.exchange.ShuffleExchangeExec if !isFanOut(e) => e.output.map(_.name)
    }.foreach { cols =>
      assert(!cols.contains("text"),
        s"SNM shuffle carries full text (rank pass should carry the 32-char key only): $cols")
    }
    // the per-record rank window must stay bucket-keyed
    root.collect {
      case w: org.apache.spark.sql.execution.window.WindowExec
          if w.output.map(_.name).contains("doc_id") => w
    }.foreach(w => assert(w.partitionSpec.nonEmpty,
      "SNM rank window lost its bucket key (single-partition global sort)"))
  }

  test("mixture allocate: one corpus aggregation, all solver arithmetic on broadcast frames") {
    val executed = SparkEntry.queries("q_mixture_allocate")(spark, dir)
      .queryExecution.executedPlan
    val root = executed match {
      case a: org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec => a.initialPlan
      case other => other
    }
    // the corpus contributes exactly one partial-agged shuffle (the
    // groupBy(domain) over the two-column scan); the water-filling rounds
    // must not re-shuffle anything corpus-sized
    root.collect {
      case e: org.apache.spark.sql.execution.exchange.ShuffleExchangeExec if !isFanOut(e) => e.output.map(_.name)
    }.foreach { cols =>
      assert(!cols.contains("doc_id") && !cols.contains("text") && !cols.contains("n_chars"),
        s"mixture solver shuffles corpus rows: $cols")
    }
    // budget/slack frames join back via broadcast, never shuffle joins
    assert(!root.toString.contains("SortMergeJoin"),
      s"solver frame join degraded to SortMerge:\n${root.toString.take(2000)}")
    // column pruning: the scan must read only (doc_id, n_chars)
    assert(root.toString.contains("ReadSchema: struct<doc_id:bigint,n_chars:bigint>"),
      s"mixture scan reads more than (doc_id, n_chars):\n${root.toString.take(3000)}")
  }

  test("softdedup weights: shuffles carry (doc_id, hash) and counts, never text") {
    val executed = SparkEntry.queries("q_softdedup_weights")(spark, dir)
      .queryExecution.executedPlan
    val root = executed match {
      case a: org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec => a.initialPlan
      case other => other
    }
    root.collect {
      case e: org.apache.spark.sql.execution.exchange.ShuffleExchangeExec if !isFanOut(e) => e.output.map(_.name)
    }.foreach { cols =>
      assert(!cols.contains("text"), s"softdedup shuffle carries full text: $cols")
    }
    // the copies count must partial-aggregate before its shuffle
    assert(root.toString.contains("HashAggregate"),
      s"no hash aggregate in softdedup plan:\n${root.toString.take(2000)}")
  }

  test("curriculum interleave: no global-order exchange; rank windows stay tie-group-keyed") {
    val executed = SparkEntry.queries("q_curriculum_interleave")(spark, dir)
      .queryExecution.executedPlan
    val root = executed match {
      case a: org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec => a.initialPlan
      case other => other
    }
    // the defining property: a GLOBAL training order with no rangepartitioning
    // (global sort) of the corpus anywhere in the plan
    root.collect {
      case e: org.apache.spark.sql.execution.exchange.ShuffleExchangeExec if !isFanOut(e) => e
    }.foreach { e =>
      val part = e.outputPartitioning.toString
      val isRange = part.contains("rangepartitioning")
      val corpusSized = e.output.map(_.name).contains("doc_id")
      assert(!(isRange && corpusSized),
        s"corpus rows range-partitioned (global sort): $part ${e.output.map(_.name)}")
    }
    // doc-grain windows must be keyed by (domain, tie group), never empty
    root.collect {
      case w: org.apache.spark.sql.execution.window.WindowExec
          if w.output.map(_.name).contains("doc_id") => w
    }.foreach(w => assert(w.partitionSpec.size >= 2,
      "interleave rank window lost its (domain, key) partition spec"))
    // the domain-count array arrives via broadcast
    assert(root.toString.contains("BroadcastNestedLoopJoin") ||
      root.toString.contains("BroadcastHashJoin"),
      s"interleave count table not broadcast:\n${root.toString.take(2000)}")
  }

  test("PQ search: distance tables broadcast; shuffles carry codes and distances, never vectors") {
    val executed = SparkEntry.queries("ann_pq_topk")(spark, dir)
      .queryExecution.executedPlan
    val root = executed match {
      case a: org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec => a.initialPlan
      case other => other
    }
    assert(root.toString.contains("BroadcastHashJoin"),
      s"ADC distance tables not broadcast:\n${root.toString.take(2000)}")
    assert(!root.toString.contains("SortMergeJoin"),
      "ADC lookup degraded to a shuffle join")
    assert(!root.toString.contains("CartesianProduct"))
    // the whole point of PQ: after encoding, nothing vector-sized moves —
    // shuffles carry (query_id, vec_id, codes, adc) longs only
    root.collect {
      case e: org.apache.spark.sql.execution.exchange.ShuffleExchangeExec if !isFanOut(e) => e.output.map(_.name)
    }.foreach { cols =>
      Seq("qf", "qlo", "qhi", "embedding").foreach(v =>
        assert(!cols.contains(v), s"PQ shuffle carries vectors ($v): $cols"))
    }
  }

  test("PQ rerank: candidate ids broadcast into the raw-vector fetch") {
    val executed = SparkEntry.queries("ann_pq_rerank")(spark, dir)
      .queryExecution.executedPlan
    val root = executed match {
      case a: org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec => a.initialPlan
      case other => other
    }
    assert(root.toString.contains("BroadcastHashJoin"),
      s"candidate fetch not broadcast:\n${root.toString.take(2000)}")
    assert(!root.toString.contains("CartesianProduct"))
  }

  private def rootOf(name: String): org.apache.spark.sql.execution.SparkPlan =
    SparkEntry.queries(name)(spark, dir).queryExecution.executedPlan match {
      case a: org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec => a.initialPlan
      case other => other
    }

  private def shuffleCols(root: org.apache.spark.sql.execution.SparkPlan): Seq[Seq[String]] =
    root.collect {
      case e: org.apache.spark.sql.execution.exchange.ShuffleExchangeExec if !isFanOut(e) =>
        e.output.map(_.name).toSeq
    }

  test("phrase match: query terms broadcast-prune postings; adjacency shuffles ints only") {
    val root = rootOf("search_phrase_match")
    assert(root.toString.contains("BroadcastHashJoin"),
      s"query-term prune not broadcast:\n${root.toString.take(2000)}")
    assert(!root.toString.contains("CartesianProduct"))
    shuffleCols(root).foreach { cols =>
      assert(!cols.contains("text") && !cols.contains("toks") && !cols.contains("term"),
        s"phrase-match shuffle carries text/terms (postings must be pruned first): $cols")
    }
  }

  test("hyperball: register merges shuffle (host, reg, rho) triples, never text") {
    val root = rootOf("q_hyperball")
    assert(!root.toString.contains("CartesianProduct"))
    shuffleCols(root).foreach { cols =>
      assert(!cols.contains("text") && !cols.contains("toks"),
        s"hyperball shuffle carries text: $cols")
    }
  }

  test("effective diameter: 3-row summaries broadcast back, no cartesian blowup") {
    val root = rootOf("q_effective_diameter")
    assert(root.toString.contains("BroadcastNestedLoopJoin") ||
      root.toString.contains("BroadcastHashJoin"),
      s"summary frames not broadcast:\n${root.toString.take(2000)}")
    assert(!root.toString.contains("CartesianProduct"))
  }

  test("matryoshka recall: probes broadcast per level; raw vectors never shuffle") {
    val root = rootOf("ann_matryoshka_recall")
    assert(root.toString.contains("BroadcastNestedLoopJoin") ||
      root.toString.contains("BroadcastHashJoin"),
      s"probe side not broadcast:\n${root.toString.take(2000)}")
    assert(!root.toString.contains("CartesianProduct"))
    shuffleCols(root).foreach { cols =>
      assert(!cols.contains("v") && !cols.contains("qv"),
        s"matryoshka shuffle carries raw vectors: $cols")
    }
  }

  test("weighted sample: offsets broadcast; doc-grain cumsum window stays bucket-keyed") {
    val root = rootOf("q_weighted_sample")
    assert(root.toString.contains("BroadcastHashJoin"),
      s"offset/total frames not broadcast:\n${root.toString.take(2000)}")
    val docWindows = root.collect {
      case w: org.apache.spark.sql.execution.window.WindowExec
          if w.output.map(_.name).contains("doc_id") => w
    }
    assert(docWindows.nonEmpty)
    docWindows.foreach(w => assert(w.partitionSpec.nonEmpty,
      "doc-grain cumsum window lost its bucket key (single-partition sort at scale)"))
  }

  test("reservoir sample: thresholds broadcast; rank window keyed by stratum") {
    val root = rootOf("q_reservoir_sample")
    assert(root.toString.contains("BroadcastHashJoin"),
      s"threshold table not broadcast:\n${root.toString.take(2000)}")
    val rankWindows = root.collect {
      case w: org.apache.spark.sql.execution.window.WindowExec => w
    }
    assert(rankWindows.nonEmpty)
    rankWindows.foreach(w => assert(w.partitionSpec.nonEmpty,
      "reservoir rank window lost its stratum key"))
  }

  test("fuzzy join: candidates come from the half-key equi-join, never a cartesian") {
    val root = rootOf("q_fuzzy_join")
    assert(!root.toString.contains("CartesianProduct"),
      s"fuzzy linkage degraded to all-pairs:\n${root.toString.take(2000)}")
    assert(!root.toString.contains("BroadcastNestedLoopJoin"),
      "fuzzy linkage verify ran as a nested-loop (blocking key lost)")
    shuffleCols(root).foreach { cols =>
      assert(!cols.contains("text"), s"fuzzy-join shuffle carries full text: $cols")
    }
  }

  test("keyword extract: top-3 window keyed by doc; shuffles carry term+counters only") {
    val root = rootOf("text_keyword_extract")
    val windows = root.collect {
      case w: org.apache.spark.sql.execution.window.WindowExec => w
    }
    assert(windows.nonEmpty)
    windows.foreach(w => assert(w.partitionSpec.nonEmpty,
      "keyword top-3 window lost its doc key"))
    shuffleCols(root).foreach { cols =>
      assert(!cols.contains("text") && !cols.contains("toks"),
        s"keyword-extract shuffle carries text: $cols")
    }
  }

  test("link prediction: no cartesian product, shuffles carry hosts and longs only") {
    val executed = SparkEntry.queries("q_link_prediction")(spark, dir)
      .queryExecution.executedPlan
    val root = executed match {
      case a: org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec => a.initialPlan
      case other => other
    }
    assert(!root.toString.contains("CartesianProduct"),
      s"pair minting degraded to a cartesian:\n${root.toString.take(2000)}")
    root.collect {
      case e: org.apache.spark.sql.execution.exchange.ShuffleExchangeExec if !isFanOut(e) => e.output.map(_.name)
    }.foreach { cols =>
      assert(!cols.contains("text"), s"link-prediction shuffle carries text: $cols")
    }
  }

  test("SQ8 search: probe side broadcast; shuffles carry codes/scores, never raw vectors") {
    val executed = SparkEntry.queries("ann_sq_topk")(spark, dir)
      .queryExecution.executedPlan
    val root = executed match {
      case a: org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec => a.initialPlan
      case other => other
    }
    assert(root.toString.contains("BroadcastNestedLoopJoin") ||
      root.toString.contains("BroadcastHashJoin"),
      s"SQ8 probe set not broadcast:\n${root.toString.take(2000)}")
    assert(!root.toString.contains("CartesianProduct"))
    // the point of SQ8: after encoding, nothing float-vector-sized moves —
    // shuffles carry (query_id, neighbor_id, score) longs only
    root.collect {
      case e: org.apache.spark.sql.execution.exchange.ShuffleExchangeExec if !isFanOut(e) => e.output.map(_.name)
    }.foreach { cols =>
      Seq("v", "w", "embedding").foreach(raw =>
        assert(!cols.contains(raw), s"SQ8 shuffle carries raw vectors ($raw): $cols"))
    }
  }

  test("containment + all-pairs: postings shuffle (hash, id); text never moves") {
    Seq("dedup_containment", "dedup_allpairs_cosine").foreach { q =>
      val root = rootOf(q)
      assert(!root.toString.contains("CartesianProduct"), q)
      shuffleCols(root).foreach { cols =>
        assert(!cols.contains("text") && !cols.contains("toks"),
          s"$q shuffle carries text: $cols")
      }
    }
  }

  test("rendezvous shards: stateless map + one partial-agg shuffle of (id, structs)") {
    val root = rootOf("q_rendezvous_shards")
    assert(!root.toString.contains("SortMergeJoin") &&
      !root.toString.contains("BroadcastHashJoin"),
      s"rendezvous audit should be joinless:\n${root.toString.take(2000)}")
    // one exchange: the doc_id hash-agg (17 rows/doc collapse map-side)
    val exchanges = root.collect {
      case e: org.apache.spark.sql.execution.exchange.ShuffleExchangeExec if !isFanOut(e) => e
    }
    assert(exchanges.size == 1, s"expected 1 Exchange, got ${exchanges.size}")
    assert(root.toString.contains("partial_max") || root.toString.contains("HashAggregate"),
      "argmax lost its map-side partial aggregation")
  }

  test("HITS: four unrolled half-steps broadcast score tables, edge agg reused") {
    val root = rootOf("q_hits")
    assert(!root.toString.contains("CartesianProduct") ||
      root.toString.contains("BroadcastNestedLoopJoin"),
      s"HITS normalization degraded to a real cartesian:\n${root.toString.take(2000)}")
    shuffleCols(root).foreach { cols =>
      assert(!cols.contains("text") && !cols.contains("toks"),
        s"HITS shuffle carries text: $cols")
    }
  }

  test("priority sample: top-(k+1) is TakeOrdered — no global corpus sort") {
    val root = rootOf("q_priority_sample")
    assert(root.toString.contains("TakeOrderedAndProject"),
      s"corpus selection degraded to a global sort:\n${root.toString.take(2000)}")
    // any Sort in the plan sits ABOVE the TakeOrdered (the 101-row window
    // re-rank) — never on the corpus side below it
    val take = root.collect {
      case t: org.apache.spark.sql.execution.TakeOrderedAndProjectExec => t
    }
    assert(take.nonEmpty)
    take.foreach { t =>
      assert(t.collect {
        case s: org.apache.spark.sql.execution.SortExec => s
      }.isEmpty, "a Sort crept below the TakeOrdered corpus selection")
    }
  }

  test("snippet: top-doc pairs + query terms broadcast; hits shuffle ints only") {
    val root = rootOf("search_snippet")
    assert(root.toString.contains("BroadcastHashJoin"),
      s"fb/qt prune not broadcast:\n${root.toString.take(2000)}")
    assert(!root.toString.contains("CartesianProduct"))
    shuffleCols(root).foreach { cols =>
      assert(!cols.contains("text"),
        s"snippet shuffle carries whole text: $cols")
    }
  }

  test("spam mass: rank tables broadcast per step; shuffles carry (host, int64) only") {
    val root = rootOf("q_spam_mass")
    assert(root.toString.contains("BroadcastHashJoin"),
      s"rank tables not broadcast:\n${root.toString.take(2000)}")
    assert(!root.toString.contains("CartesianProduct"))
    shuffleCols(root).foreach { cols =>
      assert(!cols.contains("text") && !cols.contains("toks"),
        s"spam-mass shuffle carries text: $cols")
    }
  }

  test("burst detect: one (type, bucket) count shuffle; rollup broadcast back") {
    val root = rootOf("q_burst_detect")
    assert(root.toString.contains("BroadcastHashJoin") ||
      root.toString.contains("BroadcastNestedLoopJoin"),
      s"per-type rollup not broadcast:\n${root.toString.take(2000)}")
    shuffleCols(root).foreach { cols =>
      assert(!cols.contains("text"), s"burst shuffle carries text: $cols")
    }
  }

  test("novelty: attribution is aggs + id join; shingle SETS never shuffle") {
    val root = rootOf("dedup_novelty")
    assert(!root.toString.contains("CartesianProduct"))
    shuffleCols(root).foreach { cols =>
      assert(!cols.contains("text") && !cols.contains("sh") &&
        !cols.contains("th"),
        s"novelty shuffle carries text/shingle sets: $cols")
    }
  }

  test("ccnet buckets: offsets + totals broadcast; no per-language global sort") {
    val root = rootOf("q_ccnet_buckets")
    assert(root.toString.contains("BroadcastHashJoin"),
      s"offsets/totals not broadcast:\n${root.toString.take(2000)}")
    assert(!root.toString.contains("CartesianProduct"))
    shuffleCols(root).foreach { cols =>
      assert(!cols.contains("text") && !cols.contains("toks"),
        s"ccnet shuffle carries text: $cols")
    }
  }

  test("eval_bleu: scan-only evaluator — no keyed shuffle, one codegen span") {
    // the only exchange allowed is the fan-out rebalance of the input
    // rows (round-robin, no key) — the evaluator itself must stay a
    // per-row pass: no join/agg/window shuffle anywhere
    val root = rootOf("eval_bleu")
    assert(shuffleCols(root).isEmpty,
      s"per-row eval introduced a keyed shuffle:\n${root.toString.take(2000)}")
    // the fan-out exchange AQE-wraps the plan, and codegen markers only
    // appear once the adaptive plan is finalized — execute THIS query
    // execution (collect, not a write: a write runs a cloned QE), then
    // assert on the finalized plan
    val df = SparkEntry.queries("eval_bleu")(spark, dir)
    df.collect()
    val p = df.queryExecution.executedPlan.toString
    assert(p.contains("*("), s"no WholeStageCodegen span:\n${p.take(2000)}")
  }

  test("mmr rerank: candidate/sims joins broadcast; no cartesian, no text shuffle") {
    // The greedy loop checkpoints each round eagerly, so the returned
    // frame is just a block scan — the load-bearing plans are the ones
    // EXECUTED during construction. Capture them via the session's
    // QueryExecutionListener (delivered async; poll below).
    val seen = java.util.Collections.synchronizedList(
      new java.util.ArrayList[org.apache.spark.sql.execution.SparkPlan]())
    val listener = new org.apache.spark.sql.util.QueryExecutionListener {
      override def onSuccess(funcName: String,
          qe: org.apache.spark.sql.execution.QueryExecution, durationNs: Long): Unit = {
        seen.add(qe.executedPlan); ()
      }
      override def onFailure(funcName: String,
          qe: org.apache.spark.sql.execution.QueryExecution, exception: Exception): Unit = ()
    }
    spark.listenerManager.register(listener)
    try {
      SparkEntry.queries("search_mmr_rerank")(spark, dir)
      val deadline = System.currentTimeMillis() + 30000
      def roots = {
        import scala.jdk.CollectionConverters._
        seen.asScala.toSeq.map {
          case a: org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec => a.initialPlan
          case other => other
        }
      }
      while (System.currentTimeMillis() < deadline &&
        !roots.exists(_.toString.contains("BroadcastHashJoin"))) Thread.sleep(100)
      val rs = roots
      assert(rs.exists(_.toString.contains("BroadcastHashJoin")),
        s"no captured round plan has a broadcast join (${rs.size} plans captured)")
      rs.foreach { r =>
        assert(!r.toString.contains("CartesianProduct"))
        shuffleCols(r).foreach { cols =>
          assert(!cols.contains("text"), s"mmr shuffle carries text: $cols")
        }
      }
    } finally spark.listenerManager.unregister(listener)
  }

  test("random walks: hops are equi-joins + struct-min aggs — no cartesian") {
    val root = rootOf("q_random_walks")
    assert(!root.toString.contains("CartesianProduct"))
    // argmin per walk is an AGGREGATE (partial min of (hash, dst)
    // structs), not a window sort over the neighbor lists
    assert(root.toString.contains("HashAggregate") ||
      root.toString.contains("SortAggregate"),
      s"hop argmin lost its agg shape:\n${root.toString.take(2000)}")
  }

  test("readability: zero-shuffle scan; profiler: unpivot + two agg shuffles") {
    val p1 = plan("text_readability")
    assert(count(p1, "Exchange") == 0,
      s"readability introduced a shuffle:\n${p1.take(2000)}")
    assert(p1.contains("*("), "no codegen span")
    // partial per-column agg + the exact countDistinct second phase (the
    // round-robin fan-out of the scan is exempt — input rebalance, no key)
    val keyed = shuffleCols(rootOf("q_data_profiler"))
    assert(keyed.size == 2,
      s"profiler expected exactly 2 keyed Exchanges, got ${keyed.size}: $keyed")
  }

  test("context fit / shard balance / schema drift: counter shuffles only") {
    val p = plan("q_context_fit")
    assert(count(p, "Exchange") == 1,
      s"context fit expected exactly 1 Exchange:\n${p.take(2000)}")
    Seq("q_shard_balance", "q_schema_drift").foreach { q =>
      val root = rootOf(q)
      assert(!root.toString.contains("CartesianProduct"), q)
      shuffleCols(root).foreach { cols =>
        assert(!cols.contains("text"), s"$q shuffle carries text: $cols")
      }
    }
  }

  test("skipgrams / code detect: join stays keyed; detector is scan-only") {
    val root = rootOf("q_walk_skipgrams")
    assert(!root.toString.contains("CartesianProduct"),
      "skipgram self-join degraded to a cartesian")
    val p = plan("text_code_detect")
    assert(count(p, "Exchange") == 0,
      s"code detector introduced a shuffle:\n${p.take(2000)}")
    assert(p.contains("*("), "no codegen span")
  }

  test("retention / modularity: (user,int) and (host,int) shuffles; m broadcast") {
    val r1 = rootOf("q_retention_cohorts")
    assert(r1.toString.contains("BroadcastHashJoin") ||
      r1.toString.contains("BroadcastNestedLoopJoin"),
      "cohort sizes not broadcast back")
    val r2 = rootOf("q_graph_modularity")
    assert(!r2.toString.contains("CartesianProduct") ||
      r2.toString.contains("BroadcastNestedLoopJoin"))
    Seq(r1, r2).foreach(root => shuffleCols(root).foreach { cols =>
      assert(!cols.contains("text"), s"shuffle carries text: $cols")
    })
  }

  test("topic boundaries: zero-shuffle block scoring inside codegen") {
    val p = plan("text_topic_boundaries")
    assert(count(p, "Exchange") == 0,
      s"block scoring introduced a shuffle:\n${p.take(2000)}")
    assert(p.contains("*("), "no codegen span")
  }

  test("novelty: no digest inside a Filter predicate (pushdown blowup pin)") {
    // pushing a predicate through a projection substitutes the alias's
    // expression tree into the Filter; HOFs are CodegenFallback inside
    // predicates and re-evaluate subtrees per element — md5 appearing in
    // any Filter node is the 60× regression measured in
    // `BENCH/BASELINE.md` "Round-5 (2026-08-20)"
    val p = plan("dedup_novelty")
    val badFilter = p.linesIterator.exists(l =>
      l.contains("Filter") && l.contains("md5"))
    assert(!badFilter, s"digest re-evaluated inside a Filter:\n${p.take(3000)}")
  }

  test("power iteration: passes shuffle dims-row partials, never vectors") {
    val root = rootOf("ann_power_iteration")
    shuffleCols(root).foreach { cols =>
      assert(!cols.contains("q") && !cols.contains("embedding"),
        s"power-iteration shuffle carries a vector column: $cols")
    }
    assert(!root.toString.contains("CartesianProduct"),
      "scale-factor join went cartesian")
  }

  test("bootstrap sample: one partial-agg shuffle of R replicate rows") {
    val p = plan("q_bootstrap_sample")
    assert(count(p, "Exchange") == 1,
      s"expected exactly 1 Exchange (the groupBy rep):\n${p.take(3000)}")
    assert(p.contains("partial"), "replicate counters must combine map-side")
  }

  test("ece: logits and bins aggregate with partials; no text in any shuffle") {
    val root = rootOf("eval_ece")
    shuffleCols(root).foreach { cols =>
      assert(!cols.contains("text") && !cols.contains("term"),
        s"ece shuffle carries text: $cols")
    }
    assert(root.toString.contains("BroadcastHashJoin") ||
      root.toString.contains("BroadcastNestedLoopJoin"),
      "the 1-row ECE total must broadcast back onto the bins")
  }

  test("cell balance / kappa / blocklist: audit shapes stay narrow") {
    // cell balance: assignment scan → k-row agg; rollup broadcast back
    val cb = rootOf("ann_cell_balance")
    assert(cb.toString.contains("BroadcastHashJoin") ||
      cb.toString.contains("BroadcastNestedLoopJoin"))
    shuffleCols(cb).foreach(cols =>
      assert(!cols.contains("q") && !cols.contains("embedding"),
        s"cell-balance shuffle carries a vector: $cols"))
    // kappa: one logit agg + a 1-row confusion rollup; no terms move
    shuffleCols(rootOf("eval_kappa")).foreach(cols =>
      assert(!cols.contains("text") && !cols.contains("term"),
        s"kappa shuffle carries text: $cols"))
    // blocklist: zero-shuffle codegen'd scan
    val bl = plan("text_blocklist_filter")
    assert(count(bl, "Exchange") == 0,
      s"blocklist filter introduced a shuffle:\n${bl.take(2000)}")
    assert(bl.contains("*("), "no codegen span")
  }

  test("ivfpq: probe + both ADC tables broadcast; shuffles carry codes, never vectors") {
    val p = plan("ann_ivfpq_topk")
    // the cell probe and the two per-query distance dictionaries are all
    // tiny driver-bounded frames — every join on the corpus path must be
    // a broadcast, or a 100 TB index scan starts shuffling
    assert(count(p, "BroadcastHashJoin") >= 3,
      s"expected >=3 broadcast joins (probe, dtLo, dtHi):\n${p.take(3000)}")
    shuffleCols(rootOf("ann_ivfpq_topk")).foreach(cols =>
      assert(!cols.contains("qf") && !cols.contains("embedding") &&
        !cols.contains("qlo") && !cols.contains("qhi") && !cols.contains("q"),
        s"ivfpq shuffle carries a vector column: $cols"))
  }

  test("pad waste: both layout ranks broadcast their offsets frames") {
    val root = rootOf("q_batch_pad_waste")
    // two-pass discipline twice (sorted + arrival)
    val bhj = root.collect {
      case b: org.apache.spark.sql.execution.joins.BroadcastHashJoinExec => b
    }
    assert(bhj.size >= 2,
      s"expected ≥2 broadcast offsets joins, got ${bhj.size}")
    shuffleCols(root).foreach { cols =>
      assert(!cols.contains("text"), s"pad-waste shuffle carries text: $cols")
    }
  }

  test("suffix LCP: bucket bounds broadcast; no cartesian; text never shuffles keyed") {
    val root = rootOf("dedup_suffix_lcp")
    val p = root.toString
    assert(p.contains("BroadcastHashJoin"),
      s"bucket-offset rank join not broadcast:\n${p.take(2000)}")
    assert(!p.contains("CartesianProduct"), "suffix neighbor join went cartesian")
    shuffleCols(root).foreach { cols =>
      assert(!cols.contains("text") && !cols.contains("toks"),
        s"suffix-LCP shuffle carries document text: $cols")
    }
  }

  test("preference pairs: selection is one partial agg; leak join shuffles ids+hashes only") {
    val root = rootOf("q_preference_pairs")
    val p = root.toString
    assert(!p.contains("CartesianProduct"))
    // max(struct) selection must partial-aggregate map-side (no window
    // over the response corpus)
    assert(p.contains("partial_"), s"selection agg not partial:\n${p.take(2000)}")
    shuffleCols(root).foreach { cols =>
      assert(!cols.contains("text") && !cols.contains("toks"),
        s"preference-pair shuffle carries text: $cols")
    }
  }

  test("pass@k: one partial-agg shuffle, nothing corpus-sized after the count") {
    val root = rootOf("eval_pass_at_k")
    val p = root.toString
    assert(p.contains("partial_"), s"sample rollup not partial:\n${p.take(2000)}")
    val ex = shuffleCols(root)
    assert(ex.size <= 1, s"expected ≤1 Exchange, got ${ex.size}")
    ex.foreach(cols => assert(!cols.contains("text"), s"pass@k shuffle carries text: $cols"))
  }

  test("CDC chunks: boundary pass is map-side; shuffles carry digests, never text") {
    val root = rootOf("dedup_cdc_chunks")
    val p = root.toString
    assert(!p.contains("CartesianProduct"), "chunk dup join went cartesian")
    assert(!p.contains("Window"), "CDC must not need a window")
    shuffleCols(root).foreach { cols =>
      assert(!cols.contains("text") && !cols.contains("toks"),
        s"CDC shuffle carries document text: $cols")
    }
  }

  test("chat turns: one conv_id shuffle of bounded turn structs, no text") {
    val root = rootOf("q_chat_turns")
    val p = root.toString
    assert(!p.contains("Window"), "gate math must run on the bounded array, not a window")
    val ex = shuffleCols(root)
    assert(ex.size <= 1, s"expected ≤1 Exchange, got ${ex.size}")
    ex.foreach { cols =>
      assert(!cols.contains("text"), s"chat-turn shuffle carries text: $cols")
    }
  }

  test("span corruption and FIM: pure map-side passes — ZERO exchanges") {
    for (q <- Seq("text_span_corruption", "text_fim_transform",
        "text_instruction_density")) {
      val root = rootOf(q)
      val ex = shuffleCols(root)
      assert(ex.isEmpty, s"$q must pipeline behind the scan, got ${ex.size} Exchanges")
      assert(!root.toString.contains("Window"), s"$q must not window")
    }
  }

  test("BT ratings: single-pass MM over the M²-pair rollup; ratings broadcast back") {
    val root = rootOf("eval_bt_ratings")
    val p = root.toString
    // round 6: the BtIters fixpoint runs inside one pass over the
    // collected ≤ M² pair rollup (no per-iteration job chain); the only
    // corpus-sized shuffle left is the (i, j) pair aggregation, and the
    // M-row rating frame broadcast-joins back onto totals
    assert(p.contains("BroadcastHashJoin"),
      s"rating frame not broadcast back:\n${p.take(2000)}")
    assert(p.contains("partial_"), s"pair rollup not partial-aggregated:\n${p.take(2000)}")
    shuffleCols(root).foreach { cols =>
      assert(!cols.contains("text"), s"BT shuffle carries text: $cols")
    }
  }

  test("majority vote: partial-agg long-key shuffles only; no window, no text") {
    val root = rootOf("eval_majority_vote")
    val p = root.toString
    assert(p.contains("partial_"), s"vote counts not partial:\n${p.take(2000)}")
    assert(!p.contains("Window"), "consolidation must be max(struct), not a window")
    shuffleCols(root).foreach { cols =>
      assert(!cols.contains("text") && !cols.contains("toks"),
        s"vote shuffle carries text: $cols")
    }
  }
}
