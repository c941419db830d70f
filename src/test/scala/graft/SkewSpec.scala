package graft

import graft.plans.{ExtractJob, LineageAccumulator}
import org.scalatest.funsuite.AnyFunSuite

/** Skew handling: the corpus plants mega-documents (2 of every 20 docs are
  * ~50x normal size — Corpus doc types 1|2), and the salted hash
  * repartition must still spread DOCUMENTS uniformly so no task pins a
  * file-order run of mega-docs. Verified through the lineage accumulator
  * the north rule requires (per-partition docs/spans/errors/nanos). */
class SkewSpec extends AnyFunSuite with SparkSessionTestWrapper {

  test("salted repartition spreads docs and spans across partitions") {
    val lineage = new LineageAccumulator
    spark.sparkContext.register(lineage, "skew-spec")
    val parts = 8
    val out   = ExtractJob.extract(
      ExtractJob.generateInputs(spark, 4000, 42L, parts), parts, lineage = Some(lineage))
    out.toDF().write.format("noop").mode("overwrite").save()

    val stats = lineage.value
    assert(stats.size == parts, s"expected $parts partitions, saw ${stats.size}")
    val docs = stats.values.map(_.docs)
    assert(docs.sum == 4000)
    // uniform hash: every partition within 2x of the mean doc count
    assert(docs.max <= 2 * (4000 / parts), s"doc skew: $docs")
    // span counts (where mega-docs would show) also bounded: no partition
    // carries more than 2.5x the mean span load
    val spans = stats.values.map(_.spans)
    assert(spans.max <= (2.5 * spans.sum / parts).toLong, s"span skew: $spans")
    assert(stats.values.map(_.errors).sum == 0)
  }

  test("corpus_curate survives 10^4 byte-identical hot-content docs (stage-2 partial agg)") {
    import org.apache.spark.sql.functions._
    import graft.operators.Curation
    val base = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
      .select(col("doc_id"), col("text"))
    // hot text = the first doc that passes the quality gate, so the planted
    // copies reach stage 2 (the exact-dedup shuffle) rather than dying in
    // the narrow stage-1 filter
    val hotText = base
      .filter(size(graft.functions.TextKernels.tokens(col("text"))).between(5, 10000))
      .orderBy(col("doc_id")).select(col("text")).head().getString(0)
    val copies = spark.range(10000)
      .select((col("id") + 5000000L).as("doc_id"), lit(hotText).as("text"))
    val nb = Curation.packBucketsFor(base.count())
    val hotPacked  = Curation.curate(base.unionByName(copies), nb)
    val basePacked = Curation.curate(base, nb)
    // every copy dies in stage 2 (its text's min doc_id is the original),
    // so the curated output is IDENTICAL to the copy-free corpus — and the
    // hot key cost the reduce side ~numPartitions rows, not 10^4 texts
    assert(hotPacked.exceptAll(basePacked).isEmpty && basePacked.exceptAll(hotPacked).isEmpty,
      "hot-content copies changed the curated output")
  }

  test("keep-best resolves a 10^4-member hot cluster via partial max_by agg, no window") {
    import org.apache.spark.sql.functions._
    import graft.operators.Curation
    // one viral boilerplate cluster (the exact thing keep-best exists
    // for): 10^4 members of cluster 7, best member planted mid-cluster
    // with max quality and NOT the smallest id — plus singleton clusters
    val hot = spark.range(10000).select(
      (col("id") + 100L).as("doc_id"), lit(7L).as("cluster_id"),
      when(col("id") === 4321L, lit(0.99)).otherwise((col("id") % 97).cast("double") / 1000.0)
        .as("quality"))
    val singles = spark.range(50).select(
      (col("id") + 2000000L).as("doc_id"), (col("id") + 2000000L).as("cluster_id"),
      lit(0.5).as("quality"))
    val labeled  = hot.unionByName(singles)
    val resolved = Curation.keepBestResolve(labeled)
    // the resolution plan must be the partial-agg + broadcast-join shape:
    // no per-cluster window (the single-task hot-key sort this replaces)
    val plan = resolved.queryExecution.executedPlan.toString
    assert(!plan.contains("Window"), s"keeper resolution windowed:\n${plan.take(2000)}")
    assert(plan.contains("BroadcastHashJoin"), s"keepers not broadcast:\n${plan.take(2000)}")
    val rows = resolved.collect()
    assert(rows.length == 10050)
    val hotRows = rows.filter(_.getLong(1) == 7L)
    assert(hotRows.forall(_.getLong(3) == 4421L), "hot-cluster keeper is not the max-quality member")
    assert(hotRows.count(_.getBoolean(4)) == 1)
    // quality ties inside the 97-value grid: keeper must beat every member
    // on (quality, -doc_id) — spot-check the deterministic tie-break on a
    // two-member tie cluster
    val tie = Curation.keepBestResolve(
      spark.range(2).select((col("id") + 10L).as("doc_id"), lit(1L).as("cluster_id"),
        lit(0.25).as("quality"))).collect()
    assert(tie.forall(_.getLong(3) == 10L), "tie must keep the smallest doc_id")
  }

  test("hot-key self-join fanout is capped (q_link_cocitation / q_mirror_hosts discipline)") {
    // A favicon.ico-class sink: ONE target cited by 2000 hosts. Uncapped,
    // the pair-minting self-join would square it (2000*1999/2 ≈ 2M rows);
    // capPerKey bounds it to MaxNeighbors²-scale deterministically.
    import org.apache.spark.sql.functions._
    import graft.operators.FrontierOps
    val d   = 2000L
    val cap = FrontierOps.MaxNeighbors
    val hot = spark.range(d)
      .select(format_string("h%05d", col("id")).as("src"), lit("sink").as("dst"))
      .repartition(8) // arrival order must not matter
    val capped = FrontierOps.capPerKey(hot, "dst", "src", cap)
    assert(capped.count() == cap, "cap kept more rows than MaxNeighbors")
    // deterministic choice: the FIRST `cap` sources by name, whatever the
    // partitioning — the property that keeps Spark and the oracle in step
    assert(capped.agg(max(col("src"))).head().getString(0) == f"h${cap - 1}%05d")
    val pairs = capped.as("l")
      .join(capped.as("r"), col("l.dst") === col("r.dst") && col("l.src") < col("r.src"))
    assert(pairs.count() == cap * (cap - 1) / 2,
      s"hot key minted more than cap*(cap-1)/2 candidates")
    assert(cap * (cap - 1) / 2 < d * (d - 1) / 20, "cap must beat uncapped by >10x here")
  }
}
