package graft

import graft.functions.TextKernels
import graft.operators.Curation
import org.apache.spark.graft.BusDrain
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import java.nio.file.Files
import java.util.concurrent.atomic.AtomicInteger

/** Curation-operator semantics: the corpus-scaling pack-bucket rule, the
  * winnowing containment guarantee, and the planted partial-containment
  * decontamination case (the leakage shape the round-2 single-fingerprint
  * scheme missed). Exact cross-engine values are the driver's DuckDB
  * oracle compare; these pin the properties. */
class CurationSpec extends AnyFunSuite with SparkSessionTestWrapper {

  private val dir = "/root/testdata/sf0.001"

  test("packBucketsFor grows with the corpus (constant docs per bucket)") {
    assert(Curation.packBucketsFor(1) == 1)
    assert(Curation.packBucketsFor(64) == 1)
    assert(Curation.packBucketsFor(65) == 2)
    assert(Curation.packBucketsFor(500) == 8)
    assert(Curation.packBucketsFor(5000) == 79)
    // the at-scale property: 100× the docs ⇒ ~100× the window partitions,
    // per-bucket work constant — never a fixed fan-in
    val n = 1000000L
    assert(Curation.packBucketsFor(100 * n) >= 99 * Curation.packBucketsFor(n))
    assert(Curation.packBucketsFor(n) * Curation.PackDocsPerBucket >= n)
  }

  test("text_shard_pack uses the corpus-derived bucket count") {
    val out = SparkEntry.queries("text_shard_pack")(spark, dir).cache()
    val n   = spark.read.parquet(s"$dir/documents.parquet").count()
    val nb  = Curation.packBucketsFor(n)
    val used = out.select(col("bucket")).distinct().count()
    // buckets are md5-assigned, so all nb values appear for n >> nb
    assert(used == nb, s"expected $nb pack buckets for $n docs, saw $used")
    assert(out.filter(col("bucket") < 0 || col("bucket") >= nb).count() == 0)
    out.unpersist()
  }

  test("winnowSet: any shared run of t consecutive hashes shares a fingerprint") {
    import spark.implicits._
    val t = 8
    // doc A: hashes 0..99 of a seeded stream; doc B: an arbitrary MIDDLE
    // run of A (positions 40..59) flanked by unrelated hashes — the
    // winnowing guarantee says fp(A) ∩ fp(B) is non-empty for any shared
    // run of >= t hashes, wherever it sits in either doc
    def h(i: Int): Long = math.abs((i * 2654435761L + 11) % 1000000007L)
    val a = (0 until 100).map(h)
    val b = (900 until 915).map(h) ++ (40 until 60).map(h) ++ (700 until 712).map(h)
    val df = Seq(("a", a), ("b", b)).toDF("id", "hs")
    val fps = df.select(col("id"), TextKernels.winnowSet(col("hs"), t).as("fp"))
      .as[(String, Seq[Long])].collect().toMap
    assert(fps("a").toSet.intersect(fps("b").toSet).nonEmpty,
      "winnowing guarantee violated: 20-hash shared run produced no common fingerprint")
    // and sequences shorter than t yield no fingerprints (not a crash)
    val short = Seq(("c", (0 until t - 1).map(h))).toDF("id", "hs")
      .select(TextKernels.winnowSet(col("hs"), t).as("fp")).as[Seq[Long]].head()
    assert(short.isEmpty)
  }

  test("winnowSet containment guarantee holds under a seeded random sweep") {
    import spark.implicits._
    import scala.util.Random
    // 40 random (docA, docB) pairs sharing a run of t..3t consecutive
    // hashes at RANDOM positions in each — the winnowing guarantee says
    // the fingerprint sets always intersect, wherever the run sits
    val rng = new Random(5)
    def h() = math.abs(rng.nextLong()) % 1000000007L
    val cases = (0 until 40).map { i =>
      val run = Seq.fill(8 + rng.nextInt(17))(h())
      def doc() = Seq.fill(rng.nextInt(80))(h()) ++ run ++ Seq.fill(rng.nextInt(80))(h())
      (i.toLong, doc(), doc())
    }
    val bad = cases.toDF("i", "a", "b")
      .select(col("i"),
        TextKernels.winnowSet(col("a"), 8).as("fa"),
        TextKernels.winnowSet(col("b"), 8).as("fb"))
      .filter(size(array_intersect(col("fa"), col("fb"))) === 0)
      .count()
    assert(bad == 0, s"$bad of 40 shared-run pairs produced disjoint fingerprint sets")
  }

  test("q_decontaminate catches every planted embedded benchmark slice") {
    import spark.implicits._
    val out = SparkEntry.queries("q_decontaminate")(spark, dir).cache()
    val docs = spark.read.parquet(s"$dir/documents.parquet")
    // planted: bench_id = doc_id + 500000 is a 30-token mid-doc slice of
    // doc_id (partial containment). Every source doc with enough tokens
    // for the slice to carry >= 8 fingerprint windows must be flagged
    // against its own benchmark item.
    val eligible = docs
      .filter(col("doc_id") % 10 === 3)
      .filter(size(split(trim(col("text")), "\\s+")) >= 39) // slice [10,39] full
      .select(col("doc_id"))
    val caught = out.filter(col("bench_id") === col("doc_id") + 500000L)
      .select(col("doc_id"))
    assert(eligible.join(caught, Seq("doc_id"), "left_anti").count() == 0,
      "an embedded benchmark slice escaped decontamination")
    // self-matches carry the full benchmark fingerprint set (subset rows)
    assert(out.filter(col("n_shared") < 1).count() == 0)
    out.unpersist()
  }

  test("q_weighted_sample: multiplicities equal a brute-force midpoint placement") {
    val rows = spark.read.parquet(s"$dir/documents.parquet")
      .select(col("doc_id"), col("n_chars").cast("long")).collect()
      .map(r => (r.getLong(0), r.getLong(1))).sortBy(_._1)
    val tw = rows.map(_._2).sum
    val n  = rows.length / 20
    // brute force: place each midpoint p_k = (2k+1)*tw / (2n), walk the
    // cumulative intervals
    val points = (0 until n).map(k => (2L * k + 1) * tw / (2L * n))
    var cum = 0L
    val want = scala.collection.mutable.Map[Long, (Long, Long, Long)]()
    rows.foreach { case (id, w) =>
      val lo = cum; cum += w
      val m = points.count(p => p >= lo && p < cum).toLong
      if (m >= 1) want(id) = (w, lo, m)
    }
    val out = SparkEntry.queries("q_weighted_sample")(spark, dir).collect()
      .map(r => r.getAs[Long]("doc_id") ->
        ((r.getAs[Long]("w"), r.getAs[Long]("lo"), r.getAs[Long]("multiplicity")))).toMap
    assert(out == want.toMap,
      s"diff: ${(out.keySet -- want.keySet) ++ (want.keySet -- out.keySet)}")
    // the sample size is exact by construction
    assert(out.values.map(_._3).sum == n.toLong)
    // weight-proportionality: nobody exceeds its fair share by more than 1
    out.foreach { case (id, (w, _, m)) =>
      assert(m <= w * n / tw + 1, s"doc $id multiplicity $m vs weight share")
    }
  }

  test("q_pack_attention_audit: closed form equals a token-level pair enumeration") {
    def hex32d(s: String): Long = {
      val d = java.security.MessageDigest.getInstance("MD5").digest(s.getBytes("UTF-8"))
      java.lang.Long.parseLong(d.take(4).map(b => f"$b%02x").mkString, 16)
    }
    val raw = spark.read.parquet(s"$dir/documents.parquet")
      .select(col("doc_id"), col("text")).collect()
      .map(r => (r.getAs[Long]("doc_id"), r.getAs[String]("text").trim.split("\\s+").length.toLong))
    val nBuckets = graft.operators.Curation.packBucketsFor(raw.length.toLong)
    val rows = raw.filter(_._2 > 0)
    val seqLen = 256L
    // token-level replay: per bucket, concatenate docs in id order and tag
    // every token position with its source doc; chunk into sequences
    val byBucket = rows.map { case (id, n) => (hex32d(s"pack:$id") % nBuckets, id, n) }
      .groupBy(_._1)
    val want = byBucket.toSeq.flatMap { case (bucket, ds) =>
      val stream = ds.sortBy(_._2).flatMap { case (_, id, n) => Seq.fill(n.toInt)(id) }
      stream.zipWithIndex.groupBy { case (_, pos) => pos / seqLen.toInt }.map {
        case (seq, toks) =>
          val docs = toks.map(_._1)
          val L = docs.length.toLong
          val cross = (for (i <- docs.indices; j <- 0 until i) yield
            if (docs(i) != docs(j)) 1L else 0L).sum
          val total = L * (L - 1) / 2
          (bucket, seq.toLong) ->
            ((docs.distinct.length.toLong, L, cross, total,
              if (total == 0) 0L else cross * 1000000L / total))
      }
    }.toMap
    val out = SparkEntry.queries("q_pack_attention_audit")(spark, dir).collect()
      .map(r => (r.getAs[Long]("bucket"), r.getAs[Long]("seq")) ->
        ((r.getAs[Long]("n_docs"), r.getAs[Long]("n_tokens"),
          r.getAs[Long]("cross_pairs"), r.getAs[Long]("total_pairs"),
          r.getAs[Long]("cross_ppm")))).toMap
    assert(out == want,
      s"diff: ${(out.keySet -- want.keySet) ++ (want.keySet -- out.keySet)}")
    // packing actually crosses docs somewhere (the audit is non-vacuous)
    assert(out.values.exists(_._3 > 0L), "no cross-doc pairs anywhere")
  }

  test("text_seq_pack: every sequence is exactly full except each bucket's tail") {
    val out = SparkEntry.queries("text_seq_pack")(spark, "/root/testdata/sf0.001")
      .select("bucket", "seq", "n_tokens", "n_docs", "n_carried_in").cache()
    try {
      val tail = out.groupBy(col("bucket")).agg(max(col("seq")).as("seq"))
      val nonTail = out.join(tail, Seq("bucket", "seq"), "left_anti")
      assert(nonTail.filter(col("n_tokens") =!= 256L).count() == 0,
        "a non-tail sequence is not exactly SeqLen tokens")
      // packing concatenates: sequences after the first of a bucket carry
      // the previous doc in unless a doc boundary landed exactly on the cut
      assert(out.filter(col("n_carried_in") > 1).count() == 0,
        "more than one doc can never straddle a single left boundary")
      // fragmentation is real in this corpus: some doc crosses a boundary
      assert(out.filter(col("n_carried_in") === 1).count() > 0)
      // bucket-total conservation: Σ n_tokens per bucket == Σ doc tokens
      val byBucket = out.groupBy("bucket").agg(sum("n_tokens").as("packed"))
      val docsTok = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
        .select(col("doc_id"),
          (graft.functions.TextKernels.hex32(concat(lit("pack:"), col("doc_id"))) %
            graft.operators.Curation.packBucketsFor(500L)).as("bucket"),
          size(split(trim(col("text")), "\\s+")).cast("long").as("n"))
        .groupBy("bucket").agg(sum("n").as("want"))
      assert(byBucket.join(docsTok, Seq("bucket"))
        .filter(col("packed") =!= col("want")).count() == 0)
    } finally out.unpersist()
  }

  test("q_spam_mass: the planted link farm tops the review queue; seeds carry zero mass") {
    val out = SparkEntry.queries("q_spam_mass")(spark, dir).cache()
    try {
      val farm = out.filter(col("host") === "farm0").head()
      assert(farm.getAs[Long]("spam_rank") == 1L,
        s"farm0 ranked ${farm.getAs[Long]("spam_rank")}")
      assert(farm.getAs[Boolean]("in_review_queue"))
      assert(farm.getAs[Long]("rel_ppm") > 0L)
      // the seed whitelist is fully vouched: zero spam mass, never queued
      val seeds = out.filter(col("host").isin("src1", "src5", "src9"))
      assert(seeds.filter(col("rel_ppm") =!= 0L ||
        col("in_review_queue")).count() == 0)
      // L1 alignment: Σ tr_scaled matches Σ pr2 up to per-host floor loss
      val sums = out.agg(sum(col("pr2")), sum(col("tr_scaled"))).head()
      val (tp, ts) = (sums.getLong(0), sums.getLong(1))
      assert(tp - ts >= 0 && tp - ts <= out.count(),
        s"alignment off: pr total $tp vs scaled-trust total $ts")
    } finally { out.unpersist(); () }
  }

  test("q_priority_sample: true top-k by priority; threshold estimator lands near Σw") {
    import graft.functions.TextKernels._
    val out = SparkEntry.queries("q_priority_sample")(spark, dir).cache()
    try {
      assert(out.count() == 100)
      // independent full recompute of every doc's priority: the sample
      // must be EXACTLY the top-100 by (q desc, doc_id)
      val all = spark.read.parquet(s"$dir/documents.parquet")
        .select(col("doc_id"), col("n_chars").cast("long").as("w"))
        .withColumn("h", hex32(concat(lit("pri:"), col("doc_id").cast("string"))))
        .withColumn("q", expr("(w * 281474976710656) div (h + 1)"))
        .orderBy(col("q").desc, col("doc_id")).limit(101)
        .collect()
      val wantIds = all.take(100).map(_.getAs[Long]("doc_id")).toSet
      val gotIds  = out.select("doc_id").collect().map(_.getLong(0)).toSet
      assert(gotIds == wantIds)
      // τ is the 101st priority, constant across the sample
      val tau = all.last.getAs[Long]("q")
      assert(out.filter(col("tau") =!= tau).count() == 0)
      // every kept priority clears τ, and ŵ = max(w, τ) on the lattice
      assert(out.filter(col("q") < col("tau")).count() == 0)
      assert(out.filter(col("est_w_scaled") =!=
        greatest(col("w") * 65536L, col("tau"))).count() == 0)
      // Duffield-Lund-Thorup unbiasedness, one fixed draw: Σŵ within
      // ±15% of the true total mass (measured 1.073 on this corpus)
      val est = out.agg(sum(col("est_w_scaled"))).head.getLong(0) / 65536.0
      val tot = spark.read.parquet(s"$dir/documents.parquet")
        .agg(sum(col("n_chars"))).head.getLong(0).toDouble
      assert(est > 0.85 * tot && est < 1.2 * tot, s"estimate $est vs true $tot")
    } finally { out.unpersist(); () }
  }

  /** Jobs one `CurateMain.run` may start on the fixture below: 37 when the
    * near-dup pairs are verified and clustered below the broadcast bound,
    * plus a margin of 4 for planner variation. The always-distributed
    * verify and CC rounds that the bound replaced took 57 on the same
    * input. The run is bound by the per-job floor at this size, so its
    * job count is a cost figure in its own right. */
  private val CurateJobBudget = 41

  test("CurateMain.run over a planted near-dup corpus stays within its job budget") {
    val tmp   = Files.createTempDirectory("curate-jobs").toString
    val input = s"$tmp/input"
    // the corpus plus a ' zzz' near-dup copy of each doc: ~500 LSH pairs,
    // the shape of the benchmark's planted corpus
    val d = spark.read.parquet(s"$dir/documents.parquet").select(col("doc_id"), col("text"))
    d.unionByName(d.select((col("doc_id") + 1000000L).as("doc_id"),
        concat(col("text"), lit(" zzz")).as("text")))
      .write.parquet(input)

    val sc   = spark.sparkContext
    val jobs = new AtomicInteger
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit = jobs.incrementAndGet()
    }
    BusDrain(sc)
    sc.addSparkListener(listener)
    val json =
      try { val j = CurateMain.run(spark, input, s"$tmp/out"); BusDrain(sc); j }
      finally sc.removeSparkListener(listener)
    assert(json.contains("\"nearDupClusters\""), json)
    info(s"${jobs.get} Spark jobs")
    assert(jobs.get <= CurateJobBudget,
      s"CurateMain.run started ${jobs.get} Spark jobs, budget $CurateJobBudget")
  }
}
