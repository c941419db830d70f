package graft.perfbench

/** Every metric the benchmark reports, with its unit. `BENCHMARK.json`
  * at the repository root declares the same names (checked by
  * `MetricsSpec`). Every workload reports every metric: a layer that a
  * workload never calls reports 0 there. */
object Metrics {
  final case class Def(name: String, unit: String, better: String)

  val EndToEnd: Seq[Def] = Seq(
    Def("setup_s", "s", "lower"),
    Def("followup_s", "s", "lower"),
    Def("docs_per_s", "docs/s", "higher"),
    Def("peak_rss_mb", "MB", "lower"))

  val PerLayer: Seq[Def] = Seq(
    // graft.extract: the kernel on a bare thread, and its lineage accumulator
    Def("extract.kernel_us_per_doc", "us", "lower"),
    Def("extract.kernel_p99_us", "us", "lower"),
    Def("extract.kernel_cpu_s", "s", "lower"),
    Def("extract.error_docs", "count", "lower"),
    // graft.plans: the fused extract job, its commit and the golden check
    Def("plans.scan_shuffle_s", "s", "lower"),
    Def("plans.kernel_write_s", "s", "lower"),
    Def("plans.task_skew", "ratio", "lower"),
    Def("plans.nonempty_partitions", "count", "higher"),
    Def("plans.shuffle_write_mb", "MB", "lower"),
    Def("plans.commit_s", "s", "lower"),
    Def("plans.verify_s", "s", "lower"),
    Def("plans.verify_shuffle_mb", "MB", "lower"),
    // graft.operators (Curation, Dedup) and graft.functions (signatures)
    Def("curate.gate_dedup_s", "s", "lower"),
    Def("functions.signature_s", "s", "lower"),
    Def("curate.lsh_verify_s", "s", "lower"),
    Def("curate.candidate_pairs", "count", "lower"),
    Def("curate.verified_pairs", "count", "higher"),
    Def("curate.verify_yield", "ratio", "higher"),
    Def("curate.cc_s", "s", "lower"),
    Def("curate.cc_jobs", "count", "lower"),
    Def("curate.cc_rounds", "count", "lower"),
    Def("curate.pack_s", "s", "lower"),
    Def("functions.ingest_signature_s", "s", "lower"),
    Def("curate.ingest_s", "s", "lower"),
    Def("curate.ingest_jobs", "count", "lower"),
    Def("curate.ingest_read_mb", "MB", "lower"),
    // Spark as a whole, over the traced iterations
    Def("spark.jobs", "count", "lower"),
    Def("spark.tasks", "count", "lower"),
    Def("spark.cpu_s", "s", "lower"),
    Def("spark.gc_s", "s", "lower"),
    Def("spark.spill_mb", "MB", "lower"),
    // the trace itself and the host
    Def("trace.phase_self_s", "s", "lower"),
    Def("trace.overhead_s", "s", "lower"),
    Def("host.cal1_start_docs_per_s", "docs/s", "higher"),
    Def("host.cal4_start_docs_per_s", "docs/s", "higher"),
    Def("host.cal1_end_docs_per_s", "docs/s", "higher"),
    Def("host.cal4_end_docs_per_s", "docs/s", "higher"),
    Def("failed_share", "ratio", "lower"))

  /** The result object, in declaration order; a metric the run did not
    * measure is an error, not a silent zero. */
  def render(defs: Seq[Def], values: Map[String, Double]): String = {
    val missing = defs.map(_.name).filterNot(values.contains)
    require(missing.isEmpty, s"metrics not measured: ${missing.mkString(", ")}")
    Json.obj(defs.map(d => d.name -> s"""{"value":${Json.num(values(d.name))},"unit":"${d.unit}"}"""))
  }
}
