package graft.syncbench

/** The metric sets `BENCHMARK.json` declares, with unit and direction.
  * Every workload it lists reports every metric of a set (an idle layer
  * reports 0); [[MetricsSpec]] keeps this list and the JSON file equal. */
object Metrics {
  final case class M(name: String, unit: String, better: String)

  /** End-to-end, trace off. Each workload maps its own headline numbers
    * onto these names; README.md gives the map. */
  val EndToEnd: Seq[M] = Seq(
    M("setup_s", "s", "lower"),
    M("p50_ms", "ms", "lower"),
    M("pts_per_s", "1/s", "higher"),
    M("bytes_per_pt", "B", "lower"),
    M("tail_ms", "ms", "lower"))

  /** Modules that launch Spark jobs in a gated workload. The trace
    * attributes every job to a module ([[Trace.moduleOf]]) and its spans
    * carry all of them; the others launch none here and would read 0. */
  val JobModules: Seq[String] = Seq("catalog", "operators", "api")

  private def counts(names: String*) = names.map(M(_, "count", "lower"))

  /** Per layer, trace on. */
  val PerLayer: Seq[M] = Seq(
    // replicate: the bulk copy and the recovery edge
    M("agent.copy_s", "s", "lower"),
    M("plan.chunks", "count", "lower"),
    M("catalog.walk_ms", "ms", "lower")) ++
    counts("catalog.jobs", "operators.jobs.copy", "operators.jobs.recover") ++
    Seq(M("operators.job_s.copy", "s", "lower"),
      M("operators.job_s.recover", "s", "lower")) ++
    counts("spark.jobs.copy", "spark.jobs.recover") ++
    Seq(M("spark.driver_gap_s.copy", "s", "lower"),
      M("spark.driver_gap_s.recover", "s", "lower")) ++
    counts("spark.tasks.copy") ++
    Seq(M("spark.job_busy_frac.copy", "ratio", "higher")) ++
    counts(Trace.Fs.ops.map(o => s"fs.${o._1}.recover"): _*) ++
    Seq(M("fs.meta_ms.recover", "ms", "lower"),
      M("fs.bytes_written_per_pt", "B", "lower"),
      // serve_mixed: the served plane
      M("api.data_busy_frac", "ratio", "lower"),
      M("ql.parse_us", "us", "lower"),
      M("ql.catalog_walk_ms", "ms", "lower"),
      M("ql.query_after_write_ms", "ms", "lower"),
      M("ql.query_cached_ms", "ms", "lower")) ++
    counts("ql.jobs_per_query", "catalog.jobs_per_query",
      "api.jobs_per_query") ++
    Seq(M("api.job_s_per_query", "s", "lower"),
      M("spark.plan_ms_per_query", "ms", "lower"),
      M("sources.lp_parse_us", "us", "lower")) ++
    counts("operators.jobs_per_write") ++
    Seq(M("operators.job_s_per_write", "s", "lower"),
      M("spark.driver_gap_ms_per_write", "ms", "lower")) ++
    counts("fs.rename_per_write", "fs.create_per_write",
      "fs.delete_per_write", "fs.list_per_req") ++
    Seq(M("api.write_amp", "ratio", "lower"),
      M("gen.late_p99_ms", "ms", "lower"),
      M("gen.queued_frac", "ratio", "lower")) ++
    counts("gen.inflight_max") ++
    // both: jobs by module, and the traced run's own headline numbers
    // (against the untraced run they give the tracing overhead)
    counts(JobModules.map("spark.jobs_by_module." + _): _*) ++
    Seq(M("trace.p50_ms", "ms", "lower"),
      M("trace.pts_per_s", "1/s", "higher"))
}
