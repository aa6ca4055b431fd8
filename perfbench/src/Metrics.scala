package perfbench

/** Every metric the benchmark reports, with unit and direction. Runs with
  * `--trace 0` print exactly `EndToEnd`; runs with `--trace 1` exactly
  * `PerLayer`, with 0 where a layer is not on the workload's path.
  */
object Metrics {
  final case class Def(name: String, unit: String, better: String)
  private def lo(n: String, u: String) = Def(n, u, "lower")
  private def hi(n: String, u: String) = Def(n, u, "higher")

  val EndToEnd: Seq[Def] = Seq(
    lo("wall_s", "s"), lo("cpu_s", "s"),
    lo("peak_rss_mb", "MB"), lo("setup_s", "s"))

  val PerLayer: Seq[Def] = Seq(
    hi("pages_per_s", "pages/s"), lo("wave_p50_s", "s"), lo("op_p50_s", "s"), lo("forget_s", "s"),
    lo("ops_s", "s"), lo("wh_bytes_per_page", "B/page"), lo("wh_files", "files"),
    lo("failed_ratio", "ratio"), lo("trace.wall_s", "s"),
    lo("trace.straddling_jobs", "count"),
    lo("crawl.waves", "count"), lo("crawl.jobs_per_wave", "count"),
    lo("crawl.stages_per_wave", "count"), lo("crawl.tasks_per_wave", "count"),
    lo("crawl.driver_idle_s", "s"), lo("crawl.job_busy_s", "s"),
    lo("crawl.idle_share", "ratio"), hi("crawl.span_coverage", "ratio"),
    lo("crawl.task_s", "s"), lo("crawl.task_cpu_s", "s"), lo("crawl.gc_s", "s"),
    lo("crawl.shuffle_write_mb", "MB"), lo("crawl.shuffle_read_mb", "MB"),
    lo("crawl.spill_mb", "MB"), lo("crawl.shuffle_write_kb_per_page", "kB/page"),
    lo("crawl.shuffle_per_body_byte", "ratio"),
    lo("extract.us_per_page", "us"), lo("extract.us_per_kb", "us/kB"),
    hi("extract.spans_per_page", "count"), lo("extract.share_of_task", "ratio"),
    lo("core.canon_ns_per_link", "ns"), lo("core.robots_ns_per_check", "ns"),
    lo("core.bloom_probe_ns", "ns"), lo("core.cuckoo_probe_ns", "ns"),
    lo("core.bloom_fpr", "ratio"),
    lo("tableio.files_per_wave", "files"), lo("tableio.output_mb", "MB")) ++
    Layers.Tables.map(t => lo(s"tableio.$t.mb", "MB")) ++ Seq(
    lo("seen.forget_a_s", "s"), lo("seen.forget_b_s", "s"), lo("seen.forget_c_s", "s"),
    lo("seen.resume_s", "s"),
    lo("seen.seed_s", "s"), hi("seen.retracted", "count"), hi("seen.reseeded", "count"),
    hi("seen.buckets_to_cuckoo", "count"), hi("seen.buckets_cuckoo_deleted", "count")) ++
    Workloads.Queries.map(q => lo(s"ops.$q.s", "s")) ++
    Workloads.Groups.flatMap(g => Seq(lo(s"ops.$g.jobs", "count"), lo(s"ops.$g.tasks", "count"),
      lo(s"ops.$g.shuffle_mb", "MB"), lo(s"ops.$g.spill_mb", "MB"))) ++ Seq(
    lo("ops.driver_idle_s", "s"),
    lo("setup.jvm_s", "s"), lo("setup.session_s", "s"), lo("setup.generation_s", "s"),
    lo("setup.oracle_s", "s"), lo("setup.seeding_s", "s"), lo("setup.warmup_s", "s"))

  /** JSON array of definitions, the form BENCHMARK.json lists them in. */
  def describe(defs: Seq[Def]): String = defs.map(d => Fmt.obj(Seq(
    "name" -> Fmt.quote(d.name), "unit" -> Fmt.quote(d.unit),
    "better" -> Fmt.quote(d.better)))).mkString("[\n", ",\n", "\n]")
}
