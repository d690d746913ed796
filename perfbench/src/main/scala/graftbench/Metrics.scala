package graftbench

/** Every metric the benchmark reports, with its unit and direction.
  * BENCHMARK.json lists the same names (checked by MetricsSpec). */
object Metrics {

  final case class M(name: String, unit: String, better: String)

  /** Reported with tracing off, on every workload. */
  val endToEnd: Seq[M] = Seq(
    M("setup_s", "s", "lower"),
    M("wall_s", "s", "lower"),
    M("docs_per_s", "docs/s", "higher"),
    M("spans_per_s", "spans/s", "higher"),
    M("heap_live_mb", "MB", "lower"))

  private def lower(unit: String)(names: String*) = names.map(M(_, unit, "lower"))

  /** Reported by the traced run, on every workload; 0 where the layer
    * does no work in that workload. */
  val perLayer: Seq[M] =
    lower("ns")("html.parse_ns", "html.extract_ns") ++ lower("B")("html.alloc_b") ++
      lower("ratio")("html.empty_frac") ++
      lower("ns")("hocr.parse_ns", "hocr.text_ns") ++ lower("B")("hocr.alloc_b") ++
      lower("ratio")("hocr.parse_fail_frac") ++
      lower("ns")("layout.classify_ns", "layout.assemble_ns") ++ lower("B")("layout.alloc_b") ++
      lower("ns")("span.extract_ns.html", "span.extract_ns.pdf_layout", "span.extract_ns.media") ++
      Seq(M("span.kernel_1v4", "ratio", "higher")) ++
      lower("s")("stage.scan_extract.busy_s") ++ lower("ratio")("stage.scan_extract.skew", "stage.gc_frac") ++
      lower("MB")("stage.exchange.write_mb") ++ lower("s")("stage.exchange.fetch_wait_s", "stage.stitch.busy_s") ++
      lower("ratio")("stage.stitch.skew") ++ lower("MB")("stage.spill_mb") ++ lower("s")("stage.driver_s") ++
      Seq(M("stage.cover_frac", "ratio", "higher")) ++
      lower("s")("resume.stage_s", "resume.wave_s", "resume.lineage_s", "resume.resumed_s") ++
      Seq(M("resume.skipped_buckets", "count", "higher")) ++ lower("MB")("resume.out_mb") ++
      lower("s")((Dedup.Queries :+ Dedup.Curate).map(q => s"query.${q}_s"): _*) ++
      lower("MB")("queries.shuffle_write_mb", "queries.cached_mb") ++
      lower("ratio")("trace.overhead_frac") ++
      lower("s")("host.burn_s_before", "host.burn_s_after", "host.kernel_s_before", "host.kernel_s_after",
        "setup.session_s", "setup.gen_s", "setup.warm_s") ++
      Seq(M("scaling_eff", "ratio", "higher"), M("level1.docs_per_s", "docs/s", "higher"))

  val NamePattern = "[A-Za-z0-9_.-]+"

  def unitOf(name: String): String =
    (endToEnd ++ perLayer).find(_.name == name).map(_.unit).getOrElse(sys.error(s"unknown metric $name"))
}
