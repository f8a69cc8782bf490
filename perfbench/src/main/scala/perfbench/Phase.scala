package perfbench

import java.nio.file.Paths

/** Every metric the benchmark prints, with its unit. A run prints all of
  * them for its mode; a layer that does no work on a workload reads 0.
  */
object Metrics {
  val EndToEnd: Seq[(String, String)] = Seq(
    "setup_s" -> "s",
    "heap_live_mb" -> "MB",
    "cpu_ms_per_item" -> "ms")

  val PerLayer: Seq[(String, String)] = Seq(
    "analyzer.docs_per_s" -> "1/s",
    "index.build_docs_per_s" -> "1/s",
    "index.stage1_docs_s" -> "s",
    "index.stage2_dict_s" -> "s",
    "index.hot_terms_s" -> "s",
    "index.stage3_segments_s" -> "s",
    "index.stage4_lineage_s" -> "s",
    "index.stage5_stats_s" -> "s",
    "index.jobs" -> "count",
    "index.input_mb" -> "MB",
    "index.shuffle_write_mb" -> "MB",
    "index.shuffle_records" -> "count",
    "index.executor_cpu_s" -> "s",
    "index.gc_s" -> "s",
    "index.docs_mb" -> "MB",
    "index.segments_mb" -> "MB",
    "index.dict_terms" -> "count",
    "index.salted_terms" -> "count",
    "index.space_ratio" -> "ratio",
    "query.search_p50_ms" -> "ms",
    "query.open_ms" -> "ms",
    "query.resolve_ms" -> "ms",
    "query.fuzzy_resolve_ms" -> "ms",
    "query.expanded_terms" -> "count",
    "query.wand_ms_p50" -> "ms",
    "query.wand_ms_p99" -> "ms",
    "query.postings_per_query" -> "count",
    "query.salt_fanout" -> "count",
    "query.hits_per_query" -> "count",
    "query.open_after_swap_ms" -> "ms",
    "surface.detect_p50_ms" -> "ms",
    "surface.search_variants_ms" -> "ms",
    "surface.post_ms" -> "ms",
    "surface.jobs_per_request" -> "count",
    "surface.input_mb_per_request" -> "MB",
    "surface.stall_ms" -> "ms",
    "surface.upsert_s" -> "s",
    "surface.upsert_jobs" -> "count",
    "surface.upsert_visible_s" -> "s",
    "ops.curate_s" -> "s",
    "ops.exact_s" -> "s",
    "ops.lsh_s" -> "s",
    "ops.verify_s" -> "s",
    "ops.cc_s" -> "s",
    "ops.gates_s" -> "s",
    "ops.split_s" -> "s",
    "ops.candidate_pairs" -> "count",
    "ops.verified_pairs" -> "count",
    "ops.lsh_precision" -> "share",
    "ops.cc_jobs" -> "count",
    "ops.jobs" -> "count",
    "ops.shuffle_write_mb" -> "MB",
    "ops.kept_docs" -> "count",
    "proc.cpu_s" -> "s",
    "proc.gc_s" -> "s",
    "trace.overhead" -> "share",
    "trace.unattributed_share" -> "share",
    "trace.spans" -> "count",
    "host.loadavg_start" -> "load")

  /** The metrics of one mode, in declaration order; names a workload did
    * not measure read 0.
    */
  def complete(trace: Boolean, measured: Map[String, Double]): Seq[Metric] = {
    val names = if (trace) PerLayer else EndToEnd
    val unknown = measured.keySet -- names.map(_._1)
    require(unknown.isEmpty, s"metrics not declared: ${unknown.mkString(", ")}")
    names.map { case (n, u) => Metric(n, measured.getOrElse(n, 0.0), u) }
  }
}

/** The measured phase of a workload: closed-loop operations for the run
  * time. In a traced run every second operation (by per-client sequence
  * number) is traced; the per-layer numbers come from the traced ones,
  * and the difference between the traced and untraced operations' median
  * time is the tracing overhead.
  */
final case class PhaseResult[R](result: R, ops: Seq[Loop.Op], wallS: Double,
    cpuS: Double = 0, appCpuS: Double = 0, gcS: Double = 0)

final case class Traced[R](phase: PhaseResult[R], report: TraceReport)

object Phase {

  /** `body(tracerFor, seconds)` runs the measured phase; operation `i` of a
    * client uses `tracerFor(i)`.
    */
  def run[R](ctx: Ctx, name: String)(body: (Int => Tracer, Double) => PhaseResult[R])
      : (PhaseResult[R], Option[Traced[R]]) = {
    val off = new Tracer(false, ctx.spark.sparkContext)
    // CPU time excludes the time a shared host takes the cores away
    def measured(tracerFor: Int => Tracer): PhaseResult[R] = {
      val cpu0 = Proc.cpuS
      val app0 = Proc.threadCpu()
      val gc0 = Proc.gcS
      val host0 = Proc.hostTicks
      val ph = body(tracerFor, ctx.seconds)
      Proc.describeHost("measured phase", host0)
      ph.copy(cpuS = Proc.cpuS - cpu0, appCpuS = Proc.appCpuS(app0), gcS = Proc.gcS - gc0)
    }
    if (!ctx.trace) (measured(_ => off), None)
    else {
      ctx.listener.settle()
      ctx.listener.clear()
      val on = new Tracer(true, ctx.spark.sparkContext)
      val ph = measured(i => if (i % 2 == 1) on else off)
      ctx.listener.settle()
      val report = new TraceReport(on.spans, ctx.listener.all)
      val path = Paths.get(".bench_build", "trace", s"$name-seed${ctx.seed}.json")
        .toAbsolutePath
      report.write(path)
      println(s"# trace: ${report.spans.length} spans written to $path")
      (ph, Some(Traced(ph, report)))
    }
  }

  /** Share of the traced requests' time that no layer span below them
    * accounts for: 1 - (self time of the spans below) / (request time).
    */
  def unattributed(report: TraceReport, requestName: String): Double = {
    val reqs = report.named(requestName)
    val ids = reqs.map(_.id).toSet
    val covered = report.spans
      .filter(s => s.parent >= 0 && ids.contains(s.request))
      .map(report.selfMs).sum
    1.0 - covered / reqs.map(_.ms).sum
  }

  /** Counters every traced run reports. `tracedMs` are the traced
    * operations' times measured as `untracedMs` are; the ratio of their
    * medians is the tracing overhead.
    */
  def common[R](t: Traced[R], requestName: String, tracedMs: Seq[Double],
      untracedMs: Seq[Double]): Map[String, Double] =
    Map(
      "proc.cpu_s" -> t.phase.cpuS,
      "proc.gc_s" -> t.phase.gcS,
      "trace.overhead" -> (Stats.median(tracedMs) / Stats.median(untracedMs) - 1),
      "trace.unattributed_share" -> unattributed(t.report, requestName),
      "trace.spans" -> t.report.spans.length.toDouble)

  /** Single-thread analyzer throughput over a sample of the workload's
    * texts (repeated for at least 0.3 s).
    */
  def analyzerDocsPerS(texts: Seq[String]): Double = {
    val sample = texts.take(2000)
    var n = 0L
    val t0 = System.nanoTime()
    while (System.nanoTime() - t0 < 300000000L) {
      sample.foreach { t =>
        graft.analyzer.Analyzers.termFrequencies(graft.analyzer.Analyzers.Standard, t)
      }
      n += sample.length
    }
    n / ((System.nanoTime() - t0) / 1e9)
  }

  def mb(bytes: Double): Double = bytes / (1024.0 * 1024.0)

  /** Info line: a timing's sample count and percentiles; a percentile
    * counts only with at least ten samples beyond it.
    */
  def describe(label: String, xs: Seq[Double]): Unit =
    println(s"# $label: n=${xs.length} " + Seq(0.5, 0.9, 0.95, 0.99)
      .filter(p => xs.length - math.ceil(p * xs.length) >= 10 || p == 0.5)
      .map(p => f"p${p * 100}%.0f=${Stats.pct(xs, p)}%.3f").mkString(" "))


}
