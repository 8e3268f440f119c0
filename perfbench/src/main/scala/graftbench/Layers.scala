package graftbench

/** Per-layer metrics of a traced phase, from the recorded spans and the
  * job ledger. Counts and times are means per operation (a query on
  * `operators`, a request on `serve`) unless the name says
  * otherwise; a layer an operation never entered reads 0.
  */
object Layers {

  /** Every per-layer metric with its unit, in report order. */
  val units: Seq[(String, String)] = Seq(
    "queries.suite_s" -> "s", "queries.build_ms" -> "ms", "queries.build_jobs" -> "count",
    "tables.schema_jobs" -> "count",
    "spark.plan_ms" -> "ms", "spark.exec_ms" -> "ms", "spark.jobs" -> "count",
    "spark.stages" -> "count", "spark.tasks" -> "count", "spark.task_cpu_ms" -> "ms",
    "spark.core_util" -> "ratio", "spark.task_wait_ms" -> "ms", "spark.gc_ms" -> "ms",
    "spark.input_bytes" -> "bytes", "spark.shuffle_write_bytes" -> "bytes",
    "spark.spill_bytes" -> "bytes", "spark.output_bytes" -> "bytes",
    "spark.retained_storage_mb" -> "MB",
    "catalog.load_ms" -> "ms", "catalog.load_calls" -> "count",
    "catalog.files_max" -> "count", "catalog.write_amp" -> "ratio",
    "exec.plan_build_ms" -> "ms", "exec.insert_ms" -> "ms", "exec.overwrite_ms" -> "ms",
    "nl.translate_ms" -> "ms", "nl.sample_jobs" -> "count", "dialect.parse_us" -> "us",
    "ingest.rows_per_s" -> "1/s",
    "server.query_self_ms" -> "ms", "server.nl_self_ms" -> "ms", "server.write_self_ms" -> "ms",
    "latency.query_p50_ms" -> "ms", "latency.nl_p50_ms" -> "ms", "latency.nl_p95_ms" -> "ms",
    "latency.write_p50_ms" -> "ms", "latency.write_p95_ms" -> "ms",
    "failed_frac" -> "ratio", "host.calibration_s" -> "s", "host.loadavg" -> "load",
    "trace.overhead.ops_per_s" -> "1/s", "trace.overhead.query_p95_ms" -> "ms")

  /** Span names whose jobs write table data. */
  val writeSpans = Set("exec.insert", "exec.overwrite", "ingest.import")

  def report(ctx: Ctx, out: Outcome, wallMs: Double): Unit = {
    ctx.ledger.drain()
    val spans = ctx.tracer.spans
    val roots = spans.filter(s => s.parent == 0 && s.name != "setup")
    val opReqs = roots.map(_.request).toSet
    val ops = math.max(1, roots.size).toDouble
    val byId = spans.map(s => s.id -> s).toMap
    val self = Tracer.selfTimes(spans)
    def named(n: String) = spans.filter(s => s.name == n && opReqs(s.request))
    def totalMs(n: String) = named(n).map(_.durNs).sum / 1e6
    def meanMs(n: String) = { val xs = named(n); if (xs.isEmpty) 0.0 else xs.map(_.durNs).sum / 1e6 / xs.size }
    def within(ancestor: String)(s: Span): Boolean =
      Iterator.iterate(Option(s))(_.flatMap(x => byId.get(x.parent))).takeWhile(_.isDefined)
        .exists(_.exists(_.name == ancestor))

    val jobs = ctx.ledger.allJobs.filter(j => byId.get(j.span).exists(s => opReqs(s.request)))
    def jobsUnder(n: String) = jobs.filter(j => within(n)(byId(j.span)))
    val stages = ctx.ledger.stagesOf(jobs.map(_.id).toSet)
    def stageSum(f: JobLedger.StageCost => Long) = stages.map(f).sum.toDouble

    out.layer("queries.build_ms", totalMs("queries.build") / ops)
    out.layer("queries.build_jobs", jobsUnder("queries.build").size / ops)
    out.layer("tables.schema_jobs", jobs.count(_.schemaInference) / ops)
    out.layer("spark.plan_ms", totalMs("spark.plan") / ops)
    out.layer("spark.exec_ms", totalMs("spark.exec") / ops)
    out.layer("spark.jobs", jobs.size / ops)
    out.layer("spark.stages", stages.size / ops)
    out.layer("spark.tasks", stageSum(_.tasks) / ops)
    out.layer("spark.task_cpu_ms", stageSum(_.cpuNs) / 1e6 / ops)
    out.layer("spark.core_util", stageSum(_.runMs) / (wallMs * ctx.cores))
    out.layer("spark.task_wait_ms", stageSum(_.waitMs) / ops)
    out.layer("spark.gc_ms", stageSum(_.gcMs) / ops)
    out.layer("spark.input_bytes", stageSum(_.inputBytes) / ops)
    out.layer("spark.shuffle_write_bytes", stageSum(_.shuffleWriteBytes) / ops)
    out.layer("spark.spill_bytes", stageSum(_.spillBytes) / ops)
    out.layer("spark.output_bytes", stageSum(_.outputBytes) / ops)
    out.layer("catalog.load_ms", totalMs("catalog.load") / ops)
    out.layer("catalog.load_calls", named("catalog.load").size / ops)
    val selects = named("exec.select")
    out.layer("exec.plan_build_ms",
      if (selects.isEmpty) 0.0 else selects.map(s => self(s.id)).sum / 1e6 / selects.size)
    out.layer("exec.insert_ms", meanMs("exec.insert"))
    out.layer("exec.overwrite_ms", meanMs("exec.overwrite"))
    out.layer("nl.translate_ms", meanMs("nl.translate"))
    val nl = named("nl.translate").size
    out.layer("nl.sample_jobs", if (nl == 0) 0.0 else jobsUnder("nl.translate").size.toDouble / nl)
    out.layer("dialect.parse_us", meanMs("dialect.parse") * 1000)
    // ingest throughput includes the traced set-up's imports
    val ingestMs = spans.filter(_.name == "ingest.import").map(_.durNs).sum / 1e6
    out.layer("ingest.rows_per_s", if (ingestMs == 0) 0.0 else ctx.ingestRows.get / (ingestMs / 1000))
    val changed = ctx.changedBytes.get
    val written = ctx.ledger.stagesOf(jobs.filter(j => writeSpans.exists(n => within(n)(byId(j.span))))
      .map(_.id).toSet).map(_.outputBytes).sum
    out.layer("catalog.write_amp", if (changed == 0) 0.0 else written.toDouble / changed)
    out.layer("catalog.files_max", ctx.filesMax.get.toDouble)
  }
}
