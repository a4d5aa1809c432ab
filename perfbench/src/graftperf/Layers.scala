package graftperf

/** Turns the spans of a traced run into the per-layer metrics. Every
  * workload reports every metric; a layer the workload never enters
  * reports 0.
  */
object Layers {
  val StreamLayers = Seq("kernel", "module", "renumber", "append")

  /** Every per-layer metric with its unit, in report order. */
  val Names: Seq[(String, String)] = Seq(
    "decode.ms" -> "ms", "decode.msgs" -> "count", "decode.invalid" -> "count",
    "kernel.jobs" -> "count", "kernel.ms" -> "ms",
    "module.jobs" -> "count", "module.ms" -> "ms",
    "renumber.jobs" -> "count", "renumber.ms" -> "ms",
    "append.spark_jobs" -> "count", "append.ms" -> "ms", "append.fused" -> "count",
    "append.collect" -> "count", "append.spark" -> "count", "append.write_errors" -> "count",
    "driver.ms" -> "ms", "processBatch.ms" -> "ms", "other.ms" -> "ms",
    "codegen.compiles" -> "count", "spark.tasks" -> "count", "spark.stages" -> "count",
    "spark.shuffle_bytes" -> "bytes", "executor.busy_ratio" -> "ratio", "gc.ms" -> "ms",
    "generator.late_ms" -> "ms",
    "finish.s" -> "s", "finish.jobs" -> "count", "export.s" -> "s", "export.mb_per_s" -> "MB/s",
    "setup.session_s" -> "s", "setup.job_create_s" -> "s", "setup.warmup_s" -> "s") ++
    Mix.Names.flatMap(q => Seq(s"q.$q.s" -> "s", s"q.$q.shuffle_bytes" -> "bytes",
      s"q.$q.tasks" -> "count")) ++
    Seq("mix.stages" -> "count", "mix.spill_bytes" -> "bytes", "mix.compiles" -> "count",
      "mix.cpu_ratio" -> "ratio") ++
    Seq("latency_s" -> "s", "throughput_per_s" -> "1/s",
      "complete_s" -> "s").map { case (k, u) => s"trace.overhead.$k" -> u } :+
    ("scaling.analytics_mix.c4_over_c1" -> "ratio")

  def attribute(all: Seq[Span], report: Report, cores: Int): Unit = {
    val byId = all.map(s => s.id -> s).toMap
    def ancestor(s: Span, p: Span => Boolean): Option[Span] = {
      var cur = byId.get(s.parent)
      while (cur.exists(c => !p(c))) cur = cur.flatMap(c => byId.get(c.parent))
      cur
    }
    val jobs = all.filter(_.job.isDefined)
    def put(k: String, v: Double, unit: String): Unit = report.layer(k) = Metric(v, unit)

    // --- streaming: per steady trigger ---------------------------------
    val triggers = all.filter(_.name == "trigger")
    val n = math.max(1, triggers.size).toDouble
    val batches = all.filter(_.layer == "processBatch")
    val inBatch = jobs.flatMap(j => ancestor(j, _.layer == "processBatch").map(j -> _))
    // a job's time counts once: overlap with an earlier-started job in the
    // same batch goes to the earlier one, so layers + driver = the span
    val layerNs = scala.collection.mutable.Map.empty[String, Long].withDefaultValue(0L)
    inBatch.groupBy(_._2.id).foreach { case (_, js) =>
      var reach = Long.MinValue
      js.map(_._1).sortBy(_.startNs).foreach { j =>
        val from = math.max(j.startNs, reach)
        if (j.endNs > from) layerNs(j.layer) += j.endNs - from
        reach = math.max(reach, j.endNs)
      }
    }
    val batchNs = batches.map(b => b.endNs - b.startNs).sum
    val jobNs = layerNs.values.sum
    StreamLayers.foreach { l =>
      val js = inBatch.map(_._1).filter(_.layer == l)
      put(if (l == "append") "append.spark_jobs" else s"$l.jobs", js.size / n, "count")
      put(s"$l.ms", layerNs(l) / 1e6 / n, "ms")
    }
    put("driver.ms", (batchNs - jobNs) / 1e6 / n, "ms")
    put("processBatch.ms", batchNs / 1e6 / n, "ms")
    put("other.ms", layerNs.collect { case (l, t) if !StreamLayers.contains(l) => t }.sum / 1e6 / n, "ms")
    val trigJobs = jobs.filter(j => ancestor(j, _.name == "trigger").isDefined)
    val decodeSpans = all.filter(s => s.layer == "decode" && s.job.isEmpty)
    put("decode.ms", decodeSpans.map(s => s.endNs - s.startNs).sum / 1e6 / n, "ms")
    put("spark.tasks", trigJobs.map(_.job.get.tasks).sum / n, "count")
    put("spark.stages", trigJobs.map(_.job.get.stages).sum / n, "count")
    put("spark.shuffle_bytes", trigJobs.map(_.job.get.shuffleBytes).sum / n, "bytes")
    val busy = inBatch.map(_._1.job.get.runMs).sum.toDouble
    put("executor.busy_ratio", if (batchNs > 0) busy / (batchNs / 1e6 * cores) else 0.0, "ratio")
    def one(name: String) = all.find(s => s.name == name && s.job.isEmpty)
    val fin = one("finish")
    put("finish.s", fin.map(_.ms / 1e3).getOrElse(0.0), "s")
    put("finish.jobs", fin.map(f => jobs.count(j => ancestor(j, _.id == f.id).isDefined)).getOrElse(0).toDouble, "count")
    val exports = all.filter(s => s.name == "export" && s.job.isEmpty).map(_.ms / 1e3)
    val exportS = if (exports.isEmpty) 0.0 else Stats.median(exports)
    put("export.s", exportS, "s")
    val h5mb = report.info.get("h5_bytes").map(_.toString.toDouble / 1e6).getOrElse(0.0)
    put("export.mb_per_s", if (exportS > 0) h5mb / exportS else 0.0, "MB/s")

    // --- analytics: per query, medians over the measured passes ---------
    val queries = all.filter(s => s.layer == "query" && s.job.isEmpty)
    Mix.Names.foreach { q =>
      val runs = queries.filter(_.name == q)
      def perRun(f: Span => Double): Double =
        if (runs.isEmpty) 0.0
        else Stats.median(runs.map(r => jobs.filter(j => ancestor(j, _.id == r.id).isDefined).map(f).sum))
      put(s"q.$q.s", if (runs.isEmpty) 0.0 else Stats.median(runs.map(_.ms / 1e3)), "s")
      put(s"q.$q.shuffle_bytes", perRun(_.job.get.shuffleBytes.toDouble), "bytes")
      put(s"q.$q.tasks", perRun(_.job.get.tasks.toDouble), "count")
    }
    val passes = all.filter(s => s.name == "pass" && s.job.isEmpty)
    val np = math.max(1, passes.size).toDouble
    val mixJobs = jobs.filter(j => ancestor(j, _.name == "pass").isDefined)
    put("mix.stages", mixJobs.map(_.job.get.stages).sum / np, "count")
    put("mix.spill_bytes", mixJobs.map(_.job.get.spillBytes).sum / np, "bytes")
    val passMs = passes.map(_.ms).sum
    put("mix.cpu_ratio",
      if (passMs > 0) mixJobs.map(_.job.get.cpuNs).sum / 1e6 / (passMs * cores) else 0.0, "ratio")
    // a layer this workload never enters reports 0
    Names.foreach { case (k, unit) => if (!report.layer.contains(k)) put(k, 0.0, unit) }
    report.info("trace.spans") = all.size
    report.info("trace.jobs") = jobs.size
  }
}
