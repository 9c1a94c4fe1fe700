package graft.perfbench

/** Turns the spans of a run, and the jobs the listener saw, into the
  * end-to-end metrics (untraced passes) and the per-layer metrics
  * (traced passes, each a per-pass median). */
final class Metrics(spans: Spans, listener: JobListener, cores: Int, sizes: Map[String, Double],
    indexConsumers: Set[String]) {
  type Metric = (Double, String)
  private val all = spans.all.toSeq
  private val jobs = listener.allJobs.filter(_.endMs >= 0)

  private def median(xs: Seq[Double]): Double =
    if (xs.isEmpty) 0.0 else {
      val s = xs.sorted
      if (s.size % 2 == 1) s(s.size / 2) else (s(s.size / 2 - 1) + s(s.size / 2)) / 2
    }

  private def passes(traced: Boolean) = all.filter(s => s.kind == "pass" && s.traced == traced)
  private def under(id: Int, ancestor: Int): Boolean = {
    var i = id
    while (i >= 0 && i != ancestor) i = all(i).parent
    i == ancestor
  }
  private def children(p: Span, kind: String) =
    all.filter(s => s.kind == kind && under(s.id, p.id))
  private def jobsUnder(p: Span) = jobs.filter(j => under(j.span, p.id))

  /** Latency at the highest percentile with at least ten samples above
    * it, that percentile, and the sample count. */
  private def tail(xs: Seq[Double]): (Double, Double, Int) = {
    val s = xs.sorted
    if (s.size <= 10) (s.lastOption.getOrElse(0.0), 100.0, s.size)
    else (s(s.size - 11), 100.0 * (s.size - 10) / s.size, s.size)
  }

  private def opLatencies(ps: Seq[Span]) = ps.flatMap(children(_, "op")).map(_.seconds)

  def endToEnd(setupS: Double): Map[String, Metric] = Map(
    "setup_s" -> (setupS, "s"),
    "pass_s" -> (median(passes(traced = false).map(_.seconds)), "s"))

  /** The median over warm passes of each pass's median operation latency:
    * with a handful of operation kinds, the median of all samples would
    * sit between the extremes of two kinds. */
  private def opP50: Double = median(passes(traced = false).map(p => median(opLatencies(Seq(p)))))

  def perLayer(probeStartMs: Double, probeEndMs: Double): Map[String, Metric] = {
    val ps = passes(traced = true)
    def perPass(f: Span => Double): Double = median(ps.map(f))
    def named(p: Span, kind: String, name: String) = children(p, kind).filter(_.name == name)
    def secs(kind: String, name: String) = perPass(p => named(p, kind, name).map(_.seconds).sum)
    def tasks(kind: String, name: String) =
      perPass(p => named(p, kind, name).flatMap(jobsUnder).map(_.tasks.toDouble).sum)
    val records = sizes.getOrElse("records", 0.0)
    def rate(s: Double) = if (s > 0) records / s else 0.0

    val fmp = {
      val scan = secs("op", "analytic_scan")
      Map(
        "fmp.header_s" -> (secs("op", "header_dump"), "s"),
        "fmp.scan_s" -> (scan, "s"),
        "fmp.scan_recs_per_s" -> (rate(scan), "rec/s"),
        "fmp.scan_tasks" -> (tasks("op", "analytic_scan"), "count"),
        "fmp.driver_parse_s" -> (secs("call", "fmp.driver_parse"), "s"),
        "etl.mapping_s" -> (secs("call", "etl.mapping"), "s"))
    }
    val sinks = {
      val jsonl = perPass(p => named(p, "op", "jsonl_export").flatMap(children(_, "exec")).map(_.seconds).sum)
      val jdbc = secs("call", "sinks.jdbc")
      Map(
        "sinks.jsonl_s" -> (jsonl, "s"),
        "sinks.jsonl_recs_per_s" -> (rate(jsonl), "rec/s"),
        "sinks.jsonl_bytes_per_rec" ->
          (if (records > 0) sizes.getOrElse("jsonl_bytes", 0.0) / records else 0.0, "B/rec"),
        "sinks.jdbc_s" -> (jdbc, "s"),
        "sinks.jdbc_recs_per_s" -> (rate(jdbc), "rec/s"),
        "sinks.jdbc_tasks" -> (tasks("call", "sinks.jdbc"), "count"))
    }
    val tables = Map(
      "tables.schema_jobs" -> (perPass(p => jobsUnder(p).count(_.module == "tables").toDouble), "count"),
      "tables.schema_s" ->
        (perPass(p => jobsUnder(p).filter(_.module == "tables").map(j => (j.endMs - j.startMs) / 1e3).sum), "s"))

    // Planner time of each SQL action, placed in the traced exec phase
    // whose interval holds the action's midpoint.
    val execs = all.filter(s => s.kind == "exec" && s.traced)
    val planByExec = scala.collection.mutable.Map.empty[Int, Double].withDefaultValue(0.0)
    listener.plans.forEach { p =>
      val mid = (p.startMs + p.endMs) / 2.0
      execs.find(e => spans.epochMs(e.startNs) <= mid && mid <= spans.epochMs(e.endNs))
        .foreach(e => planByExec(e.id) += p.ms / 1e3)
    }
    val layers = Seq("queries", "streaming", "pipeline").flatMap { l =>
      def phase(p: Span, kind: String) = children(p, kind).filter(_.layer == l)
      Seq(
        s"$l.construct_s" -> (perPass(p => phase(p, "construct").map(_.seconds).sum), "s"),
        s"$l.construct_jobs" -> (perPass(p => phase(p, "construct").flatMap(jobsUnder).size.toDouble), "count"),
        s"$l.plan_s" -> (perPass(p => phase(p, "exec").map(e => planByExec(e.id)).sum), "s"),
        s"$l.exec_s" -> (perPass(p => phase(p, "exec").map(_.seconds).sum), "s"))
    }.toMap

    val cold = all.filter(s => s.kind == "cold_start" && s.traced)
    val coldJobs = cold.flatMap(jobsUnder)
    val consumerReuse = perPass { p =>
      val cs = children(p, "construct").filter(c => indexConsumers(c.name))
      if (cs.isEmpty) 0.0 else cs.count(c => jobsUnder(c).forall(_.module == "tables")).toDouble / cs.size
    }
    val hasBuild = cold.exists(c => children(c, "op").nonEmpty)
    val index = Map(
      "index.build_s" -> (if (hasBuild) cold.map(_.seconds).sum else 0.0, "s"),
      "index.jobs" -> (coldJobs.size.toDouble, "count"),
      "index.executor_run_s" -> (coldJobs.map(_.runMs).sum / 1e3, "s"),
      "index.shuffle_write_bytes" -> (coldJobs.map(_.shuffleWrite).sum.toDouble, "B"),
      "index.memo_reuse" -> (if (hasBuild) consumerReuse else 0.0, "ratio"))

    def sumJobs(f: JobRec => Double) = perPass(p => jobsUnder(p).map(f).sum)
    val execRun = sumJobs(_.runMs / 1e3)
    val passWall = perPass(_.seconds)
    val nJobs = sumJobs(_ => 1.0)
    val spark = Map(
      "spark.jobs" -> (nJobs, "count"),
      "spark.stages" -> (sumJobs(_.stages.toDouble), "count"),
      "spark.tasks" -> (sumJobs(_.tasks.toDouble), "count"),
      "spark.ms_per_job" ->
        (perPass { p => val js = jobsUnder(p); if (js.isEmpty) 0.0 else js.map(j => (j.endMs - j.startMs).toDouble).sum / js.size }, "ms"),
      "spark.executor_run_s" -> (execRun, "s"),
      "spark.executor_cpu_s" -> (sumJobs(_.cpuNs / 1e9), "s"),
      "spark.core_util" -> (if (passWall > 0) execRun / (passWall * cores) else 0.0, "ratio"),
      "spark.shuffle_read_bytes" -> (sumJobs(_.shuffleRead.toDouble), "B"),
      "spark.shuffle_write_bytes" -> (sumJobs(_.shuffleWrite.toDouble), "B"),
      "spark.spill_bytes" -> (sumJobs(_.spill.toDouble), "B"),
      "spark.peak_exec_mem_bytes" -> (perPass(p => (0L +: jobsUnder(p).map(_.peakMem)).max.toDouble), "B"),
      "spark.result_bytes" -> (sumJobs(_.resultBytes.toDouble), "B"),
      "spark.failed_tasks" -> (sumJobs(_.failedTasks.toDouble), "count"))

    val coverage = median(ps.flatMap(children(_, "op")).map { op =>
      all.filter(s => s.parent == op.id && (s.kind == "construct" || s.kind == "exec"))
        .map(_.seconds).sum / op.seconds
    })
    val untraced = median(passes(traced = false).map(_.seconds))
    val trace = Map(
      "machine.probe_start_ms" -> (probeStartMs, "ms"),
      "machine.probe_end_ms" -> (probeEndMs, "ms"),
      "trace.overhead_s" -> (passWall - untraced, "s"),
      "trace.phase_coverage" -> (coverage, "ratio"))
    fmp ++ sinks ++ tables ++ layers ++ index ++ spark ++ trace
  }

  /** Phase self time: its duration minus the part of it covered by the
    * jobs launched inside it. */
  private def selfMs(s: Span): Double = {
    val lo = spans.epochMs(s.startNs)
    val hi = spans.epochMs(s.endNs)
    val iv = jobsUnder(s).map(j => (math.max(lo, j.startMs.toDouble), math.min(hi, j.endMs.toDouble)))
      .filter(x => x._2 > x._1).sortBy(_._1)
    var covered = 0.0
    var end = lo
    iv.foreach { case (a, b) =>
      if (b > end) { covered += b - math.max(a, end); end = b }
    }
    (hi - lo) - covered
  }

  def sideFile(workload: String, seed: Long, cores: Int, endToEnd: Map[String, Metric],
      perLayer: Map[String, Metric], checks: Seq[CheckResult], probeStart: Double,
      probeEnd: Double, attempted: Int, failed: Int, marks: Seq[(String, Double)]): String = {
    val lat = opLatencies(passes(traced = false))
    val (tailS, pct, n) = tail(lat)
    val spanRows = all.map { s =>
      val base = Map("id" -> s.id, "parent" -> s.parent, "kind" -> s.kind, "name" -> s.name,
        "layer" -> s.layer, "traced" -> s.traced, "start_ms" -> spans.epochMs(s.startNs),
        "dur_ms" -> (s.endNs - s.startNs) / 1e6)
      if (s.traced && (s.kind == "construct" || s.kind == "exec")) base + ("self_ms" -> selfMs(s))
      else base
    }
    val jobRows = jobs.map { j =>
      Map("id" -> j.jobId, "parent" -> j.span, "kind" -> "job", "module" -> j.module,
        "call_site" -> j.callSite, "start_ms" -> j.startMs, "dur_ms" -> (j.endMs - j.startMs),
        "ok" -> j.ok, "stages" -> j.stages, "tasks" -> j.tasks, "failed_tasks" -> j.failedTasks,
        "executor_run_ms" -> j.runMs, "executor_cpu_ms" -> j.cpuNs / 1e6,
        "shuffle_read_bytes" -> j.shuffleRead, "shuffle_write_bytes" -> j.shuffleWrite,
        "spill_bytes" -> j.spill, "peak_exec_mem_bytes" -> j.peakMem, "result_bytes" -> j.resultBytes)
    }
    def metricMap(m: Map[String, Metric]) =
      m.map { case (k, (v, u)) => k -> Map("value" -> v, "unit" -> u) }
    Json(Map(
      "workload" -> workload, "seed" -> seed, "cores" -> cores, "clients" -> 1,
      "attempted" -> attempted, "failed" -> failed,
      "error_rate" -> (if (attempted > 0) failed.toDouble / attempted else 0.0),
      "machine.probe_ms" -> Map("start" -> probeStart, "end" -> probeEnd),
      "cold_pass_s" -> all.filter(_.kind == "cold").map(_.seconds).sum, "op_p50_s" -> opP50,
      "peak_rss_mb" -> Metrics.peakRssMb(), "heap_live_mb" -> Metrics.heapLiveMb(),
      "op_tail" -> Map("latency_s" -> tailS, "percentile" -> pct, "samples" -> n),
      "stage_marks_ms" -> marks.map { case (k, v) => Map("stage" -> k, "ms" -> v) },
      "end_to_end" -> metricMap(endToEnd), "per_layer" -> metricMap(perLayer),
      "checks" -> checks.map(c => Map("name" -> c.name, "ok" -> c.ok, "detail" -> c.detail)),
      "spans" -> spanRows, "jobs" -> jobRows))
  }
}

object Metrics {
  /** Heap still in use at the end of the run, after two full collections:
    * what the session keeps (memoized artifacts, cached blocks, plans). */
  def heapLiveMb(): Double = {
    System.gc(); System.gc()
    val m = java.lang.management.ManagementFactory.getMemoryMXBean.getHeapMemoryUsage
    m.getUsed / 1048576.0
  }

  /** The process's resident-set high-water mark (`VmHWM`), in MB. */
  def peakRssMb(): Double = {
    val line = scala.io.Source.fromFile("/proc/self/status").getLines().find(_.startsWith("VmHWM:"))
    line.map(_.split("\\s+")(1).toDouble / 1024.0).getOrElse(0.0)
  }
}
