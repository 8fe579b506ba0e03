package perfbench

import perfbench.Trace.Span

/** The per-layer metrics of a traced run, from its spans.
  *
  * Spans of the timed, traced half give every metric, except the ones
  * only the warm-up exercises: the first HHS load into an empty
  * warehouse and the quarter's quality load (weekly_refresh loads
  * quality every 13 weeks, and week 0 is the warm-up). Per-operation
  * metrics are means over the operations of that kind; per-pass
  * metrics of the query workload are totals divided by the passes run.
  * Every metric is printed on every workload, as 0 where the workload
  * does not run that layer.
  */
object PerLayer {

  def apply(workload: String, w: Workload, warm: Seq[Span], timed: Seq[Span],
            plain: Main.Loop, traced: Main.Loop, failedFrac: Double): Main.Metrics = {
    val nproc = Main.nproc
    def of(spans: Seq[Span], kind: String) = spans.filter(_.kind == kind)
    def mean(xs: Seq[Double]) = if (xs.isEmpty) 0d else xs.sum / xs.size
    def per(spans: Seq[Span])(f: Span => Double) = mean(spans.map(f))

    val hhs = of(timed, "load_hhs")
    val quality = of(warm ++ timed, "load_quality")
    val renders = of(timed, "render")
    val firstHhs = of(warm, "load_hhs").take(1)
    val loaded: String => (Long, Long) = w match {
      case wr: WeeklyRefresh => n => wr.loaded.getOrElse(n, (0L, 0L))
      case _ => _ => (0L, 0L)
    }
    def readAmp(spans: Seq[Span]) = {
      val in = spans.map(s => loaded(s.name)._2).sum
      if (in == 0) 0d else spans.map(_.csvBytesScanned).sum.toDouble / in
    }
    val antiJoins = hhs.flatMap(_.antiJoins.toSeq)
    val antiTotal = antiJoins.map(_._2).sum
    val (files, bytes) = w match {
      case wr: WeeklyRefresh => wr.warehouseFiles
      case _ => (0L, 0L)
    }
    val csvBytes = w match {
      case wr: WeeklyRefresh => wr.csvBytes
      case _ => 0L
    }

    // every span an operation ran in: the operation and, for queries,
    // its build and exec children
    val opKinds = Set("load_hhs", "load_quality", "render", "query_build", "query_exec")
    val opSpans = timed.filter(s => opKinds(s.kind))
    val opWallMs = timed.filter(s => Set("load_hhs", "load_quality", "render", "query")(s.kind))
      .map(_.wallMs).sum.toDouble
    val cycles = traced.cycles.size.max(1)

    // queries: per pass totals, also by Registry module
    val queries = of(timed, "query")
    val children = timed.filter(_.parent.isDefined).groupBy(_.parent.get)
    def kids(q: Span) = children.getOrElse(q.id, Nil)
    val builds = of(timed, "query_build")
    val qSpans = builds ++ of(timed, "query_exec")
    def perPass(x: Double) = x / cycles
    val modules = QuerySuite.modules.map(_._1).flatMap { m =>
      val qs = queries.filter(q => QuerySuite.moduleOf.get(q.name).contains(m))
      Seq(
        s"queries.$m.wall_s" -> (perPass(qs.map(_.wallMs).sum / 1e3), "s"),
        s"queries.$m.task_cpu_s" -> (perPass(qs.flatMap(kids).map(_.taskCpuNs).sum / 1e9), "s"),
        s"queries.$m.jobs" -> (perPass(qs.flatMap(kids).map(_.jobs).sum.toDouble), "count"))
    }

    val plainHead = plain.rec.seconds(Main.headline(workload))
    val tracedHead = traced.rec.seconds(Main.headline(workload))
    val tailPct = Stats.tailPercentile(plainHead.size)
    val loads = plain.rec.ops.filter(o => o.kind == "load_hhs" || o.kind == "load_quality")
    val loadRows = loads.map(o => loaded(o.name)._1).sum

    Seq(
      "warehouse.hhs.jobs" -> (per(hhs)(_.jobs.toDouble), "count"),
      "warehouse.hhs.jobs_first_load" -> (per(firstHhs)(_.jobs.toDouble), "count"),
      "warehouse.hhs.build_ms" -> (per(hhs)(s =>
        if (s.firstJobMs < 0) 0d else (s.firstJobMs - s.startMs).toDouble), "ms"),
      "warehouse.hhs.input_read_amp" -> (readAmp(hhs), "ratio"),
      "warehouse.hhs.task_cpu_s" -> (per(hhs)(_.taskCpuNs / 1e9), "s"),
      "warehouse.hhs.shuffle_bytes" -> (per(hhs)(_.shuffleBytes.toDouble), "bytes"),
      "warehouse.hhs.spill_bytes" -> (per(hhs)(_.spillBytes.toDouble), "bytes"),
      "warehouse.hhs.anti_join_broadcast_frac" -> (if (antiTotal == 0) 0d
        else antiJoins.filter(_._1 == "broadcast_hash").map(_._2).sum.toDouble / antiTotal, "ratio"),
      "warehouse.quality.jobs" -> (per(quality)(_.jobs.toDouble), "count"),
      "warehouse.quality.input_read_amp" -> (readAmp(quality), "ratio"),
      "warehouse.files" -> (files.toDouble, "count"),
      "warehouse.bytes" -> (bytes.toDouble, "bytes"),
      "warehouse.storage_amp" -> (if (csvBytes == 0) 0d else bytes.toDouble / csvBytes, "ratio"),
      "warehouse.report.jobs" -> (per(renders)(_.jobs.toDouble), "count"),
      "warehouse.report.bytes_read" -> (per(renders)(_.inputBytes.toDouble), "bytes"),
      "warehouse.report.exec_ms" -> (per(renders)(s => (s.wallMs - s.planMs).toDouble), "ms"),
      "catalyst.plan_ms.load_hhs" -> (per(hhs)(_.planMs.toDouble), "ms"),
      "catalyst.plan_ms.render" -> (per(renders)(_.planMs.toDouble), "ms"),
      "catalyst.plan_ms.query" -> (per(queries)(q => kids(q).map(_.planMs).sum.toDouble), "ms"),
      "exec.core_busy_frac" -> (if (opWallMs == 0) 0d
        else opSpans.map(_.taskRunMs).sum / (opWallMs * nproc), "ratio"),
      "exec.gc_ms" -> (perPass(opSpans.map(_.gcMs).sum.toDouble), "ms"),
      "exec.peak_exec_mem_mb" -> (opSpans.map(_.peakExecMem).maxOption.getOrElse(0L) / 1048576d, "MB"),
      "exec.peak_rss_mb" -> (Main.peakRssMb, "MB"),
      "queries.build_ms" -> (perPass(builds.map(_.wallMs).sum.toDouble), "ms"),
      "queries.build_jobs" -> (perPass(builds.map(_.jobs).sum.toDouble), "count"),
      "queries.jobs" -> (perPass(qSpans.map(_.jobs).sum.toDouble), "count"),
      "queries.tasks" -> (perPass(qSpans.map(_.tasks).sum.toDouble), "count"),
      "queries.task_cpu_s" -> (perPass(qSpans.map(_.taskCpuNs).sum / 1e9), "s"),
      "queries.shuffle_bytes" -> (perPass(qSpans.map(_.shuffleBytes).sum.toDouble), "bytes"),
      "queries.spill_bytes" -> (perPass(qSpans.map(_.spillBytes).sum.toDouble), "bytes")) ++
      modules ++ Seq(
      "report_s.p50" -> (median0(plain.rec.seconds("render")), "s"),
      "ingest_rows_per_s" -> (if (loads.isEmpty) 0d else loadRows / loads.map(_.seconds).sum, "1/s"),
      "op_s.tail" -> (Stats.percentile(plainHead, tailPct), "s"),
      "op_s.tail_pct" -> (tailPct, "percentile"),
      "failed_frac" -> (failedFrac, "ratio"),
      "trace.overhead_frac" -> (Stats.median(tracedHead) / Stats.median(plainHead) - 1, "ratio"))
  }

  private def median0(xs: Seq[Double]): Double = if (xs.isEmpty) 0d else Stats.median(xs)
}
