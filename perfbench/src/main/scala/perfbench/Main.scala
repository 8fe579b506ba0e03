package perfbench

import java.nio.file.{Files, Path, Paths}

import scala.collection.mutable

import org.apache.spark.sql.SparkSession

/** The benchmark's JVM entry point; `perfbench/run.py` builds the
  * classpath and starts it. Usage:
  *
  * {{{
  * perfbench.Main --workload <weekly_refresh|query_suite> --seed <n>
  *   --seconds <s> --trace <0|1> --work <dir> [--corpus <dir>]
  *   [--digests <file>] [--run-info <json>]
  * perfbench.Main --record-digests <file> --corpus <dir>
  * perfbench.Main --load-classes <work dir> <corpus dir>
  * }}}
  *
  * A run sets up (session, inputs, an untimed warm-up pass whose outputs
  * are checked), then runs timed passes of the workload until
  * `--seconds` have gone by, at least one. The last line of stdout is
  * the result: `{"correct", "attempted", "failed", "metrics"}`.
  *
  * With `--trace 1`, the timed time is split in two halves: the first
  * runs untraced, the second traced; the per-layer metrics come from
  * the traced half and `trace.overhead_frac` compares the two halves'
  * median headline operation.
  */
object Main {

  val workloads: Seq[String] = Seq("weekly_refresh", "query_suite")

  final case class Args(workload: String, seed: Long, seconds: Double, trace: Boolean,
                        work: Path, corpus: Path, digests: Path, runInfo: String)

  def parse(args: Array[String]): Either[String, Args] = {
    val m = args.grouped(2).collect { case Array(k, v) if k.startsWith("--") => k -> v }.toMap
    def need(k: String): Either[String, String] = m.get(k).toRight(s"missing $k")
    for {
      w <- need("--workload").filterOrElse(workloads.contains, s"unknown workload ${m("--workload")}")
      seed <- need("--seed").flatMap(s => s.toLongOption.toRight(s"bad --seed $s"))
      secs <- need("--seconds").flatMap(s => s.toDoubleOption.filter(_ > 0).toRight(s"bad --seconds $s"))
      tr <- need("--trace").filterOrElse(Set("0", "1"), "--trace must be 0 or 1")
      work <- need("--work")
    } yield Args(w, seed, secs, tr == "1", Paths.get(work),
      Paths.get(m.getOrElse("--corpus", "perfbench/corpus/sf0.001")),
      Paths.get(m.getOrElse("--digests", "perfbench/expected/query_digests.tsv")),
      m.getOrElse("--run-info", "{}"))
  }

  def main(args: Array[String]): Unit = {
    if (args.headOption.contains("--load-classes")) {
      loadClasses(Paths.get(args(1)), args(2))
      return
    }
    if (args.length == 4 && args(0) == "--record-digests") {
      val spark = graft.GraftSession.local()
      spark.sparkContext.setLogLevel("WARN")
      try QuerySuite.recordDigests(spark, args(3), Paths.get(args(1)))
      finally spark.stop()
      return
    }
    parse(args) match {
      case Left(err) =>
        System.err.println(s"perfbench: $err")
        sys.exit(2)
      case Right(a) =>
        val (record, result) = run(a)
        println(record)
        println(result)
    }
  }

  /** Run one warm-up of each workload and exit, so a JVM started with
    * `-XX:ArchiveClassesAtExit` archives the classes both load. */
  def loadClasses(work: Path, corpus: String): Unit = {
    val spark = graft.cli.CliAccess.session("perfbench-classes")
    spark.sparkContext.setLogLevel("ERROR")
    try {
      val rec = new Recorder(new Trace(spark))
      new WeeklyRefresh(spark, work, 0, 200).warmup(rec)
      graft.GraftSession.local(nproc)
      QuerySuiteSet.queries.foreach(q => QuerySuite.run(spark, corpus, q, rec))
    } finally spark.stop()
  }

  /** What one timed loop did: its recorder and each cycle's seconds
    * (the sum of its timed calls). */
  final case class Loop(rec: Recorder, cycles: Seq[Double])

  def since(t: Long): Double = (System.nanoTime() - t) / 1e9

  /** Repeat `w.cycle` until `budget` seconds have gone by, at least once. */
  def loop(w: Workload, trace: Trace, budget: Double): Loop = {
    val rec = new Recorder(trace)
    val cycles = mutable.ArrayBuffer.empty[Double]
    val start = System.nanoTime()
    while (cycles.isEmpty || since(start) < budget) {
      val before = rec.ops.size
      trace.span(s"cycle_${cycles.size}", "cycle")(w.cycle(rec))
      cycles += rec.ops.drop(before).map(_.seconds).sum
    }
    Loop(rec, cycles.toSeq)
  }

  def run(a: Args): (String, String) = {
    val t0 = System.nanoTime()
    Files.createDirectories(a.work)
    val spark =
      if (a.workload == "query_suite") graft.GraftSession.local(nproc)
      else graft.cli.CliAccess.session(s"perfbench-${a.workload}")
    spark.sparkContext.setLogLevel("ERROR")
    val sessionS = since(t0)
    try {
      val trace = new Trace(spark)
      val tGen = System.nanoTime()
      val workload = Workload(a, spark)
      val genS = since(tGen)
      val tWarm = System.nanoTime()
      val warm = new Recorder(trace)
      if (a.trace) trace.start()
      workload.warmup(warm)
      trace.stop()
      val warmS = since(tWarm)
      val setupS = sessionS + genS + warmS
      val warmSpans = trace.spans.size

      val cycles = mutable.ArrayBuffer.empty[Double]
      val (metrics, recs) =
        if (!a.trace) {
          val l = loop(workload, trace, a.seconds)
          cycles ++= l.cycles
          (endToEnd(a.workload, setupS, l), Seq(warm, l.rec))
        } else {
          val plain = loop(workload, trace, a.seconds / 2)
          trace.start()
          val traced = loop(workload, trace, a.seconds / 2)
          trace.stop()
          cycles ++= plain.cycles ++ traced.cycles
          trace.writeSpans(a.work.resolveSibling(s"trace-${a.workload}.jsonl"))
          val failures = Seq(warm, plain.rec, traced.rec).map(_.failed).sum
          val attempts = Seq(warm, plain.rec, traced.rec).map(_.attempted).sum
          (PerLayer(a.workload, workload, trace.spans.take(warmSpans).toSeq,
            trace.spans.drop(warmSpans).toSeq, plain, traced, failures.toDouble / attempts),
            Seq(warm, plain.rec, traced.rec))
        }
      val attempted = recs.map(_.attempted).sum
      val failures = recs.flatMap(_.failures)
      failures.take(20).foreach(f => System.err.println(s"perfbench: FAILED $f"))
      val record = Json.obj(
        "workload" -> a.workload, "seed" -> a.seed, "seconds" -> a.seconds,
        "trace" -> a.trace, "nproc" -> nproc,
        "heap_mb" -> Runtime.getRuntime.maxMemory / (1 << 20),
        "run_info" -> RawJson(a.runInfo),
        "session_s" -> sessionS, "generate_s" -> genS, "warmup_s" -> warmS,
        "wall_s" -> since(t0), "inputs" -> workload.inputs,
        "cycles_s" -> cycles,
        "ops" -> recs.flatMap(_.ops).groupBy(_.kind).map { case (k, os) =>
          k -> Map("n" -> os.size, "p50_s" -> Stats.median(os.map(_.seconds).toSeq),
            "sum_s" -> os.map(_.seconds).sum) },
        "timed_ops" -> recs.last.ops.map(o => s"${o.name}=${o.seconds}"),
        "failures" -> failures.take(20))
      val result = Json.obj(
        "correct" -> failures.isEmpty, "attempted" -> attempted,
        "failed" -> failures.size.toLong,
        "metrics" -> scala.collection.immutable.ListMap(metrics.map { case (k, (v, unit)) =>
          k -> Map("value" -> v, "unit" -> unit) }: _*))
      (record, result)
    } finally spark.stop()
  }

  final case class RawJson(text: String) { override def toString: String = text }

  def nproc: Int = Runtime.getRuntime.availableProcessors()

  /** Peak resident set of this JVM, from /proc/self/status (VmHWM). */
  def peakRssMb: Double = {
    val src = scala.io.Source.fromFile("/proc/self/status")
    try src.getLines().find(_.startsWith("VmHWM:"))
      .map(_.split("\\s+")(1).toDouble / 1024).getOrElse(0d)
    finally src.close()
  }

  /** The operation kind of each workload whose median is `op_s.p50`. */
  def headline(workload: String): String =
    if (workload == "weekly_refresh") "load_hhs" else "query"

  type Metrics = Seq[(String, (Double, String))]

  /** weekly_refresh: the median week and the median HHS load. Each week
    * loads new data, so no operation repeats. query_suite: every query
    * runs once per pass, so each query counts with its best time over the
    * run's passes, as in `graft.Bench`: a pass that shared the host with
    * a load spike does not decide the result. The suite time is the sum
    * of the best times, and `op_s.p50` their median. */
  def endToEnd(workload: String, setupS: Double, l: Loop): Metrics = {
    val (cycle, op) =
      if (workload == "weekly_refresh")
        (Stats.median(l.cycles), Stats.median(l.rec.seconds("load_hhs")))
      else {
        val best = l.rec.ops.groupBy(_.name).values.map(_.map(_.seconds).min).toSeq
        (best.sum, Stats.median(best))
      }
    Seq("setup_s" -> (setupS, "s"), "cycle_s" -> (cycle, "s"), "op_s.p50" -> (op, "s"))
  }
}
