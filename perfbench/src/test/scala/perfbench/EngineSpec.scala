package perfbench

import java.nio.file.{Files, Path, Paths}

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

/** The benchmark against the real engine, at a small size. */
class EngineSpec extends AnyFunSuite {

  private lazy val spark: SparkSession = {
    val s = SparkSession.builder().master("local[2]")
      .config("spark.sql.shuffle.partitions", "4")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false").getOrCreate()
    s.sparkContext.setLogLevel("ERROR")
    s
  }

  private def fresh(name: String): Path = {
    val d = Paths.get("target", "test-work", name)
    if (Files.exists(d)) Files.walk(d).sorted(java.util.Comparator.reverseOrder()).forEach(Files.delete(_))
    Files.createDirectories(d)
  }

  test("the engine's loads and report match the model: no failed operation") {
    val w = new WeeklyRefresh(spark, fresh("weekly"), 11, 300)
    val rec = new Recorder(new Trace(spark))
    w.warmup(rec)
    w.cycle(rec)
    assert(rec.failures.isEmpty, rec.failures.mkString("\n"))
    // week 0: HHS, quality, render and their checks; week 1: HHS, render
    assert(rec.attempted == 10)
    assert(rec.ops.map(_.kind) == Seq("load_hhs", "load_quality", "render", "load_hhs", "render"))
  }

  test("a wrong expected count is reported as a failure, not a pass") {
    val work = fresh("wrong")
    val w = new WeeklyRefresh(spark, work, 12, 300)
    val rec = new Recorder(new Trace(spark))
    w.warmup(rec)
    assert(rec.failed == 0)
    val wh = work.resolve("warehouse").toString
    val actual = WeeklyRefresh.hhsActual(spark, wh, work.resolve("rejects").toString)
    assert(rec.check("right", actual, actual))
    assert(rec.failed == 0)
    assert(!rec.check("off_by_one", actual.updated("bed_rows", actual("bed_rows") + 1), actual))
    assert(!rec.check("throws", 1L, sys.error("boom")))
    assert(rec.failed == 2)
    assert(rec.failures.head.startsWith("check off_by_one: expected"))
  }

  test("a wrong query digest is reported as a failure") {
    val q = graft.queries.Registry.all.find(_.name == "g01_rollup").get
    val corpus = "corpus/sf0.001"
    val df = q.fn(spark, corpus)
    val (rows, digest) = QuerySuite.digest(df)
    assert(QuerySuite.digest(q.fn(spark, corpus)) == (rows, digest), "digest is not repeatable")
    val rec = new Recorder(new Trace(spark))
    QuerySuite.check(rec, q, df, Map(q.name -> QuerySuite.Expected(rows, digest, stable = true)))
    assert(rec.failed == 0)
    QuerySuite.check(rec, q, df, Map(q.name -> QuerySuite.Expected(rows, digest + "1", stable = true)))
    QuerySuite.check(rec, q, df, Map(q.name -> QuerySuite.Expected(rows + 1, "x", stable = false)))
    QuerySuite.check(rec, q, df, Map.empty)
    assert(rec.attempted == 4 && rec.failed == 3)
  }

  test("the metric names printed match BENCHMARK.json") {
    val spec = new com.fasterxml.jackson.databind.ObjectMapper()
      .readTree(Paths.get("..", "BENCHMARK.json").toFile)
    def entries(key: String): Seq[(String, String)] = {
      val it = spec.get(key).elements()
      Iterator.continually(it).takeWhile(_.hasNext).map(_.next())
        .map(m => m.get("name").asText() -> m.get("unit").asText()).toSeq
    }
    val w = new WeeklyRefresh(spark, fresh("names"), 13, 50)
    val trace = new Trace(spark)
    val rec = new Recorder(trace)
    trace.start()
    w.warmup(rec)
    trace.stop()
    val loop = Main.Loop(rec, Seq(1d))
    val e2e = Main.endToEnd("weekly_refresh", 1d, loop)
    assert(e2e.map { case (n, (_, u)) => (n, u) } == entries("end_to_end"))
    val layers = PerLayer("weekly_refresh", w, trace.spans.toSeq, trace.spans.toSeq, loop, loop, 0d)
    assert(layers.map { case (n, (_, u)) => (n, u) } == entries("per_layer"))
  }
}
