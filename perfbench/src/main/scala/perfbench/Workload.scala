package perfbench

import org.apache.spark.sql.SparkSession

/** One named workload. Constructing it makes its first inputs from the
  * seed; [[warmup]] is the untimed warm-up and check pass; [[cycle]] is
  * the unit the timed loop repeats. */
trait Workload {
  /** Input sizes, for the run record. */
  def inputs: Map[String, Any]
  def warmup(rec: Recorder): Unit
  def cycle(rec: Recorder): Unit
}

object Workload {

  /** Hospitals in week 0 of weekly_refresh: the real weekly file's size. */
  val weeklyHospitals = 5000

  def apply(a: Main.Args, spark: SparkSession): Workload = a.workload match {
    case "weekly_refresh" => new WeeklyRefresh(spark, a.work, a.seed, weeklyHospitals)
    case "query_suite" => new Queries(spark, a)
  }

  /** query_suite: a cycle is one pass over [[QuerySuiteSet]] in an order
    * shuffled from the seed. The warm-up pass also checks every query's
    * output digest. */
  final class Queries(spark: SparkSession, a: Main.Args) extends Workload {
    private val corpus = a.corpus.toString
    private val expected = QuerySuite.readExpected(a.digests)
    private val rng = new java.util.Random(a.seed)
    def inputs: Map[String, Any] = Map(
      "corpus" -> corpus, "queries_per_pass" -> QuerySuiteSet.queries.size,
      "registry_queries" -> graft.queries.Registry.all.size)
    private def shuffled = new scala.util.Random(rng.nextLong()).shuffle(QuerySuiteSet.queries)
    def warmup(rec: Recorder): Unit =
      shuffled.foreach { q =>
        QuerySuite.run(spark, corpus, q, rec).foreach(df => QuerySuite.check(rec, q, df, expected))
      }
    def cycle(rec: Recorder): Unit =
      shuffled.foreach(q => QuerySuite.run(spark, corpus, q, rec))
  }
}
