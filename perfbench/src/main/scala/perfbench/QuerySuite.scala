package perfbench

import java.nio.file.{Files, Path}

import scala.jdk.CollectionConverters._

import graft.QueryDef
import graft.queries._
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** The query workload: `graft.queries.Registry` queries over a fixed
  * corpus, each built and then run to the `noop` sink, one at a time.
  * The corpus is fixed, so the seed only shuffles query order.
  */
object QuerySuite {

  /** The 15 Registry modules, by the name used in metric names. */
  val modules: Seq[(String, Seq[QueryDef])] = Seq(
    "relational" -> RelationalQueries.all, "grouping" -> GroupingQueries.all,
    "breadth" -> BreadthQueries.all, "semistructured" -> SemiStructuredQueries.all,
    "pivotsubquery" -> PivotSubqueryQueries.all, "text" -> TextQueries.all,
    "vector" -> VectorQueries.all, "event" -> EventQueries.all,
    "multimodal" -> MultimodalQueries.all, "pipeline" -> PipelineQueries.all,
    "scale" -> ScaleQueries.all, "curation" -> CurationQueries.all,
    "graph" -> GraphQueries.all, "profiling" -> ProfilingQueries.all,
    "index" -> IndexQueries.all)

  lazy val moduleOf: Map[String, String] =
    modules.flatMap { case (m, qs) => qs.map(_.name -> m) }.toMap

  /** Build and run `q` as one timed operation: a `query_build` span
    * around the Registry function, a `query_exec` span around the write
    * to `noop`. Cached data is dropped after each query, as in
    * `graft.Bench`, so no query reuses another's cached stages. */
  def run(spark: SparkSession, corpus: String, q: QueryDef, rec: Recorder): Option[DataFrame] = {
    val out = rec.timed("query", q.name) {
      val df = rec.trace.span(s"${q.name}.build", "query_build")(q.fn(spark, corpus))
      rec.trace.span(s"${q.name}.exec", "query_exec")(
        df.write.format("noop").mode("overwrite").save())
      df
    }
    spark.catalog.clearCache()
    out
  }

  /** Order-independent digest of a query's output: its row count and
    * the exact sum of one 64-bit hash per row. Columns are renamed by
    * position first (outputs may repeat a name), and map-typed columns
    * are hashed through their JSON form. */
  def digest(df: DataFrame): (Long, String) = {
    val renamed = df.toDF(df.columns.indices.map(i => s"c$i"): _*)
    val cols = renamed.schema.fields.toSeq.map { f =>
      if (hasMap(f.dataType)) to_json(struct(col(f.name))) else col(f.name)
    }
    val h = if (cols.isEmpty) lit(0L) else xxhash64(cols: _*)
    val r = renamed.select(h.cast(DecimalType(38, 0)).as("h"))
      .agg(count(lit(1)), sum("h")).head()
    (r.getLong(0), Option(r.getDecimal(1)).map(_.toPlainString).getOrElse("0"))
  }

  private def hasMap(t: DataType): Boolean = t match {
    case _: MapType => true
    case a: ArrayType => hasMap(a.elementType)
    case s: StructType => s.fields.exists(f => hasMap(f.dataType))
    case _ => false
  }

  /** Digests recorded at the commit that defined the benchmark:
    * name -> (rows, digest, stable). An unstable digest changed between
    * two runs of the same commit; such a query is checked by row count
    * only. */
  final case class Expected(rows: Long, digest: String, stable: Boolean)

  def readExpected(path: Path): Map[String, Expected] =
    Files.readAllLines(path).asScala.filterNot(l => l.startsWith("#") || l.isBlank)
      .map(_.split('\t')).map { case Array(n, rows, d, stable) =>
        n -> Expected(rows.toLong, d, stable == "stable")
      }.toMap

  /** Check one query's output against its recorded digest. */
  def check(rec: Recorder, q: QueryDef, df: DataFrame, expected: Map[String, Expected]): Unit =
    expected.get(q.name) match {
      case None =>
        rec.check(s"${q.name}.digest", "a recorded digest", s"no digest recorded for ${q.name}")
      case Some(e) if e.stable =>
        rec.check(s"${q.name}.digest", (e.rows, e.digest), digest(df))
      case Some(e) =>
        rec.check(s"${q.name}.rows", e.rows, df.count())
    }

  /** Run every Registry query twice and write the digest file. A query
    * whose digest differs between the two runs, or from the one already
    * in `out` (a run in an earlier JVM), is marked unstable. */
  def recordDigests(spark: SparkSession, corpus: String, out: Path): Unit = {
    val qs = Registry.all
    val before = if (Files.exists(out)) readExpected(out) else Map.empty[String, Expected]
    def once(): Map[String, (Long, String)] = qs.map { q =>
      val d = digest(q.fn(spark, corpus))
      spark.catalog.clearCache()
      q.name -> d
    }.toMap
    val a = once()
    val b = once()
    val lines = "# query\trows\tdigest\tstable|unstable" +: qs.map { q =>
      val (rows, d) = a(q.name)
      val stable = a(q.name) == b(q.name) &&
        before.get(q.name).forall(e => e.stable && e.rows == rows && e.digest == d)
      s"${q.name}\t$rows\t$d\t${if (stable) "stable" else "unstable"}"
    }
    Files.createDirectories(out.getParent)
    Files.write(out, lines.asJava)
  }
}
