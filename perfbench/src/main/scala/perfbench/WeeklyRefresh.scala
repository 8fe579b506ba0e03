package perfbench

import java.nio.file.{Files, Path}

import scala.jdk.CollectionConverters._

import graft.cli.{Cli, Report}
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._

/** weekly_refresh: the reference's cadence against an on-disk parquet
  * warehouse, driven only through `Cli.runHhs`, `Cli.runQuality` and
  * `Report.render`.
  *
  * A cycle is one week: load that week's HHS file, load a quality file
  * when the week starts a quarter (every 13 weeks, week 0 included),
  * then render the report page. The warm-up is week 0, into an empty
  * warehouse; timed cycles continue with weeks 1, 2, ... into the same,
  * growing warehouse. Each week's files are written, and their expected
  * outcomes worked out by [[Model]], before the cycle starts; every call
  * is checked against the model after it returns.
  */
final class WeeklyRefresh(spark: SparkSession, work: Path, seed: Long, hospitals: Int)
    extends Workload {
  import WeeklyRefresh._

  private val feed = new HhsGen.Feed(seed, hospitals)
  private val model = new Model
  private val warehouse = work.resolve("warehouse")
  private val rejects = work.resolve("rejects").toString
  private var week = 0
  private var next: Seq[Step] = prepare(0)
  /** Warehouse counts read back after the last HHS load. */
  private var last = Map("hospitals" -> 0L, "bed_rows" -> 0L)

  /** CSV rows and bytes of every file loaded so far, by load name. */
  val loaded = scala.collection.mutable.LinkedHashMap.empty[String, (Long, Long)]
  def csvRows: Long = loaded.values.map(_._1).sum
  def csvBytes: Long = loaded.values.map(_._2).sum

  def inputs: Map[String, Any] = Map(
    "hospitals_week_0" -> feed.active(0), "weeks_loaded" -> week,
    "csv_rows_loaded" -> csvRows, "csv_bytes_loaded" -> csvBytes)

  /** Write week `w`'s files and work out what each call must produce. */
  private def prepare(w: Int): Seq[Step] = {
    val dir = work.resolve("input")
    val rows = feed.weeklyFile(w)
    val hhsName = f"hhs_week_$w%03d"
    val hhsCsv = dir.resolve(s"$hhsName.csv")
    val hhsBytes = HhsGen.writeCsv(hhsCsv, HhsGen.header, rows.iterator.map(HhsGen.line))
    val o = Model.applyHhs(model, rows)
    val hhs = HhsLoad(hhsName, hhsCsv, rows.size.toLong, hhsBytes, o,
      model.hospitals.size.toLong, model.bedRows)
    val quality =
      if (w % 13 != 0) None
      else {
        val q = QualityGen.file(feed, w / 13, feed.active(w))
        val name = f"quality_q${w / 13}%02d"
        val csv = dir.resolve(s"$name.csv")
        val bytes = HhsGen.writeCsv(csv, QualityGen.header, q.iterator.map(_.line))
        val date = HhsGen.week(w)
        val qo = Model.applyQuality(model, date, q)
        Some(QualityLoad(name, date, csv, q.size.toLong, bytes, qo, model.qualityPerDate(date)))
      }
    val latest = model.bedsPerWeek.lastKey
    val render = Render(f"render_week_$w%03d", latest, model.bedsPerWeek(latest),
      model.bedsPerWeek.toMap)
    Seq(hhs) ++ quality ++ Seq(render)
  }

  def warmup(rec: Recorder): Unit = cycle(rec)

  def cycle(rec: Recorder): Unit = {
    val steps = next
    steps.foreach(run(rec, _))
    week += 1
    next = prepare(week)
  }

  private def run(rec: Recorder, step: Step): Unit = {
    val wh = warehouse.toString
    step match {
      case s: HhsLoad =>
        loaded(s.name) = (s.rows, s.bytes)
        if (rec.timed("load_hhs", s.name)(Cli.runHhs(spark, s.csv.toString, wh, rejects)).isDefined)
          rec.check(s"${s.name}.counts", hhsExpected(s), {
            val now = hhsActual(spark, wh, rejects)
            val before = last
            last = now
            withDeltas(s, now, before)
          })
      case s: QualityLoad =>
        loaded(s.name) = (s.rows, s.bytes)
        if (rec.timed("load_quality", s.name)(
            Cli.runQuality(spark, s.dataDate, s.csv.toString, wh, rejects)).isDefined)
          rec.check(s"${s.name}.counts", qualityExpected(s),
            qualityActual(spark, wh, rejects, s.dataDate))
      case s: Render =>
        rec.timed("render", s.name)(Report.render(spark, wh, maxRows = 100000)).foreach { text =>
          rec.check(s"${s.name}.records", (s.latestWeek, s.latestCount, s.perWeek),
            parseRecords(text))
        }
    }
  }

  /** Parquet files and bytes in the warehouse. */
  def warehouseFiles: (Long, Long) =
    if (!Files.exists(warehouse)) (0L, 0L)
    else {
      val s = Files.walk(warehouse)
      try {
        val fs = s.iterator().asScala.filter(_.toString.endsWith(".parquet")).toSeq
        (fs.size.toLong, fs.map(Files.size).sum)
      } finally s.close()
    }
}

object WeeklyRefresh {

  sealed trait Step
  final case class HhsLoad(name: String, csv: Path, rows: Long, bytes: Long,
                           outcome: Model.Outcome, hospitals: Long, bedRows: Long)
      extends Step
  final case class QualityLoad(name: String, dataDate: String, csv: Path, rows: Long,
                               bytes: Long, outcome: Model.Outcome, rowsForDate: Long)
      extends Step
  final case class Render(name: String, latestWeek: String, latestCount: Long,
                          perWeek: Map[String, Long]) extends Step

  private def reasons(m: Map[String, Long]): Map[String, Long] =
    m.map { case (k, v) => s"reject:$k" -> v }

  def hhsExpected(s: HhsLoad): Map[String, Long] =
    Map("hospitals" -> s.hospitals, "locations" -> s.hospitals, "bed_rows" -> s.bedRows,
      "new_hospitals" -> s.outcome.newHospitals, "new_bed_rows" -> s.outcome.newBedRows,
      "duplicates_dropped" -> s.outcome.duplicatesDropped) ++
      reasons(s.outcome.rejects)

  /** Add what one load did, from the warehouse counts before and after
    * it: new hospitals, new bed rows, and duplicates dropped (rows in
    * the file that are neither rejected nor a new bed row). */
  def withDeltas(s: HhsLoad, now: Map[String, Long], before: Map[String, Long]): Map[String, Long] = {
    val newBeds = now("bed_rows") - before("bed_rows")
    val rejected = now.collect { case (k, v) if k.startsWith("reject:") => v }.sum
    now ++ Map("new_hospitals" -> (now("hospitals") - before("hospitals")),
      "new_bed_rows" -> newBeds, "duplicates_dropped" -> (s.rows - rejected - newBeds))
  }

  def hhsActual(spark: SparkSession, wh: String, rejects: String): Map[String, Long] =
    Map(
      "hospitals" -> spark.read.parquet(s"$wh/hospitals").count(),
      "locations" -> spark.read.parquet(s"$wh/hospital_locations").count(),
      "bed_rows" -> spark.read.parquet(s"$wh/hospital_bed_information").count()) ++
      reasons(rejectCounts(spark, s"$rejects/hhs"))

  def qualityExpected(s: QualityLoad): Map[String, Long] =
    Map("rows_for_date" -> s.rowsForDate) ++ reasons(s.outcome.rejects)

  def qualityActual(spark: SparkSession, wh: String, rejects: String,
                    dataDate: String): Map[String, Long] =
    Map("rows_for_date" -> spark.read.parquet(s"$wh/hospital_quality_information")
      .filter(col("data_date") === lit(dataDate).cast("date")).count()) ++
      reasons(rejectCounts(spark, s"$rejects/quality"))

  private def rejectCounts(spark: SparkSession, dir: String): Map[String, Long] =
    spark.read.option("header", "true").csv(dir)
      .groupBy("reject_reason").count().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap

  /** The latest week, its record count, and the records-by-week table,
    * read back from the rendered report page. */
  def parseRecords(text: String): (String, Long, Map[String, Long]) = {
    val sections = text.split("\n\n").map(_.linesIterator.toList)
    def section(titlePrefix: String): List[String] =
      sections.find(_.headOption.exists(_.startsWith(s"== $titlePrefix")))
        .getOrElse(sys.error(s"report has no section '$titlePrefix'"))
    def cells(line: String): List[String] = line.split('|').map(_.trim).filter(_.nonEmpty).toList
    val forWeek = section("Records loaded for week ")
    val week = forWeek.head.stripPrefix("== Records loaded for week ").takeWhile(_ != ' ')
    val count = cells(forWeek(3)).head.toLong
    val perWeek = section("Records loaded by week").drop(3).map(cells).collect {
      case List(w, n) => w -> n.toLong
    }.toMap
    (week, count, perWeek)
  }
}
