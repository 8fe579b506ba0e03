package graft.cli

import java.nio.file.{Files, Paths}
import java.util.concurrent.ConcurrentHashMap

import scala.jdk.CollectionConverters._

import graft.SparkSpec
import graft.warehouse.{Reports, Schemas}
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graftbridge.GraftSqlBridge
import org.apache.spark.sql.types.StructType
import org.scalatest.concurrent.Eventually._
import org.scalatest.time.SpanSugar._

/** End-to-end proof for the third reference entry point: load fixture
  * CSVs through the CLI pipelines into a warehouse, then render the
  * dashboard page from it (Reporting.py:275-281's report, text tables
  * instead of Streamlit widgets). */
class ReportSpec extends SparkSpec {

  private lazy val dir = Files.createTempDirectory(
    Paths.get("/root/repo/target"), "report").toString
  private lazy val warehouseDir = s"$dir/warehouse"

  private lazy val loaded: Unit = {
    val hhsHeader = Schemas.hhsRawCsv.fieldNames.mkString(",")
    def hhsRow(pk: String, name: String, state: String, week: String, v: Double) =
      s"$pk,$name,$state,1 Main St,Pittsburgh,15213,42003,POINT (-79 40),$week," +
        Seq.fill(8)(v.toString).mkString(",")
    val hhsCsv = s"$dir/hhs.csv"
    Files.writeString(Paths.get(hhsCsv), (hhsHeader +: Seq(
      hhsRow("A", "Alpha", "PA", "2023-01-06", 10.0),
      hhsRow("B", "Beta", "PA", "2023-01-06", 20.0),
      hhsRow("C", "Gamma", "NY", "2023-01-13", 30.0))).mkString("\n"))

    val qHeader = Schemas.qualityRawCsv.fieldNames
      .map(f => s""""$f"""").mkString(",")
    def qRow(id: String, own: String, emerg: String, rating: String) =
      s""""$id","Acute Care","$own","$emerg","$rating""""
    val qCsv = s"$dir/quality.csv"
    Files.writeString(Paths.get(qCsv), (qHeader +: Seq(
      qRow("A", "Government", "Yes", "3"),
      qRow("B", "Proprietary", "Yes", "5"),
      qRow("C", "Government", "No", "1"))).mkString("\n"))

    Cli.runHhs(spark, hhsCsv, warehouseDir, s"$dir/rejects/hhs")
    Cli.runQuality(spark, "2023-01-20", qCsv, warehouseDir, s"$dir/rejects/quality")
  }

  /** The page as the reference builds it: defaults, then each section's
    * [[Reports]] frame through [[Report.formatTable]], one action after
    * another in section order. */
  private def sequentialPage(wh: String, week: Option[String] = None,
                             dataDate: Option[String] = None,
                             ownership: Option[String] = None): String = {
    def read(table: String, schema: StructType) = spark.read.schema(schema).parquet(s"$wh/$table")
    val hospitals = read("hospitals", Schemas.hospitals)
    val locations = read("hospital_locations", Schemas.hospitalLocations)
    val bedInfo = read("hospital_bed_information", Schemas.hospitalBedInformation)
    val quality = read("hospital_quality_information", Schemas.hospitalQualityInformation)
    val wk = week.getOrElse(bedInfo.agg(max("collection_week")).head().get(0).toString)
    val dd = dataDate.getOrElse(quality.agg(max("data_date")).head().get(0).toString)
    val own = ownership.getOrElse(quality.filter(col("data_date") === lit(dd))
      .groupBy("hospital_ownership").agg(count(lit(1)).as("n"))
      .orderBy(col("n").desc, col("hospital_ownership")).limit(1).head().getString(0))
    Seq(
      s"Records loaded for week $wk (Reporting.py:29-33)" -> Reports.recordsForWeek(bedInfo, wk),
      "Records loaded by week (Reporting.py:36-41)" -> Reports.recordsByWeek(bedInfo),
      s"Bed availability and use, week $wk (Reporting.py:59-67)" -> Reports.bedSumsForWeek(bedInfo, wk),
      s"Bed availability and use, 4 most recent weeks <= $wk (Reporting.py:84-106)" ->
        Reports.bedSumsRecentWeeks(bedInfo, wk),
      "Fraction of beds in use by hospital quality rating (Reporting.py:109-135)" ->
        Reports.bedUseByRating(quality, bedInfo),
      s"All cases vs covid cases by week through $wk (Reporting.py:144-153)" ->
        Reports.casesByWeek(bedInfo, wk),
      s"Emergency-service hospitals by state, top 20, as of $dd (Reporting.py:180-196)" ->
        Reports.emergencyHospitalsByState(quality, hospitals, locations, dd),
      s"Fraction of beds in use by week, ownership = $own (Reporting.py:200-224)" ->
        Reports.bedUseByOwnership(quality, bedInfo, own),
      s"Mean overall rating by state, top and bottom 10, as of $dd (Reporting.py:240-263)" ->
        Reports.ratingByStateTopBottom(quality, locations, dd)
    ).map { case (title, df) => s"== $title ==\n${Report.formatTable(df)}" }
      .mkString(s"graft report — warehouse: $wh\n\n", "\n\n", "\n")
  }

  /** Jobs started, by job group ("" for none). */
  private final class JobGroups extends SparkListener {
    val jobs = new ConcurrentHashMap[String, Integer]()
    override def onJobStart(e: SparkListenerJobStart): Unit = {
      val g = Option(e.properties).flatMap(p => Option(p.getProperty("spark.jobGroup.id")))
      jobs.merge(g.getOrElse(""), 1, (a: Integer, b: Integer) => a + b)
    }
  }

  private def renderThreadsAlive: Boolean =
    Thread.getAllStackTraces.keySet.asScala.exists(t => t.getName == "graft-report" && t.isAlive)

  test("report page renders every dashboard section from the warehouse") {
    loaded
    val page = Report.render(spark, warehouseDir)
    // defaults resolve like the dashboard selectboxes: most recent week
    // and data date, modal ownership
    assert(page.contains("Records loaded for week 2023-01-13"))
    assert(page.contains("as of 2023-01-20"))
    assert(page.contains("ownership = Government"))
    // all 9 sections render, each with its reference citation
    Seq("29-33", "36-41", "59-67", "84-106", "109-135", "144-153",
      "180-196", "200-224", "240-263").foreach(l =>
      assert(page.contains(s"(Reporting.py:$l)"), s"missing section $l\n$page"))
    // R2: both weeks with their record counts appear as table rows
    assert(page.contains("2023-01-06") && page.contains("2023-01-13"))
    // R7: emergency hospitals by state — A and B are PA with
    // emergency_services=Yes, C is NY with No
    assert(page.split("\n").exists(l => l.contains("PA") && l.contains("2")),
      s"expected PA count 2 in:\n$page")
    assert(!page.contains("NY") || !page.split("\n")
      .exists(l => l.contains("NY") && l.contains("Emergency")),
      "NY must not appear in the emergency-services table")
  }

  test("report parameters override the data-derived defaults") {
    loaded
    val page = Report.render(spark, warehouseDir,
      week = Some("2023-01-06"), ownership = Some("Proprietary"))
    assert(page.contains("Records loaded for week 2023-01-06"))
    assert(page.contains("ownership = Proprietary"))
  }

  test("the concurrent page equals the sequential reference, with or without overrides") {
    loaded
    assert(Report.render(spark, warehouseDir) == sequentialPage(warehouseDir))
    assert(Report.render(spark, warehouseDir, week = Some("2023-01-06"),
      ownership = Some("Proprietary")) ==
      sequentialPage(warehouseDir, week = Some("2023-01-06"), ownership = Some("Proprietary")))
  }

  test("every job of a render carries the caller's job group, as many as the sequential page runs") {
    loaded
    Report.render(spark, warehouseDir) // warm: both sides below plan the same queries
    val groups = new JobGroups
    spark.sparkContext.addSparkListener(groups)
    try {
      for (g <- Seq("sequential", "render")) {
        spark.sparkContext.setJobGroup(g, g)
        try if (g == "render") Report.render(spark, warehouseDir) else sequentialPage(warehouseDir)
        finally spark.sparkContext.clearJobGroup()
      }
      GraftSqlBridge.drainListenerBus(spark)
    } finally spark.sparkContext.removeSparkListener(groups)
    // a worker thread that does not carry the caller's local properties
    // (a shared pool, plain Futures) starts its jobs with no group
    val jobs = groups.jobs.asScala.map { case (g, n) => g -> n.intValue }.toMap
    assert(jobs.keySet == Set("sequential", "render"), s"jobs by group: $jobs")
    assert(jobs("render") == jobs("sequential"), s"jobs by group: $jobs")
  }

  test("formatTable aligns, formats NULL, and truncates at maxRows") {
    import spark.implicits._
    val df = Seq((1L, Option(2.5), "x"), (2L, None, "longer"))
      .toDF("id", "v", "s")
    val t = Report.formatTable(df)
    assert(t.contains("NULL"))
    assert(t.contains("2.5"))
    val truncated = Report.formatTable(
      spark.range(10).toDF("id"), maxRows = 3)
    assert(truncated.contains("truncated at 3 rows"))
    assert(truncated.split("\n").count(_.startsWith("|")) == 5) // header+sep+3
  }

  test("empty warehouse fails fast with a load hint, not a null default") {
    val e = intercept[IllegalArgumentException] {
      Report.render(spark, s"$dir/nowhere")
    }
    assert(e.getMessage.contains("load HHS data first"))
    // the other actions ran to the end before the throw, and the pool is gone
    GraftSqlBridge.drainListenerBus(spark)
    assert(spark.sparkContext.statusTracker.getActiveJobIds.isEmpty)
    eventually(timeout(5.seconds))(assert(!renderThreadsAlive))
  }
}
