package graft.warehouse

import java.nio.file.{Files, Paths}
import java.util.concurrent.ConcurrentHashMap

import scala.jdk.CollectionConverters._

import graft.SparkSpec
import graft.cli.Cli
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart, SparkListenerStageCompleted}
import org.apache.spark.sql.graftbridge.GraftSqlBridge

/** Pins how a warehouse load runs: jobs per load, one parse of the CSV,
  * all-or-nothing publish, and idempotent re-runs (see [[LoadWriter]]). */
class LoadPassSpec extends SparkSpec {

  private val dir = Files.createTempDirectory(
    Files.createDirectories(Paths.get("target").toAbsolutePath), "loadpass")

  private val hhsHeader = Schemas.hhsRawCsv.fieldNames.mkString(",")
  private def hhsRow(pk: String, name: String, week: String, beds: String) =
    s"$pk,$name,PA,1 Main St,Pittsburgh,15213,42003,POINT (-79 40),$week," +
      Seq.fill(8)(beds).mkString(",")

  /** Week `w`'s HHS file for hospitals `pks`: a within-file duplicate, a
    * null-name reject and a negative-metric reject ride along. Returns
    * the path and its data-row count. */
  private def hhsFile(name: String, week: String, pks: Seq[String]): (String, Long) = {
    val rows = pks.map(pk => hhsRow(pk, s"Hospital $pk", week, "10.0")) ++ Seq(
      hhsRow(pks.head, "Duplicate", week, "11.0"),
      hhsRow("RN", "", week, "5.0"),
      hhsRow("RM", "Negative", week, "-2.0"))
    val p = dir.resolve(s"$name.csv")
    Files.writeString(p, (hhsHeader +: rows).mkString("\n"))
    (p.toString, rows.size.toLong)
  }

  private def qualityFile(name: String, ids: Seq[String]): (String, Long) = {
    val rows = ids.map(id => s"$id,Acute Care,Proprietary,Yes,4") :+
      "F-neg,Acute Care,Proprietary,No,-1"
    val p = dir.resolve(s"$name.csv")
    val header = "Facility ID,Hospital Type,Hospital Ownership,Emergency Services," +
      "Hospital overall rating"
    Files.writeString(p, (header +: rows).mkString("\n"))
    (p.toString, rows.size.toLong)
  }

  private val tables = Map("hospitals" -> Schemas.hospitals,
    "hospital_locations" -> Schemas.hospitalLocations,
    "hospital_bed_information" -> Schemas.hospitalBedInformation,
    "hospital_quality_information" -> Schemas.hospitalQualityInformation)

  // the schema is given because a load that commits no rows can leave a
  // table directory with no data file to infer one from
  private def rows(wh: String, table: String): Long =
    if (Files.exists(Paths.get(s"$wh/$table")))
      spark.read.schema(tables(table)).parquet(s"$wh/$table").count()
    else 0L

  private def counts(wh: String): Map[String, Long] = tables.keys.map(t => t -> rows(wh, t)).toMap

  /** Every file under `root`, relative to it, with its size. */
  private def files(root: String): Map[String, Long] = {
    val base = Paths.get(root)
    if (!Files.exists(base)) Map.empty
    else {
      val s = Files.walk(base)
      try s.iterator().asScala.filter(Files.isRegularFile(_))
        .map(p => base.relativize(p).toString -> Files.size(p)).toMap
      finally s.close()
    }
  }

  /** Jobs, and input records read by stages whose lineage scans a CSV,
    * per job group. */
  private final class Passes extends SparkListener {
    private val groupOfStage = new ConcurrentHashMap[Int, String]()
    val jobs = new ConcurrentHashMap[String, Integer]()
    val csvRecords = new ConcurrentHashMap[String, java.lang.Long]()

    override def onJobStart(e: SparkListenerJobStart): Unit =
      Option(e.properties).flatMap(p => Option(p.getProperty("spark.jobGroup.id"))).foreach { g =>
        jobs.merge(g, 1, (a: Integer, b: Integer) => a + b)
        e.stageInfos.foreach(s => groupOfStage.put(s.stageId, g))
      }

    override def onStageCompleted(e: SparkListenerStageCompleted): Unit = {
      val s = e.stageInfo
      val scansCsv = s.rddInfos.exists(_.scope.exists(_.name.toLowerCase.contains("scan csv")))
      Option(groupOfStage.get(s.stageId)).filter(_ => scansCsv).foreach { g =>
        csvRecords.merge(g, s.taskMetrics.inputMetrics.recordsRead,
          (a: java.lang.Long, b: java.lang.Long) => a + b)
      }
    }
  }

  private def inGroup[T](group: String)(body: => T): T = {
    spark.sparkContext.setJobGroup(group, group)
    try body finally spark.sparkContext.clearJobGroup()
  }

  private def cacheIsEmpty: Boolean =
    spark.asInstanceOf[org.apache.spark.sql.classic.SparkSession]
      .sharedState.cacheManager.isEmpty

  test("each load parses its CSV once and runs a pinned number of jobs") {
    val wh = s"$dir/passes_wh"; val rej = s"$dir/passes_rej"
    val (week1, rows1) = hhsFile("passes_w1", "2023-01-06", (1 to 20).map(i => s"H$i"))
    val (week2, rows2) = hhsFile("passes_w2", "2023-01-13", (5 to 25).map(i => s"H$i"))
    val (quality, qualityRows) = qualityFile("passes_q", (1 to 20).map(i => s"H$i"))
    val passes = new Passes
    spark.sparkContext.addSparkListener(passes)
    try {
      inGroup("hhs_first")(Cli.runHhs(spark, week1, wh, rej))
      inGroup("hhs_later")(Cli.runHhs(spark, week2, wh, rej))
      inGroup("quality")(Cli.runQuality(spark, "2023-07-01", quality, wh, rej))
      GraftSqlBridge.drainListenerBus(spark)
    } finally spark.sparkContext.removeSparkListener(passes)

    val jobs = passes.jobs.asScala.map { case (g, n) => g -> n.intValue }.toMap
    val csv = passes.csvRecords.asScala.map { case (g, n) => g -> n.longValue }.toMap
    assert(jobs == Map("hhs_first" -> 8, "hhs_later" -> 11, "quality" -> 5), s"jobs per load: $jobs")
    // a stage that reads the persisted frame back counts one record per
    // cached batch (one per partition here, far fewer than the file's
    // rows), so the quotient is the number of times the CSV was parsed
    val fileRows = Map("hhs_first" -> rows1, "hhs_later" -> rows2, "quality" -> qualityRows)
    val parses = csv.map { case (g, n) => g -> n / fileRows(g) }
    assert(parses == Map("hhs_first" -> 1, "hhs_later" -> 1, "quality" -> 1),
      s"CSV-lineage records read per load: $csv, file rows: $fileRows")
  }

  test("a later load's new hospitals land in hospitals and hospital_locations alike") {
    // a cached frame derived from a warehouse read would be recomputed
    // against the first sink's new files before the second sink reads
    // it, and hospital_locations would silently gain no rows
    val wh = s"$dir/new_wh"; val rej = s"$dir/new_rej"
    Cli.runHhs(spark, hhsFile("new_w1", "2023-01-06", (1 to 20).map(i => s"H$i"))._1, wh, rej)
    val before = counts(wh)
    Cli.runHhs(spark, hhsFile("new_w2", "2023-01-13", (5 to 25).map(i => s"H$i"))._1, wh, rej)
    val added = counts(wh).map { case (t, n) => t -> (n - before(t)) }
    assert(added == Map("hospitals" -> 5L, "hospital_locations" -> 5L,
      "hospital_bed_information" -> 21L, "hospital_quality_information" -> 0L), s"$added")
  }

  test("a load that fails after staging a sink leaves the warehouse as it was") {
    val wh = s"$dir/fail_wh"; val rej = s"$dir/fail_rej"
    Cli.runHhs(spark, hhsFile("fail_w1", "2023-01-06", (1 to 20).map(i => s"H$i"))._1, wh, rej)
    val week2 = hhsFile("fail_w2", "2023-01-13", (5 to 25).map(i => s"H$i"))._1
    val live = files(wh)
    val liveRejects = files(rej)
    spark.catalog.clearCache()

    // every table is staged, then the reject directory cannot be created
    val notADir = dir.resolve("fail_rejects_file")
    Files.writeString(notADir, "not a directory")
    intercept[java.io.IOException](Cli.runHhs(spark, week2, wh, notADir.toString))
    assert(files(wh) == live)
    assert(!Files.exists(Paths.get(s"$wh/${LoadWriter.StagingDir}")))
    assert(cacheIsEmpty)

    // the rejects are swapped and the hospitals files moved before the
    // locations table refuses its files: both moves are put back
    val locations = Paths.get(s"$wh/hospital_locations")
    val aside = dir.resolve("fail_locations_aside")
    Files.move(locations, aside)
    Files.writeString(locations, "not a directory")
    val sabotaged = files(wh)
    intercept[java.io.IOException](Cli.runHhs(spark, week2, wh, rej))
    assert(files(wh) == sabotaged)
    assert(files(rej) == liveRejects)
    assert(!Files.exists(Paths.get(s"$wh/${LoadWriter.StagingDir}")))
    assert(cacheIsEmpty)

    // repaired, the same load commits in full
    Files.delete(locations)
    Files.move(aside, locations)
    val before = counts(wh)
    Cli.runHhs(spark, week2, wh, rej)
    assert(counts(wh)("hospitals") == before("hospitals") + 5)
    assert(counts(wh)("hospital_locations") == before("hospital_locations") + 5)
  }

  /** Load two weeks and a quality file into the warehouse at local path
    * `wh`, given to the loaders as `whGiven`, then load them again. */
  private def rerun(name: String, wh: String, whGiven: String, rej: String): Unit = {
    val week1 = hhsFile(s"${name}_w1", "2023-01-06", (1 to 20).map(i => s"H$i"))._1
    val week2 = hhsFile(s"${name}_w2", "2023-01-13", (5 to 25).map(i => s"H$i"))._1
    val (quality, _) = qualityFile(s"${name}_q", (1 to 20).map(i => s"H$i"))
    Cli.runHhs(spark, week1, whGiven, rej)
    Cli.runHhs(spark, week2, whGiven, rej)
    Cli.runQuality(spark, "2023-07-01", quality, whGiven, rej)
    val committed = counts(wh)
    assert(committed == Map("hospitals" -> 25L, "hospital_locations" -> 25L,
      "hospital_bed_information" -> 41L, "hospital_quality_information" -> 20L), s"$committed")

    Cli.runHhs(spark, week2, whGiven, rej)
    Cli.runHhs(spark, week1, whGiven, rej)
    Cli.runQuality(spark, "2023-07-01", quality, whGiven, rej)
    assert(counts(wh) == committed)
    assert(!Files.exists(Paths.get(s"$wh/${LoadWriter.StagingDir}")))
  }

  test("re-running a committed load adds no rows to any table") {
    val wh = s"$dir/rerun_wh"; val rej = s"$dir/rerun_rej"
    rerun("rerun", wh, wh, rej)
    // each reject directory holds its latest load's rejects only
    def reasons(kind: String): Map[String, Long] =
      spark.read.option("header", "true").csv(s"$rej/$kind").groupBy("reject_reason").count()
        .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(reasons("hhs").values.sum == 2L)
    assert(reasons("quality") == Map("rating_negative" -> 1L, "duplicate" -> 20L))
  }

  test("a re-run into a file:// warehouse adds no rows, and the report renders from it") {
    // an existence check that reads the URI as a local path sees a fresh
    // warehouse on every load, and the re-run appends every row again
    val wh = s"$dir/uri_wh"
    rerun("uri", wh, s"file://$wh", s"$dir/uri_rej")
    val page = graft.cli.Report.render(spark, s"file://$wh")
    assert(page.contains("Records loaded for week 2023-01-13"), page)
    assert(page.contains("as of 2023-07-01"), page)
  }

  test("a header-only or zero-byte CSV commits no rows; a quality CSV without the CMS columns fails") {
    val wh = s"$dir/degenerate_wh"; val rej = s"$dir/degenerate_rej"
    def file(name: String, text: String): String = {
      val p = dir.resolve(s"$name.csv"); Files.writeString(p, text); p.toString
    }
    val hhsHeaderOnly = file("degenerate_hhs_header", hhsHeader + "\n")
    val hhsZeroByte = file("degenerate_hhs_empty", "")
    val qualityHeaderOnly = file("degenerate_q_header",
      "Facility ID,Hospital Type,Hospital Ownership,Emergency Services,Hospital overall rating\n")
    def loadEmpties(): Unit = {
      Cli.runHhs(spark, hhsHeaderOnly, wh, rej)
      Cli.runHhs(spark, hhsZeroByte, wh, rej)
      Cli.runQuality(spark, "2023-07-01", qualityHeaderOnly, wh, rej)
    }

    loadEmpties()
    assert(counts(wh).values.forall(_ == 0L), s"${counts(wh)}")
    // the empty loads leave nothing in the way of a real one
    Cli.runHhs(spark, hhsFile("degenerate_w1", "2023-01-06", (1 to 20).map(i => s"H$i"))._1, wh, rej)
    Cli.runQuality(spark, "2023-07-01", qualityFile("degenerate_q", (1 to 20).map(i => s"H$i"))._1, wh, rej)
    val committed = counts(wh)
    assert(committed == Map("hospitals" -> 20L, "hospital_locations" -> 20L,
      "hospital_bed_information" -> 20L, "hospital_quality_information" -> 20L), s"$committed")
    loadEmpties()
    assert(counts(wh) == committed)

    val live = files(wh)
    for (bad <- Seq(file("degenerate_q_empty", ""), hhsHeaderOnly)) {
      val e = intercept[IllegalArgumentException](Cli.runQuality(spark, "2023-07-01", bad, wh, rej))
      assert(e.getMessage.contains(bad) && e.getMessage.contains("'Facility ID'") &&
        e.getMessage.contains("'Hospital overall rating'"), e.getMessage)
      assert(files(wh) == live)
      assert(!Files.exists(Paths.get(s"$wh/${LoadWriter.StagingDir}")))
    }
  }
}
