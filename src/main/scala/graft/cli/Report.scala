package graft.cli

import java.util.concurrent.{CompletableFuture, CompletionException, Executors, TimeUnit}

import scala.util.{Failure, Try}

import graft.warehouse.{Reports, Schemas}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graftbridge.GraftSqlBridge

/** The reference dashboard's report page as a CLI (Reporting.py:275-281
  * renders the same query sequence through Streamlit selectboxes +
  * matplotlib; the queries are the content, the widget layer is not) —
  * this main makes the reference's third entry point (`streamlit run
  * Reporting.py`) demonstrable end-to-end beside LoadHhs/LoadQuality:
  * load CSVs into the warehouse, then render every dashboard table from
  * it as formatted text.
  *
  * Each section is one [[graft.warehouse.Reports]] DataFrame pipeline;
  * the driver collects only display-sized results (weeks, states,
  * ratings — the reports aggregate before they return), so rendering
  * cost is independent of warehouse size. The reference runs its queries
  * one after another only because a Streamlit script reads from one
  * connection; [[render]] runs them concurrently and prints them in the
  * reference's order.
  */
object Report {

  /** Render one result frame as an aligned text table. `take(max+1)` so
    * truncation is detected without a count() over the full result;
    * numeric columns right-align. Display-sized collects only — every
    * report aggregates to a bounded frame before this runs. */
  def formatTable(df: DataFrame, maxRows: Int = 100): String = {
    val numeric = df.schema.fields.map(_.dataType match {
      case _: org.apache.spark.sql.types.NumericType => true
      case _ => false
    })
    def cell(v: Any): String = v match {
      case null => "NULL"
      case d: Double =>
        if (d.isNaN || d.isInfinite) d.toString
        else BigDecimal(d).setScale(4, BigDecimal.RoundingMode.HALF_UP)
          .underlying.stripTrailingZeros.toPlainString
      case other => String.valueOf(other)
    }
    val header = df.columns.toSeq
    val taken = df.take(maxRows + 1)
    val rows = taken.take(maxRows).map(_.toSeq.map(cell)).toSeq
    val widths = header.indices.map(i =>
      (header(i).length +: rows.map(_(i).length)).max)
    def line(cells: Seq[String], pad: Char = ' '): String =
      cells.zipWithIndex.map { case (c, i) =>
        val fill = pad.toString * (widths(i) - c.length)
        if (numeric(i) && pad == ' ') fill + c else c + fill
      }.mkString("| ", " | ", " |")
    val sep = line(header.map(_ => ""), '-')
    val body =
      if (rows.isEmpty) Seq("(no rows)")
      else rows.map(line(_)) ++
        (if (taken.length > maxRows) Seq(s"... (truncated at $maxRows rows)")
         else Nil)
    (Seq(line(header), sep) ++ body).mkString("\n")
  }

  /** The full report page over a parquet warehouse. Parameters default
    * from the data like the dashboard's selectboxes: `week` = most
    * recent collection_week, `dataDate` = most recent quality load,
    * `ownership` = the modal ownership at that date.
    *
    * The page is 12 Spark actions: the three defaults and the nine
    * tables. Each starts as soon as the values it needs are known:
    *  - `week`, `dataDate`, records by week and bed use by rating at once;
    *  - `ownership`, emergency hospitals by state and rating by state
    *    after `dataDate`;
    *  - the four other bed-information tables after `week`;
    *  - bed use by ownership after `ownership`.
    * Each action runs on its own thread of a pool this call owns, through
    * `SQLExecution.withThreadLocalCaptured`, so its jobs carry the
    * caller's job group, local properties, SQL conf and active session.
    * The page is assembled in its fixed section order, so the text does
    * not depend on which action finishes first. If any action fails,
    * `render` waits for every other one to finish, then rethrows the first
    * failure in page order (defaults first, then the sections); no Spark
    * job outlives the call. */
  def render(spark: SparkSession, warehouseDir: String,
             week: Option[String] = None, dataDate: Option[String] = None,
             ownership: Option[String] = None, maxRows: Int = 100): String = {
    val hospitals = Cli.readOrEmpty(
      spark, s"$warehouseDir/hospitals", Schemas.hospitals)
    val locations = Cli.readOrEmpty(
      spark, s"$warehouseDir/hospital_locations", Schemas.hospitalLocations)
    val bedInfo = Cli.readOrEmpty(
      spark, s"$warehouseDir/hospital_bed_information",
      Schemas.hospitalBedInformation)
    val quality = Cli.readOrEmpty(
      spark, s"$warehouseDir/hospital_quality_information",
      Schemas.hospitalQualityInformation)

    val pool = Executors.newFixedThreadPool(Actions, (r: Runnable) => {
      val t = new Thread(r, "graft-report")
      t.setDaemon(true)
      t
    })
    try {
      // every action is submitted at once and blocks on the values it
      // needs; with a thread per action none waits for a free thread
      def action[T](body: => T): CompletableFuture[T] =
        GraftSqlBridge.withThreadLocalCaptured(spark, pool)(body)
      def table(df: => DataFrame): CompletableFuture[String] =
        action(formatTable(df, maxRows))

      // selectbox defaults: single-row scalar aggregates, not data pulls
      val wk = action(week.getOrElse {
        val r = bedInfo.agg(max("collection_week")).head()
        require(!r.isNullAt(0), s"$warehouseDir has no bed information: " +
          "load HHS data first or pass --week explicitly")
        r.get(0).toString
      })
      val dd = action(dataDate.getOrElse {
        val r = quality.agg(max("data_date")).head()
        require(!r.isNullAt(0), s"$warehouseDir has no quality information: " +
          "load quality data first or pass --data-date explicitly")
        r.get(0).toString
      })
      val own = action(ownership.getOrElse {
        quality.filter(col("data_date") === lit(dd.join()))
          .groupBy("hospital_ownership").agg(count(lit(1)).as("n"))
          .orderBy(col("n").desc, col("hospital_ownership")).limit(1)
          .head().getString(0)
      })

      val tables = Seq(
        table(Reports.recordsForWeek(bedInfo, wk.join())),
        table(Reports.recordsByWeek(bedInfo)),
        table(Reports.bedSumsForWeek(bedInfo, wk.join())),
        table(Reports.bedSumsRecentWeeks(bedInfo, wk.join())),
        table(Reports.bedUseByRating(quality, bedInfo)),
        table(Reports.casesByWeek(bedInfo, wk.join())),
        table(Reports.emergencyHospitalsByState(quality, hospitals, locations, dd.join())),
        table(Reports.bedUseByOwnership(quality, bedInfo, own.join())),
        table(Reports.ratingByStateTopBottom(quality, locations, dd.join())))

      // wait for every action before rethrowing any failure
      (Seq(wk, dd, own) ++ tables).map(f => Try(f.join())).collectFirst {
        case Failure(e: CompletionException) if e.getCause != null => e.getCause
        case Failure(e) => e
      }.foreach(e => throw e)

      val (w, d, o) = (wk.join(), dd.join(), own.join())
      val titles = Seq(
        s"Records loaded for week $w (Reporting.py:29-33)",
        "Records loaded by week (Reporting.py:36-41)",
        s"Bed availability and use, week $w (Reporting.py:59-67)",
        s"Bed availability and use, 4 most recent weeks <= $w (Reporting.py:84-106)",
        "Fraction of beds in use by hospital quality rating (Reporting.py:109-135)",
        s"All cases vs covid cases by week through $w (Reporting.py:144-153)",
        s"Emergency-service hospitals by state, top 20, as of $d (Reporting.py:180-196)",
        s"Fraction of beds in use by week, ownership = $o (Reporting.py:200-224)",
        s"Mean overall rating by state, top and bottom 10, as of $d (Reporting.py:240-263)")
      titles.zip(tables).map { case (title, t) =>
        s"== $title ==\n${t.join()}"
      }.mkString(s"graft report — warehouse: $warehouseDir\n\n", "\n\n", "\n")
    } finally {
      pool.shutdown()
      pool.awaitTermination(Long.MaxValue, TimeUnit.NANOSECONDS)
    }
  }

  /** Spark actions on the report page: three selectbox defaults and nine
    * tables, one pool thread each. */
  private val Actions = 12

  private def flags(rest: Seq[String]): Map[String, String] = {
    val known = Set("--warehouse", "--week", "--data-date", "--ownership")
    val pairs = rest.grouped(2).toSeq
    pairs.foreach {
      case Seq(k, v) if known(k) && v.startsWith("--") =>
        sys.error(s"flag '$k' is missing a value (got '$v')")
      case Seq(k, _) if known(k) => ()
      case Seq(k, _) => sys.error(
        s"unknown flag '$k' (expected ${known.mkString(", ")})")
      case Seq(odd) => sys.error(s"stray trailing argument '$odd'")
      case _ => ()
    }
    pairs.collect { case Seq(k, v) => k -> v }.toMap
  }

  /** `runMain graft.cli.Report [--warehouse dir] [--week yyyy-MM-dd]
    * [--data-date yyyy-MM-dd] [--ownership name]` */
  def main(args: Array[String]): Unit = {
    val m = flags(args.toIndexedSeq)
    val spark = Cli.session("graft-report")
    try println(render(spark, m.getOrElse("--warehouse", "warehouse"),
      m.get("--week"), m.get("--data-date"), m.get("--ownership")))
    finally spark.stop()
  }
}
