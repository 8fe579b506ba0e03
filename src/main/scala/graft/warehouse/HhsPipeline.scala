package graft.warehouse

import graft.etl.{Cleaning, Dedup, Validation}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** HHS weekly hospital-capacity ingest (reference: load_hhs.py end to end).
  *
  * The reference does per-row work — up to 6 network round-trips per row
  * (3 dup-probe SELECTs + 3 INSERTs, load_hhs.py:75-137). This pipeline is
  * set-based: scan → clean → validate → dedup (within-batch first-wins +
  * anti-join vs warehouse) → three table projections + a reject frame.
  * [[load]] builds all of it lazily from ONE scanned-and-validated frame;
  * [[write]] parses the CSV once (the shared [[LoadWriter]] persists that
  * frame while the sinks run) and publishes the four sinks together or
  * not at all. Stage boundaries only at the dedup shuffles; at 100 TB
  * the anti-join's existing-keys side is key-pruned and broadcastable
  * when the warehouse key set fits, otherwise a shuffled anti-join.
  */
object HhsPipeline {

  /** The sink frames of one load, all derived from `validated`: the
    * cleaned CSV rows tagged with their `reject_reason` (null = valid). */
  final case class Result(
      hospitals: DataFrame,
      locations: DataFrame,
      bedInfo: DataFrame,
      rejects: DataFrame,
      validated: DataFrame)

  /** Read a raw HHS CSV string-preserving, with a file-order index so
    * first-occurrence-wins dedup is deterministic in a distributed read.
    * monotonically_increasing_id is non-contiguous but ORDER-PRESERVING
    * within and across parquet/csv file splits, which is all "first
    * occurrence" needs. */
  def readRaw(spark: SparkSession, csvPath: String): DataFrame =
    spark.read
      .option("header", "true")
      .schema(Schemas.hhsRawCsv)
      .csv(csvPath)
      .withColumn("__file_order", monotonically_increasing_id())

  /** Clean per SURVEY §2.2: sentinel -999999 → NULL (P4), metric casts
    * (P8), date parse (P9). String columns stay raw for the reject sink. */
  def clean(raw: DataFrame): DataFrame = {
    val sentinelCleared = Cleaning.sentinelToNull(
      Cleaning.castColumns(raw, Schemas.hhsMetricColumns, DoubleType),
      -999999d, Schemas.hhsMetricColumns)
    sentinelCleared.withColumn("collection_week", Cleaning.parseDate(col("collection_week")))
  }

  /** V1 (8 metric non-negativity with int()-truncation quirk) + V3
    * (hospital_name NOT NULL), elif order matching load_hhs.py:104-127. */
  def validationRules: Seq[Validation.Rule] =
    Validation.Rule("hospital_name_null", Validation.notNull(col("hospital_name"))) +:
      Schemas.hhsMetricColumns.map(c =>
        Validation.Rule(s"negative_$c", Validation.nonNegativeTruncated(col(c))))

  /** Full load. `existing*` are the current warehouse tables (empty
    * DataFrames on first load). */
  def load(spark: SparkSession, csvPath: String,
           existingHospitals: DataFrame, existingBedInfo: DataFrame): Result = {
    val validated = Validation.tag(clean(readRaw(spark, csvPath)), validationRules)
    val (valid, rejects) = Validation.partition(validated)

    // Hospitals + Locations: key = hospital_pk, first occurrence in file
    // wins (load_hhs.py:75,89), then drop keys already in the warehouse.
    val firstPerHospital = Dedup.firstOccurrenceWins(valid, Seq("hospital_pk"), "__file_order")
    val newHospitalRows = Dedup.antiJoinExisting(
      firstPerHospital, existingHospitals, Seq("hospital_pk"))

    val hospitals = newHospitalRows.select(col("hospital_pk"), col("hospital_name"))
    val locations = newHospitalRows.select(
      col("hospital_pk").as("hospital_fk"),
      col("state"), col("address"), col("city"), col("zip"),
      col("fips_code"), col("geocoded_hospital_address"))

    // BedInformation: composite key (hospital_fk, collection_week)
    // (load_hhs.py:103).
    val firstPerWeek = Dedup.firstOccurrenceWins(
      valid, Seq("hospital_pk", "collection_week"), "__file_order")
    val bedInfo = Dedup.antiJoinExisting(
      firstPerWeek.select(
        (col("hospital_pk").as("hospital_fk") +: col("collection_week") +:
          Schemas.hhsMetricColumns.map(col)).toIndexedSeq: _*),
      existingBedInfo, Seq("hospital_fk", "collection_week"))

    Result(hospitals, locations, bedInfo, rejects.drop("__file_order"), validated)
  }

  /** Parquet sinks: bed info partitioned by collection_week so every
    * date-filtered report gets partition pruning (SURVEY §4). The three
    * tables and the reject CSV commit together through [[LoadWriter]] —
    * the analogue of the reference's whole-load transaction
    * (load_hhs.py:148). */
  def write(r: Result, warehouseDir: String, rejectDir: String): Unit =
    LoadWriter.write(r.validated, warehouseDir, Seq(
      LoadWriter.Table("hospitals", r.hospitals),
      LoadWriter.Table("hospital_locations", r.locations),
      LoadWriter.Table("hospital_bed_information", r.bedInfo, Seq("collection_week"))),
      r.rejects, s"$rejectDir/hhs")
}
