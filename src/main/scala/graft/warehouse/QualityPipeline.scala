package graft.warehouse

import graft.etl.{Cleaning, Dedup, Validation}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** CMS hospital-quality ingest (reference: load_quality.py end to end).
  *
  * The reference already evolved toward set-based execution (one IN-probe
  * + batched inserts); this is its natural Spark form: scan (5-column
  * projection pushed into the reader) → rename → recode → cast → literal
  * date → anti-join dedup → validate → write. The engine binds insert
  * columns BY NAME — the reference's positional binding
  * (load_quality.py:127) is a latent bug, documented divergence
  * (SURVEY §7.4.6).
  */
object QualityPipeline {

  /** The sink frames of one load, both derived from `validated`: the
    * cleaned CSV rows tagged with their `reject_reason` (null = valid). */
  final case class Result(quality: DataFrame, rejects: DataFrame, validated: DataFrame)

  /** S2 — projected scan: only the 5 consumed columns reach the reader
    * (reference: load_quality.py:98-99 usecols). A file whose header lacks
    * any of them (a wrong file, or an empty one) fails here, naming the
    * file and the missing columns. */
  def readRaw(spark: SparkSession, csvPath: String): DataFrame = {
    val raw = spark.read
      .option("header", "true")
      .csv(csvPath)
    // case-insensitive, as Spark resolves the select below
    val header = raw.columns.map(_.toLowerCase).toSet
    val missing = Schemas.qualityRawCsv.fieldNames.filterNot(c => header(c.toLowerCase))
    require(missing.isEmpty, s"$csvPath is not a CMS hospital quality CSV: " +
      s"its header lacks ${missing.map(c => s"'$c'").mkString(", ")}")
    raw.select(Schemas.qualityRawCsv.fieldNames.toIndexedSeq.map(col): _*)
  }

  /** P2 rename, P6 'Not Available'→"0", P7 Yes/No→bool, P8 cast,
    * P3 literal data_date (reference: load_quality.py:102-107). */
  def clean(raw: DataFrame, dataDate: String): DataFrame = {
    val renamed = Cleaning.normalizeColumnNames(raw)
    val recoded = Cleaning.recode(renamed, Map("Not Available" -> "0"),
      renamed.columns.toIndexedSeq)
    Cleaning.withLiteralDate(
      recoded
        .withColumn("hospital_overall_rating",
          Cleaning.toDouble(col("hospital_overall_rating")))
        .withColumn("emergency_services",
          Cleaning.yesNoToBoolean(col("emergency_services"))),
      "data_date", dataDate)
  }

  /** V2 — the DDL CHECK (hospital_overall_rating >= 0, ipynb cell-3) as a
    * pre-write validation rule (Spark has no CHECK constraints). */
  def validationRules: Seq[Validation.Rule] = Seq(
    Validation.Rule("facility_id_null", Validation.notNull(col("facility_id"))),
    Validation.Rule("rating_negative",
      col("hospital_overall_rating").isNull || col("hospital_overall_rating") >= 0))

  def load(spark: SparkSession, csvPath: String, dataDate: String,
           existingQuality: DataFrame): Result = {
    val validated = Validation.tag(clean(readRaw(spark, csvPath), dataDate), validationRules)
    val (valid, invalid) = Validation.partition(validated)
    // D3 — set-based dedup vs same-date warehouse snapshot
    // (load_quality.py:122-126): existing side filtered to data_date then
    // key-pruned; Catalyst broadcasts it when small.
    val sameDate = existingQuality.filter(col("data_date") === lit(dataDate).cast(DateType))
    val fresh = Dedup.antiJoinExisting(valid, sameDate, Seq("facility_id"))
    val dups = Dedup.duplicatesOfExisting(valid, sameDate, Seq("facility_id"))
      .withColumn("reject_reason", lit("duplicate"))
    val quality = fresh.select(
      col("facility_id"), col("hospital_overall_rating"), col("emergency_services"),
      col("hospital_type"), col("hospital_ownership"), col("data_date"))
    Result(quality, invalid.unionByName(dups, allowMissingColumns = true), validated)
  }

  /** One scan of the CSV; the table and the reject CSV commit together
    * through [[LoadWriter]]. */
  def write(r: Result, warehouseDir: String, rejectDir: String): Unit =
    LoadWriter.write(r.validated, warehouseDir, Seq(
      LoadWriter.Table("hospital_quality_information", r.quality, Seq("data_date"))),
      r.rejects, s"$rejectDir/quality")
}
