package graft.etl

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Validation-split: one pass over the input produces a (valid, rejects)
  * pair of DataFrames, replacing the reference's per-row try/except +
  * reject-index bookkeeping (reference: load_hhs.py:104-127, V1-V3 in
  * SURVEY.md §2.3). Rejects carry a `reject_reason` column naming the
  * FIRST failing rule, matching the reference's elif-chain order.
  *
  * Scale notes: both halves are narrow filters over the same scan;
  * Catalyst computes the rule expressions once per row inside codegen.
  * No shuffle, no second read of the source (the reference re-reads the
  * CSV for rejects — load_hhs.py:153-155; we derive both sides from one
  * scan).
  */
object Validation {

  /** A named validation rule: `passes` must be true (or the row rejects
    * with `name` as its reason). */
  final case class Rule(name: String, passes: Column)

  /** V1 — non-negativity with the reference's `int()` truncation quirk:
    * a value in (-1, 0) truncates to 0 and PASSES (load_hhs.py:104-127).
    * Spark's double→long cast truncates toward zero, matching `int()`. */
  def nonNegativeTruncated(c: Column): Column =
    c.isNull || c.cast(LongType) >= 0

  /** V3 — NOT NULL constraint (reference: ipynb cell-0 hospital_name). */
  def notNull(c: Column): Column = c.isNotNull

  /** `df` plus a `reject_reason` column: the first failing rule's name,
    * null when every rule passes. NULL rule results count as failures
    * (SQL three-valued logic would silently drop them from BOTH sides
    * of the split otherwise). This is the frame a load computes once
    * and feeds to every sink. */
  def tag(df: DataFrame, rules: Seq[Rule]): DataFrame = {
    require(rules.nonEmpty, "validation requires at least one rule")
    val firstFailure = rules.reverse.foldLeft(lit(null).cast(StringType)) {
      case (acc, Rule(name, passes)) => when(!coalesce(passes, lit(false)), lit(name)).otherwise(acc)
    }
    df.withColumn(ReasonCol, firstFailure)
  }

  /** (valid, rejects) of a [[tag]]ged frame: valid rows lose the reason
    * column, rejects keep it. */
  def partition(tagged: DataFrame): (DataFrame, DataFrame) =
    (tagged.filter(col(ReasonCol).isNull).drop(ReasonCol),
     tagged.filter(col(ReasonCol).isNotNull))

  /** Split `df` into (valid, rejects). A row is valid iff every rule
    * passes; rejects get `reject_reason` = first failing rule's name. */
  def split(df: DataFrame, rules: Seq[Rule]): (DataFrame, DataFrame) =
    partition(tag(df, rules))

  private val ReasonCol = "reject_reason"
}
