package graft.etl

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.catalyst.expressions.RowOrdering
import org.apache.spark.sql.functions._

/** Deduplication — the reference's signature operator (SURVEY.md §2.4),
  * re-expressed as set-based Spark plans instead of per-row SELECT probes
  * (reference: load_hhs.py:8-32 per-row probe; load_quality.py:13-31
  * set-based probe).
  *
  * Scale notes:
  *  - `firstOccurrenceWins` / `latestWins` are ONE partial aggregate
  *    keyed by the dedup key (r14; previously a row_number window).
  *    The window shape put every copy of a key in ONE task — a hot
  *    ingest key (one hospital_pk repeated across millions of rows at
  *    100 TB) became a single unsplittable sort that no AQE rule can
  *    break up, with full row width riding the shuffle. min/max of a
  *    struct ordered by (orderCol, remaining columns) is the SAME
  *    "first/latest by orderCol" choice as a partial aggregate:
  *    map-side combine collapses the hot key to one row per input
  *    partition before anything shuffles. Same shape the text-side
  *    kernels adopted in r13 (TextDedup.segmentDedupRebuild).
  *  - Tie-break: the window's row_number over equal orderCol values
  *    picked an arbitrary row; the struct min/max breaks full-row ties
  *    deterministically by the remaining columns (lexicographic field
  *    order). Callers follow the documented contract anyway: orderCol
  *    is a unique total order captured at scan (e.g.
  *    monotonically_increasing_id), so ties do not arise.
  *  - Null ordering matches the window defaults: struct comparison
  *    sorts a null field first ascending (= asc_nulls_first) and max
  *    avoids nulls (= desc_nulls_last).
  *  - Rows whose columns include a non-orderable type (MapType) cannot
  *    ride a min(struct(...)); those fall back to min-order-per-key +
  *    null-safe (<=>) left-semi join back on (keys, orderCols) — the
  *    TextDedup.exactDedup shape, whose residual join skew IS
  *    AQE-splittable. Null-safe so a null key group (or a null winning
  *    orderCol) keeps its row exactly like the struct branch does.
  *  - `antiJoinExisting` plans as broadcast-hash anti-join when the
  *    existing-keys side is small (e.g. a dimension being topped up) and
  *    shuffled sort-merge otherwise — Catalyst/AQE decides from stats.
  *    The existing side is projected to just its key columns, and NOT
  *    de-duplicated: a left-anti or left-semi join returns the same rows
  *    whatever duplicates sit on its build side, and a `distinct()` there
  *    costs a shuffle (one more job under AQE) before every broadcast.
  */
object Dedup {

  /** D1/D2 within-batch first-occurrence-wins on `keys`, "first" defined
    * by `orderCol` (e.g. a monotonically_increasing_id captured at scan —
    * `dropDuplicates` alone picks an ARBITRARY row, which diverges from
    * the reference's insert-order semantics, load_hhs.py:75,89,103). */
  def firstOccurrenceWins(df: DataFrame, keys: Seq[String], orderCol: String): DataFrame =
    pickOnePerKey(df, keys, Seq(orderCol), latest = false)

  /** Latest-wins dedup: keep the newest row per key (ties broken by
    * `tieCol` descending too) — the temporal complement of first-wins:
    * first-wins preserves the original load, latest-wins keeps the
    * freshest snapshot (CDC/compaction semantics). Same single-shuffle
    * partial-aggregate shape. */
  def latestWins(df: DataFrame, keys: Seq[String], orderCol: String,
                 tieCol: String): DataFrame =
    pickOnePerKey(df, keys, Seq(orderCol, tieCol), latest = true)

  /** One skew-immune partial aggregate: min/max of the full row packed
    * as struct(orderCols..., remaining columns), unpacked back to the
    * input column order. Falls back to agg + semi-join when any
    * carried column is not orderable (MapType). */
  private def pickOnePerKey(df: DataFrame, keys: Seq[String],
                            orderCols: Seq[String], latest: Boolean): DataFrame = {
    // Degenerate inputs fail fast on EVERY path, not just the fallback:
    // duplicate names among (keys ++ orderCols) would build a struct with
    // ambiguous fields (e.g. latestWins with orderCol == tieCol), and an
    // input column named like our agg alias would collide on unpack.
    val joinCols = keys ++ orderCols
    require(joinCols.distinct == joinCols,
      s"keys and order columns must be distinct: $joinCols")
    require(!df.columns.contains(PickAlias),
      s"input must not contain a column named $PickAlias")
    val keySet = keys.toSet
    val rest = df.columns.filterNot(c => keySet.contains(c) || orderCols.contains(c)).toSeq
    val pick: Column => Column = if (latest) max else min
    val keyCols = keys.map(col).toIndexedSeq
    if (rest.forall(c => RowOrdering.isOrderable(df.schema(c).dataType))) {
      val packed = struct((orderCols ++ rest).map(col).toIndexedSeq: _*)
      df.groupBy(keyCols: _*)
        .agg(pick(packed).as(PickAlias))
        .select(df.columns.toIndexedSeq.map { c =>
          if (keySet.contains(c)) col(c) else col(PickAlias).getField(c).as(c)
        }: _*)
    } else {
      // keep only the per-key extreme of the order columns, join back —
      // (keys ++ orderCols) must identify a unique row (the orderCol
      // contract above), else ties all survive the semi-join. The join
      // condition is null-SAFE (<=>): the struct branch keeps a row for
      // a null key group (and min picks a null orderCol value first,
      // matching asc_nulls_first), so the fallback must match those
      // groups too instead of silently dropping every row in them.
      val picked = df.groupBy(keyCols: _*)
        .agg(pick(struct(orderCols.map(col).toIndexedSeq: _*)).as(PickAlias))
        .select((keys.map(c => col(c).as(s"__r_$c")) ++
                 orderCols.map(c => col(PickAlias).getField(c).as(s"__r_$c"))).toIndexedSeq: _*)
      val cond = joinCols.map(c => df(c) <=> picked(s"__r_$c")).reduce(_ && _)
      df.join(picked, cond, "left_semi")
    }
  }

  private val PickAlias = "__pick"

  /** D3 cross-load dedup: drop rows whose key already exists in the
    * warehouse (reference: load_quality.py:122-126 set-based IN probe).
    * Existing side is pruned to key columns before the anti-join. */
  def antiJoinExisting(incoming: DataFrame, existing: DataFrame, keys: Seq[String]): DataFrame =
    incoming.join(existing.select(keys.map(col).toIndexedSeq: _*), keys, "left_anti")

  /** The rows REMOVED by cross-load dedup (the reference's reject channel
    * for duplicates, load_quality.py:124). Semi-join = set semantics; the
    * reference's duplicate-index quirk (same row emitted twice,
    * load_hhs.py:82-99) is a documented divergence (SURVEY.md §7.4.7). */
  def duplicatesOfExisting(incoming: DataFrame, existing: DataFrame, keys: Seq[String]): DataFrame =
    incoming.join(existing.select(keys.map(col).toIndexedSeq: _*), keys, "left_semi")
}
