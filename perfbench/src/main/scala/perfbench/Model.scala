package perfbench

import scala.collection.mutable

/** What the warehouse must hold, worked out in plain Scala from the
  * generated rows and the loaders' documented rules, independently of
  * the engine:
  *  - HHS (load_hhs.py): sentinel -999999 and empty cells are NULL; a row
  *    is rejected for the first failing rule in the order
  *    hospital_name_null, negative_<metric> (metric order of
  *    `Schemas.hhsMetricColumns`), where a metric fails when its value
  *    truncated toward zero is below 0; among valid rows the first
  *    occurrence of a key wins; keys already in the warehouse are dropped.
  *  - Quality (load_quality.py): 'Not Available' reads as 0; rejects are
  *    facility_id_null, then rating_negative; facility ids already loaded
  *    for the same data date are rejected as duplicate.
  */
final class Model {
  val hospitals = mutable.HashSet.empty[String]
  val bedKeys = mutable.HashSet.empty[(String, String)]
  val bedsPerWeek = mutable.TreeMap.empty[String, Long]
  val qualityKeys = mutable.HashSet.empty[(String, String)]
  val qualityPerDate = mutable.TreeMap.empty[String, Long]

  def bedRows: Long = bedKeys.size.toLong
}

object Model {

  /** Expected outcome of one load. */
  final case class Outcome(rows: Long, newHospitals: Long, newBedRows: Long,
                           rejects: Map[String, Long], duplicatesDropped: Long)

  private val metricNames = graft.warehouse.Schemas.hhsMetricColumns

  /** The reject reason of an HHS row, or None if it is valid. */
  def hhsRejectReason(row: Array[String]): Option[String] =
    if (row(1) == null) Some("hospital_name_null")
    else metricNames.indices.collectFirst {
      case j if {
        val s = row(HhsGen.metric0 + j)
        s != null && s.toDouble != -999999d && s.toDouble.toLong < 0
      } => s"negative_${metricNames(j)}"
    }

  /** Apply an HHS file to `m`; returns what the load must report. */
  def applyHhs(m: Model, rows: Iterable[Array[String]]): Outcome = {
    val rejects = mutable.TreeMap.empty[String, Long]
    val seenHosp = mutable.HashSet.empty[String]
    val seenBed = mutable.HashSet.empty[(String, String)]
    var valid = 0L
    var newH = 0L
    var newB = 0L
    var n = 0L
    for (row <- rows) {
      n += 1
      hhsRejectReason(row) match {
        case Some(reason) => rejects(reason) = rejects.getOrElse(reason, 0L) + 1
        case None =>
          valid += 1
          val pk = row(0)
          if (seenHosp.add(pk) && !m.hospitals.contains(pk)) newH += 1
          val key = (pk, row(8))
          if (seenBed.add(key) && !m.bedKeys.contains(key)) {
            newB += 1
            m.bedsPerWeek(row(8)) = m.bedsPerWeek.getOrElse(row(8), 0L) + 1
          }
      }
    }
    m.hospitals ++= seenHosp
    m.bedKeys ++= seenBed
    Outcome(n, newH, newB, rejects.toMap, valid - newB)
  }

  /** Apply a quality file loaded for `dataDate` to `m`. */
  def applyQuality(m: Model, dataDate: String,
                   rows: Iterable[QualityGen.Row]): Outcome = {
    val rejects = mutable.TreeMap.empty[String, Long]
    def reject(r: String): Unit = rejects(r) = rejects.getOrElse(r, 0L) + 1
    val fresh = mutable.HashSet.empty[(String, String)]
    var n = 0L
    var dups = 0L
    for (row <- rows) {
      n += 1
      if (row.facilityId == null) reject("facility_id_null")
      else if (row.rating < 0) reject("rating_negative")
      else if (m.qualityKeys.contains((row.facilityId, dataDate))) {
        reject("duplicate"); dups += 1
      } else fresh += ((row.facilityId, dataDate))
    }
    m.qualityKeys ++= fresh
    m.qualityPerDate(dataDate) = m.qualityPerDate.getOrElse(dataDate, 0L) + fresh.size
    Outcome(n, 0L, fresh.size.toLong, rejects.toMap, dups)
  }
}
