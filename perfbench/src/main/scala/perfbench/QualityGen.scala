package perfbench

import java.util.SplittableRandom

/** Seeded generator of CMS "Hospital General Information" CSVs with the
  * real file's full set of 38 columns, of which the quality loader reads
  * five. Facility ids are the HHS hospital pks (about 95% of hospitals
  * have a row) plus a few facilities the HHS feed does not carry. Some
  * facility names are quoted and contain commas, as in the real file.
  * Rejects: about 0.5% rows without a Facility ID, about 0.5% with a
  * negative overall rating; about 20% of ratings read 'Not Available'.
  */
object QualityGen {

  val columns: Seq[String] = Seq(
    "Facility ID", "Facility Name", "Address", "City/Town", "State",
    "ZIP Code", "County/Parish", "Telephone Number", "Hospital Type",
    "Hospital Ownership", "Emergency Services",
    "Meets criteria for birthing friendly designation",
    "Hospital overall rating", "Hospital overall rating footnote",
    "MORT Group Measure Count", "Count of Facility MORT Measures",
    "Count of MORT Measures Better", "Count of MORT Measures No Different",
    "Count of MORT Measures Worse", "MORT Group Footnote",
    "Safety Group Measure Count", "Count of Facility Safety Measures",
    "Count of Safety Measures Better", "Count of Safety Measures No Different",
    "Count of Safety Measures Worse", "Safety Group Footnote",
    "READM Group Measure Count", "Count of Facility READM Measures",
    "Count of READM Measures Better", "Count of READM Measures No Different",
    "Count of READM Measures Worse", "READM Group Footnote",
    "Pt Exp Group Measure Count", "Count of Facility Pt Exp Measures",
    "Pt Exp Group Footnote", "TE Group Measure Count",
    "Count of Facility TE Measures", "TE Group Footnote")

  val header: String = columns.mkString(",")

  private val types = IndexedSeq("Acute Care Hospitals", "Critical Access Hospitals",
    "Childrens", "Psychiatric", "Acute Care - Veterans Administration")
  private val ownerships = IndexedSeq("Voluntary non-profit - Private", "Proprietary",
    "Government - Hospital District or Authority", "Government - Local",
    "Voluntary non-profit - Other", "Voluntary non-profit - Church",
    "Government - State", "Physician", "Government - Federal")

  /** The fields the model needs (`facilityId` null when missing, and
    * 'Not Available' read as rating 0) and the CSV line. */
  final case class Row(facilityId: String, rating: Double, line: String)

  /** The quality file for the quarter `q` over hospitals `0 until n`. */
  def file(feed: HhsGen.Feed, q: Int, n: Int): IndexedSeq[Row] = {
    val r = new SplittableRandom(feed.seed * 41 + q)
    val extra = (0 until n / 50).map(i => f"${900000 + i}%06d")
    val ids = (0 until n).filter(_ => r.nextInt(20) != 0)
      .map(i => feed.hospitalAt(i).pk) ++ extra
    ids.map { id0 =>
      val p = r.nextInt(1000)
      val id = if (p < 5) null else id0
      val ratingText =
        if (p >= 5 && p < 10) "-1"
        else if (r.nextInt(5) == 0) "Not Available"
        else (1 + r.nextInt(5)).toString
      val rating = if (ratingText == "Not Available") 0d else ratingText.toDouble
      val name =
        if (r.nextInt(10) == 0) s"\"Medical Center $id0, Inc\"" else s"Medical Center $id0"
      def count = r.nextInt(12).toString
      def footnote = if (r.nextInt(8) == 0) "Not Available" else ""
      val fields = Seq(
        if (id == null) "" else id, name, s"${1 + r.nextInt(9999)} Main St",
        s"City${r.nextInt(900)}", HhsGen.states(r.nextInt(HhsGen.states.size)),
        f"${r.nextInt(99999)}%05d", s"County${r.nextInt(300)}",
        f"(${200 + r.nextInt(700)}) ${r.nextInt(1000)}%03d-${r.nextInt(10000)}%04d",
        types(r.nextInt(types.size)), ownerships(r.nextInt(ownerships.size)),
        if (r.nextInt(10) < 8) "Yes" else "No", if (r.nextBoolean()) "Y" else "",
        ratingText, footnote) ++
        (0 until 3).flatMap(_ => Seq(count, count, count, count, count, footnote)) ++
        Seq(count, count, footnote, count, count, footnote)
      Row(id, rating, fields.mkString(","))
    }
  }
}
