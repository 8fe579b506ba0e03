package perfbench

import java.util.SplittableRandom

/** Seeded generator of HHS weekly hospital-capacity CSVs, in the column
  * order of `Schemas.hhsRawCsv` (the loader binds columns by position).
  *
  * Everything here is plain Scala: the same seed gives byte-identical
  * files, and [[Model]] works out what a load must produce without
  * touching the engine. Field values never contain commas or quotes, so
  * a row is its fields joined by commas; `null` is written as an empty
  * field, which the CSV reader reads back as NULL.
  *
  * What a weekly file carries, per the real feed's defects:
  *  - about 5% rejects: a missing hospital_name (1 in 5 of them) or a
  *    metric at or below -1 (the rest);
  *  - `-999999` sentinels and empty metric cells, which load as NULL;
  *  - metrics in (-1, 0), which the loader's int() truncation lets pass;
  *  - within-file duplicate keys (about 1%), appended after the original
  *    with other metric values, so the first occurrence must win;
  *  - re-delivered rows of the previous week (about 2%), placed first;
  *  - a few new hospitals every week.
  */
object HhsGen {

  val header: String = graft.warehouse.Schemas.hhsRawCsv.fieldNames.mkString(",")
  val nMetrics: Int = graft.warehouse.Schemas.hhsMetricColumns.size

  /** Index of the first metric column in a row. */
  val metric0 = 9

  val states: IndexedSeq[String] = IndexedSeq(
    "AK", "AL", "AR", "AZ", "CA", "CO", "CT", "DC", "DE", "FL", "GA", "HI",
    "IA", "ID", "IL", "IN", "KS", "KY", "LA", "MA", "MD", "ME", "MI", "MN",
    "MO", "MS", "MT", "NC", "ND", "NE", "NH", "NJ", "NM", "NV", "NY", "OH",
    "OK", "OR", "PA", "PR", "RI", "SC", "SD", "TN", "TX", "UT", "VA", "VT",
    "WA", "WI", "WV", "WY")

  private val firstWeek = java.time.LocalDate.of(2020, 8, 7)

  def week(w: Int): String = firstWeek.plusWeeks(w.toLong).toString

  /** Stable per-hospital attributes. `beds` scales the metrics. */
  final case class Hospital(pk: String, name: String, state: String,
                            address: String, city: String, zip: String,
                            fips: String, geo: String, beds: Int)

  def hospital(seed: Long, i: Int): Hospital = {
    val r = new SplittableRandom(seed * 1000003L + i)
    val st = states(r.nextInt(states.size))
    val city = s"City${r.nextInt(900)}"
    Hospital(
      pk = f"${100000 + i}%06d",
      name = s"${city} ${Seq("General", "Regional", "Memorial", "Community", "University")(r.nextInt(5))} Hospital $i",
      state = st,
      address = s"${1 + r.nextInt(9999)} ${Seq("Main", "Oak", "Park", "Lake", "Hill")(r.nextInt(5))} St",
      city = city,
      zip = f"${r.nextInt(99999)}%05d",
      fips = f"${r.nextInt(56000)}%05d",
      geo = s"POINT (-${70 + r.nextInt(50)}.${r.nextInt(1000)} ${25 + r.nextInt(24)}.${r.nextInt(1000)})",
      beds = 20 + r.nextInt(780))
  }

  /** Tenths as a decimal string, exact and locale-free. */
  private def tenths(v: Int): String =
    if (v < 0) "-" + tenths(-v) else s"${v / 10}.${v % 10}"

  /** One clean row of hospital `h` for week `w`. */
  def cleanRow(h: Hospital, w: Int, r: SplittableRandom): Array[String] = {
    val adult = h.beds * 10 * (80 + r.nextInt(20)) / 100
    val ped = h.beds * 10 * r.nextInt(10) / 100
    val icu = h.beds * 10 * (5 + r.nextInt(10)) / 100
    val adultUsed = adult * (40 + r.nextInt(55)) / 100
    val pedUsed = ped * r.nextInt(90) / 100
    val icuUsed = icu * (30 + r.nextInt(65)) / 100
    val covid = adultUsed * r.nextInt(25) / 100
    val covidIcu = icuUsed * r.nextInt(30) / 100
    Array(h.pk, h.name, h.state, h.address, h.city, h.zip, h.fips, h.geo, week(w),
      tenths(adult), tenths(ped), tenths(adultUsed), tenths(pedUsed),
      tenths(icu), tenths(icuUsed), tenths(covid), tenths(covidIcu))
  }

  /** Apply the feed's defects to a clean row, in place. */
  def damage(row: Array[String], r: SplittableRandom): Unit = {
    val p = r.nextInt(1000)
    if (p < 10) row(1) = null                                   // 1%: name missing
    else if (p < 50) row(metric0 + r.nextInt(nMetrics)) =       // 4%: negative metric
      s"-${1 + r.nextInt(40)}.${r.nextInt(10)}"
    else if (p < 70) row(metric0 + r.nextInt(nMetrics)) = "-999999"  // 2%: sentinel
    else if (p < 80) row(metric0 + r.nextInt(nMetrics)) = null       // 1%: empty cell
    else if (p < 85) row(metric0 + r.nextInt(nMetrics)) = "-0.5"     // 0.5%: truncates to 0
  }

  def line(row: Array[String]): String =
    row.iterator.map(f => if (f == null) "" else f).mkString(",")

  /** The weekly feed: week `w` covers hospitals `0 until active(w)`. */
  final class Feed(val seed: Long, val baseHospitals: Int) {
    private val hospitals = scala.collection.mutable.ArrayBuffer.empty[Hospital]

    def active(w: Int): Int = {
      val r = new SplittableRandom(seed ^ 0x5EEDL)
      baseHospitals + (0 until w).map(_ => 3 + r.nextInt(6)).sum
    }

    def hospitalAt(i: Int): Hospital = {
      while (hospitals.size <= i) hospitals += hospital(seed, hospitals.size)
      hospitals(i)
    }

    /** Rows of week `w` as delivered: damaged, without re-deliveries. */
    def weekRows(w: Int): IndexedSeq[Array[String]] = {
      val r = new SplittableRandom(seed * 31 + w)
      val rows = (0 until active(w)).flatMap { i =>
        if (r.nextInt(100) == 0) None                      // 1%: did not report
        else {
          val row = cleanRow(hospitalAt(i), w, r)
          damage(row, r)
          Some(row)
        }
      }
      val dups = rows.filter(_ => r.nextInt(100) == 0).map { orig =>
        val d = cleanRow(hospitalAt(orig(0).toInt - 100000), w, r)
        d(1) = orig(1)
        d
      }
      rows ++ dups
    }

    /** The weekly file: about 2% of last week's rows re-delivered first,
      * then this week's rows. */
    def weeklyFile(w: Int): IndexedSeq[Array[String]] = {
      val r = new SplittableRandom(seed * 37 + w)
      val redelivered =
        if (w == 0) IndexedSeq.empty
        else weekRows(w - 1).filter(_ => r.nextInt(50) == 0)
      redelivered ++ weekRows(w)
    }
  }

  /** Write `rows` as a CSV with header; returns the file's byte count. */
  def writeCsv(path: java.nio.file.Path, header: String,
               rows: Iterator[String]): Long = {
    java.nio.file.Files.createDirectories(path.getParent)
    val out = new java.io.BufferedWriter(new java.io.OutputStreamWriter(
      java.nio.file.Files.newOutputStream(path),
      java.nio.charset.StandardCharsets.UTF_8), 1 << 16)
    try {
      out.write(header); out.write('\n')
      rows.foreach { l => out.write(l); out.write('\n') }
    } finally out.close()
    java.nio.file.Files.size(path)
  }
}
