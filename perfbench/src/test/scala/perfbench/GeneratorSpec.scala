package perfbench

import java.nio.file.{Files, Path, Paths}

import org.scalatest.funsuite.AnyFunSuite

class GeneratorSpec extends AnyFunSuite {

  private def tmp(name: String): Path =
    Files.createDirectories(Paths.get("target", "test-work", name))

  private def weekCsv(seed: Long, w: Int, dir: Path): Array[Byte] = {
    val f = dir.resolve(s"seed$seed-week$w.csv")
    HhsGen.writeCsv(f, HhsGen.header,
      new HhsGen.Feed(seed, 500).weeklyFile(w).iterator.map(HhsGen.line))
    Files.readAllBytes(f)
  }

  private def qualityCsv(seed: Long, dir: Path): Array[Byte] = {
    val f = dir.resolve(s"quality-seed$seed.csv")
    HhsGen.writeCsv(f, QualityGen.header,
      QualityGen.file(new HhsGen.Feed(seed, 500), 0, 500).iterator.map(_.line))
    Files.readAllBytes(f)
  }

  test("the same seed gives byte-identical CSVs, another seed does not") {
    val a = tmp("gen-a")
    val b = tmp("gen-b")
    for (w <- Seq(0, 1, 5)) {
      assert(weekCsv(7, w, a).sameElements(weekCsv(7, w, b)), s"week $w differs for one seed")
      assert(!weekCsv(7, w, a).sameElements(weekCsv(8, w, b)), s"week $w equal across seeds")
    }
    assert(qualityCsv(7, a).sameElements(qualityCsv(7, b)))
    assert(!qualityCsv(7, a).sameElements(qualityCsv(8, b)))
  }

  test("HHS rows follow Schemas.hhsRawCsv's column order and carry the feed's defects") {
    assert(HhsGen.header.split(",").toSeq ==
      graft.warehouse.Schemas.hhsRawCsv.fieldNames.toSeq)
    val feed = new HhsGen.Feed(3, 2000)
    val rows = feed.weeklyFile(1)
    assert(rows.forall(_.length == HhsGen.header.split(",").length))
    val reasons = rows.flatMap(Model.hhsRejectReason)
    val frac = reasons.size.toDouble / rows.size
    assert(frac > 0.03 && frac < 0.08, s"reject fraction $frac")
    assert(reasons.contains("hospital_name_null"))
    assert(rows.exists(_.contains("-999999")))
    assert(rows.exists(_.contains("-0.5")))
    // re-delivered rows of week 0 come first
    assert(rows.head(8) == HhsGen.week(0))
    // within-file duplicate keys
    val keys = rows.filter(_(8) == HhsGen.week(1)).map(_(0))
    assert(keys.distinct.size < keys.size)
    // new hospitals every week
    assert(feed.active(2) > feed.active(1) && feed.active(1) > feed.active(0))
  }

  test("quality CSVs carry the full 38-column CMS header and unique facility ids") {
    assert(QualityGen.columns.size == 38)
    val rows = QualityGen.file(new HhsGen.Feed(3, 2000), 0, 2000)
    val ids = rows.flatMap(r => Option(r.facilityId))
    assert(ids.distinct.size == ids.size)
    assert(rows.exists(_.facilityId == null))
    assert(rows.exists(_.rating < 0))
  }
}
