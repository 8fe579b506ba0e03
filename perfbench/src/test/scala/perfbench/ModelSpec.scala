package perfbench

import org.scalatest.funsuite.AnyFunSuite

class ModelSpec extends AnyFunSuite {

  private def row(name: String, metrics: String*): Array[String] =
    Array("100001", name, "PA", "1 Main St", "City1", "15213", "42003", "POINT (-79 40)",
      "2020-08-07") ++ metrics.padTo(HhsGen.nMetrics, "1.0")

  test("reject reasons follow the loader's rule order and truncation quirk") {
    assert(Model.hhsRejectReason(row("H")).isEmpty)
    assert(Model.hhsRejectReason(row(null, "-5.0")).contains("hospital_name_null"))
    assert(Model.hhsRejectReason(row("H", "1.0", "-2.0", "-3.0")).contains(
      s"negative_${graft.warehouse.Schemas.hhsMetricColumns(1)}"))
    assert(Model.hhsRejectReason(row("H", "-0.5")).isEmpty, "(-1, 0) truncates to 0")
    assert(Model.hhsRejectReason(row("H", "-999999")).isEmpty, "sentinel loads as NULL")
    assert(Model.hhsRejectReason(row("H", null)).isEmpty, "empty cell loads as NULL")
  }

  test("first valid occurrence wins and keys already loaded are dropped") {
    val m = new Model
    val first = Model.applyHhs(m, Seq(row(null), row("H"), row("H")))
    assert(first == Model.Outcome(3, 1, 1, Map("hospital_name_null" -> 1L), 1))
    val again = Model.applyHhs(m, Seq(row("H")))
    assert(again == Model.Outcome(1, 0, 0, Map.empty, 1))
  }
}
