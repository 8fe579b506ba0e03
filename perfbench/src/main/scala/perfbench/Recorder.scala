package perfbench

import scala.collection.mutable

/** Counts operations and times the calls into the engine.
  *
  * An operation is one load, render or query, or one check of an
  * output. Only [[timed]] bodies are timed; checks run after them,
  * outside the timed region. A failed operation is counted and named,
  * never thrown past the run: the run goes on and reports `failed`.
  */
final class Recorder(val trace: Trace) {

  import Recorder.Op

  val ops = mutable.ArrayBuffer.empty[Op]
  val failures = mutable.ArrayBuffer.empty[String]
  var attempted = 0L

  def failed: Long = failures.size.toLong

  /** Time `body` as one operation. Returns None if it threw. */
  def timed[A](kind: String, name: String)(body: => A): Option[A] = {
    attempted += 1
    val t0 = System.nanoTime()
    try {
      val a = trace.span(name, kind)(body)
      ops += Op(kind, name, (System.nanoTime() - t0) / 1e9)
      Some(a)
    } catch {
      case e: Exception =>
        failures += s"$kind $name: ${e.getClass.getSimpleName}: ${e.getMessage}"
        None
    }
  }

  /** One output check: `expected` must equal `actual`. */
  def check(name: String, expected: Any, actual: => Any): Boolean = {
    attempted += 1
    try {
      val a = trace.span(name, "check")(actual)
      if (a != expected) failures += s"check $name: expected $expected, got $a"
      a == expected
    } catch {
      case e: Exception =>
        failures += s"check $name: ${e.getClass.getSimpleName}: ${e.getMessage}"
        false
    }
  }

  def seconds(kind: String): Seq[Double] = ops.filter(_.kind == kind).map(_.seconds).toSeq
}

object Recorder {
  /** One timed call: its kind (load_hhs, load_quality, render, query),
    * its name and its seconds. */
  final case class Op(kind: String, name: String, seconds: Double)
}
