package perfbench

import scala.collection.mutable

/** A measured value with its unit and sample count. */
final case class M(value: Double, unit: String, n: Int)

/** What one workload run measured: end-to-end metrics, per-layer metrics,
  * operation counts and correctness checks, written as JSON for run.py.
  */
final class Report(val workload: String) {
  val e2e = mutable.LinkedHashMap.empty[String, M]
  val layer = mutable.LinkedHashMap.empty[String, M]
  /** Workload-specific names of the end-to-end figures, e.g. trigger_p50_ms. */
  val named = mutable.LinkedHashMap.empty[String, M]
  val context = mutable.LinkedHashMap.empty[String, String]
  val checks = mutable.ArrayBuffer.empty[(String, Boolean, String)]
  var attempted = 0L
  var failed = 0L

  /** Count one operation; a failure is recorded, not thrown. */
  def op[T](body: => T): Option[T] = {
    attempted += 1
    try Some(body) catch {
      case e: Throwable if scala.util.control.NonFatal(e) =>
        failed += 1
        System.err.println(s"operation failed: $e")
        None
    }
  }

  def check(name: String, ok: Boolean, detail: String = ""): Unit = {
    attempted += 1
    if (!ok) failed += 1
    checks += ((name, ok, detail))
  }

  /** Add another pass's operations and checks to this run's. */
  def absorb(o: Report, prefix: String): Unit = {
    attempted += o.attempted
    failed += o.failed
    checks ++= o.checks.map { case (n, ok, d) => (s"$prefix.$n", ok, d) }
  }

  def correct: Boolean = checks.nonEmpty && checks.forall(_._2) && failed == 0

  def json: String = {
    def s(x: String) = "\"" + x.flatMap {
      case '"' => "\\\""; case '\\' => "\\\\"; case '\n' => "\\n"
      case c if c < ' ' => f"\\u${c.toInt}%04x"; case c => c.toString
    } + "\""
    def num(d: Double) = if (d.isNaN || d.isInfinite) "null" else d.toString
    def ms(m: mutable.LinkedHashMap[String, M]) = m.map { case (k, v) =>
      s"${s(k)}: {\"value\": ${num(v.value)}, \"unit\": ${s(v.unit)}, \"n\": ${v.n}}"
    }.mkString("{", ", ", "}")
    val cs = checks.map { case (n, ok, d) =>
      s"{\"name\": ${s(n)}, \"ok\": $ok, \"detail\": ${s(d)}}" }.mkString("[", ", ", "]")
    val ctx = context.map { case (k, v) => s"${s(k)}: ${s(v)}" }.mkString("{", ", ", "}")
    s"""{"workload": ${s(workload)}, "correct": $correct, "attempted": $attempted, """ +
      s""""failed": $failed, "e2e": ${ms(e2e)}, "named": ${ms(named)}, """ +
      s""""layer": ${ms(layer)}, "checks": $cs, "context": $ctx}"""
  }
}

object Stats {
  /** Nearest-rank percentile, p in (0, 1]. NaN when there are no samples. */
  def pct(xs: Seq[Double], p: Double): Double =
    if (xs.isEmpty) Double.NaN
    else {
      val s = xs.sorted
      s(math.min(s.size - 1, math.max(0, math.ceil(p * s.size).toInt - 1)))
    }
  def median(xs: Seq[Double]): Double =
    if (xs.isEmpty) Double.NaN
    else {
      val s = xs.sorted
      if (s.size % 2 == 1) s(s.size / 2) else (s(s.size / 2 - 1) + s(s.size / 2)) / 2
    }
}
