package graftbench

object Json {
  def num(v: Double): String =
    if (v.isNaN || v.isInfinite) "null" else v.toString
  def str(s: String): String =
    "\"" + s.flatMap {
      case '"' => "\\\""
      case '\\' => "\\\\"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    } + "\""
  def obj(fields: Seq[(String, String)]): String =
    fields.map { case (k, v) => s"${str(k)}:$v" }.mkString("{", ",", "}")
}

object Stats {
  /** Linear-interpolated quantile, q in [0, 1]; NaN for no samples. */
  def quantile(xs: Seq[Double], q: Double): Double =
    if (xs.isEmpty) Double.NaN
    else {
      val s = xs.sorted
      val pos = q * (s.size - 1)
      val lo = math.floor(pos).toInt
      val hi = math.ceil(pos).toInt
      s(lo) + (s(hi) - s(lo)) * (pos - lo)
    }
  def median(xs: Seq[Double]): Double = quantile(xs, 0.5)
  /** The highest quantile of `n` samples with at least ten samples
    * above it; the median when there are fewer than 20. */
  def tailQuantile(n: Int): Double = math.max(0.5, 1.0 - 10.0 / n)
}

/** Wall-clock helpers. */
object Clock {
  def timed[A](body: => A): (A, Double) = {
    val t0 = System.nanoTime()
    val a = body
    (a, (System.nanoTime() - t0) / 1e9)
  }
}

/** Output checks of one run. A failed check is an operation failure
  * and makes the run exit non-zero; a known defect is reported by name
  * and kept apart. */
final class Checks {
  var attempted = 0L
  var failed = 0L
  private val failures = scala.collection.mutable.ArrayBuffer.empty[String]
  private val knownChecks = scala.collection.mutable.LinkedHashMap.empty[String, (Long, Long, String)]

  /** One operation: counts as attempted, and as failed when `ok` is false. */
  def op(ok: Boolean, what: => String): Boolean = {
    attempted += 1
    if (!ok) { failed += 1; if (failures.size < 20) failures += what }
    ok
  }

  /** Run `body` as one operation; a throw counts as its failure. */
  def guard[A](what: String)(body: => A): Option[A] = {
    attempted += 1
    try Some(body)
    catch {
      case e: Throwable =>
        failed += 1
        if (failures.size < 20) failures += s"$what: ${e.getClass.getSimpleName}: ${e.getMessage}"
        None
    }
  }

  /** A named check that documents a known defect: reported, never
    * counted in `attempted`/`failed`. */
  def known(name: String, ok: Boolean, detail: => String): Unit = {
    val (n, bad, first) = knownChecks.getOrElse(name, (0L, 0L, ""))
    knownChecks(name) = (n + 1, bad + (if (ok) 0 else 1), if (first.isEmpty && !ok) detail else first)
  }

  def failureLines: Seq[String] = failures.toSeq
  def knownJson: String = Json.obj(knownChecks.toSeq.map { case (k, (n, bad, d)) =>
    k -> Json.obj(Seq("checked" -> n.toString, "failed" -> bad.toString, "ok" -> (bad == 0).toString,
      "first_failure" -> Json.str(d)))
  })
}
