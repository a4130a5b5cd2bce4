package perfbench

import java.io.{File, PrintWriter}

import scala.collection.mutable

/** The metrics, operation counts and provenance of one benchmark run,
  * written as one JSON object that `run.py` turns into the result line.
  */
final class Report {
  private val metrics = mutable.LinkedHashMap.empty[String, (Double, String)]
  private val info = mutable.LinkedHashMap.empty[String, String]
  private var attempted = 0L
  private var failed = 0L

  def put(name: String, value: Double, unit: String): Unit =
    metrics(name) = (value, unit)

  /** Provenance fields, kept as JSON literals. */
  def note(key: String, value: Double): Unit = info(key) = num(value)
  def note(key: String, value: Boolean): Unit = info(key) = value.toString

  /** Count `n` operations; `bad` of them failed or returned wrong output. */
  def ops(n: Long, bad: Long = 0L): Unit = { attempted += n; failed += bad }

  /** A failed output check: logged, and charged as `bad` failed operations. */
  def fail(bad: Long, what: String): Unit = {
    failed += bad
    System.err.println(s"[perfbench] CHECK FAILED: $what")
  }

  def check(ok: Boolean, bad: Long, what: => String): Unit =
    if (!ok) fail(bad, what)

  def failedOps: Long = failed
  def attemptedOps: Long = attempted

  private def num(v: Double): String =
    if (v.isNaN || v.isInfinite) "null" else java.lang.Double.toString(v)

  def toJson: String = {
    val ms = metrics.map { case (k, (v, u)) =>
      s""""$k": {"value": ${num(v)}, "unit": "$u"}"""
    }.mkString("{", ", ", "}")
    val pv = info.map { case (k, v) => s""""$k": $v""" }.mkString("{", ", ", "}")
    s"""{"correct": ${failed == 0 && attempted > 0}, "attempted": $attempted, """ +
      s""""failed": $failed, "metrics": $ms, "provenance": $pv}"""
  }

  def write(f: File): Unit = {
    val w = new PrintWriter(f, "UTF-8")
    try w.println(toJson) finally w.close()
  }
}

object Stats {
  def median(xs: Seq[Double]): Double = quantile(xs, 0.5)

  /** Linear-interpolated quantile (the same rule as numpy's default). */
  def quantile(xs: Seq[Double], q: Double): Double = {
    require(xs.nonEmpty, "quantile of no samples")
    val s = xs.sorted
    val pos = q * (s.length - 1)
    val lo = math.floor(pos).toInt
    val hi = math.min(lo + 1, s.length - 1)
    s(lo) + (s(hi) - s(lo)) * (pos - lo)
  }

  def seconds(t0: Long, t1: Long): Double = (t1 - t0) / 1e9

  /** Run `body`, returning its result and its wall time in seconds. */
  def timed[T](body: => T): (T, Double) = {
    val t0 = System.nanoTime()
    val r = body
    (r, seconds(t0, System.nanoTime()))
  }
}
