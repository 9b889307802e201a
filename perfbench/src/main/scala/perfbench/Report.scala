package perfbench

import scala.collection.mutable

/** Minimal JSON rendering for the result line and the span file. */
object Json {
  def str(s: String): String =
    "\"" + s.flatMap {
      case '"' => "\\\""
      case '\\' => "\\\\"
      case '\n' => "\\n"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    } + "\""
  def num(v: Double): String = {
    require(!v.isNaN && !v.isInfinite, s"metric value $v is not a finite number")
    if (v == math.rint(v) && math.abs(v) < 1e15) v.toLong.toString else v.toString
  }
  def num(v: Long): String = v.toString
  def obj(kv: Seq[(String, String)]): String =
    kv.map { case (k, v) => str(k) + ":" + v }.mkString("{", ",", "}")
}

object Stats {
  /** Linear-interpolated quantile (q in [0, 1]) of a non-empty sample. */
  def quantile(xs: collection.Seq[Double], q: Double): Double = {
    require(xs.nonEmpty, "quantile of an empty sample")
    val s = xs.sorted
    val pos = q * (s.size - 1)
    val lo = math.floor(pos).toInt
    val hi = math.min(lo + 1, s.size - 1)
    s(lo) + (s(hi) - s(lo)) * (pos - lo)
  }
  def median(xs: collection.Seq[Double]): Double = quantile(xs, 0.5)
  /** Median, or 0 when the layer did no such work in this workload. */
  def medianOr0(xs: collection.Seq[Double]): Double = if (xs.isEmpty) 0.0 else median(xs)
  def mean(xs: collection.Seq[Double]): Double = if (xs.isEmpty) 0.0 else xs.sum / xs.size
  def ratio(num: Long, den: Long): Double = if (den == 0) 0.0 else num.toDouble / den
}

/** Correctness bookkeeping: every timed operation and every output check
  * is one attempt; an exception or a wrong answer is one failure.
  */
final class Checks {
  var attempted = 0L
  var failed = 0L
  val failures = mutable.ArrayBuffer.empty[String]

  def op[T](what: String)(body: => T): Option[T] = {
    attempted += 1
    try Some(body)
    catch {
      case e: Exception =>
        failed += 1
        failures += s"$what: ${e.getClass.getSimpleName}: ${e.getMessage}"
        None
    }
  }

  def check(what: String)(ok: => Boolean): Unit = {
    attempted += 1
    val passed = try ok catch {
      case e: Exception => failures += s"$what: ${e.getClass.getSimpleName}: ${e.getMessage}"; false
    }
    if (!passed) {
      failed += 1
      if (!failures.lastOption.exists(_.startsWith(what))) failures += what
    }
  }
}

/** A named metric with its unit and the number of samples behind it. */
final case class Metric(name: String, value: Double, unit: String, samples: Int)

final class Metrics {
  val all = mutable.LinkedHashMap.empty[String, Metric]
  def put(name: String, value: Double, unit: String, samples: Int = 1): Unit =
    all(name) = Metric(name, value, unit, samples)
}
