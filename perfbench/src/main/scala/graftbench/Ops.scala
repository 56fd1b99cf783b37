package graftbench

import scala.collection.mutable

/** One attempted layer call: its wall time, and its error if it threw or
 *  failed its output check. */
final case class OpRecord(name: String, iteration: Int, seconds: Double,
    error: Option[String]) {
  def ok: Boolean = error.isEmpty
}

/**
 * Runs layer calls with failure accounting. Only `body` is timed; `check`
 * runs after the clock stops. A call that throws, or whose check returns an
 * error, is recorded as failed and its time goes into no total.
 */
final class OpLog {
  val records: mutable.ArrayBuffer[OpRecord] = mutable.ArrayBuffer.empty
  var iteration = 0

  def run[A](name: String)(body: => A)(check: A => Option[String]): Option[A] = {
    val t0 = System.nanoTime()
    val result = try Right(body) catch { case e: Throwable => Left(e) }
    val seconds = (System.nanoTime() - t0) / 1e9
    val error = result match {
      case Left(e) => Some(s"${e.getClass.getSimpleName}: ${e.getMessage}")
      case Right(a) =>
        try check(a) catch { case e: Throwable => Some(s"check threw $e") }
    }
    records += OpRecord(name, iteration, seconds, error)
    result.toOption.filter(_ => error.isEmpty)
  }

  def attempted: Int = records.size
  def failed: Int = records.count(!_.ok)

  /** Seconds of the named calls in one iteration, or None when any of them
   *  failed or none ran. */
  def seconds(iteration: Int, names: String*): Option[Double] = {
    val rs = records.filter(r => r.iteration == iteration && names.contains(r.name))
    if (rs.isEmpty || rs.exists(!_.ok)) None else Some(rs.map(_.seconds).sum)
  }
}

object Stats {
  def median(xs: Seq[Double]): Double = {
    require(xs.nonEmpty, "median of nothing")
    val s = xs.sorted
    if (s.size % 2 == 1) s(s.size / 2) else (s(s.size / 2 - 1) + s(s.size / 2)) / 2
  }

  /** Nearest-rank index (1-based) of the per-mille percentile `pm`. */
  private def rank(n: Int, pm: Int): Int = math.max(1, ((pm.toLong * n + 999) / 1000).toInt)

  /**
   * The highest of p99.9, p99, p90 and p50 (nearest rank) that has at least
   * ten samples beyond it, or the maximum when there are fewer than twenty.
   */
  def tail(xs: Seq[Double]): Double =
    if (xs.isEmpty) 0.0
    else {
      val s = xs.sorted
      Seq(999, 990, 900, 500).find(pm => s.size - rank(s.size, pm) >= 10)
        .map(pm => s(rank(s.size, pm) - 1)).getOrElse(s.last)
    }

  def p50(xs: Seq[Double]): Double =
    if (xs.isEmpty) 0.0 else { val s = xs.sorted; s(rank(s.size, 500) - 1) }
}
