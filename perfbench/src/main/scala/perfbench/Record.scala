package perfbench

import scala.collection.mutable

/** Closed-loop op bookkeeping. An op that throws is counted as failed
  * and never enters a latency sample; a correctness check that does not
  * hold is counted the same way. */
final class Ops {
  val samples = mutable.LinkedHashMap.empty[String, mutable.ArrayBuffer[Double]]
  val failures = mutable.ArrayBuffer.empty[(String, String)]
  val attemptedBy = mutable.LinkedHashMap.empty[String, Long]
  var attempted = 0L

  /** Run `body` as one op of `kind`; its latency (ms) is recorded only
    * if it returns. */
  def op[T](kind: String)(body: => T): Option[T] = {
    attempted += 1
    attemptedBy(kind) = attemptedBy.getOrElse(kind, 0L) + 1
    val t0 = System.nanoTime()
    try {
      val r = body
      add(kind, (System.nanoTime() - t0) / 1e6)
      Some(r)
    } catch {
      case e: Exception =>
        failures += kind -> s"${e.getClass.getSimpleName}: ${String.valueOf(e.getMessage).take(300)}"
        None
    }
  }

  /** Record a correctness check as an attempted op that fails when
    * `ok` is false (or when computing it throws). */
  def check(name: String)(ok: => Boolean): Unit = {
    attempted += 1
    val failure =
      try { if (ok) None else Some("check did not hold") }
      catch { case e: Exception => Some(s"${e.getClass.getSimpleName}: ${String.valueOf(e.getMessage).take(300)}") }
    failure.foreach(f => failures += s"check:$name" -> f)
  }

  def add(kind: String, ms: Double): Unit =
    samples.getOrElseUpdate(kind, mutable.ArrayBuffer.empty) += ms

  def failed: Long = failures.length.toLong
  def ms(kind: String): Seq[Double] = samples.get(kind).map(_.toSeq).getOrElse(Nil)
}

object Stats {
  def median(xs: Seq[Double]): Double = quantile(xs, 0.5)

  /** Linear-interpolated quantile of a non-empty sample. */
  def quantile(xs: Seq[Double], q: Double): Double = {
    require(xs.nonEmpty, "no samples")
    val s = xs.sorted
    val pos = q * (s.length - 1)
    val lo = math.floor(pos).toInt
    val hi = math.min(lo + 1, s.length - 1)
    s(lo) + (s(hi) - s(lo)) * (pos - lo)
  }

  /** The tail as defined for this benchmark: the highest whole
    * percentile that leaves at least ten samples beyond it, with that
    * percentile. None when there are fewer than eleven samples. */
  def tail(xs: Seq[Double]): Option[(Double, Int)] =
    if (xs.length < 11) None
    else {
      val n = xs.length
      val pct = (99 to 1 by -1).find(p => n - math.ceil(p / 100.0 * n) >= 10).getOrElse(1)
      Some(quantile(xs, pct / 100.0) -> pct)
    }
}

/** Minimal JSON rendering for the result line and the record file. */
object Json {
  def str(s: String): String = {
    val b = new StringBuilder("\"")
    s.foreach {
      case '"' => b ++= "\\\""
      case '\\' => b ++= "\\\\"
      case c if c < ' ' => b ++= f"\\u${c.toInt}%04x"
      case c => b += c
    }
    b += '"'
    b.result()
  }
  def num(d: Double): String =
    if (d.isNaN || d.isInfinite) "null" else java.lang.Double.toString(d)
  def obj(kv: Seq[(String, String)]): String =
    kv.map { case (k, v) => str(k) + ":" + v }.mkString("{", ",", "}")
  def arr(vs: Seq[String]): String = vs.mkString("[", ",", "]")
}
