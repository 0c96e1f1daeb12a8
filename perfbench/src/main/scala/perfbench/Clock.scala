package perfbench

import scala.collection.mutable

/** Wall time scaled to a reference host speed.
  *
  * The benchmark runs on a few vCPUs of a shared host whose speed
  * swings with the other tenants' load; a fixed loop's time swings with
  * it, over 1.7x within half a minute on a 4-vCPU VM. To keep that out of the
  * end-to-end figures, [[Clock.loopMs]] is timed before set-up, between
  * set-up phases and between iterations, and a time measured in a phase
  * is scaled by [[Clock.ReferenceMs]] over the mean of the two loop
  * times around the phase: the result reads as seconds on a host where
  * the loop takes [[Clock.ReferenceMs]]. Unscaled times go to the
  * record file.
  */
final class Clock {
  import Clock._

  /** Every loop time so far, ms, in order. */
  val loops: mutable.ArrayBuffer[Double] = mutable.ArrayBuffer(loopMs())

  /** Run `body` as one phase: its result, its wall time in ms, and the
    * factor that scales a time measured inside it to the reference
    * speed. The loop is timed again after the phase. */
  def phase[T](body: => T): (T, Double, Double) = {
    val before = loops.last
    val t = System.nanoTime()
    val r = body
    val wall = (System.nanoTime() - t) / 1e6
    loops += loopMs()
    (r, wall, ReferenceMs * 2 / (before + loops.last))
  }
}

object Clock {
  /** The loop's time on the host the reference figures were taken on
    * (about its median on a 4-vCPU VM with JDK 17). */
  val ReferenceMs = 120.0

  @volatile private var sink = 0L

  /** Time of a fixed single-thread xorshift loop, ms. */
  def loopMs(): Double = {
    val t = System.nanoTime()
    var x = 88172645463325252L
    var k = 0
    while (k < 50000000) { x ^= x << 13; x ^= x >>> 7; x ^= x << 17; k += 1 }
    sink = x
    (System.nanoTime() - t) / 1e6
  }
}
