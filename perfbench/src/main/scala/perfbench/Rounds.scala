package perfbench

import java.util.concurrent.ConcurrentLinkedQueue
import scala.jdk.CollectionConverters._

/** A closed-loop stream of operations cut into rounds of `roundSize`
  * consecutive operations; `op(i)` is the i-th operation, `None` past the
  * end. A phase opens a fixed number of rounds and its clients finish every
  * round it opened, so each phase runs whole rounds whatever the number of
  * clients. The position carries over from one phase to the next. */
final class Rounds[T](op: Int => Option[T], val roundSize: Int) {
  private var next = 0

  def exhausted: Boolean = synchronized(op(next).isEmpty)

  /** The next operation and its index; `None` past the end, or at a round
    * boundary when `mayOpen` is false. */
  def take(mayOpen: => Boolean): Option[(Int, T)] = synchronized {
    val o = op(next)
    if (o.isEmpty || (next % roundSize == 0 && !mayOpen)) None
    else { next += 1; o.map(next - 1 -> _) }
  }

  /** Run `rounds` rounds of operations on `clients` threads. A phase of
    * fixed length does the same work in the same order in every run, so
    * the JVM warms along the same path whatever the host's pace; `capSec`
    * only guards the run's time limit on a host far slower than the
    * reference (no round opens after it). Returns `run`'s results and the
    * phase's wall time. */
  def phase[R](clients: Int, rounds: Int, capSec: Double = Double.MaxValue)
              (run: (Int, T) => R): (Seq[R], Double) = {
    val results = new ConcurrentLinkedQueue[R]()
    val t0 = System.nanoTime()
    var opened = 0
    def mayOpen: Boolean = // called under this object's lock, by take
      if (opened < rounds && (opened == 0 || (System.nanoTime() - t0) / 1e9 < capSec)) {
        opened += 1; true
      } else false
    val threads = (0 until clients).map { c =>
      new Thread(() => {
        var o = take(mayOpen)
        while (o.isDefined) {
          results.add(run(o.get._1, o.get._2))
          o = take(mayOpen)
        }
      }, s"perfbench-client-$c")
    }
    threads.foreach(_.start())
    threads.foreach(_.join())
    (results.asScala.toSeq, (System.nanoTime() - t0) / 1e9)
  }
}

object Rounds {
  /** Rounds of a phase of `budgetSec` whose rounds take `nominalSec` each
    * on the reference host (README), at least `min`. */
  def count(budgetSec: Double, nominalSec: Double, min: Int): Int =
    math.max(min, math.round(budgetSec / nominalSec).toInt)
}
