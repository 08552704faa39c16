package perfbench

import scala.collection.mutable.ArrayBuffer

/** Op accounting: every call the benchmark times goes through [[run]].
  * An op that throws counts as attempted and failed, and its time is
  * discarded — a fast exception is not a fast op. An op whose output
  * check fails also counts as failed, but keeps its time. */
final class Ops {
  private var attempted0 = 0
  private var failed0 = 0
  private val errors0 = ArrayBuffer.empty[String]

  def attempted: Int = attempted0
  def failed: Int = failed0
  def errors: Seq[String] = errors0.toSeq

  /** Times `f`; returns its value and wall seconds, or None if it threw. */
  def run[A](name: String)(f: => A): Option[(A, Double)] = {
    attempted0 += 1
    val t0 = System.nanoTime()
    try {
      val a = f
      Some((a, (System.nanoTime() - t0) / 1e9))
    } catch {
      case scala.util.control.NonFatal(e) => fail(name, e.toString); None
    }
  }

  /** Records a failed output check against an op already counted. */
  def checkFailed(name: String, why: String): Unit = fail(name, why)

  /** Counts one op that is a check and is not timed. */
  def check(name: String)(ok: => Boolean, why: => String): Unit = {
    attempted0 += 1
    try { if (!ok) fail(name, why) } catch {
      case scala.util.control.NonFatal(e) => fail(name, e.toString)
    }
  }

  private def fail(name: String, why: String): Unit = {
    failed0 += 1
    errors0 += s"$name: $why"
  }
}
