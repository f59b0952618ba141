package perfbench

import scala.collection.mutable

/** Counters and metrics of one run, printed by [[Main]] as the final JSON
  * line. */
final class Result {
  private var attemptedN = 0L
  private var failedN = 0L
  private var knownDefectN = 0L
  private var checksOk = true
  private val errs = mutable.ArrayBuffer.empty[String]
  private val values = mutable.LinkedHashMap.empty[String, Double]

  def attempted: Long = synchronized(attemptedN)
  def failed: Long = synchronized(failedN)
  def knownDefectFailures: Long = synchronized(knownDefectN)
  def errors: Seq[String] = synchronized(errs.toList)
  /** Correct when no operation failed and every self-check held. */
  def correct: Boolean = synchronized(failedN == 0 && checksOk)

  def ok(): Unit = synchronized { attemptedN += 1 }

  /** An operation that threw or returned a wrong answer. */
  def wrong(msg: String): Unit = synchronized {
    attemptedN += 1; failedN += 1
    if (errs.size < 8) errs += msg
  }

  /** An operation that hits a documented, still-open library defect. It is
    * reported on its own and kept out of `attempted` and `failed`. */
  def knownDefect(msg: String): Unit = synchronized {
    knownDefectN += 1
    if (errs.size < 8) errs += s"known defect: $msg"
  }

  /** A self-check of the benchmark's inputs or of a whole-run invariant. */
  def check(cond: Boolean, msg: => String): Unit =
    if (!cond) synchronized { checksOk = false; if (errs.size < 8) errs += msg }

  def put(name: String, value: Double): Unit = synchronized { values(name) = value }
  def get(name: String): Option[Double] = synchronized(values.get(name))
}
