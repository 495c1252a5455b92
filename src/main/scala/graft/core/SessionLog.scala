package graft.core

import scala.collection.mutable

/** Session-scoped audit log — the reference's module-global `AP_LOG`
  * bookkeeping (`/root/reference/src/agol_pandas.py:8-43`, `33-43`):
  * `logging_info` accumulates every notable message across calls,
  * `fail_log`/`failures` accumulate the failure history, and both survive
  * individual call boundaries so a load's full history is inspectable at
  * the end of the session.
  *
  * Driver-side only (the reference's global lives in one Python process;
  * here one JVM driver). Executor-side retry state stays in
  * [[RetryPolicy]] — a cross-executor mutable global would serialize the
  * cluster; what belongs at session scope is the *record*, not the
  * backoff coordination.
  *
  * Each log keeps its most recent [[MaxLines]] lines: a stream that writes
  * through the connector adds a line per micro-batch, so an unbounded log
  * would grow for the life of the JVM. `failures` is a counter of its
  * own, so it stays exact when old failure lines fall out.
  */
object SessionLog {

  /** How many of the most recent lines each log keeps. */
  final val MaxLines = 1000

  private val info = mutable.Queue.empty[String]
  private val fails = mutable.Queue.empty[String]
  private var failCount = 0

  private def keep(log: mutable.Queue[String], message: String): Unit = {
    log.enqueue(message)
    if (log.size > MaxLines) log.dequeue()
  }

  def recordInfo(message: String): Unit = synchronized { keep(info, message) }

  def recordFailure(message: String): Unit = synchronized {
    keep(fails, message); failCount += 1
  }

  /** The recorded messages, oldest first (`AP_LOG.logging_info`). */
  def loggingInfo: Seq[String] = synchronized { info.toVector }

  /** The recorded failures, oldest first (`AP_LOG.fail_log`). */
  def failLog: Seq[String] = synchronized { fails.toVector }

  /** `AP_LOG.failures` — the failure count backing the reference's rising
    * backoff floor; every failure since the last [[clear]], kept or not.
    */
  def failures: Int = synchronized { failCount }

  def clear(): Unit = synchronized { info.clear(); fails.clear(); failCount = 0 }
}
