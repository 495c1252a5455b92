package perfbench

import scala.collection.mutable

import org.apache.spark.sql.Row

import graft.sources.GraftCommitMessage

/** A public call that returned `Left` or threw. */
final class CallFailed(msg: String) extends RuntimeException(msg)

/** Times the public calls of each round and keeps the run's accounts:
  * calls attempted and failed, rows written and read per second of time
  * inside those calls (one figure per round), round times, and the
  * failures of correctness checks.
  * Only rounds run while [[timing]] is set are counted; warm-up rounds are
  * checked like the others but count toward set-up.
  */
final class Meter(trace: Option[Trace]) {
  var timing = false
  var attempted = 0L
  var failed = 0L
  val problems = mutable.ArrayBuffer.empty[String]
  val errors = mutable.ArrayBuffer.empty[String]
  var writeRows = 0L
  var reportedRows = 0L
  val roundNs = mutable.ArrayBuffer.empty[Long]
  val writeRates = mutable.ArrayBuffer.empty[Double]
  val readRates = mutable.ArrayBuffer.empty[Double]
  // this round's rows and nanoseconds inside write and read calls
  private val io = Array(0L, 0L, 0L, 0L)
  val callNs = mutable.LinkedHashMap.empty[String, Long].withDefaultValue(0L)
  private var inRound = 0L
  private var callsInRound = 0

  private def label(op: String) = if (timing) op else s"warmup.$op"

  private def timed[A](op: String)(body: => Either[String, A]): (A, Long) = {
    callsInRound += 1
    val t = System.nanoTime()
    val r =
      try trace.fold(body)(_.labelled(label(op))(body))
      catch { case e: Exception => Left(e.toString) }
    val dt = System.nanoTime() - t
    inRound += dt
    if (timing) {
      attempted += 1
      callNs(op) += dt
      if (r.isLeft) failed += 1
    }
    (r.fold(e => throw new CallFailed(s"$op: $e"), identity), dt)
  }

  private def writing[A](op: String, rows: Long, report: A => Seq[GraftCommitMessage])(
      body: => Either[String, A]): A = {
    val (a, dt) = timed(op)(body)
    if (timing) {
      writeRows += rows
      reportedRows += report(a).map(_.rows).sum
    }
    io(0) += rows
    io(1) += dt
    a
  }

  /** A `write` of `rows` rows. */
  def write(op: String, rows: Long)(body: => Either[String, Seq[GraftCommitMessage]]): Unit =
    writing(op, rows, identity[Seq[GraftCommitMessage]])(body)

  /** A `save` of `rows` rows; returns the table's item id. */
  def save(op: String, rows: Long)(
      body: => Either[String, (String, Seq[GraftCommitMessage])]): String =
    writing(op, rows, (r: (String, Seq[GraftCommitMessage])) => r._2)(body)._1

  /** A call that delivers rows to the caller. */
  def read(op: String)(body: => Array[Row]): Array[Row] = {
    val (a, dt) = timed(op)(Right(body))
    io(2) += a.length
    io(3) += dt
    a
  }

  /** Any other call (a catalog query run to completion). */
  def run[A](op: String)(body: => A): A = timed(op)(Right(body))._1

  /** Work between calls (resets, checks): not timed into the round. */
  def aside[A](what: String)(body: => A): A =
    trace.fold(body)(_.labelled(what)(body))

  def check(failures: Seq[String]): Unit = problems ++= failures

  /** One round of `calls` calls. A failed call ends the round; the calls
    * it could not reach count as attempted and failed, so every round
    * attempts the same number of calls.
    */
  def round(calls: Int)(body: => Unit): Unit = {
    inRound = 0L
    callsInRound = 0
    java.util.Arrays.fill(io, 0L)
    val name = if (timing) "round" else "warmup_round"
    try trace.fold(body)(_.span(name)(body))
    catch {
      case e: CallFailed =>
        errors += e.getMessage
        if (timing) {
          attempted += calls - callsInRound
          failed += calls - callsInRound
        }
    }
    if (timing) {
      System.err.println(s"perfbench: round ${inRound / 1e9} s; wrote ${io(0)} rows in ${io(1) / 1e9} s; read ${io(2)} rows in ${io(3) / 1e9} s")
      roundNs += inRound
      writeRates += io(0) / (io(1) / 1e9)
      readRates += io(2) / (io(3) / 1e9)
    }
  }
}
