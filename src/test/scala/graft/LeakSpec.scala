package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

import graft.core.SessionLog
import graft.sinks.HostedSinks

/** Calls that leave nothing behind: a second run of a stream replay that
  * writes through a memory sink or into hosted tables adds no temporary
  * view, no active stream and no hosted title to what the first run left,
  * and the session audit log keeps a bounded history with an exact
  * failure count.
  */
class LeakSpec extends AnyFunSuite {
  private val dir = "/root/testdata/sf0.001"

  private final case class Residue(views: Set[String], streams: Set[String],
                                  titles: Set[String])

  private def leftBehind(s: SparkSession): Residue = Residue(
    s.catalog.listTables().collect().filter(_.isTemporary).map(_.name).toSet,
    s.streams.active.map(_.id.toString).toSet,
    HostedSinks.active.titles.toSet)

  test("a second stream replay adds no view, stream or hosted title") {
    val s = SparkTestBase.spark.newSession()
    def runBoth(): Unit = Seq("x_stream_latedata", "x_stream_route").foreach { q =>
      assert(SparkEntry.queries(q)(s, dir).collect().nonEmpty, q)
    }
    runBoth()
    val first = leftBehind(s)
    runBoth()
    val second = leftBehind(s)
    assert(second.views -- first.views == Set.empty, "temporary views added")
    assert(second.streams -- first.streams == Set.empty, "streams left active")
    assert(second.titles -- first.titles == Set.empty, "hosted titles added")
  }

  test("SessionLog keeps the newest MaxLines lines and an exact failure count") {
    val n = SessionLog.MaxLines
    SessionLog.clear()
    try {
      (0 to n).foreach { i =>
        SessionLog.recordInfo(s"info $i")
        SessionLog.recordFailure(s"failure $i")
      }
      assert(SessionLog.loggingInfo.size == n)
      assert(SessionLog.loggingInfo.head == "info 1" &&
        SessionLog.loggingInfo.last == s"info $n")
      assert(SessionLog.failLog.size == n)
      assert(SessionLog.failLog.head == "failure 1")
      assert(SessionLog.failures == n + 1)
    } finally SessionLog.clear()
  }
}
