package graft.api

import java.util.concurrent.CountDownLatch

import org.scalatest.funsuite.AnyFunSuite

import graft.core.WriteMode
import graft.sinks.HostedStore

class WriteReportSpec extends AnyFunSuite {
  lazy val spark = graft.SparkTestBase.spark

  test("concurrent writes to one item each get the report of their own rows") {
    HostedStore.dropByTitle("write_report_pairs")
    val sizes = Seq(300L, 1700L)
    val frames = sizes.map(n => spark.range(n).selectExpr("id AS k", "'x' AS v"))
    val id = HostedTables.createTable(frames.head, "write_report_pairs")
      .fold(e => fail(e), identity)
    (1 to 8).foreach { round =>
      val start = new CountDownLatch(1)
      val results = new Array[Either[String, Seq[graft.sources.GraftCommitMessage]]](2)
      val threads = frames.zipWithIndex.map { case (df, i) =>
        val t = new Thread(() => {
          start.await()
          results(i) = HostedTables.write(df, id, WriteMode.Append)
        })
        t.start()
        t
      }
      start.countDown()
      threads.foreach(_.join())
      val rowsPerReport = results.toSeq.map(_.fold(e => fail(e), _.map(_.rows).sum))
      assert(rowsPerReport == sizes, s"round $round")
    }
    assert(HostedStore.rowCount(id) == 8 * sizes.sum)
  }
}
