package graft.tools

import org.scalatest.funsuite.AnyFunSuite

class ProgressListenerSpec extends AnyFunSuite {
  lazy val spark = graft.SparkTestBase.spark

  test("listener records stage-level row counts for a job") {
    val lines = scala.collection.mutable.ArrayBuffer.empty[String]
    val l = ProgressListener.attach(spark, lines += _)
    try {
      val n = spark.read.parquet("/root/testdata/sf0.001/orders.parquet").count()
      org.apache.spark.ListenerBusDrain(spark.sparkContext)
      assert(n == 1500)
      assert(l.totalRecordsRead >= 1500, l.stages.toString)
      assert(lines.exists(_.contains("[progress]")))
    } finally spark.sparkContext.removeSparkListener(l)
  }
}
