package graft.tools

import java.util.concurrent.CountDownLatch
import java.util.concurrent.atomic.AtomicLong

import org.apache.spark.scheduler.{SparkListener, SparkListenerTaskEnd}
import org.apache.spark.sql.functions.col
import org.scalatest.funsuite.AnyFunSuite

class QueryProfileSpec extends AnyFunSuite {
  lazy val spark = graft.SparkTestBase.spark

  private def withProfile[A](body: QueryProfile => A): A = {
    val p = QueryProfile.attach(spark)
    try body(p) finally spark.sparkContext.removeSparkListener(p)
  }

  test("jobs under one label are not credited to a label running at the same time") {
    withProfile { p =>
      val sc = spark.sparkContext
      val start = new CountDownLatch(1)
      def run(label: String, jobs: Int): Thread = {
        val t = new Thread(() => {
          start.await()
          QueryProfile.labelled(sc, label) {
            (1 to jobs).foreach { _ =>
              sc.parallelize(1 to 8, 2).map { i => Thread.sleep(20); i }.count()
            }
          }
        })
        t.start()
        t
      }
      val threads = Seq(run("profile.a", 3), run("profile.b", 5))
      start.countDown()
      threads.foreach(_.join()) // each thread drained the bus before ending
      assert(p.work("profile.a").jobs == 3 && p.work("profile.a").stages == 3)
      assert(p.work("profile.b").jobs == 5 && p.work("profile.b").stages == 5)
      assert(p.stagesOf("profile.a").forall(_.tasks == 2))
    }
  }

  test("per-stage shuffle bytes sum to the label's total and to what the tasks wrote") {
    withProfile { p =>
      val written = new AtomicLong
      val tasks = new SparkListener {
        override def onTaskEnd(e: SparkListenerTaskEnd): Unit =
          if (e.taskMetrics != null) written.addAndGet(e.taskMetrics.shuffleWriteMetrics.bytesWritten)
      }
      spark.sparkContext.addSparkListener(tasks)
      try QueryProfile.labelled(spark.sparkContext, "profile.shuffle") {
        spark.range(0, 50000, 1, 4).groupBy(col("id") % 97).count().collect()
      } finally spark.sparkContext.removeSparkListener(tasks)
      val stages = p.stagesOf("profile.shuffle")
      val total = p.work("profile.shuffle").shuffleBytes
      assert(stages.size >= 2, stages)
      assert(total > 0)
      assert(stages.map(_.shuffleBytes).sum == total)
      assert(total == written.get)
    }
  }

  test("a reading right after the drain includes the action's last task") {
    withProfile { p =>
      val n = QueryProfile.labelled(spark.sparkContext, "profile.last") {
        spark.sparkContext.parallelize(1 to 4, 4).map { i =>
          if (i == 4) Thread.sleep(300)
          i
        }.count()
      }
      assert(n == 4)
      val Seq(stage) = p.stagesOf("profile.last")
      assert(stage.tasks == 4)
      assert(stage.runMs >= 300, stage)
      assert(p.work("profile.last").jobs == 1)
    }
  }

  test("every stage of one adaptive count() carries the same SQL execution id") {
    withProfile { p =>
      assert(spark.conf.get("spark.sql.adaptive.enabled") == "true")
      QueryProfile.labelled(spark.sparkContext, "profile.sql") {
        spark.range(0, 20000, 1, 4).groupBy(col("id") % 13).count().count()
      }
      val ids = p.stagesOf("profile.sql").map(_.executionId)
      assert(ids.size >= 2, ids)
      assert(ids.distinct.size == 1 && ids.head.nonEmpty, ids)
    }
  }
}
