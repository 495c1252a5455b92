package graft.streaming

import java.util.concurrent.{ConcurrentLinkedQueue, CountDownLatch, TimeUnit}

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.StreamingQueryListener
import org.apache.spark.sql.streaming.StreamingQueryListener._
import org.scalatest.funsuite.AnyFunSuite

/** The one-shot replay driver ([[StreamTuning.replay]]): a replay leaves
  * no temporary view and no running query behind, a stateful plan runs at
  * the input-derived shuffle count and a stateless one at the session
  * count, and the session count is back in place after every call,
  * failed ones included. Each test runs in its own session, so the views
  * and queries it lists are only its own.
  */
class ReplaySpec extends AnyFunSuite {
  private val dir = "/root/testdata/sf0.001"
  private val key = "spark.sql.shuffle.partitions"

  private def freshSession(): SparkSession = graft.SparkTestBase.spark.newSession()

  private def assertNothingLeft(s: SparkSession): Unit = {
    val views = s.catalog.listTables().collect().filter(_.isTemporary).map(_.name)
    assert(views.isEmpty, s"temporary views left: ${views.mkString(", ")}")
    assert(s.streams.active.isEmpty,
      s"queries left running: ${s.streams.active.map(_.name).mkString(", ")}")
  }

  /** Runs `body`, which runs one query on `s`; returns what `body`
    * returned and the state-operator shuffle counts of every progress
    * report, once the query's termination has been reported.
    */
  private def withStateShards[A](s: SparkSession)(body: => A): (A, Set[Int]) = {
    val shards = new ConcurrentLinkedQueue[Int]()
    val done = new CountDownLatch(1)
    val listener = new StreamingQueryListener {
      override def onQueryStarted(e: QueryStartedEvent): Unit = ()
      override def onQueryProgress(e: QueryProgressEvent): Unit =
        e.progress.stateOperators.foreach(o => shards.add(o.numShufflePartitions.toInt))
      override def onQueryTerminated(e: QueryTerminatedEvent): Unit = done.countDown()
    }
    s.streams.addListener(listener)
    try {
      val out = body
      assert(done.await(60, TimeUnit.SECONDS), "query termination never reported")
      (out, shards.asScala.toSet)
    } finally s.streams.removeListener(listener)
  }

  test("catalog replays leave no temporary view and no running query") {
    val s = freshSession()
    val stateful = graft.SparkEntry.queries("x_stream_distinct")(s, dir).collect()
    val stateless = graft.SparkEntry.queries("x_stream_classify")(s, dir).collect()
    assert(stateful.nonEmpty && stateless.nonEmpty)
    assertNothingLeft(s)
  }

  test("a stateful replay runs at the derived count, a stateless one at the session count") {
    val s = freshSession()
    val before = s.conf.get(key)
    val derived = StreamTuning.derivedPartitions(s,
      StreamTuning.inputBytes(s, dir, "events.parquet"))
    assert(derived < s.sessionState.conf.numShufflePartitions,
      "the fixture must derive fewer partitions than the session has")

    val (rows, shards) = withStateShards(s) {
      graft.SparkEntry.queries("x_stream_distinct")(s, dir).collect()
    }
    assert(rows.nonEmpty)
    assert(shards == Set(derived))
    assert(s.conf.get(key) == before)

    // no state, so the one shuffle in the plan shows the count it ran at
    // (with adaptive execution off: it would coalesce the small input)
    s.conf.set("spark.sql.adaptive.enabled", "false")
    val schema = s.read.parquet(s"$dir/events.parquet").schema
    val pids = StreamTuning.replay(s, dir, "events.parquet", schema)(
        _.repartition(col("event_id")).select(spark_partition_id().as("pid")))
      .distinct().count()
    assert(pids == s.sessionState.conf.numShufflePartitions)
    assert(s.conf.get(key) == before)
    assertNothingLeft(s)
  }

  test("the session count is restored when the transform or the query fails") {
    val s = freshSession()
    val before = s.conf.get(key)
    val schema = s.read.parquet(s"$dir/events.parquet").schema
    def replay(transform: DataFrame => DataFrame) =
      StreamTuning.replay(s, dir, "events.parquet", schema)(transform)

    intercept[IllegalStateException](replay(_ => throw new IllegalStateException("no plan")))
    assert(s.conf.get(key) == before)

    // stateful, so both fail inside the derived scope: one when the query
    // starts (append output needs a watermark), one while it runs
    intercept[Exception](replay(_.groupBy(col("event_type")).count()))
    assert(s.conf.get(key) == before)
    intercept[Exception](replay(raw =>
      graft.core.TimestampNorm.normalizeEventTime(raw)
        .withWatermark("ts", "0 seconds")
        .groupBy(window(col("ts"), "1 hour"))
        .agg(sum(raise_error(lit("failing replay")).cast("long")).as("never"))))
    assert(s.conf.get(key) == before)
    assertNothingLeft(s)
  }
}
