package perfbench

import java.util.concurrent.ConcurrentHashMap
import java.util.concurrent.atomic.AtomicLong

import scala.collection.mutable

import org.apache.spark.SparkContext
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart, SparkListenerTaskEnd}
import org.apache.spark.sql.Row
import org.apache.spark.sql.sources.Filter
import org.apache.spark.sql.types.StructType

import graft.core.WriteMode
import graft.sinks.HostedTableSink

/** Spark work attributed to one label: jobs started, shuffle bytes
  * written, executor run time and executor CPU time.
  */
final class SparkWork {
  val jobs = new AtomicLong
  val shuffleBytes = new AtomicLong
  val runMs = new AtomicLong
  val cpuNs = new AtomicLong
}

/** Attributes every job, and every task of its stages, to the label the
  * calling thread carried in the local property [[JobTally.Label]] when
  * the job started. Delivery is asynchronous: read only after
  * [[org.apache.spark.PerfbenchBus.drain]].
  */
final class JobTally extends SparkListener {
  private val stageLabel = new ConcurrentHashMap[Int, String]
  val work = new ConcurrentHashMap[String, SparkWork]

  private def of(label: String): SparkWork = work.computeIfAbsent(label, _ => new SparkWork)

  override def onJobStart(e: SparkListenerJobStart): Unit = {
    val label = Option(e.properties).flatMap(p => Option(p.getProperty(JobTally.Label)))
      .getOrElse("unlabelled")
    of(label).jobs.incrementAndGet()
    e.stageIds.foreach(stageLabel.put(_, label))
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
    val m = e.taskMetrics
    if (m != null) {
      val w = of(stageLabel.getOrDefault(e.stageId, "unlabelled"))
      w.shuffleBytes.addAndGet(m.shuffleWriteMetrics.bytesWritten)
      w.runMs.addAndGet(m.executorRunTime)
      w.cpuNs.addAndGet(m.executorCpuTime)
    }
  }
}

object JobTally {
  val Label = "perfbench.label"
}

/** Count and time per service verb, as seen by the connector. */
final class VerbStat {
  val calls = new AtomicLong
  val nanos = new AtomicLong
  val rows = new AtomicLong
}

/** A timing delegate installed as the active sink in traced runs. It
  * counts and times every verb the engine issues, including the calls
  * write and read tasks make on executor threads, and sums the rows
  * staged under each label (the label of the call running at the time).
  */
final class TimingSink(inner: HostedTableSink, label: () => String, counting: () => Boolean)
    extends HostedTableSink {
  val verbs = new ConcurrentHashMap[String, VerbStat]
  val stagedRowsByLabel = new ConcurrentHashMap[String, AtomicLong]

  private def stat(verb: String) = verbs.computeIfAbsent(verb, _ => new VerbStat)

  private def timed[A](verb: String)(body: => A): A =
    if (!counting()) body
    else {
      val t = System.nanoTime()
      val r = body
      stat(verb).nanos.addAndGet(System.nanoTime() - t)
      stat(verb).calls.incrementAndGet()
      r
    }

  private def addRows(verb: String, n: Long): Unit =
    if (counting()) { stat(verb).rows.addAndGet(n); () }

  override def resolveByTitle(title: String): Option[String] =
    timed("resolveByTitle")(inner.resolveByTitle(title))
  override def create(title: String, schema: StructType, properties: Map[String, String]): String =
    timed("create")(inner.create(title, schema, properties))
  override def truncate(itemId: String): Unit = timed("truncate")(inner.truncate(itemId))
  override def addUniqueIndex(itemId: String, field: String): String =
    timed("addUniqueIndex")(inner.addUniqueIndex(itemId, field))
  override def fieldHasUniqueIndex(itemId: String, field: String): Boolean =
    timed("fieldHasUniqueIndex")(inner.fieldHasUniqueIndex(itemId, field))
  override def setProperties(itemId: String, props: Map[String, String]): Unit =
    timed("setProperties")(inner.setProperties(itemId, props))
  override def propertiesOf(itemId: String): Map[String, String] =
    timed("propertiesOf")(inner.propertiesOf(itemId))
  override def queryCount(itemId: String, filters: Array[Filter]): Long =
    timed("queryCount")(inner.queryCount(itemId, filters))
  override def queryPage(itemId: String, offset: Long, count: Long,
                         requiredCols: Array[String], filters: Array[Filter]): Iterator[Row] = {
    // materialized inside the timer so the time covers the page's rows on
    // both sinks (the in-process store's pages are lazy views)
    val page = timed("queryPage")(
      inner.queryPage(itemId, offset, count, requiredCols, filters).toVector)
    addRows("queryPage", page.size.toLong)
    page.iterator
  }
  override def appendBatch(itemId: String, batch: Seq[Row], mode: WriteMode,
                           key: Option[String], batchId: Option[String]): Long =
    timed("appendBatch")(inner.appendBatch(itemId, batch, mode, key, batchId))
  override def deleteByKey(itemId: String, keyField: String, keys: Seq[Any],
                           batchId: Option[String]): Long =
    timed("deleteByKey")(inner.deleteByKey(itemId, keyField, keys, batchId))
  override def stageBatch(itemId: String, partKey: String, attemptId: Long,
                          chunkId: Int, batch: Seq[Row]): Unit = {
    timed("stageBatch")(inner.stageBatch(itemId, partKey, attemptId, chunkId, batch))
    addRows("stageBatch", batch.size.toLong)
    if (counting())
      stagedRowsByLabel.computeIfAbsent(label(), _ => new AtomicLong).addAndGet(batch.size.toLong)
  }
  override def commitStaged(itemId: String, partKey: String, attemptId: Long,
                            mode: WriteMode, key: Option[String]): Long =
    timed("commitStaged")(inner.commitStaged(itemId, partKey, attemptId, mode, key))
  override def discardStaged(itemId: String, partKey: String, attemptId: Long): Unit =
    timed("discardStaged")(inner.discardStaged(itemId, partKey, attemptId))
  override def queryMinMax(itemId: String, filters: Array[Filter], field: String,
                           isMin: Boolean): Any =
    timed("queryMinMax")(inner.queryMinMax(itemId, filters, field, isMin))
  override def queryGroupedStats(itemId: String, filters: Array[Filter], groupFields: Seq[String],
                                 specs: Seq[(String, Option[String])]): Seq[Row] =
    timed("queryGroupedStats")(inner.queryGroupedStats(itemId, filters, groupFields, specs))
  override def exists(itemId: String): Boolean = timed("exists")(inner.exists(itemId))
  override def schemaOf(itemId: String): StructType = timed("schemaOf")(inner.schemaOf(itemId))
  override def titles: Seq[String] = timed("titles")(inner.titles)
  override def drop(itemId: String): Boolean = timed("drop")(inner.drop(itemId))
}

/** One span: a call, check, probe or round, with the span that caused it. */
final case class Span(id: Int, parent: Int, name: String, startNs: Long, endNs: Long)

/** In-memory instruments of a traced run: the job listener, the sink
  * delegate and the spans. Nothing is written until [[write]] at the end.
  */
final class Trace(sc: SparkContext, inner: HostedTableSink) {
  @volatile var label: String = "setup"
  @volatile var counting: Boolean = false
  val tally = new JobTally
  val sink = new TimingSink(inner, () => label, () => counting)
  private val spans = mutable.ArrayBuffer.empty[Span]
  private val open = mutable.Stack[Int](0)
  private var lastId = 0
  sc.addSparkListener(tally)

  def span[A](name: String)(body: => A): A = {
    lastId += 1
    val id = lastId
    val parent = open.top
    open.push(id)
    val t = System.nanoTime()
    try body
    finally {
      open.pop()
      spans += Span(id, parent, name, t, System.nanoTime())
    }
  }

  /** Run `body` with jobs and staged rows attributed to `l`. */
  def labelled[A](l: String)(body: => A): A = {
    val before = label
    label = l
    sc.setLocalProperty(JobTally.Label, l)
    try span(l)(body)
    finally { label = before; sc.setLocalProperty(JobTally.Label, before) }
  }

  def work(l: String): SparkWork = tally.work.getOrDefault(l, new SparkWork)

  def drain(): Unit = org.apache.spark.PerfbenchBus.drain(sc)

  def write(path: java.nio.file.Path): Unit = {
    val sb = new StringBuilder("{\"spans\":[\n")
    sb ++= spans.sortBy(_.id).map(s =>
      f"""{"id":${s.id},"parent":${s.parent},"name":"${s.name}","start_ns":${s.startNs},"end_ns":${s.endNs}}""")
      .mkString(",\n")
    sb ++= "\n]}\n"
    java.nio.file.Files.writeString(path, sb.toString)
    ()
  }
}
