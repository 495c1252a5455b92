package graft.tools

import java.util.Properties
import java.util.concurrent.{ConcurrentHashMap, ConcurrentLinkedQueue}
import java.util.concurrent.atomic.AtomicLong

import scala.jdk.CollectionConverters._

import org.apache.spark.{ListenerBusDrain, SparkContext}
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart,
  SparkListenerStageCompleted, SparkListenerStageSubmitted}
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.SQLExecution

/** The program's one work profiler: a listener that credits every Spark
  * job, and every stage that job runs, to the label the submitting thread
  * carried in the local property [[QueryProfile.Label]]. Local properties
  * pass to the threads a query starts (broadcasts, streaming
  * micro-batches), so their work lands on the caller's label too; jobs
  * started without a label are credited to [[QueryProfile.Unlabelled]].
  *
  * It keeps one [[QueryProfile.Stage]] record per completed stage attempt
  * (SQL execution id, call site, tasks, records in and out, shuffle bytes
  * written, executor run and CPU time), and a label's [[QueryProfile.Work]]
  * is the sum of its records plus its job count. Delivery is asynchronous: read after
  * [[org.apache.spark.ListenerBusDrain]], which [[QueryProfile.labelled]]
  * runs before it returns.
  */
class QueryProfile extends SparkListener {
  import QueryProfile._

  private val jobs = new ConcurrentHashMap[String, AtomicLong]
  private val running = new ConcurrentHashMap[(Int, Int), (String, String)]
  private val done = new ConcurrentLinkedQueue[Stage]

  override def onJobStart(e: SparkListenerJobStart): Unit = {
    jobs.computeIfAbsent(labelOf(e.properties), _ => new AtomicLong).incrementAndGet()
    ()
  }

  override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit = {
    val executionId = Option(e.properties)
      .flatMap(p => Option(p.getProperty(SQLExecution.EXECUTION_ID_KEY))).getOrElse("")
    running.put((e.stageInfo.stageId, e.stageInfo.attemptNumber()),
      (labelOf(e.properties), executionId))
    ()
  }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = {
    val info = e.stageInfo
    val (label, executionId) = Option(running.remove((info.stageId, info.attemptNumber())))
      .getOrElse((Unlabelled, ""))
    val m = info.taskMetrics
    val s = Stage(info.stageId, label, executionId, info.name.takeWhile(_ != '\n'), info.numTasks,
      m.inputMetrics.recordsRead, m.inputMetrics.bytesRead, m.shuffleReadMetrics.recordsRead,
      m.outputMetrics.recordsWritten, m.shuffleWriteMetrics.recordsWritten,
      m.shuffleWriteMetrics.bytesWritten, m.executorRunTime, m.executorCpuTime)
    done.add(s)
    stageCompleted(s)
  }

  /** Called once per completed stage attempt, after it is recorded. */
  protected def stageCompleted(s: Stage): Unit = ()

  /** Every completed stage attempt, in completion order. */
  def stageRecords: Seq[Stage] = done.asScala.toSeq

  def stagesOf(label: String): Seq[Stage] = stageRecords.filter(_.label == label)

  def work(label: String): Work = {
    val ss = stagesOf(label)
    Work(Option(jobs.get(label)).fold(0L)(_.get), ss.size, ss.map(_.shuffleBytes).sum,
      ss.map(_.runMs).sum, ss.map(_.cpuNs).sum)
  }
}

object QueryProfile {
  val Label = "graft.profile.label"
  val Unlabelled = "unlabelled"

  /** One label's jobs started, stages completed, shuffle bytes written,
    * executor run time and executor CPU time.
    */
  final case class Work(jobs: Long, stages: Int, shuffleBytes: Long, runMs: Long, cpuNs: Long)

  /** One completed stage attempt. `executionId` is the SQL execution that
    * submitted it (`spark.sql.execution.id`, empty for jobs outside one),
    * which ties a stage adaptive execution submits to its query. `input*`
    * is what it read from storage, `output*` what it wrote to storage,
    * `shuffle*` what it read from and wrote to the shuffle.
    */
  final case class Stage(id: Int, label: String, executionId: String, callSite: String, tasks: Int,
                         inputRecords: Long, inputBytes: Long, shuffleReadRecords: Long,
                         outputRecords: Long, shuffleWriteRecords: Long, shuffleBytes: Long,
                         runMs: Long, cpuNs: Long) {
    def recordsIn: Long = inputRecords + shuffleReadRecords
    def recordsOut: Long = outputRecords + shuffleWriteRecords
  }

  private def labelOf(p: Properties): String =
    Option(p).flatMap(p => Option(p.getProperty(Label))).getOrElse(Unlabelled)

  def attach(spark: SparkSession): QueryProfile = {
    val p = new QueryProfile
    spark.sparkContext.addSparkListener(p)
    p
  }

  /** Runs `body` with the jobs of the calling thread labelled `label`,
    * then waits for the listener bus, so a reading taken after the call
    * includes the body's last task.
    */
  def labelled[A](sc: SparkContext, label: String)(body: => A): A = {
    val before = sc.getLocalProperty(Label)
    sc.setLocalProperty(Label, label)
    try body
    finally {
      sc.setLocalProperty(Label, before)
      ListenerBusDrain(sc)
    }
  }

  /** The work `body` runs, read by a profile attached for the call. */
  def measure(spark: SparkSession)(body: => Unit): Work = {
    val p = attach(spark)
    val label = java.util.UUID.randomUUID().toString
    try {
      labelled(spark.sparkContext, label)(body)
      p.work(label)
    } finally spark.sparkContext.removeSparkListener(p)
  }
}
