package graft.tools

import org.apache.spark.sql.SparkSession

/** Progress reporting — the working replacement for the reference's dead
  * `progress_bar` (`/root/reference/src/agol_pandas.py:45-67`, which
  * references an undefined module and can never run).
  *
  * In a distributed engine, progress is an event-stream concern, not a
  * driver-side loop over rows: this is a [[QueryProfile]] that renders the
  * reference's "Loaded X of Y" lines from each completed stage's record
  * (zero overhead on the hot path). Attach per-session; metrics are also
  * visible in the Spark UI when enabled.
  */
final class ProgressListener(log: String => Unit = s => Console.err.println(s))
    extends QueryProfile {

  final case class StageProgress(stageId: Int, name: String, tasks: Int,
                                 recordsRead: Long, bytesRead: Long,
                                 recordsWritten: Long)

  override protected def stageCompleted(s: QueryProfile.Stage): Unit =
    log(f"[progress] stage ${s.id}%4d ${s.tasks}%4d tasks " +
      f"in=${s.inputRecords}%,d rows out=${s.outputRecords}%,d rows")

  def stages: Seq[StageProgress] = stageRecords.map(s =>
    StageProgress(s.id, s.callSite, s.tasks, s.inputRecords, s.inputBytes, s.outputRecords))

  def totalRecordsRead: Long = stages.map(_.recordsRead).sum
}

object ProgressListener {
  /** Attach a fresh listener to the session's scheduler bus. */
  def attach(spark: SparkSession, log: String => Unit = s => Console.err.println(s)): ProgressListener = {
    val l = new ProgressListener(log)
    spark.sparkContext.addSparkListener(l)
    l
  }
}
