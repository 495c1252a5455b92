package graft.streaming

import java.io.File

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.Trigger
import org.scalatest.funsuite.AnyFunSuite

import graft.api.{HostedTables, Tables}

/** Checkpoint RESUME: the operational property a 100 TB streaming
  * deployment actually depends on — a restarted query picks up source
  * offsets AND aggregation state from the checkpoint, processes only
  * new data, and its merged results equal the never-restarted run.
  *
  * The fixture splits events by id parity, so EVERY window receives
  * rows from both passes: the final table can only be correct if the
  * second pass recovered the first pass's window partials from the
  * state store (an upsert of second-pass-only counts would overwrite
  * the merged values and diverge from batch truth).
  */
class StreamResumeSpec extends AnyFunSuite {
  lazy val spark = graft.SparkTestBase.spark

  private val dir = "/root/testdata/sf0.001"
  private val stageDir = "/tmp/graft_resume_stage"
  private val ckptDir = "/tmp/graft_resume_ckpt"

  private def stageOne(df: DataFrame, name: String, mtime: Long): Unit =
    graft.core.ParquetStage.stageSingleFile(df, stageDir, name, Some(mtime))

  test("restarted query resumes offsets and window state from the checkpoint") {
    try spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    catch { case _: Exception => () }
    graft.core.ParquetStage.rmRec(stageDir)
    graft.core.ParquetStage.rmRec(ckptDir)
    new File(stageDir).mkdirs()
    val ev = Tables.load(spark, dir, "events")
      .select("event_id", "ts", "user_id", "event_type", "value")

    val norm = graft.core.ServiceName.normalize("resume spec counts")
      .fold(sys.error, identity)
    graft.sinks.HostedStore.dropByTitle(norm)

    def runPass(): Long = {
      val schema = spark.read.parquet(s"$stageDir/a.parquet").schema
      val raw = spark.readStream.schema(schema).parquet(stageDir)
      val events = graft.core.TimestampNorm.normalizeEventTime(raw)
      val agg = events
        // horizon covers the whole fixture span: state EVICTION between
        // passes would make second-pass rows late (rebuilt partials
        // overwrite merged counts) — the recovery property needs every
        // window still live at restart; a real deployment sizes the
        // horizon to its tolerated lateness the same way
        .withWatermark("ts", "900 hours")
        .groupBy(window(col("ts"), "1 hour"), col("event_type"))
        .agg(count(lit(1)).as("n"))
        .select(unix_millis(col("window.start")).as("window_start_ms"),
          col("event_type"), col("n"))
        .withColumn("merge_key",
          concat_ws("|", col("window_start_ms"), col("event_type")))
      val id = graft.api.HostedTables.resolveOrCreate(norm, agg.schema)
        .fold(sys.error, identity)
      val q = agg.writeStream
        .format("graft")
        .option("itemId", id)
        .option("writeMode", "upsert")
        .option("key", "merge_key")
        .option("checkpointLocation", ckptDir) // SHARED across passes
        .outputMode("update")
        .trigger(Trigger.AvailableNow())
        .start()
      q.processAllAvailable()
      val in = q.recentProgress.map(_.numInputRows).sum
      q.stop()
      in
    }

    val evenRows = ev.filter(col("event_id") % 2 === 0)
    val oddRows = ev.filter(col("event_id") % 2 =!= 0)
    stageOne(evenRows, "a", 1000000L)
    val in1 = runPass()
    assert(in1 == evenRows.count(), s"pass 1 processed $in1 rows")

    stageOne(oddRows, "b", 2000000L)
    val in2 = runPass()
    // offset recovery: the restarted query must NOT re-read file a
    assert(in2 == oddRows.count(),
      s"pass 2 processed $in2 rows — checkpoint offsets not resumed")

    // state recovery: merged per-window counts equal batch truth over
    // ALL events (second-pass-only partials would have overwritten the
    // upserted values and diverged)
    val id = graft.sinks.HostedSinks.active.resolveByTitle(norm).get
    val got = HostedTables.read(spark, id)
      .select("window_start_ms", "event_type", "n")
      .collect().map(r => (r.getLong(0), r.getString(1), r.getLong(2))).toSet
    val truth = graft.core.TimestampNorm.normalizeEventTime(ev)
      .groupBy(window(col("ts"), "1 hour"), col("event_type"))
      .agg(count(lit(1)).as("n"))
      .select(unix_millis(col("window.start")), col("event_type"), col("n"))
      .collect().map(r => (r.getLong(0), r.getString(1), r.getLong(2))).toSet
    assert(got == truth,
      s"resumed aggregation diverged from batch truth " +
        s"(missing: ${(truth -- got).take(3)}, extra: ${(got -- truth).take(3)})")
    // and windows genuinely straddled the restart (the property's teeth)
    val perPassWindows = graft.core.TimestampNorm.normalizeEventTime(evenRows)
      .select(unix_millis(date_trunc("hour", col("ts")))).distinct().count()
    assert(perPassWindows > 0 && got.nonEmpty)
  }
}
