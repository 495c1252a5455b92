package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{StreamingQuery, Trigger}
import org.apache.spark.sql.types.StructType

import graft.api.HostedTables
import graft.core.WriteMode

/** Structured Streaming over the events table.
  *
  * The reference has no streaming surface (SURVEY §2); this is the
  * Spark-native extension: windowed aggregation with watermarked state and
  * an upsert sink via `foreachBatch` → the hosted-table connector — the
  * streaming counterpart of the reference's chunked upsert loader.
  */
object EventStreams {

  /** Watermarked tumbling-window aggregation (event-time). */
  def windowedCounts(events: DataFrame, window_ : String = "1 hour",
                     watermark: String = "2 hours"): DataFrame =
    events
      .withWatermark("ts", watermark)
      .groupBy(window(col("ts"), window_), col("event_type"))
      .agg(count(lit(1)).as("n"), sum(col("value")).as("total_value"))

  /** Run a windowed streaming aggregation over a static parquet path,
    * landing results through the NATIVE DSv2 streaming sink
    * (`writeStream.format("graft")`, update mode, key-addressed upsert),
    * synchronously; returns the settled table. This is the scale-correct
    * stream/batch-equivalence harness: no complete-mode memory sink (which
    * re-materializes the whole result table on the driver every trigger) —
    * each micro-batch upserts only its changed groups, aggregation state
    * is watermark-bounded, and epoch-tagged batch ids give exactly-once
    * across retries and restarts.
    */
  def runUpsertWindowedOnce(spark: SparkSession, dir: String, fileGlob: String,
                            schema: StructType, title: String): DataFrame =
    // input-derived state partitioning (timings in StreamTuning)
    StreamTuning.withDerivedPartitions(spark, dir, fileGlob) {
      runUpsertWindowedOnceInner(spark, dir, fileGlob, schema, title)
    }

  private def runUpsertWindowedOnceInner(spark: SparkSession, dir: String,
                                         fileGlob: String, schema: StructType,
                                         title: String): DataFrame = {
    // FileStreamSource wants a directory; the fixture dir holds one parquet
    // per table, so scope to this table's file with pathGlobFilter.
    val raw = spark.readStream.schema(schema)
      .option("pathGlobFilter", fileGlob).parquet(dir)
    val events = graft.core.TimestampNorm.normalizeEventTime(raw)
    val agg = events
      // Bounds streaming state in a live deployment; a static-file replay
      // has no late data, so the result equals the batch aggregation.
      .withWatermark("ts", "24 hours")
      .groupBy(window(col("ts"), "1 hour"), col("event_type"))
      .agg(count(lit(1)).as("n"),
        (sum(col("value").cast("decimal(18,2)")) * 100).cast("long")
          .as("total_value_cents"))
      .select(unix_millis(col("window.start")).as("window_start_ms"),
        col("event_type"), col("n"), col("total_value_cents"))
      .withColumn("merge_key",
        concat_ws("|", col("window_start_ms"), col("event_type")))
    // The DSv2 sink targets an existing item: resolve-or-create from the
    // stream's output schema (the streaming analog of save()'s
    // resolve-or-create).
    val norm = graft.core.ServiceName.normalize(title).fold(sys.error, identity)
    val id = HostedTables.resolveOrCreate(norm, agg.schema).fold(sys.error, identity)
    val ckpt = java.nio.file.Files
      .createTempDirectory(s"graft_stream_$norm")
    val q: StreamingQuery = agg.writeStream
      .format("graft")
      .option("itemId", id)
      .option("writeMode", "upsert")
      .option("key", "merge_key")
      .option("checkpointLocation", ckpt.toString)
      .outputMode("update")
      .trigger(Trigger.AvailableNow())
      .start()
    try q.processAllAvailable()
    finally {
      // stop FIRST (also on the failure path — an orphaned query would
      // keep writing into the checkpoint while it is being deleted), then
      // remove the one-shot checkpoint: it has no replay value and a
      // leaked temp dir per invocation accumulates across bench loops
      try q.stop() catch { case _: Exception => () }
      import scala.jdk.CollectionConverters._
      val walk = java.nio.file.Files.walk(ckpt)
      try walk.iterator().asScala.toSeq.reverse
        .foreach(p => java.nio.file.Files.deleteIfExists(p))
      finally walk.close()
    }
    HostedTables.read(spark, id).drop("merge_key")
  }

  /** Streaming exact dedup: drop duplicate ids arriving within the
    * watermark horizon — state stays bounded because expired keys age out
    * with the watermark (the streaming counterpart of `Dedup.exact`).
    */
  def dedupStream(events: DataFrame, idCol: String,
                  watermark: String = "1 hour"): DataFrame =
    events.withWatermark("ts", watermark)
      .dropDuplicatesWithinWatermark(idCol)

  /** Watermarked stream-stream interval join: every `right` event within
    * `within` AFTER a matching `left` event on `key` — the attribution
    * primitive (click → purchase within the window). Both sides carry a
    * watermark and the join condition bounds the event-time gap in ONE
    * direction, so each side's buffered state expires as the watermark
    * advances — the requirements Spark imposes for state cleanup in
    * stream-stream equi-joins. Works identically on batch frames (same
    * plan family minus state; in streaming, events later than the
    * watermark delay are dropped — batch has no such loss).
    *
    * `watermarkDelay` (defaults to `within`) is the independent
    * late-arrival tolerance: how far behind the max seen event time an
    * event may arrive and still join. Conflating it with the attribution
    * window silently drops moderately-late events, so size it to the
    * pipeline's actual delivery lag.
    */
  def intervalJoin(left: DataFrame, right: DataFrame,
                   key: String = "user_id",
                   within: String = "30 minutes",
                   watermarkDelay: Option[String] = None): DataFrame = {
    val delay = watermarkDelay.getOrElse(within)
    val l = left.withWatermark("ts", delay)
      .select(col(key).as("l_key"), col("ts").as("l_ts"),
        col("event_type").as("l_type"))
    val r = right.withWatermark("ts", delay)
      .select(col(key).as("r_key"), col("ts").as("r_ts"),
        col("event_type").as("r_type"))
    l.join(r, expr(
      s"l_key = r_key AND r_ts >= l_ts AND r_ts <= l_ts + INTERVAL $within"))
      .select(col("l_key").as(key), col("l_ts"), col("l_type"),
        col("r_ts"), col("r_type"))
  }

  /** Stream → hosted table upsert, one merge per micro-batch — the
    * streaming loader: each micro-batch is a keyed upsert exactly like the
    * reference's chunk loop, but continuous.
    */
  def upsertToHostedTable(events: DataFrame, itemId: String, key: String): StreamingQuery =
    windowedCounts(events)
      .select(col("window.start").as("window_start"), col("event_type"),
        col("n"), col("total_value"))
      .withColumn("merge_key",
        concat_ws("|", col("window_start").cast("long"), col("event_type")))
      .writeStream
      .outputMode("update")
      .foreachBatch { (batch: DataFrame, _: Long) =>
        // Watermark-advance micro-batches can be empty — skip, don't fail
        // (the batch API's empty-input rejection is for whole loads).
        if (!batch.isEmpty)
          HostedTables.write(batch, itemId, WriteMode.Upsert, Some("merge_key"))
            .left.foreach(e => throw new IllegalStateException(e))
        ()
      }
      .start()
}
