package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.Trigger

import graft.core.ParquetStage

/** Late-data ACCOUNTING: what the watermark dropped, per query — the
  * monitoring surface a production stream alerts on (a sudden spike in
  * `numRowsDroppedByWatermark` means an upstream producer fell behind
  * the horizon and data is silently vanishing from every windowed
  * aggregate).
  *
  * The engine exposes this through `StreamingQueryProgress`
  * (`stateOperators.numRowsDroppedByWatermark`) — no custom state, no
  * second pass. TWO metric caveats a monitor must know, both baked
  * into this harness and its spec:
  *
  *  1. The data-late filter applies the watermark the engine had
  *     OBSERVED before the batch — one batch after it is computed — so
  *     late data arriving in the very next batch slips the filter (and
  *     re-emits its windows as duplicate append rows).
  *  2. The counter counts state-store INPUTS dropped, i.e. per-batch
  *     PARTIAL AGGREGATES, not raw input rows: with map-side partial
  *     aggregation, N late rows spread over W windows inside one
  *     micro-batch report as W drops, and late rows landing in a
  *     still-open window are not dropped at all. The counter is a
  *     lateness SIGNAL (zero ⇔ nothing late), not a lost-row census —
  *     a dashboard that plots it as "rows lost" under-reports.
  */
object LateData {

  /** Hourly event counts with late-arrival accounting over a staged
    * three-micro-batch replay (see the staging comment below for why
    * three).
    *
    * Returns ONE row: (n_batches, late_partials_dropped, n_windows,
    * n_rows_counted) — late_partials_dropped is the drop telemetry
    * firing (= the number of distinct closed windows the late replay
    * touched, per caveat 2 above); n_windows/n_rows_counted equal the
    * batch truth (the late replay never corrupts emitted aggregates).
    */
  def runOnce(spark: SparkSession, dir: String,
              stageDir: String,
              lateFraction: Int = 10): DataFrame = {
    val ev = graft.api.Tables.load(spark, dir, "events")
      .select("event_id", "ts", "user_id", "event_type", "value")
    // clean slate: stale files (including a crashed run's leftover
    // __tmp_* DIRECTORY, which a flat delete would silently skip) would
    // join the new stream and inflate every window
    ParquetStage.rmRec(stageDir)
    // Three micro-batches, because the data-late filter applies the
    // watermark the engine had OBSERVED before the batch — one batch
    // after it is computed (verified empirically: a replay arriving in
    // the very next batch slips the filter and re-emits its windows).
    //  1. the full corpus — the watermark advances to max event time;
    //  2. a heartbeat (the max-ts rows only) — carries no new
    //     information (its rows land in the final never-emitted-in-
    //     append window) but lets the engine observe the watermark;
    //  3. the late replay — now genuinely behind the observed watermark
    //     and dropped, exactly as a late producer's rows would be.
    val mx = ev.agg(max(col("ts"))).head().getTimestamp(0)
    ParquetStage.stageSingleFile(ev, stageDir, "ontime", Some(1000000L))
    ParquetStage.stageSingleFile(ev.filter(col("ts") === lit(mx)),
      stageDir, "heartbeat", Some(2000000L))
    ParquetStage.stageSingleFile(
      ev.filter(col("event_id") % lateFraction === 0 && col("ts") < lit(mx)),
      stageDir, "late_replay", Some(3000000L))

    val schema = spark.read.parquet(s"$stageDir/ontime.parquet").schema
    // input-derived state partitioning for the replay ONLY (the staging
    // writes above run at session parallelism — the CDC lesson; timings
    // in StreamTuning). The report is identical at any shard count (the
    // drop counter counts post-shuffle partials per window — map-side,
    // invariant to the shard count).
    val name = s"latedata_${System.nanoTime()}"
    // the memory sink's view is dropped once the counts are read: the
    // returned report is a local one-row frame that does not need it
    try {
      val q = StreamTuning.withDerivedPartitions(spark, stageDir, "*") {
        val raw = spark.readStream.schema(schema)
          .option("maxFilesPerTrigger", "1")
          .parquet(stageDir)
        val events = graft.core.TimestampNorm.normalizeEventTime(raw)
        val started = events
          .withWatermark("ts", "0 seconds")
          .groupBy(window(col("ts"), "1 hour"))
          .agg(count(lit(1)).as("n_events"))
          .select(unix_millis(col("window.start")).as("window_start_ms"),
            col("n_events"))
          .writeStream.format("memory").queryName(name)
          .trigger(Trigger.AvailableNow()).outputMode("append").start()
        started.awaitTermination()
        started
      }
      val progress = q.recentProgress.filter(_.numInputRows > 0)
      val dropped = progress
        .flatMap(_.stateOperators.map(_.numRowsDroppedByWatermark)).sum
      val emitted = spark.table(name)
      val nWindows = emitted.count()
      val nCounted = emitted.agg(sum(col("n_events"))).head().getLong(0)
      import spark.implicits._
      Seq((progress.length.toLong, dropped, nWindows, nCounted))
        .toDF("n_batches", "late_partials_dropped", "n_windows",
          "n_rows_counted")
    } finally spark.catalog.dropTempView(name)
  }
}
