package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.StructType

import graft.operators.Sketches

/** Streaming windowed distinct counting: per event-time window, the
  * number of distinct items via the mergeable KMV sketch
  * ([[Sketches.KmvDistinctAgg]]) — "how many distinct users this hour"
  * on an unbounded stream with state bounded by `capacity` longs per
  * open window, never by the window's item cardinality (the exact
  * alternative, `approx_count_distinct` aside, would hold every
  * distinct key in the state store).
  *
  * Shape: ONE watermarked windowed aggregation whose state is the KMV
  * buffer; partial buffers merge map-side and in the state store.
  * Because KMV's merge is a pure set union (keep k smallest), the
  * emitted estimate is a pure function of the window's input set in
  * BOTH regimes — under capacity it IS the exact distinct count (the
  * catalog entry's regime, hash-replayed by DuckDB `count(DISTINCT)`),
  * over capacity it carries the 1/√(capacity−2) relative error and
  * still replays as a rank selection.
  */
object StreamDistinct {

  /** Windowed distinct-count estimate. Works on a watermarked streaming
    * frame (append emission) or a batch frame (same plan minus state).
    * Output: (window_start_ms, n_distinct_est).
    */
  def windowedDistinct(events: DataFrame, itemCol: String,
                       capacity: Int = 512, window_ : String = "1 hour",
                       watermark: String = "0 seconds"): DataFrame = {
    val agg = udaf(new Sketches.KmvDistinctAgg(capacity),
      org.apache.spark.sql.Encoders.scalaLong)
    events
      .filter(col(itemCol).isNotNull)
      .withWatermark("ts", watermark)
      .groupBy(window(col("ts"), window_))
      .agg(agg(Sketches.kmvHash60(col(itemCol))).as("n_distinct_est"))
      .select(unix_millis(col("window.start")).as("window_start_ms"),
        col("n_distinct_est"))
  }

  /** Drive the counter over a static parquet replay
    * ([[StreamTuning.replay]]): emitted = every window the final
    * watermark passed.
    */
  def runOnce(spark: SparkSession, dir: String, fileGlob: String,
              schema: StructType, itemCol: String,
              capacity: Int = 512): DataFrame =
    StreamTuning.replay(spark, dir, fileGlob, schema) { raw =>
      windowedDistinct(graft.core.TimestampNorm.normalizeEventTime(raw),
        itemCol, capacity)
    }
}
