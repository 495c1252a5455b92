package graft.streaming

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.StructType

import graft.operators.Sketches

/** Streaming windowed heavy hitters: per event-time window, the top-k
  * items by a MERGEABLE space-saving summary
  * ([[Sketches.SpaceSavingAgg]]) — the live counterpart of the batch
  * count-min entry, answering "who dominates this hour" on an unbounded
  * stream with state bounded by `capacity` counters per open window
  * (never by the stream's item cardinality).
  *
  * Shape: ONE watermarked windowed aggregation whose state is the
  * summary map (partial summaries merge map-side and in the state
  * store), then a pure projection ranks the summary — sort the map
  * entries by (count desc, item asc) with a codegen'd comparator
  * lambda, slice k, posexplode. No window function touches the stream
  * (unsupported in append mode); the rank is the position in the
  * sorted slice.
  *
  * Determinism: with `capacity` ≥ the window's distinct-item count the
  * summary is the exact count map regardless of merge order, so the
  * output is a pure function of the input and the DuckDB oracle hashes
  * it (the catalog entry's regime). Under eviction pressure the
  * estimates carry the space-saving one-sided error and the output is
  * merge-order dependent — the production regime, spec-pinned instead.
  */
object StreamHeavyHitters {

  /** Windowed top-k heavy hitters. Works on a watermarked streaming
    * frame (append emission) or a batch frame (same plan minus state).
    * Output: (window_start_ms, item, est_count, rank).
    */
  def windowedTopK(events: DataFrame, itemCol: String, k: Int,
                   capacity: Int = 512, window_ : String = "1 hour",
                   watermark: String = "0 seconds"): DataFrame = {
    require(k > 0 && k <= capacity, "windowedTopK: need 0 < k <= capacity")
    val ss = udaf(new Sketches.SpaceSavingAgg(capacity),
      org.apache.spark.sql.Encoders.STRING)
    val summarized = events
      .withWatermark("ts", watermark)
      .groupBy(window(col("ts"), window_))
      .agg(ss(col(itemCol).cast("string")).as("summary"))
    // (count desc, item asc) comparator — pure projection, stream-safe
    val cmp = (a: Column, b: Column) =>
      when(a("value") > b("value"), -1).when(a("value") < b("value"), 1)
        .otherwise(when(a("key") < b("key"), -1)
          .when(a("key") > b("key"), 1).otherwise(0))
    summarized
      .select(unix_millis(col("window.start")).as("window_start_ms"),
        posexplode(slice(array_sort(map_entries(col("summary")), cmp),
          1, k)).as(Seq("pos", "entry")))
      .select(col("window_start_ms"),
        col("entry.key").as("item"),
        col("entry.value").as("est_count"),
        (col("pos") + 1).cast("int").as("rank"))
  }

  /** Drive the monitor over a static parquet replay
    * ([[StreamTuning.replay]]): emitted = every window the final
    * watermark passed.
    */
  def runOnce(spark: SparkSession, dir: String, fileGlob: String,
              schema: StructType, itemCol: String, k: Int,
              capacity: Int = 512): DataFrame =
    StreamTuning.replay(spark, dir, fileGlob, schema) { raw =>
      windowedTopK(graft.core.TimestampNorm.normalizeEventTime(raw),
        itemCol, k, capacity)
    }
}
