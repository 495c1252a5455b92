package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.StructType

import graft.operators.Sketches

/** Streaming windowed quantiles: per event-time window, the
  * q-quantiles of a numeric column via the mergeable
  * [[Sketches.QuantileSketchAgg]] — the "latency percentiles per hour"
  * monitor, with state bounded by the sketch capacity per open window
  * (the answer an unbounded stream needs: per-window exact sorting is
  * unbounded state; the summary is `capacity` weighted tuples).
  *
  * Same shape discipline as [[StreamHeavyHitters]]: ONE watermarked
  * windowed aggregation, then a pure projection unpacks the quantile
  * array. Selection-only semantics (no interpolation arithmetic) keep
  * the emitted values bit-identical to a batch replay whenever the
  * window's rows fit the summary — the exact regime the catalog entry
  * runs and the oracle hashes.
  */
object StreamQuantiles {

  /** Windowed quantiles of `valueCol` at the given q-list. Output:
    * (window_start_ms, n_events, q_<label> per quantile).
    */
  def windowedQuantiles(events: DataFrame, valueCol: String,
                        qs: Seq[Double] = Seq(0.5, 0.9, 0.99),
                        capacity: Int = 4096, window_ : String = "1 hour",
                        watermark: String = "0 seconds"): DataFrame = {
    val qagg = udaf(new Sketches.QuantileSketchAgg(capacity, qs),
      org.apache.spark.sql.Encoders.scalaDouble)
    val labeled = qs.zipWithIndex.map { case (q, i) =>
      // 0.99 → "q99"; 0.5 → "q50"
      (i, "q" + math.round(q * 100).toString)
    }
    val base = events
      .withWatermark("ts", watermark)
      .groupBy(window(col("ts"), window_))
      .agg(count(lit(1)).as("n_events"),
        qagg(col(valueCol).cast("double")).as("__qs"))
    labeled.foldLeft(base) { case (df, (i, name)) =>
        df.withColumn(name, element_at(col("__qs"), i + 1))
      }
      .select(unix_millis(col("window.start")).as("window_start_ms") +:
        col("n_events") +: labeled.map(l => col(l._2)): _*)
  }

  /** Drive over a static parquet replay ([[StreamTuning.replay]]),
    * same contract as [[StreamDrift.runOnce]].
    */
  def runOnce(spark: SparkSession, dir: String, fileGlob: String,
              schema: StructType, valueCol: String,
              qs: Seq[Double] = Seq(0.5, 0.9, 0.99),
              capacity: Int = 4096): DataFrame =
    StreamTuning.replay(spark, dir, fileGlob, schema) { raw =>
      windowedQuantiles(graft.core.TimestampNorm.normalizeEventTime(raw),
        valueCol, qs, capacity)
    }
}
