package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.StructType

/** Streaming distribution-drift monitor: per event-time window, the χ²
  * goodness-of-fit statistic of the window's categorical distribution
  * (event types) against a fixed reference distribution — the live
  * counterpart of the batch corpus-drift report, watching an INGEST
  * stream for the moment its mix stops looking like the corpus it is
  * supposed to extend.
  *
  * Shape: one watermarked windowed count aggregation (state bounded by
  * the watermark, exactly like the hourly rollup), then a per-window
  * fold over the SORTED category list computing
  * `Σ (o_c − n·p_c)² / (n·p_c)` — the reference distribution is a
  * broadcast-sized literal map (categories are a policy-scale set, not
  * data-scale), and the ascending-category left fold makes every double
  * operation order-pinned, so the streamed statistic is bit-identical
  * to a batch replay and the DuckDB oracle can hash it.
  *
  * Emission semantics deliberately differ from the hourly-rollup entry:
  * this runs APPEND mode, so a window is emitted exactly once, when the
  * watermark passes its end — the right contract for an alerting
  * monitor (one final verdict per window, no in-place updates to
  * retract). On a bounded replay the trailing window(s) the watermark
  * never passes are NOT emitted; the oracle replays that cutoff
  * explicitly from max(ts).
  */
object StreamDrift {

  /** Windowed χ² vs `refCounts` (category → reference count). Works on a
    * streaming frame (append-mode emission) or a batch frame (same plan
    * minus state). Output: (window_start_ms, n_events, chi2).
    */
  def windowedChiSquare(events: DataFrame, refCounts: Map[String, Long],
                        categoryCol: String = "event_type",
                        window_ : String = "1 hour",
                        watermark: String = "0 seconds"): DataFrame = {
    require(refCounts.nonEmpty && refCounts.values.forall(_ > 0),
      "windowedChiSquare: reference counts must be positive")
    val refN = refCounts.values.sum
    // categories sorted ONCE here — the fold order both engines replay
    val cats = refCounts.keys.toSeq.sorted
    // ONE windowed aggregation (append mode allows exactly one stateful
    // agg downstream of the watermark): per-category observed counts as
    // conditional sums — the category set is policy-sized, so the agg
    // width is a constant, not data-scale
    val catCounts = cats.zipWithIndex.map { case (c, i) =>
      sum(when(col(categoryCol) === c, 1L).otherwise(0L)).as(s"__o_$i")
    }
    val counted = events
      .withWatermark("ts", watermark)
      .groupBy(window(col("ts"), window_))
      .agg(count(lit(1)).as("n_events"), catCounts: _*)
    // one term per REFERENCE category (absent categories contribute
    // (0 − e)²/e); the terms array follows the sorted category order and
    // the 0.0-seeded left fold pins every double op for the oracle replay
    val terms = cats.zipWithIndex.map { case (c, i) =>
      val o = col(s"__o_$i").cast("double")
      val e = (col("n_events").cast("double") * lit(refCounts(c).toDouble)) /
        lit(refN.toDouble)
      ((o - e) * (o - e)) / e
    }
    counted
      .withColumn("chi2",
        aggregate(array(terms: _*), lit(0.0), (acc, t) => acc + t))
      .select(unix_millis(col("window.start")).as("window_start_ms"),
        col("n_events"), col("chi2"))
  }

  /** Drive the monitor end-to-end over a static parquet replay
    * ([[StreamTuning.replay]]) and return the emitted windows — every
    * window whose end the final watermark passed, i.e. all but the
    * trailing partial window. `tsNanos`/NTZ normalization mirrors the
    * batch loader.
    */
  def runOnce(spark: SparkSession, dir: String, fileGlob: String,
              schema: StructType, refCounts: Map[String, Long],
              window_ : String = "1 hour"): DataFrame =
    StreamTuning.replay(spark, dir, fileGlob, schema) { raw =>
      windowedChiSquare(graft.core.TimestampNorm.normalizeEventTime(raw),
        refCounts)
    }
}
