package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.StructType

/** Streaming EXACT deduplication — the streaming counterpart of
  * `Dedup.exact`, built on Spark's native watermarked dedup state
  * (`dropDuplicatesWithinWatermark`) instead of custom keyed state: each
  * arriving document is content-hashed (one projection), and the engine
  * keeps one row per hash, holding dedup state only within the watermark
  * horizon.
  *
  * Scale posture: state is ONE compact (hash, max-event-time) entry per
  * distinct document seen inside the horizon — bounded by
  * horizon-distinct volume, not stream length — and the engine evicts
  * entries as the watermark passes them. That horizon is the standard
  * streaming-dedup trade (duplicates separated by more than the horizon
  * both survive; a downstream batch [[graft.operators.Dedup.exact]] pass
  * sweeps those), and it is exactly how an ingest front door wants to
  * behave: the state can never outgrow the horizon no matter how long
  * the stream runs. The only shuffle is the hash-keyed exchange into the
  * dedup state store.
  *
  * WHICH physical row survives per hash is arrival-order dependent
  * (racing partitions), so the deterministic — and oracle-replayable —
  * output is the surviving content-hash set, not the surviving ids: the
  * set of kept hashes equals the batch job's DISTINCT hash set whenever
  * no true duplicate pair is separated by more than the horizon (always
  * true for a bounded replay, where the watermark never advances between
  * rows of the same AvailableNow batch).
  */
object StreamExactDedup {

  /** Watermarked streaming exact dedup: one surviving row per distinct
    * `textCol` content hash within the watermark horizon. Works on a
    * streaming frame; `tsCol` must be a TIMESTAMP event-time column.
    */
  def dedupped(docs: DataFrame, textCol: String, tsCol: String,
               horizon: String): DataFrame =
    docs.filter(col(textCol).isNotNull)
      .withColumn("text_hash", sha2(col(textCol), 256))
      .withWatermark(tsCol, horizon)
      .dropDuplicatesWithinWatermark("text_hash")

  /** Drive the stream end-to-end over a static parquet replay
    * ([[StreamTuning.replay]]) and return the SURVIVING HASH SET — the
    * deterministic projection of the streaming dedup (see class doc).
    * Event time is synthesized deterministically from `idCol` (a bounded
    * replay has no wall-clock), so the whole run is replayable by the
    * DuckDB oracle as `SELECT DISTINCT sha256(text)`.
    */
  def runOnce(spark: SparkSession, dir: String, fileGlob: String,
              schema: StructType, idCol: String, textCol: String,
              horizon: String = "1 hour"): DataFrame =
    StreamTuning.replay(spark, dir, fileGlob, schema) { raw =>
      // offset by a day: id 0 at exactly epoch 0 equals the stream's
      // initial watermark and would be discarded as late before dedup.
      // Event time is id MODULO the horizon span, so the synthetic ts range
      // always fits inside the watermark horizon — the surviving-hash-set ==
      // batch-DISTINCT determinism claim then holds even if the replay
      // splits into multiple micro-batches (multi-file glob or
      // maxFilesPerTrigger): no duplicate can land beyond the watermark of
      // an earlier batch, because the whole stream spans < horizon.
      val withTs = raw.withColumn("__ts",
        timestamp_seconds(lit(86400L) + (col(idCol).cast("long") % 3600L)))
      dedupped(withTs, textCol, "__ts", horizon).select("text_hash")
    }
}
