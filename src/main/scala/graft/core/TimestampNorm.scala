package graft.core

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions.col
import org.apache.spark.sql.types.{TimestampNTZType, TimestampType}

/** UTC normalization of timestamp columns.
  *
  * Reproduces the semantics of the reference's `convert_dts_utc`
  * (`/root/reference/src/agol_pandas.py:86-119`): every naive datetime
  * column is *localized* to UTC (i.e. its wall-clock values are interpreted
  * as UTC), every tz-aware column is *converted* to UTC.
  *
  * In Spark this is nearly free: `TimestampType` is stored as micros since
  * the UTC epoch (already "converted"); `TimestampNTZType` is naive, and a
  * cast to `TimestampType` under a UTC session timezone interprets the naive
  * wall-clock as UTC — exactly the reference's `tz_localize('UTC')`. The
  * whole operation is a projection (no shuffle, stays in whole-stage
  * codegen), so it scales to arbitrary data sizes.
  *
  * Requires `spark.sql.session.timeZone=UTC` (pinned in build.sbt and in
  * every session builder in this repo).
  */
object TimestampNorm {
  def toUtc(df: DataFrame): DataFrame = {
    val needsCast = df.schema.fields.exists(_.dataType == TimestampNTZType)
    if (!needsCast) df
    else {
      val cols = df.schema.fields.map { f =>
        f.dataType match {
          case TimestampNTZType => col(f.name).cast(TimestampType).as(f.name)
          case _                => col(f.name)
        }
      }
      df.select(cols.toIndexedSeq: _*)
    }
  }

  /** Normalize one event-time column from whatever the fixture parquet
    * carries to watermark-ready TIMESTAMP, mirroring the batch read path
    * (`Tables.load` + [[toUtc]]): epoch-nanos BIGINT → micros;
    * TIMESTAMP_NTZ → UTC-localizing cast. Shared by every streaming read
    * so the decision lives in ONE place (a per-call-site copy of this
    * match is exactly the drift that broke the round-6 streaming bench).
    */
  def normalizeEventTime(df: DataFrame, colName: String = "ts"): DataFrame =
    df.schema(colName).dataType match {
      case org.apache.spark.sql.types.LongType =>
        df.withColumn(colName, org.apache.spark.sql.functions.timestamp_micros(
          org.apache.spark.sql.functions.expr(s"$colName div 1000")))
      case TimestampNTZType =>
        df.withColumn(colName, col(colName).cast(TimestampType))
      case _ => df
    }
}
