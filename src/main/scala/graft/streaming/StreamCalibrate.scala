package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.StructType

/** Stateless streaming calibrated-quality scoring: the NB margin fold of
  * [[StreamClassify]] composed with the persisted isotonic step function
  * ([[graft.operators.Calibration.stepColumn]]) — each arriving document
  * gets an exact integer score AND its calibrated curated-likelihood in
  * one zero-state projection. Both models (token→weight map, calibration
  * steps) are plan constants loaded from their parquet artifacts; the
  * stream never joins and never holds state, so the serve path is
  * bit-identical to the batch [[graft.operators.Calibration
  * .applyCalibration]] chain and shares its oracle.
  */
object StreamCalibrate {

  def runOnce(spark: SparkSession, dir: String, fileGlob: String,
              schema: StructType, weights: Map[String, Long],
              steps: Seq[(Long, Long)], idCol: String,
              textCol: String): DataFrame =
    StreamTuning.replay(spark, dir, fileGlob, schema)(raw =>
      StreamClassify.score(raw, weights, idCol, textCol)
        .select(col(idCol), col("score"),
          graft.operators.Calibration.stepColumn(col("score"), steps)
            .as("calibrated_permille")))
}
