package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.StructType

/** Stateless streaming quality classification: apply the NB-margin model
  * ([[graft.operators.TextAnalysis.nbTokenWeights]]) to a document
  * STREAM — the ingest-time filter that scores each arriving document
  * before it ever lands in the corpus.
  *
  * The batch classifier explodes tokens and re-aggregates per doc; on a
  * stream that aggregation would be stateful (watermarks, late tokens —
  * for tokens that never arrive late). Instead the score folds WITHIN
  * the row: `aggregate(split(text), 0L, acc + weight[token])` against a
  * plan-constant token→weight map — a pure projection, ZERO streaming
  * state, and bit-identical to the batch scores (Long addition is
  * order-independent).
  *
  * The map is model metadata (vocab-sized, the same budget as the
  * subword vocab and domain-mix policy lists) — the corpus itself never
  * collects. For an unbounded vocab fall back to the batch path's
  * broadcast join.
  */
object StreamClassify {

  /** Score documents (streaming OR batch — same plan either way):
    * (id, n_tokens, score, label). Matches `nbQualityScore` exactly.
    */
  def score(docs: DataFrame, weights: Map[String, Long],
            idCol: String, textCol: String): DataFrame = {
    require(weights.nonEmpty, "scoring needs a non-empty weight model")
    // weight_of is an O(1) hash probe against the shared model object —
    // a map LITERAL + element_at would linear-scan the entries per token.
    // The coalesce preserves the original null-token semantics (a null
    // element scores 0, it does not nullify the document), and null-text
    // docs drop exactly as the batch classifier's explode drops them.
    docs.filter(col(textCol).isNotNull)
      .select(col(idCol),
        size(split(col(textCol), " ")).as("n_tokens"),
        aggregate(split(col(textCol), " "), lit(0L),
          (acc, w) => acc + coalesce(
            graft.functions.TextFunctions.weight_of(w, weights), lit(0L)))
          .as("score"))
      .withColumn("label", (col("score") > 0).cast("int"))
  }

  /** Drive the stream end-to-end ([[StreamTuning.replay]]) and return
    * the scored table — deterministic, so the DuckDB oracle replays it
    * like any batch query.
    */
  def runOnce(spark: SparkSession, dir: String, fileGlob: String,
              schema: StructType, weights: Map[String, Long],
              idCol: String, textCol: String): DataFrame =
    StreamTuning.replay(spark, dir, fileGlob, schema)(
      score(_, weights, idCol, textCol))
}
