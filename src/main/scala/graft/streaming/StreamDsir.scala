package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.StructType

/** Stateless streaming DSIR gate: score each ARRIVING document's
  * target-domain importance ([[graft.operators.Curation.dsirWeights]]
  * semantics) at ingest time, before it lands in the corpus — the
  * importance-resampling front door for a continuously-fed corpus.
  *
  * The ratio model is precomputed from the static reference corpora
  * (model metadata, vocab-sized — the same budget as the NB weight map
  * and subword vocab) and held as a plan-constant O(1) hash table
  * ([[graft.functions.RatioLookup]]). The per-doc score folds WITHIN the
  * row over the SORTED token list — ascending token order is exactly the
  * batch operator's `sort_array` fold, so stream scores are bit-identical
  * to batch scores and the real streaming path is oracle-hashable. ZERO
  * streaming state. Tokens outside the model smooth to (0+1)/(0+1) = 1.
  */
object StreamDsir {

  /** Score documents (streaming OR batch — same plan either way):
    * (id, n_tokens, dsir_score). Matches `dsirWeights` bit-for-bit when
    * `ratios` is that operator's ratio table.
    */
  def score(docs: DataFrame, ratios: Map[String, Double],
            idCol: String, textCol: String): DataFrame = {
    require(ratios.nonEmpty, "scoring needs a non-empty ratio model")
    // null-text docs drop here exactly as the batch operator's explode
    // drops them — stream and batch frames stay row-identical
    docs.filter(col(textCol).isNotNull)
      .select(col(idCol),
        // long, not int: bit-for-bit frame parity with the batch operator
        size(split(col(textCol), " ")).cast("long").as("n_tokens"),
        aggregate(sort_array(split(col(textCol), " ")), lit(0.0),
          (acc, w) => acc +
            coalesce(graft.functions.TextFunctions.ratio_of(w, ratios), lit(0.0)))
          .as("dsir_score"))
  }

  /** Drive the stream end-to-end ([[StreamTuning.replay]]) and return
    * the scored table — deterministic, so the DuckDB oracle replays it
    * like any batch query.
    */
  def runOnce(spark: SparkSession, dir: String, fileGlob: String,
              schema: StructType, ratios: Map[String, Double],
              idCol: String, textCol: String): DataFrame =
    StreamTuning.replay(spark, dir, fileGlob, schema)(
      score(_, ratios, idCol, textCol))
}
