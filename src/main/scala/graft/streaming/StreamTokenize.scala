package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.StructType

/** Stateless streaming tokenizer-apply: segment each arriving document
  * with the codegen'd greedy subword encoder
  * ([[graft.functions.TextFunctions.subword_encode]]) against a
  * plan-constant vocab — the ingest-time token-metering step (billing,
  * sequence budgeting, fertility monitoring) run where the data lands.
  *
  * The batch twin ([[graft.operators.TextAnalysis.subwordTokenCounts]])
  * explodes words and re-aggregates per doc; on a stream that groupBy
  * would be stateful. Here the subword count folds WITHIN the row
  * (`aggregate` over the word array, each word segmented by the custom
  * expression) — a pure projection, ZERO streaming state, bit-identical
  * to the batch counts, so the streaming run is hash-verified by the
  * SAME oracle. The vocab rides the plan as a shared constant
  * (`addReferenceObj`): per-row work is O(words·maxPieceLen), O(1) in
  * vocab size.
  */
object StreamTokenize {

  /** Per-document subword counts (streaming OR batch — same plan):
    * (id, n_words, n_subwords). Matches `subwordTokenCounts` exactly.
    */
  def tokenize(docs: DataFrame, vocab: Array[String],
               idCol: String, textCol: String): DataFrame =
    docs.filter(col(textCol).isNotNull)
      .select(col(idCol),
        size(split(col(textCol), " ")).cast("long").as("n_words"),
        aggregate(split(col(textCol), " "), lit(0L),
          (acc, w) => acc + size(
            graft.functions.TextFunctions.subword_encode(w, vocab))
            .cast("long"))
          .as("n_subwords"))

  /** Drive the stream end-to-end ([[StreamTuning.replay]]) and
    * return the counted table — deterministic, DuckDB-replayable.
    */
  def runOnce(spark: SparkSession, dir: String, fileGlob: String,
              schema: StructType, vocab: Array[String],
              idCol: String, textCol: String): DataFrame =
    StreamTuning.replay(spark, dir, fileGlob, schema)(
      tokenize(_, vocab, idCol, textCol))
}
