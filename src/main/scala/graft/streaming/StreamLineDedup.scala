package graft.streaming

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.StructType

/** Serve-time line-level boilerplate removal on a document STREAM — the
  * ingest-time form of [[graft.operators.TextAnalysis.dedupLines]].
  *
  * The batch operator mines the template set from the corpus AND
  * applies it (explode → distinct-count → anti-join → reassemble). On
  * a stream, the per-document reassembly would be a stateful
  * aggregation for state that never needs to exist: the mined
  * boilerplate set is a deployed MODEL (the
  * [[graft.operators.TextAnalysis.boilerplateLines]] output — bounded
  * by construction: only lines crossing the document-frequency
  * threshold), so cleanup folds WITHIN the row — an order-preserving
  * array filter against the plan-constant line set. Pure projection,
  * ZERO streaming state, and exactly the batch operator's
  * (text_clean, n_lines, n_removed) per document, so the live run
  * shares the batch entry's oracle verbatim.
  *
  * The per-line probe is an O(1) hash-set membership test against the
  * shared model object (an array literal + array_contains would
  * linear-scan the template set per line).
  */
object StreamLineDedup {

  /** Clean documents (streaming OR batch — same plan either way):
    * (id, text_clean, n_lines, n_removed), matching `dedupLines`.
    */
  def clean(docs: DataFrame, boilerplate: Set[String], idCol: String,
            textCol: String, sep: String = "\n"): DataFrame = {
    require(boilerplate.nonEmpty,
      "cleaning needs a non-empty boilerplate model")
    // membership = WeightLookup against an all-ones model: one hash
    // probe per line, O(1) in template-set size, codegen'd
    val model = boilerplate.iterator.map(_ -> 1L).toMap
    val lines: Column = split(col(textCol),
      java.util.regex.Pattern.quote(sep))
    val kept: Column = filter(lines, l =>
      coalesce(graft.functions.TextFunctions.weight_of(l, model) === 0L,
        lit(true)))
    docs.filter(col(textCol).isNotNull)
      .select(col(idCol),
        array_join(kept, sep).as("text_clean"),
        size(lines).cast("long").as("n_lines"),
        (size(lines) - size(kept)).cast("long").as("n_removed"))
  }

  /** Drive the stream end-to-end ([[StreamTuning.replay]]) and return
    * the cleaned table — deterministic, so the DuckDB oracle replays it
    * like any batch query.
    */
  def runOnce(spark: SparkSession, dir: String, fileGlob: String,
              schema: StructType, boilerplate: Set[String],
              idCol: String, textCol: String,
              prep: DataFrame => DataFrame = identity): DataFrame =
    StreamTuning.replay(spark, dir, fileGlob, schema)(raw =>
      clean(prep(raw), boilerplate, idCol, textCol))
}
