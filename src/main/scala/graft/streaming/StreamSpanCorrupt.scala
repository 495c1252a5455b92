package graft.streaming

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.StructType

/** Stateless streaming span corruption: the T5 denoising-pair
  * construction ([[graft.operators.Curation.spanCorruptionPairs]]) as a
  * ROW-LOCAL projection — each arriving document's mask, run starts,
  * sentinel numbering, and both assembled strings fold inside the row
  * with array higher-order functions (no explode, no window, ZERO
  * streaming state). The batch twin shuffles (doc, pos, token) rows and
  * uses keyed windows; this form trades that for per-row array work
  * (the run-start shift is one `zip_with` against the 1-shifted mask;
  * sentinel numbers come from `array_position` over the start-position
  * list — O(tokens·spans) worst case, bounded by document length).
  * Outputs are bit-identical, so both share one oracle.
  */
object StreamSpanCorrupt {

  /** The hash-mask convention — MUST match the batch operator exactly:
    * masked(i) ⇔ (((id % 1000003)·31 + i) % 1000003)·2654435761
    * % 1000000007 % 1000 < maskPermille.
    */
  private def maskOf(id: Column, i: Column, maskPermille: Int): Column =
    (((id % 1000003L) * 31L + i) % 1000003L) * 2654435761L %
      1000000007L % 1000L < maskPermille

  /** Row-local span-corruption pairs (streaming OR batch — same plan):
    * (idCol, n_tokens, n_masked, n_spans, input_text, target_text),
    * matching `Curation.spanCorruptionPairs` byte-for-byte.
    */
  def pairs(docs: DataFrame, idCol: String, textCol: String,
            maskPermille: Int = 150): DataFrame = {
    require(maskPermille >= 0 && maskPermille <= 1000,
      s"spanCorruptionPairs: maskPermille must be in [0,1000], got $maskPermille")
    // Each intermediate array is MATERIALIZED as its own column, layer
    // by layer: a single nested select would inline the whole upstream
    // expression tree into every element_at() reference (transform()
    // arrays re-derived per element access — O(tokens²) per row and a
    // ~50× bench regression when first written that way); as layered
    // non-cheap multi-referenced aliases, CollapseProject keeps each
    // array computed once per row.
    def sentinel(i: Column): Column =
      concat(lit("<extra_id_"),
        (array_position(col("__ps"), i) - 1).cast("string"), lit(">"))
    docs.filter(col(textCol).isNotNull)
      .withColumn("__toks", split(col(textCol), " "))
      .withColumn("__idx", sequence(lit(0), size(col("__toks")) - 1))
      .withColumn("__m",
        transform(col("__idx"), i => maskOf(col(idCol), i, maskPermille)))
      .withColumn("__start",
        zip_with(col("__m"),
          concat(array(lit(false)),
            slice(col("__m"), lit(1), size(col("__toks")) - 1)),
          (a, b) => a && !b))
      .withColumn("__ps",
        filter(col("__idx"), i => element_at(col("__start"), i + 1)))
      .select(col(idCol),
        size(col("__toks")).cast("long").as("n_tokens"),
        size(filter(col("__idx"), i => element_at(col("__m"), i + 1)))
          .cast("long").as("n_masked"),
        size(col("__ps")).cast("long").as("n_spans"),
        array_join(transform(
          filter(col("__idx"), i =>
            !element_at(col("__m"), i + 1) || element_at(col("__start"), i + 1)),
          i => when(element_at(col("__start"), i + 1), sentinel(i))
            .otherwise(element_at(col("__toks"), i + 1))), " ")
          .as("input_text"),
        array_join(transform(
          filter(col("__idx"), i => element_at(col("__m"), i + 1)),
          i => when(element_at(col("__start"), i + 1),
              concat(sentinel(i), lit(" "), element_at(col("__toks"), i + 1)))
            .otherwise(element_at(col("__toks"), i + 1))), " ")
          .as("target_text"))
  }

  /** Drive the stream end-to-end ([[StreamTuning.replay]]) and return
    * the pair table — deterministic, oracle-replayable.
    */
  def runOnce(spark: SparkSession, dir: String, fileGlob: String,
              schema: StructType, idCol: String, textCol: String,
              maskPermille: Int = 150): DataFrame =
    StreamTuning.replay(spark, dir, fileGlob, schema)(
      pairs(_, idCol, textCol, maskPermille))
}
