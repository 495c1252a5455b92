package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.StructType

/** Streaming image near-dup detection vs a persisted signature index —
  * the multimodal member of the stream-vs-corpus family
  * ([[StreamDedup.vsCorpusHits]]' hamming sibling): arriving image
  * SIGNATURES (64-bit aHash rows — the decode→hash step is stateless
  * per-row work upstream, [[graft.operators.Multimodal.imageHashes]])
  * explode to their 28 byte-band PAIRS and join stream-static against
  * the corpus band index; in-bucket candidates verify with one
  * `bit_count(xor) ≤ maxHamming` projection. Recall is pigeonhole-exact
  * at `maxHamming ≤ 6`, exactly like the batch miner — the two sides
  * MUST band identically
  * ([[graft.operators.Multimodal.pairBandRows]] is shared; single
  * 8-bit bands saturate their 256-value space at corpus scale, so the
  * build-time cap would silently drop most of a big corpus's buckets —
  * see the batch miner's scaladoc).
  *
  * Scale posture: ZERO streaming state — signing and banding are
  * projections, the join is stream-static against a cached index, and
  * hot buckets are capped at INDEX BUILD time (the corpusBandIndex
  * convention: a degenerate band value must not fan every arrival out
  * by the bucket size each trigger). One output row per colliding band
  * (streams can't globally dedup without a stateful stage; consumers
  * `dropDuplicates` for a flag — the vsCorpusHits convention).
  */
object StreamImageDedup {

  /** The static corpus half: banded signatures (band, bv, corpus_id,
    * chash), hot buckets dropped at build. Build once per corpus
    * snapshot and `cache()` it — a stream-static join re-reads the
    * static side every micro-batch.
    */
  def indexBands(signatures: DataFrame,
                 maxBandSize: Option[Int] = Some(1000)): DataFrame = {
    val banded = graft.operators.Multimodal.pairBandRows(signatures)
      .select(col("band"), col("bv"),
        col("id").as("corpus_id"), col("ahash").as("chash"))
    maxBandSize match {
      case Some(cap) =>
        val hot = banded.groupBy("band", "bv").count()
          .filter(col("count") > cap).select("band", "bv")
        banded.join(hot, Seq("band", "bv"), "left_anti")
      case None => banded
    }
  }

  /** Hits of arriving signatures against the index — (id, corpus_id,
    * band, hamming), one row per colliding band. Mode-agnostic (the
    * plan is a projection + equi-join either way).
    */
  def vsIndexHits(stream: DataFrame, index: DataFrame,
                  maxHamming: Int = 6): DataFrame = {
    require(maxHamming >= 0 && maxHamming <= 6,
      s"maxHamming must be in [0, 6] (band-pair recall bound), got $maxHamming")
    graft.operators.Multimodal.pairBandRows(stream)
      .join(index, Seq("band", "bv"))
      .select(col("id"), col("corpus_id"), col("band"),
        bit_count(col("ahash").bitwiseXOR(col("chash"))).cast("int")
          .as("hamming"))
      .filter(col("hamming") <= maxHamming)
  }

  /** Drive the stream end-to-end (readStream over the staged signature
    * parquet → band join, [[StreamTuning.replay]]) and return the hits
    * table — deterministic integer arithmetic throughout, so the DuckDB
    * oracle replays the LIVE streaming path like a batch query.
    */
  def runOnce(spark: SparkSession, dir: String, fileGlob: String,
              schema: StructType, streamPred: org.apache.spark.sql.Column,
              index: DataFrame, maxHamming: Int = 6): DataFrame =
    StreamTuning.replay(spark, dir, fileGlob, schema)(raw =>
      vsIndexHits(raw.filter(streamPred), index, maxHamming))
}
