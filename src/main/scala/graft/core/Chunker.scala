package graft.core

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions.col
import org.apache.spark.sql.types.LongType

/** Sort-then-chunk, the reference's `df_to_pandas_chunks`
  * (`/root/reference/src/agol_pandas.py:159-216`): globally sort by the key
  * columns, then split into contiguous chunks of ~`chunkSize` rows.
  *
  * The reference's Spark branch re-collects the entire DataFrame to the
  * driver once per chunk (`src/agol_pandas.py:203-205`, O(n·chunks) — its
  * central scalability flaw). Here the scalable chunking is the write
  * itself: a keyed `GraftWrite` asks Spark for a range distribution on
  * the key, and each write task posts its sorted key range in
  * `chunkSize`-row batches, with zero driver materialization. What stays here is exact row-count
  * slicing (when byte-identical chunk membership matters, e.g. the
  * oracle tests), which costs a global sort — fine at audit/test scale.
  */
object Chunker {

  /** Exact chunk ids: `floor(global_rank / chunkSize)` over the global key
    * order, computed WITHOUT a single-partition window: range-partition +
    * sort gives the global order across partitions, then `zipWithIndex`
    * assigns contiguous indexes via the classic two-pass partition-offset
    * scheme (job 1 counts rows per partition, job 2 adds the broadcast
    * prefix-sum offset). Both passes read the already-materialized range
    * shuffle, so the data moves once and no task ever holds more than its
    * partition. Deterministic when `keys` form a total order (unique key),
    * same as any rank-based chunking.
    */
  def withChunkIds(df: DataFrame, keys: Seq[String], chunkSize: Long,
                   partitions: Option[Int] = None): DataFrame = {
    require(keys.nonEmpty && chunkSize > 0)
    val keyCols = keys.map(col).toIndexedSeq
    val spark = df.sparkSession
    val parts = partitions.getOrElse(
      spark.sessionState.conf.numShufflePartitions)
    val sorted = df.repartitionByRange(parts, keyCols: _*)
      .sortWithinPartitions(keyCols: _*)
    val outSchema = sorted.schema.add("chunk_id", LongType, nullable = false)
    val withIdx = sorted.rdd.zipWithIndex().map { case (r, i) =>
      Row.fromSeq(r.toSeq :+ (i / chunkSize))
    }
    spark.createDataFrame(withIdx, outSchema)
  }
}
