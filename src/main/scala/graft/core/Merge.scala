package graft.core

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.catalyst.expressions.RowOrdering
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Relational MERGE semantics for the five write modes, expressed as
  * Catalyst-planned joins (no driver materialization, no UDFs).
  *
  * The reference delegates matching to the remote service's unique index +
  * `append(upsert=True, upsert_matching_field=key, ...)`
  * (`/root/reference/src/agol_pandas.py:402-455`). In-engine, the same
  * semantics are join-based set algebra, which Catalyst plans as
  * broadcast-hash / shuffle-hash / sort-merge joins depending on size — so
  * the semantics hold from 6k rows to 100 TB:
  *
  *  - upsert(t, s)  = s ∪ (t ⟕anti s)          — source wins on key match
  *  - update(t, s)  = (s ⋉ t) ∪ (t ⟕anti s)    — no inserts
  *  - insert(t, s)  = t ∪ (s ⟕anti t)          — no updates
  *  - append(t, s)  = t ∪ s
  *  - overwrite(t,s)= s
  *
  * Anti/semi joins shuffle only the key columns of the probe side and never
  * expand rows, which makes them preferable to the full_outer+coalesce
  * formulation (which shuffles both full row sets and needs a wide
  * projection).
  */
object Merge {

  /** One row per key, the greatest by the remaining orderable columns.
    * The reference requires unique keys via the remote index
    * (`src/agol_pandas.py:253-312`); a source batch that repeats a key is
    * collapsed by the service in arrival order, and a keyed write sorts
    * its rows first, so the greatest row wins an upsert or update.
    */
  def dedupByKey(df: DataFrame, key: String): DataFrame = winners(df, key, greatest = true)

  /** One row per key: the greatest (or least) by the struct of the other
    * orderable columns, matching the write's sort (nulls order first).
    */
  private def winners(df: DataFrame, key: String, greatest: Boolean): DataFrame = {
    val others = df.schema.fields.filter(f =>
      f.name != key && RowOrdering.isOrderable(f.dataType)).map(f => col(f.name)).toIndexedSeq
    if (others.isEmpty) df.dropDuplicates(key)
    else {
      val byRow = if (greatest) struct(others: _*).desc else struct(others: _*).asc
      df.withColumn("__rn", row_number().over(Window.partitionBy(col(key)).orderBy(byRow)))
        .filter(col("__rn") === 1)
        .drop("__rn")
    }
  }

  def upsert(target: DataFrame, source: DataFrame, key: String): DataFrame = {
    val s = winners(source, key, greatest = true)
    s.unionByName(target.join(s.select(key), Seq(key), "left_anti"))
  }

  def update(target: DataFrame, source: DataFrame, key: String): DataFrame = {
    val s = winners(source, key, greatest = true)
    s.join(target.select(key), Seq(key), "left_semi")
      .unionByName(target.join(s.select(key), Seq(key), "left_anti"))
  }

  /** The service keeps the first arrival of a repeated key, the least row. */
  def insert(target: DataFrame, source: DataFrame, key: String): DataFrame =
    target.unionByName(
      winners(source, key, greatest = false).join(target.select(key), Seq(key), "left_anti"))

  def append(target: DataFrame, source: DataFrame): DataFrame =
    target.unionByName(source)

  def overwrite(target: DataFrame, source: DataFrame): DataFrame = source

  def apply(mode: WriteMode, target: DataFrame, source: DataFrame,
            key: Option[String]): DataFrame = mode match {
    case WriteMode.Append    => append(target, source)
    case WriteMode.Overwrite => overwrite(target, source)
    case WriteMode.Upsert    => upsert(target, source, key.get)
    case WriteMode.Update    => update(target, source, key.get)
    case WriteMode.Insert    => insert(target, source, key.get)
  }
}
