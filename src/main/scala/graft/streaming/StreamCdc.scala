package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.Trigger
import org.apache.spark.sql.types.StructType

import graft.api.HostedTables
import graft.core.WriteMode

/** Streaming CDC apply: maintain a hosted-table SNAPSHOT from a live
  * change stream (the streaming twin of [[graft.operators.Cdc.applyLog]]
  * — what a Debezium/binlog consumer actually runs). Each micro-batch
  * is (1) LWW-reduced per key with the same `max_by` the batch operator
  * uses, (2) seq-GUARDED against the stored snapshot (a change only
  * applies if its sequence is ≥ the stored row's — so a replayed or
  * out-of-order batch can never regress a row), then (3) split into
  * upserts (I/U) and key deletes (D) against the connector —
  * [[graft.api.HostedTables.deleteRows]] is the D-leg the
  * `delete_features` verb exists for.
  *
  * Exactly-once: upserts are MERGE-idempotent, deletes of absent keys
  * count zero, and the seq guard blocks replay regressions — no manual
  * batch-id bookkeeping. Ordering contract: per-key changes must not
  * arrive in DECREASING seq order across batches once a delete removed
  * the row (a tombstone-free snapshot cannot tell "never existed" from
  * "deleted, stale insert arriving late") — exactly the per-key
  * ordering a keyed change topic guarantees.
  *
  * Scale posture: the guard is a keyed lookup join against the serving
  * table (batch-sized left side); deletes go through
  * [[graft.api.HostedTables.deleteFrame]] — per-task `deleteByKey`
  * batches issued from executors with deterministic (batch, partition,
  * chunk) replay ids — so a purge-heavy catch-up batch never collects
  * its tombstone keys on the driver. Null ops fail loudly (the same
  * coalesce-into-raise contract as the batch [[graft.operators.Cdc]]):
  * a corrupt record must never silently vanish from both legs.
  */
object StreamCdc {

  /** Apply `changes` (a streaming frame with key/seq/op + payload
    * columns) onto the hosted table `title` (created if absent; schema =
    * key + seq + payload, no op column — the snapshot stores versions,
    * not operations). Returns the item id after the stream drains.
    */
  def apply(spark: SparkSession, changes: DataFrame, keyCol: String,
            seqCol: String, opCol: String, title: String,
            takedownIndexPath: Option[String] = None): String = {
    val payload = changes.columns.toSeq.filterNot(c =>
      c == keyCol || c == seqCol || c == opCol)
    require(payload.nonEmpty, "cdc stream has no payload columns")
    val snapFields = changes.schema.fields.filter(_.name != opCol)
    val snapSchema = StructType(snapFields)
    val id = graft.core.ServiceName.normalize(title)
      .flatMap(HostedTables.resolveOrCreate(_, snapSchema)).fold(sys.error, identity)
    val q = changes.writeStream
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        if (!batch.isEmpty) {
          val cols = opCol +: seqCol +: payload
          val last = struct(cols.map(col): _*)
          val lww = batch.groupBy(col(keyCol))
            .agg(max_by(last, col(seqCol)).as("__last"))
            .select(col(keyCol) +:
              cols.map(c => col(s"__last.$c").as(c)): _*)
          val stored = HostedTables.read(spark, id)
            .select(col(keyCol), col(seqCol).as("__stored_seq"))
          val guarded = lww.join(stored, Seq(keyCol), "left")
            .filter(col("__stored_seq").isNull ||
              col(seqCol) >= col("__stored_seq"))
            .drop("__stored_seq")
            // coalesce-into-raise, same contract as the batch applyLog:
            // under bare =!=/=== a NULL op filters out of BOTH legs and
            // the corrupt record silently vanishes from the snapshot
            .withColumn(opCol, coalesce(col(opCol),
              raise_error(concat(lit("stream cdc: null op for key "),
                col(keyCol).cast("string")))))
          val ups = guarded.filter(col(opCol) =!= lit("D"))
            .select(snapSchema.fieldNames.toSeq.map(col): _*)
          val dels = guarded.filter(col(opCol) === lit("D"))
            .select(col(keyCol))
          if (!ups.isEmpty)
            HostedTables.write(ups, id, WriteMode.Upsert, Some(keyCol))
              .fold(sys.error, identity)
          if (!dels.isEmpty) {
            // distributed per-task delete batches; the (batch, partition,
            // chunk) replay ids dedupe on top of the seq guard
            HostedTables.deleteFrame(dels, id, keyCol,
                batchTag = Some(s"cdcdel_${id}_$batchId"))
              .fold(sys.error, identity)
            // STREAMING TAKEDOWN PROPAGATION: the same tombstone keys go
            // into the serving index's deletion-vector sidecar — O(dels)
            // per batch, the index is never rewritten mid-stream; a
            // replayed batch appends duplicate ids, which the sidecar
            // reader distincts (idempotent)
            takedownIndexPath.foreach(p =>
              graft.operators.AnnIndex.ivfDelete(spark, p, dels, keyCol))
          }
        }
        ()
      }
      .trigger(Trigger.AvailableNow())
      .start()
    q.awaitTermination()
    id
  }

  /** Stage a change log as one parquet file per commit slice — the
    * staging discipline [[runOnce]]'s ordering contract depends on
    * (sequential writes → monotone mtimes → maxFilesPerTrigger=1
    * delivers slices in commit order). The ONE place this lives: the
    * catalog entry, the scale probe, and the specs all stage through
    * here.
    */
  def stageLogSlices(log: DataFrame, seqCol: String, dir: String,
                     slices: Seq[Seq[Long]]): Unit =
    slices.zipWithIndex.foreach { case (seqs, i) =>
      log.filter(col(seqCol).isin(seqs: _*)).coalesce(1).write
        .mode(if (i == 0) "overwrite" else "append").parquet(dir)
    }

  /** Drive the applier over a staged parquet change log (one file per
    * commit slice → micro-batches arrive in commit order under
    * `maxFilesPerTrigger = 1`, exercising the cross-batch guard) and
    * return the resulting snapshot without the bookkeeping seq column —
    * deterministic, so the batch operator's oracle replays it.
    */
  // NOTE (r16 optimization round, measured and REJECTED): deriving this
  // stream's shuffle partitions from the KB-scale slice bytes (the
  // q_stream_hourly treatment, StreamTuning) made it SLOWER (3.5 → 6.9 s
  // isolated): unlike the stateful hourly aggregation, the cost here is
  // not state-store shards but the per-batch snapshot joins and the
  // DSv2 upsert writes, whose parallelism the same conf gates — one
  // partition serialized them. Input bytes are the wrong proxy when the
  // per-batch working set (stored snapshot) dwarfs the trigger slice.
  def runOnce(spark: SparkSession, stageDir: String, schema: StructType,
              keyCol: String, seqCol: String, opCol: String,
              takedownIndexPath: Option[String] = None): DataFrame = {
    val raw = spark.readStream.schema(schema)
      .option("maxFilesPerTrigger", "1").parquet(stageDir)
    // Stable title keyed by the stage dir: re-runs rebuild the SAME
    // hosted table (dropped first) instead of accumulating one
    // full-snapshot table per invocation in the in-process store.
    val title = StreamTuning.replayTitle("stream cdc", stageDir)
    val id = apply(spark, raw, keyCol, seqCol, opCol, title,
      takedownIndexPath)
    HostedTables.read(spark, id).drop(seqCol)
  }
}
