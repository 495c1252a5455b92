package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.Trigger
import org.apache.spark.sql.types.StructType

import graft.api.HostedTables
import graft.core.WriteMode

/** Streaming QUALITY ROUTING: score each arriving document with the
  * zero-state NB fold ([[StreamClassify.score]]) and split every
  * micro-batch across TWO hosted tables — accepted docs to the main
  * corpus, rejected docs to a quarantine table — the dead-letter
  * pattern every production ingest runs (rejects are never discarded;
  * they are triaged, re-scored after model updates, and audited).
  *
  * Exactly-once across retries WITHOUT manual batch-id bookkeeping:
  * both sinks write in UPSERT mode keyed on the doc id, so a replayed
  * micro-batch re-applies idempotently — the router leans on the MERGE
  * semantics the connector already guarantees instead of reinventing
  * commit tracking inside foreachBatch.
  */
object StreamRouter {

  /** Route a document stream into (mainTitle, quarantineTitle). Returns
    * the two item ids after the stream settles.
    */
  def route(spark: SparkSession, scored: DataFrame, idCol: String,
            mainTitle: String, quarantineTitle: String): (String, String) = {
    def resolve(title: String, schema: StructType): String =
      graft.core.ServiceName.normalize(title)
        .flatMap(HostedTables.resolveOrCreate(_, schema)).fold(sys.error, identity)
    val outSchema = scored.schema
    val mainId = resolve(mainTitle, outSchema)
    val quarId = resolve(quarantineTitle, outSchema)
    val q = scored.writeStream
      .foreachBatch { (batch: DataFrame, _: Long) =>
        // write() rejects empty frames loudly; a single-class batch is
        // normal here, not an error
        val good = batch.filter(col("label") === 1)
        val bad = batch.filter(col("label") === 0)
        if (!good.isEmpty)
          HostedTables.write(good, mainId, WriteMode.Upsert, Some(idCol))
            .fold(sys.error, identity)
        if (!bad.isEmpty)
          HostedTables.write(bad, quarId, WriteMode.Upsert, Some(idCol))
            .fold(sys.error, identity)
        ()
      }
      .trigger(Trigger.AvailableNow())
      .start()
    q.awaitTermination()
    (mainId, quarId)
  }

  /** Drive the router over a static parquet replay and return the union
    * of both tables with their route — deterministic (the split is a
    * pure function of each row), so DuckDB replays it like any batch
    * query.
    */
  def runOnce(spark: SparkSession, dir: String, fileGlob: String,
              schema: StructType, weights: Map[String, Long],
              idCol: String, textCol: String): DataFrame = {
    val raw = spark.readStream.schema(schema)
      .option("pathGlobFilter", fileGlob).parquet(dir)
    val scored = StreamClassify.score(raw, weights, idCol, textCol)
    // titled by the replayed input and dropped first, so re-runs rebuild
    // the same two tables instead of adding two per call
    val (mainId, quarId) = route(spark, scored, idCol,
      StreamTuning.replayTitle("stream main", dir, fileGlob),
      StreamTuning.replayTitle("stream quarantine", dir, fileGlob))
    HostedTables.read(spark, mainId).withColumn("route", lit("main"))
      .unionByName(HostedTables.read(spark, quarId)
        .withColumn("route", lit("quarantine")))
      .select(col(idCol), col("n_tokens"), col("score"), col("route"))
  }
}
