package graft.streaming

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.plans.logical.{Aggregate, Deduplicate,
  DeduplicateWithinWatermark}
import org.apache.spark.sql.streaming.Trigger
import org.apache.spark.sql.types.StructType

/** The one-shot file-replay driver ([[replay]]) and the scale-adaptive
  * shuffle/state partitioning it applies (optimization r16, guide §2
  * "make partitioning scale-adaptive rather than a constant tuned for
  * either local mode or the cluster").
  *
  * Batch queries get AQE partition coalescing; a STATEFUL stream does
  * not — it plans its aggregation with the session's
  * `spark.sql.shuffle.partitions`, and that count becomes the state-store
  * partition count for the checkpoint's lifetime. Every micro-batch then
  * pays per-partition state-store open/commit regardless of how little
  * state lives there: the hourly-upsert stream holds ≤ 720 state rows,
  * and at 32 static partitions the store bookkeeping measured 4.3 s vs
  * 2.2 s at 8 (an A/B of `q_stream_hourly`'s state-partition count;
  * `graft.tools.Attribute` splits such a run per stage) — pure fixed
  * cost, identical rows.
  *
  * So: derive the stream's partition count from its INPUT SIZE (the
  * replayed file set), one partition per `bytesPerPartition` (default
  * 32 MB — state shards stay meaningfully sized), clamped to
  * [1, session shuffle partitions]. The clamp means a real deployment's
  * configured parallelism is never exceeded — this only coalesces the
  * degenerate small-input end the way AQE would for a batch plan, and
  * grows back to the configured count as input scales (sf-proportional:
  * the BENCH_SF1/SF10 probes see monotonically more partitions).
  * Results are partitioning-invariant (same aggregation, same rows);
  * the bench prices the same queries with the same methodology.
  */
object StreamTuning {

  /** Total bytes of the files a replay stream will consume (a matched
    * directory — e.g. a staged commit slice written as a parquet dir —
    * counts its contents, not its 0-length dir entry).
    */
  def inputBytes(spark: SparkSession, dir: String, glob: String): Long = {
    val p = new Path(dir, glob)
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val matched = Option(fs.globStatus(p)).getOrElse(Array.empty)
    matched.map(s =>
      if (s.isDirectory) fs.getContentSummary(s.getPath).getLength
      else s.getLen).sum
  }

  /** ceil(bytes / bytesPerPartition) clamped to [1, session conf]. */
  def derivedPartitions(spark: SparkSession, bytes: Long,
                        bytesPerPartition: Long = 32L << 20): Int = {
    val conf = spark.sessionState.conf.numShufflePartitions
    val derived = math.ceil(bytes.toDouble / bytesPerPartition).toLong
    math.max(1L, math.min(conf.toLong, derived)).toInt
  }

  /** Run `body` with `spark.sql.shuffle.partitions` scoped to `n`, then
    * restore. The streaming query inside MUST complete within the scope
    * (the count is read at stream start and pinned by its checkpoint) —
    * every caller here drives Trigger.AvailableNow / processAllAvailable
    * to completion inside `body`.
    *
    * SINGLE-THREADED assumption: the scope mutates the session-global
    * conf, so any query PLANNED concurrently on the same SparkSession
    * would silently inherit the reduced parallelism. Every caller here
    * is a one-shot synchronous replay driver (catalog entries run
    * serially); a concurrent-queries deployment should scope a cloned
    * session (`spark.newSession()`) instead.
    */
  private def withShufflePartitions[A](spark: SparkSession, n: Int)(body: => A): A = {
    val key = "spark.sql.shuffle.partitions"
    val old = spark.conf.get(key)
    spark.conf.set(key, n.toString)
    try body finally spark.conf.set(key, old)
  }

  private val derivedBypassed = new scala.util.DynamicVariable(false)

  /** Runs `body` with [[withDerivedPartitions]] leaving the session's
    * static count in place, so a check can compare both counts' results
    * (`graft.tools.StreamInvarianceCheck`). Scoped to the calling thread.
    */
  private[graft] def withoutDerivedPartitions[A](body: => A): A =
    derivedBypassed.withValue(true)(body)

  /** The composed convenience: scope the session's shuffle partitions to
    * the input-derived count for one replayed file set.
    */
  def withDerivedPartitions[A](spark: SparkSession, dir: String,
                               glob: String)(body: => A): A =
    if (derivedBypassed.value) body
    else withShufflePartitions(spark,
      derivedPartitions(spark, inputBytes(spark, dir, glob)))(body)

  /** Whether the streaming plan keeps operator state across micro-batches
    * (an aggregate or a deduplicate) — the operators whose shuffle count
    * becomes the state-store shard count.
    */
  private def stateful(df: DataFrame): Boolean =
    df.queryExecution.analyzed.exists {
      case p @ (_: Aggregate | _: Deduplicate | _: DeduplicateWithinWatermark) =>
        p.isStreaming
      case _ => false
    }

  /** Replays the parquet files in `dir` that match `glob` as a stream
    * through `transform`, once: an `AvailableNow` query into a memory
    * sink under a unique name, run to completion. Returns the emitted rows
    * detached from the sink (one eager `localCheckpoint` job) and drops
    * the sink's temporary view, also when the query fails, so a bench or
    * catalog loop does not keep one driver-held result table per call
    * (the ContextCleaner reclaims the checkpoint blocks once the returned
    * frame is unreachable). Emission is append mode: a windowed aggregate emits every window the
    * final watermark passed.
    *
    * Partitioning comes from the plan. A stateful plan (see [[stateful]])
    * runs under [[withDerivedPartitions]]; any other plan keeps the
    * session count, because a stateless stream holds no state shards to
    * coalesce (adaptive execution coalesces its micro-batch shuffles, as
    * `ReplaySpec` shows) and a stream-static join plans its static side
    * with the same conf. The session count is restored when the call
    * returns or throws. Measured in the r17 family drill (seconds at 32, 8 and 1 shuffle
    * partitions, min of 3, sf0.1 on 32 local cores, session count 32;
    * the derived count is 1 there):
    *
    * | replay | plan | 32 | 8 | 1 | runs at |
    * |---|---|---|---|---|---|
    * | `x_stream_distinct` | KMV window aggregate | 4.70 | 1.96 | 2.61 | derived |
    * | `x_stream_drift` | window count aggregate | 3.31 | 1.90 | 1.42 | derived |
    * | `x_stream_quantiles` | quantile-sketch aggregate | 2.75 | 2.74 | 2.09 | derived |
    * | `x_stream_heavyhitters` | space-saving aggregate | 2.35 | 1.65 | 1.63 | derived |
    * | `x_stream_exactdedup` | `dropDuplicatesWithinWatermark` | 1.91 | 0.98 | 0.89 | derived |
    * | `x_stream_imagehash` | stream-static join | 2.25 | 2.51 | 2.41 | session |
    * | `x_stream_linededup` | projection | 1.87 | 1.70 | 1.69 | session |
    *
    * `LateData` (6.16 s at 32 against 3.08 s derived) and `EventStreams`'
    * hourly upsert scope [[withDerivedPartitions]] themselves: one reads
    * its query's progress, the other writes through the hosted-table sink.
    */
  def replay(spark: SparkSession, dir: String, glob: String,
             schema: StructType)(transform: DataFrame => DataFrame): DataFrame = {
    val out = transform(spark.readStream.schema(schema)
      .option("pathGlobFilter", glob).parquet(dir))
    val name = s"replay_${java.util.UUID.randomUUID().toString.replace("-", "")}"
    def run(): Unit = out.writeStream.format("memory").queryName(name)
      .trigger(Trigger.AvailableNow()).outputMode("append").start()
      .awaitTermination()
    try {
      if (stateful(out)) withDerivedPartitions(spark, dir, glob)(run()) else run()
      spark.table(name).localCheckpoint(true)
    } finally spark.catalog.dropTempView(name)
  }

  /** The normalized hosted title `prefix <digest of key>`, with any table
    * already under that title dropped. A replay that titles its sink
    * tables by its input rebuilds the same tables on every run instead of
    * leaving one more set in the hosted store per call.
    */
  private[streaming] def replayTitle(prefix: String, key: String*): String = {
    val digest = java.security.MessageDigest.getInstance("MD5")
      .digest(key.mkString("\u0000").getBytes("UTF-8")).map("%02x".format(_)).mkString
    val title = graft.core.ServiceName.normalize(s"$prefix $digest")
      .fold(sys.error, identity)
    val sink = graft.sinks.HostedSinks.active
    sink.resolveByTitle(title).foreach(sink.drop)
    title
  }
}
