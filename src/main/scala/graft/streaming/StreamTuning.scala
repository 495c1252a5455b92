package graft.streaming

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.SparkSession

/** Scale-adaptive shuffle/state partitioning for the one-shot
  * file-replay streams (optimization r16, guide §2 "make partitioning
  * scale-adaptive rather than a constant tuned for either local mode or
  * the cluster").
  *
  * Batch queries get AQE partition coalescing; STRUCTURED STREAMING does
  * not — a stateful stream plans its aggregation with the session's
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
  def withShufflePartitions[A](spark: SparkSession, n: Int)(body: => A): A = {
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
}
