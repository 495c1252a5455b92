package graft.tools

import graft.{LocalSession, SparkEntry}

/** Partitioning-invariance witness for the r17 derived-state-partition
  * change: runs each touched stream query once WITH the derived scoping
  * (the shipped path) and once bypassed at the session's static count,
  * and diffs the full collected output. Any value difference —
  * including x_stream_latedata's drop-telemetry row, which is engine
  * metrics rather than SQL — fails loudly.
  * `runMain graft.tools.StreamInvarianceCheck [sfDir]`
  */
object StreamInvarianceCheck {
  def main(args: Array[String]): Unit = {
    val sfDir = if (args.length > 0) args(0) else "/root/testdata/sf0.1"
    val spark = LocalSession("ERROR")
    val names = Seq("x_stream_latedata", "x_stream_distinct",
      "x_stream_quantiles", "x_stream_drift", "x_stream_heavyhitters",
      "x_stream_exactdedup", "q_stream_hourly")
    var failures = 0
    names.foreach { name =>
      val fn = SparkEntry.queries(name)
      def rows: Seq[String] = fn(spark, sfDir).collect().map(_.toString).toSeq.sorted
      val derived = rows
      val static = graft.streaming.StreamTuning.withoutDerivedPartitions(rows)
      if (derived == static)
        println(s"[invar] $name: IDENTICAL (${derived.size} rows)")
      else {
        failures += 1
        val diff = derived.zip(static).find { case (a, b) => a != b }
        println(s"[invar] $name: MISMATCH derived=${derived.size} rows " +
          s"static=${static.size} rows, first diff: $diff")
      }
    }
    // Shard-count witness (the "Done =" clause of the r16 verdict item):
    // drive one derived-scope stream with the query handle kept and read
    // numShufflePartitions out of its own StateOperatorProgress — the
    // checkpoint's state-shard count must equal the derived count, not
    // the session's static conf.
    locally {
      import org.apache.spark.sql.streaming.Trigger
      val dir = sfDir
      val glob = "events.parquet"
      val schema = spark.read.parquet(s"$dir/$glob").schema
      val derived = graft.streaming.StreamTuning.derivedPartitions(spark,
        graft.streaming.StreamTuning.inputBytes(spark, dir, glob))
      val shards = graft.streaming.StreamTuning
        .withDerivedPartitions(spark, dir, glob) {
          val raw = spark.readStream.schema(schema)
            .option("pathGlobFilter", glob).parquet(dir)
          val events = graft.core.TimestampNorm.normalizeEventTime(raw)
          val q = graft.streaming.StreamDistinct
            .windowedDistinct(events, "user_id", 512)
            .writeStream.format("memory")
            .queryName(s"shard_witness_${System.nanoTime()}")
            .trigger(Trigger.AvailableNow()).outputMode("append").start()
          q.awaitTermination()
          q.recentProgress.flatMap(_.stateOperators.map(_.numShufflePartitions))
            .distinct.toSeq
        }
      println(s"[invar] shard witness: derived=$derived " +
        s"state numShufflePartitions=${shards.mkString(",")} " +
        s"session conf=${spark.sessionState.conf.numShufflePartitions}")
      if (shards.exists(_ != derived.toLong)) {
        failures += 1
        println("[invar] shard witness MISMATCH")
      }
    }
    spark.stop()
    println(s"[invar] ${if (failures == 0) "OK" else "FAIL"}: $failures mismatches")
    if (failures > 0) sys.exit(1)
  }
}
