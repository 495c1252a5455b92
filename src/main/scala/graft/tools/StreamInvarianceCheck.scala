package graft.tools

import graft.{LocalSession, SparkEntry}

/** Partitioning-invariance witness for the r17 derived-state-partition
  * change: runs each touched stream query once WITH the derived scoping
  * (the shipped path) and once bypassed at the session's static count,
  * and diffs the full collected output. Any value difference —
  * including x_stream_latedata's drop-telemetry row, which is engine
  * metrics rather than SQL — fails loudly. That the derived count is the
  * one a stateful replay's state store runs at is `ReplaySpec`'s check.
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
    spark.stop()
    println(s"[invar] ${if (failures == 0) "OK" else "FAIL"}: $failures mismatches")
    if (failures > 0) sys.exit(1)
  }
}
