package graft.tools

import java.nio.file.{Files, Paths}

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.streaming.Trigger

/** MEASURED streaming-state evidence: drive the two capacity-bounded
  * stream monitors (space-saving heavy hitters, KMV distinct) over the
  * same event fixture at sf0.1 / sf1 (10×) / sf10 (100×) and record each
  * micro-batch's `StateOperatorProgress` — state rows, state bytes,
  * input rows — from the query's own progress telemetry.
  *
  * The claim this makes measurable (it was spec-level before r13):
  * state is ∝ capacity × OPEN WINDOWS (both policy — the fixtures share
  * one event-time range, so the window count is identical at every
  * scale), while input rows grow 10×/100×. A state-rows line that is
  * FLAT across scales while numInputRows climbs two decades is the
  * bounded-state property, measured; wall time tracking input volume is
  * already priced by BENCH_SF1/BENCH_SF10's stream probes.
  *
  * The drives reuse the catalog entries' own transforms
  * ([[graft.streaming.StreamHeavyHitters.windowedTopK]] /
  * [[graft.streaming.StreamDistinct.windowedDistinct]]) at the catalog
  * knobs (capacity 512, k 5), differing only in keeping the query
  * handle so `recentProgress` can be read after termination.
  *
  * Run `graft.tools.BenchSf1` (and `BenchSf1 sf10`) first to materialize
  * /tmp/graft_sf1 and /tmp/graft_sf10; absent scales are skipped loudly.
  * Writes STREAM_STATE.json.
  */
object StreamStateProbe {

  private case class BatchRow(batchId: Long, inputRows: Long,
                              stateRows: Long, stateBytes: Long)

  /** Drive one monitor AvailableNow → memory sink and return its
    * per-batch state telemetry (batches with no progress rows — e.g.
    * the terminal empty batch — keep their zeros meaningful).
    */
  private def drive(spark: SparkSession, name: String)
                   (transformed: DataFrame): Seq[BatchRow] = {
    val q = transformed
      .writeStream.format("memory").queryName(name)
      .trigger(Trigger.AvailableNow()).outputMode("append").start()
    q.awaitTermination()
    q.recentProgress.toSeq.map { p =>
      val st = p.stateOperators.toSeq
      BatchRow(p.batchId, p.numInputRows,
        st.map(_.numRowsTotal).sum, st.map(_.memoryUsedBytes).sum)
    }
  }

  def main(args: Array[String]): Unit = {
    val spark = graft.LocalSession("ERROR")

    val scales = Seq(
      "sf01" -> "/root/testdata/sf0.1",
      "sf1" -> "/tmp/graft_sf1",
      "sf10" -> "/tmp/graft_sf10",
      // the r15 synthesized third-decade slice: sf10's row count drawn
      // from the 100×-user population — state must stay capacity ×
      // open-windows bounded at 10× the key cardinality too
      "sf100" -> "/tmp/graft_sf100")
    val present = scales.filter { case (tag, dir) =>
      val ok = new java.io.File(s"$dir/events.parquet").exists()
      if (!ok) println(s"== SKIPPING $tag: $dir/events.parquet absent " +
        "(run graft.tools.BenchSf1 [sf10] first)")
      ok
    }
    require(present.nonEmpty, "no scale has an events fixture")

    val results = for {
      (tag, dir) <- present
      probe <- Seq("heavyhitters", "distinct")
    } yield {
      val schema = spark.read.parquet(s"$dir/events.parquet").schema
      val raw = spark.readStream.schema(schema)
        .option("pathGlobFilter", "events.parquet").parquet(dir)
      val events = graft.core.TimestampNorm.normalizeEventTime(raw)
      val name = s"state_probe_${probe}_${tag}_${System.nanoTime()}"
      val rows = probe match {
        case "heavyhitters" => drive(spark, name)(
          graft.streaming.StreamHeavyHitters.windowedTopK(
            events, "user_id", k = 5, capacity = 512))
        case _ => drive(spark, name)(
          graft.streaming.StreamDistinct.windowedDistinct(
            events, "user_id", capacity = 512))
      }
      val totIn = rows.map(_.inputRows).sum
      val maxRows = if (rows.isEmpty) 0L else rows.map(_.stateRows).max
      val maxBytes = if (rows.isEmpty) 0L else rows.map(_.stateBytes).max
      println(f"== $probe%-13s $tag%-5s input $totIn%9d rows   " +
        f"state <= $maxRows%5d rows / $maxBytes%9d bytes " +
        f"(${rows.size} batches)")
      (probe, tag, totIn, maxRows, maxBytes, rows)
    }

    // the bounded-state gate, enforced here as well as eyeballed: at
    // every scale the peak state-row count must stay under
    // open-windows × 2 slack of the SMALLEST scale's peak — a keyed
    // (per-item) state would blow through this at 10×/100×
    val byProbe = results.groupBy(_._1)
    val violations = byProbe.flatMap { case (probe, rs) =>
      val base = rs.map(_._4).min
      rs.filter(_._4 > math.max(base, 1L) * 2)
        .map(r => s"$probe@${r._2}: state ${r._4} rows vs base $base")
    }

    val qjson = results.map { case (probe, tag, totIn, maxRows, maxBytes, rows) =>
      val batches = rows.map(b =>
        s"""{"batch":${b.batchId},"input_rows":${b.inputRows},""" +
        s""""state_rows":${b.stateRows},"state_bytes":${b.stateBytes}}""")
        .mkString("[", ",", "]")
      s""""${probe}_$tag":{"input_rows":$totIn,"peak_state_rows":$maxRows,""" +
      s""""peak_state_bytes":$maxBytes,"batches":$batches}"""
    }.mkString("{", ",", "}")
    val json =
      s"""{"metric":"stream_state_rows","capacity":512,""" +
      s""""scales":${present.map("\"" + _._1 + "\"").mkString("[", ",", "]")},""" +
      s""""queries":$qjson,""" +
      s""""violations":${violations.map("\"" + _ + "\"").mkString("[", ",", "]")}}"""
    Files.writeString(Paths.get("STREAM_STATE.json"), json + "\n")
    println(json)
    spark.stop()
    if (violations.nonEmpty) sys.exit(1)
  }
}
