package perfbench

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions.col

import graft.core.{IndexPoll, Merge, WriteMode}
import graft.sinks.{HostedStore, InProcessHostedSink, LocalPortalServer, PortalJson, RestHostedService}

/** Direct timed calls into single layers, on fixed inputs cut from the
  * round's own upsert source. Run only in traced runs, after the timed
  * rounds; each figure is the median of several repetitions.
  */
object Probes {
  private val BatchRows = 20000

  private def median(xs: Seq[Double]): Double = {
    val s = xs.sorted
    if (s.size % 2 == 1) s(s.size / 2) else (s(s.size / 2 - 1) + s(s.size / 2)) / 2
  }

  private def timeS(reps: Int)(body: => Unit): Double =
    median((1 to reps).map { _ =>
      val t = System.nanoTime()
      body
      (System.nanoTime() - t) / 1e9
    })

  /** (metric, value, unit) of each probe. */
  def run(source: DataFrame, key: String): Seq[(String, Double, String)] = {
    val batch = source.orderBy(col(key)).limit(BatchRows).collect().toSeq
    val schema = source.schema

    // core: the source-key dedup every keyed write runs, to completion
    val dedup = timeS(3) {
      Merge.dedupByKey(source, key).write.format("noop").mode("overwrite").save()
    }

    // sinks, service apply: an upsert of the batch into a table holding it
    val id = HostedStore.create("perfbench_probe_apply", schema)
    IndexPoll.ensureUniqueIndex(InProcessHostedSink, id, key)
    HostedStore.appendBatch(id, batch, WriteMode.Upsert, Some(key))
    val apply = timeS(5)(HostedStore.appendBatch(id, batch, WriteMode.Upsert, Some(key)))
    HostedStore.drop(id)

    // sinks, wire: the JSON codec on the batch, and one HTTP round trip
    def encode(): String = {
      val a = PortalJson.arr()
      batch.foreach(r => a.add(PortalJson.encodeRow(r)))
      PortalJson.write(a)
    }
    val text = encode()
    val enc = timeS(5)(encode())
    val dec = timeS(5)(PortalJson.parse(text).elements().asScala.foreach(PortalJson.decodeRow))

    val server = new LocalPortalServer("perfbench-probe").start()
    val http = try {
      val rest = new RestHostedService(server.url, "perfbench-probe")
      val one = rest.create("perfbench_probe_http", schema)
      rest.appendBatch(one, batch.take(1), WriteMode.Append, None)
      (1 to 20).foreach(_ => rest.queryCount(one, Array.empty))
      val ms = timeS(50)(rest.queryCount(one, Array.empty)) * 1e3
      rest.drop(one)
      ms
    } finally server.stop()

    val n = batch.size.toDouble
    Seq(
      ("core.dedup_by_key_s", dedup, "s"),
      ("sinks.store_apply_us_per_row", apply * 1e6 / n, "us"),
      ("sinks.json_encode_us_per_row", enc * 1e6 / n, "us"),
      ("sinks.json_decode_us_per_row", dec * 1e6 / n, "us"),
      ("sinks.http_roundtrip_ms", http, "ms"))
  }
}
