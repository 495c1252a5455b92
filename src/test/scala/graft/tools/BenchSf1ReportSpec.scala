package graft.tools

import org.scalatest.funsuite.AnyFunSuite

import graft.tools.BenchSf1.{Timing, report, sweepFor}

/** The artifact line of each BenchSf1 mode, from fixed timings. Each
  * expected line is the one the mode's own inline block printed for the
  * same timings before the modes shared one sweep, so the artifacts keep
  * their file names, keys, order and number formats. This also covers
  * `sf10` and `sf100`, whose corpora are too large to build in a test.
  */
class BenchSf1ReportSpec extends AnyFunSuite {

  private def line(args: Seq[String], rows: Seq[Timing], heapMb: Long = 0L,
                   cpus: String = "4", eventRows: Seq[Long] = Nil,
                   failures: Seq[String] = Nil, codegenErrors: Long = 0L): String =
    report(sweepFor(args), rows, heapMb, cpus, eventRows, failures, codegenErrors)

  test("default: sf0.1 against sf1, with the superlinear gate") {
    val rows = Seq(
      Timing("minhash_lsh_est", Seq(Some(1.5), Some(4.5))),
      Timing("knn_graph", Seq(Some(0.25), Some(3.5))),
      Timing("emb_pca", Seq(Some(2.0), None)))
    assert(line(Nil, rows, failures = Seq("emb_pca")) ==
      """{"metric":"sf1_scale_ratio","unit":"x","copies":10,"queries":{""" +
      """"minhash_lsh_est":{"sf01":1.500,"sf1":4.500,"ratio":3.000},""" +
      """"knn_graph":{"sf01":0.250,"sf1":3.500,"ratio":14.000},""" +
      """"emb_pca":{"sf01":2.000,"sf1":null,"ratio":null}},""" +
      """"superlinear":["knn_graph","emb_pca"],"failures":["emb_pca"],"codegen_errors":0}""")
  }

  test("sf10: sf1 against sf10, with stream throughput") {
    val rows = Seq(
      Timing("image_dedup", Seq(Some(2.0), Some(12.5))),
      Timing("stream_heavyhitters", Seq(Some(12.5), Some(100.0))),
      Timing("stream_distinct", Seq(Some(10.0), None)))
    assert(line(Seq("sf10"), rows, eventRows = Seq(1000000L, 10000000L),
        failures = Seq("stream_distinct"), codegenErrors = 2) ==
      """{"metric":"sf10_scale_ratio","unit":"x","copies":100,"queries":{""" +
      """"image_dedup":{"sf1":2.000,"sf10":12.500,"ratio":6.250},""" +
      """"stream_heavyhitters":{"sf1":12.500,"sf10":100.000,"ratio":8.000},""" +
      """"stream_distinct":{"sf1":10.000,"sf10":null,"ratio":null}},""" +
      """"stream_throughput":{"stream_heavyhitters":""" +
      """{"sf1_rows_per_sec":80000,"sf10_rows_per_sec":100000}},""" +
      """"failures":["stream_distinct"],"codegen_errors":2}""")
  }

  test("sf100: sf10 against sf100, with the events slice and stream throughput") {
    val rows = Seq(
      Timing("ivf_serve", Seq(Some(0.5), Some(0.625))),
      Timing("stream_distinct", Seq(Some(50.0), Some(64.0))))
    assert(line(Seq("sf100", "reuse"), rows, eventRows = Seq(10000000L, 9928000L)) ==
      """{"metric":"sf100_scale_ratio","unit":"x","copies":1000,""" +
      """"synthesized_artifacts":true,"events_slice_rows":9928000,"queries":{""" +
      """"ivf_serve":{"sf10":0.500,"sf100":0.625,"ratio":1.250},""" +
      """"stream_distinct":{"sf10":50.000,"sf100":64.000,"ratio":1.280}},""" +
      """"stream_throughput":{"stream_distinct":""" +
      """{"sf10_rows_per_sec":200000,"sf100_rows_per_sec":155125}},""" +
      """"failures":[],"codegen_errors":0}""")
  }

  test("smallheap: sf1 only, with the heap and cores it ran on") {
    val rows = Seq(
      Timing("minhash_lsh_est", Seq(Some(8.125))),
      Timing("emb_pca", Seq(None)))
    assert(line(Seq("smallheap"), rows, heapMb = 2048, cpus = "8",
        failures = Seq("emb_pca")) ==
      """{"metric":"smallheap_sf1_seconds","heap_mb":2048,"cpus":8,""" +
      """"shuffle_partitions":64,"copies":10,"queries":{""" +
      """"minhash_lsh_est":8.125,"emb_pca":null},""" +
      """"failures":["emb_pca"],"codegen_errors":0}""")
  }

  test("each mode prices the probes its committed artifact lists, and keeps its exit rule") {
    // probe names in artifact order: `"name":{"sfN":` in a two-scale
    // artifact, `"name":<seconds>` in the flat small-heap one
    def keys(artifact: String, flat: Boolean): Seq[String] = {
      val src = scala.io.Source.fromFile(artifact)
      val json = try src.mkString finally src.close()
      val from = json.indexOf("\"queries\":{") + 11
      val queries = if (flat) json.substring(from, json.indexOf("}", from)) else json
      val entry = if (flat) "\"([a-z0-9_]+)\":[0-9n]" else "\"([a-z0-9_]+)\":\\{\"sf[0-9]+\":"
      entry.r.findAllMatchIn(queries).map(_.group(1)).toSeq
    }
    Seq(Seq("sf10") -> "BENCH_SF10.json", Seq("sf100") -> "BENCH_SF100.json",
        Seq("smallheap") -> "BENCH_SMALLHEAP.json").foreach { case (args, artifact) =>
      val sweep = sweepFor(args)
      assert(sweep.artifact == artifact)
      assert(sweep.names == keys(artifact, sweep.scales.size == 1), artifact)
      assert(sweep.exitOnFailure)
    }
    val default = sweepFor(Nil)
    assert(default.artifact == "BENCH_SF1.json" && default.names.isEmpty && !default.exitOnFailure)
    // the staging modes win over smallheap, as they always did
    assert(sweepFor(Seq("sf10", "smallheap")).mode == "sf10")
    assert(sweepFor(Seq("sf100", "smallheap")).mode == "sf100")
  }
}
