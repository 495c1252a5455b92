package perfbench

import java.lang.management.ManagementFactory
import java.nio.file.Paths

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.SparkSession

import graft.sinks.{HostedSinks, HostedTableSink, InProcessHostedSink, LocalPortalServer, RestHostedService}

/** One benchmark run; see README.md. Prints one JSON object as the last
  * line of stdout: `correct`, `attempted`, `failed` and the end-to-end
  * metrics (untraced) or the per-layer metrics (traced).
  */
object Main {
  val Cores = 4
  val Ops = Seq("save", "upsert", "update", "insert", "append", "overwrite", "scan", "pushdown", "publish")
  val WriteOps = Set("save", "upsert", "update", "insert", "append", "overwrite", "publish")
  val Verbs = Seq("resolveByTitle", "create", "drop", "exists", "schemaOf", "truncate",
    "addUniqueIndex", "fieldHasUniqueIndex", "queryCount", "queryPage", "stageBatch", "commitStaged")

  final case class Args(workload: String, seed: Long, seconds: Int, trace: Boolean,
                        t0Ms: Long, data: String, digests: String, out: String, tag: String)

  private def parse(argv: Array[String]): Args = {
    val m = argv.grouped(2).collect { case Array(k, v) if k.startsWith("--") => k.drop(2) -> v }.toMap
    def need(k: String) = m.getOrElse(k, throw new IllegalArgumentException(s"missing --$k"))
    Args(need("workload"), need("seed").toLong, need("seconds").toInt, need("trace") == "1",
      m.get("t0-ms").map(_.toLong).getOrElse(ManagementFactory.getRuntimeMXBean.getStartTime),
      need("data"), need("digests"), need("out"), m.getOrElse("tag", "run"))
  }

  /** The one place the benchmark sets the process-global active sink: the
    * only seam through which the API lets a caller choose the service.
    */
  private def useSink(sink: HostedTableSink): Unit = HostedSinks.active = sink

  private def median(xs: Seq[Double]): Double = {
    val s = xs.sorted
    if (s.size % 2 == 1) s(s.size / 2) else (s(s.size / 2 - 1) + s(s.size / 2)) / 2
  }

  private def num(d: Double): String =
    if (d.isNaN || d.isInfinite) "0" else java.math.BigDecimal.valueOf(d).toPlainString

  def main(argv: Array[String]): Unit = {
    val a = parse(argv)
    require(Set("connector_local", "connector_rest", "pipeline_publish")(a.workload),
      s"unknown workload ${a.workload}")
    val sessionT = System.nanoTime()
    val spark = SparkSession.builder()
      .master(s"local[$Cores]")
      .config("spark.sql.shuffle.partitions", Cores)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", System.getProperty("java.io.tmpdir"))
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    val sessionS = (System.nanoTime() - sessionT) / 1e9
    val server =
      if (a.workload == "connector_rest") Some(new LocalPortalServer("perfbench").start()) else None
    val service: HostedTableSink =
      server.fold[HostedTableSink](InProcessHostedSink)(s => new RestHostedService(s.url, "perfbench"))
    val trace = if (a.trace) Some(new Trace(spark.sparkContext, service)) else None
    val sink = trace.fold(service)(_.sink)
    useSink(sink)
    try {
      val m = new Meter(trace)
      val wl: Workload = m.aside("setup") {
        if (a.workload == "pipeline_publish") new Pipeline(spark, a.data, a.digests, sink, m)
        else new Connector(spark, a.data, a.seed, sink, m)
      }
      val warmT = System.nanoTime()
      (1 to wl.warmupRounds).foreach(_ => m.round(wl.callsPerRound)(wl.warmup()))
      val warmupS = (System.nanoTime() - warmT) / 1e9
      val setupS = (System.currentTimeMillis() - a.t0Ms) / 1e3
      m.timing = true
      trace.foreach(_.counting = true)
      val start = System.nanoTime()
      while (m.roundNs.isEmpty || System.nanoTime() - start < a.seconds * 1000000000L)
        m.round(wl.callsPerRound)(wl.round())
      m.timing = false
      trace.foreach(_.counting = false)
      // Spark's cached and checkpointed blocks are released first: its
      // cleaner frees unreachable ones at GC time, asynchronously, which
      // would make the figure depend on a race; the hosted tables stay
      spark.catalog.clearCache()
      spark.sparkContext.getPersistentRDDs.values.foreach(_.unpersist(blocking = true))
      System.gc()
      System.gc()
      val heapMb = ManagementFactory.getMemoryMXBean.getHeapMemoryUsage.getUsed / 1048576.0
      val rounds = m.roundNs.size.toDouble
      val roundS = median(m.roundNs.map(_ / 1e9).toSeq)

      val metrics: Seq[(String, Double, String)] = trace match {
        case None => Seq(
          ("setup_s", setupS, "s"),
          ("round_s", roundS, "s"),
          ("write_rows_per_s", median(m.writeRates.toSeq), "rows/s"),
          ("read_rows_per_s", median(m.readRates.toSeq), "rows/s"),
          ("live_heap_mb", heapMb, "MB"))
        case Some(t) =>
          val probes = m.aside("probe")(
            Probes.run(new OrderInputs(spark, a.data, a.seed).upsertSrc, Connector.Key))
          t.drain()
          def sparkWork(label: String, prefix: String, wallName: String) = {
            val (w, wallNs) = (t.work(label), m.callNs(label))
            val share = if (wallNs == 0) 0.0 else 1.0 - w.runMs.get * 1e6 / (wallNs.toDouble * Cores)
            Seq((s"$prefix.$wallName", wallNs / 1e9 / rounds, "s"),
              (s"$prefix.jobs", w.jobs.get / rounds, "count"),
              (s"$prefix.shuffle_bytes", w.shuffleBytes.get / rounds, "bytes"),
              (s"$prefix.fixed_cost_share", share, "ratio"))
          }
          val api = Ops.flatMap(op => sparkWork(op, s"api.$op", "wall_s") :+
            ((s"api.$op.executor_cpu_s", t.work(op).cpuNs.get / 1e9 / rounds, "s")))
          val queries = Pipeline.queries.flatMap(q => sparkWork(q.name, s"queries.${q.name}", "s"))
          val verbs = t.sink.verbs.asScala
          val sinks = Verbs.flatMap { v =>
            val s = verbs.get(v)
            Seq((s"sinks.$v.calls", s.fold(0L)(_.calls.get) / rounds, "count"),
              (s"sinks.$v.s", s.fold(0L)(_.nanos.get) / 1e9 / rounds, "s"))
          } ++ Seq(
            ("sinks.stageBatch.rows", verbs.get("stageBatch").fold(0L)(_.rows.get) / rounds, "rows"),
            ("sinks.queryPage.rows", verbs.get("queryPage").fold(0L)(_.rows.get) / rounds, "rows"))
          // rows written, counted three ways: staged through the sink
          // during write calls, reported by the API, and the inputs' own
          // row counts
          val staged = WriteOps.toSeq.map(op =>
            Option(t.sink.stagedRowsByLabel.get(op)).fold(0L)(_.get)).sum
          if (staged != m.reportedRows || staged != m.writeRows)
            m.check(Seq(s"rows written: staged $staged, reported ${m.reportedRows}, inputs ${m.writeRows}"))
          t.write(Paths.get(a.out, s"${a.tag}.trace.json"))
          api ++ probes ++ sinks ++ queries ++ Seq(
            ("setup.session_s", sessionS, "s"),
            ("setup.warmup_s", warmupS, "s"),
            ("trace.round_s", roundS, "s"))
      }
      m.errors.foreach(e => System.err.println(s"perfbench: call failed: $e"))
      m.problems.foreach(p => System.err.println(s"perfbench: check failed: $p"))
      System.err.println(s"perfbench: ${m.roundNs.size} timed rounds")
      val body = metrics.map { case (n, v, u) => s""""$n": {"value": ${num(v)}, "unit": "$u"}""" }
      println(s"""{"correct": ${m.problems.isEmpty}, "attempted": ${m.attempted}, """ +
        s""""failed": ${m.failed}, "metrics": {${body.mkString(", ")}}}""")
    } finally {
      useSink(InProcessHostedSink)
      server.foreach(_.stop())
      spark.stop()
    }
  }
}
