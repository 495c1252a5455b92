package graft.tools

import java.nio.file.{Files, Paths}

import org.apache.spark.sql.SparkSession

/** Shuffle-byte BUDGETS for the headline heavies — the one cluster-scale
  * cost the local bench cannot price (absolute network bytes transfer to
  * a real cluster; wall time does not). Measures, per query, the total
  * shuffle bytes WRITTEN across every job the entry triggers (batch
  * actions, eager localCheckpoints, streaming micro-batches — a
  * scheduler listener sees them all, where QueryExecutionListener
  * misses streams), and commits them as SHUFFLE_BUDGET.json. A plan
  * regression that doubles exchange volume — a lost broadcast, a
  * pre-aggregation that stopped combining map-side, a join that started
  * shuffling its small side — becomes structurally visible as a >2×
  * budget breach, judged by `ShuffleBudgetSpec` against its own pinned
  * test-environment numbers each `sbt test`.
  *
  * Each query runs TWICE: the first run stages memoized index artifacts
  * and warms caches (attributing one-time staging shuffles to whichever
  * query runs first would make budgets order-dependent); only the second
  * run is measured, under its own [[QueryProfile]] label.
  */
object ShuffleBudget {

  /** Measured shuffle-bytes per catalog entry (second-run semantics, see
    * object doc). Shared by the committed-artifact main and the
    * per-round spec gate so the two can never measure differently.
    */
  def measure(spark: SparkSession, names: Seq[String],
              sfDir: String): Seq[(String, Long)] =
    names.map { n =>
      val fn = graft.queries.QueryCatalog.all(n)
      fn(spark, sfDir).count() // warmup: stage artifacts, prime memos
      n -> QueryProfile.measure(spark)(fn(spark, sfDir).count()).shuffleBytes
    }

  /** The budgeted set: the ten most expensive headline entries by the
    * r12 headline bench — the queries whose exchange volume dominates
    * what a cluster run would move — plus the r14 spatial heavies
    * (grid joins shuffle each point once + the 9× compact neighbor
    * fan-out; DBSCAN adds the degree agg and core-only CC — the
    * budget pins that fan-out constant).
    */
  val budgetedQueries: Seq[String] = Seq(
    "x_emb_pca", "x_dedup_incremental", "x_knn_components",
    "x_split_leakfree", "x_dedup_clusters", "q_stream_hourly",
    "x_ann_autotune_ivfpq", "x_dedup_best", "x_eval_dedup_sampled",
    "x_dedup_cross", "x_spatial_dbscan", "x_spatial_join")

  def main(args: Array[String]): Unit = {
    val sfDir = args.headOption.getOrElse("/root/testdata/sf0.1")
    val cpus = graft.LocalSession.cpus
    val spark = graft.LocalSession("ERROR")
    val rows = measure(spark, budgetedQueries, sfDir)
    rows.foreach { case (n, b) =>
      println(f"== $n%-28s ${b / 1024.0 / 1024.0}%9.2f MiB shuffled")
    }
    val qjson = rows.map { case (n, b) => s""""$n":$b""" }
      .mkString("{", ",", "}")
    val json =
      s"""{"metric":"shuffle_bytes_written","unit":"bytes",""" +
      s""""cpus":$cpus,"shuffle_partitions":$cpus,"sf":"$sfDir",""" +
      s""""queries":$qjson}"""
    Files.writeString(Paths.get("SHUFFLE_BUDGET.json"), json + "\n")
    println(json)
    spark.stop()
  }
}
