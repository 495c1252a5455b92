package graft.tools

import org.apache.spark.sql.execution.FormattedMode

import graft.{LocalSession, SparkEntry}
import graft.tools.JsonNum.num

/** Where a catalog query's time and work go:
  * `runMain graft.tools.Attribute <q1,q2,…> <sfDir> [runs] [--plan]`.
  *
  * Each query's `count()` runs `runs` times (default 3; run 1 carries
  * codegen and JIT warm-up) under its own [[QueryProfile]] label. Per run
  * it prints one JSON line: wall time, jobs, stages, shuffle bytes
  * written, executor CPU, and `fixed_cost_share` = 1 − Σ executor run
  * time ÷ (wall × cores), the share of the cores' wall time no task ran.
  * Then it prints the last run's stages (SQL execution id, call site,
  * tasks, records in and out, shuffle bytes, run ms), and with `--plan` the query's formatted
  * physical plan.
  */
object Attribute {
  def main(args: Array[String]): Unit = {
    val plan = args.contains("--plan")
    val rest = args.filterNot(_ == "--plan")
    require(rest.length >= 2, "usage: Attribute <q1,q2,...> <sfDir> [runs] [--plan]")
    val names = rest(0).split(",").toSeq
    val sfDir = rest(1)
    val runs = rest.lift(2).fold(3)(_.toInt)
    val spark = LocalSession("ERROR")
    val sc = spark.sparkContext
    val cores = sc.defaultParallelism
    val profile = QueryProfile.attach(spark)
    names.foreach { q =>
      val fn = SparkEntry.queries.getOrElse(q, sys.error(s"unknown query '$q'"))
      (1 to runs).foreach { run =>
        val label = s"$q#$run"
        val wallNs = QueryProfile.labelled(sc, label) {
          val t0 = System.nanoTime()
          fn(spark, sfDir).count()
          System.nanoTime() - t0
        }
        val w = profile.work(label)
        val wallS = wallNs / 1e9
        println(s"""{"query":"$q","run":$run,"wall_s":${num(wallS, 3)},""" +
          s""""jobs":${w.jobs},"stages":${w.stages},"shuffle_bytes":${w.shuffleBytes},""" +
          s""""executor_cpu_s":${num(w.cpuNs / 1e9, 3)},""" +
          s""""fixed_cost_share":${num(1.0 - w.runMs / 1e3 / (wallS * cores), 3)}}""")
      }
      println(f"${"stage"}%6s ${"sql"}%5s  ${"call site"}%-44s ${"tasks"}%6s ${"records in"}%12s " +
        f"${"records out"}%12s ${"shuffle bytes"}%14s ${"run ms"}%9s")
      profile.stagesOf(s"$q#$runs").sortBy(_.id).foreach { s =>
        println(f"${s.id}%6d ${s.executionId}%5s  ${s.callSite.take(44)}%-44s ${s.tasks}%6d ${s.recordsIn}%12d " +
          f"${s.recordsOut}%12d ${s.shuffleBytes}%14d ${s.runMs}%9d")
      }
      if (plan) println(fn(spark, sfDir).queryExecution.explainString(FormattedMode))
    }
    spark.stop()
  }
}
