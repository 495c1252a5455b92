package graft.tools

import java.nio.file.{Files, Paths}

import graft.{LocalSession, SparkEntry}

/** Single-query slice of [[graft.Verify]]: `runMain graft.tools.VerifyOne
  * <name>[,<name>...] [sfDir] [outDir]` dumps only the named queries and an
  * oracle_sql.json restricted to them, so `tools/oracle_check.py` replays
  * just that slice — the fast loop when iterating on one operator instead
  * of paying for the 70-query full dump.
  */
object VerifyOne {
  def main(args: Array[String]): Unit = {
    val names = args(0).split(",").toSeq
    val sfDir = if (args.length > 1) args(1) else "/root/testdata/sf0.01"
    val outDir = if (args.length > 2) args(2) else "/tmp/verify_one"
    graft.queries.Staging.keepUnder(s"${outDir.stripSuffix("/")}_staging")
    val spark = LocalSession("WARN")
    new java.io.File(outDir).mkdirs()
    names.foreach { name =>
      val fn = SparkEntry.queries.getOrElse(name, sys.error(s"unknown query '$name'"))
      fn(spark, sfDir).coalesce(1).write.mode("overwrite").parquet(s"$outDir/$name")
    }
    val json = SparkEntry.oracleSql.filter(kv => names.contains(kv._1))
      .map { case (k, v) =>
        s"${graft.Verify.jsonEscape(k)}: ${graft.Verify.jsonEscape(
          graft.queries.QueryCatalog.resolveOracleDirs(v))}"
      }
      .mkString("{", ",", "}")
    Files.writeString(Paths.get(s"$outDir/oracle_sql.json"), json)
    spark.stop()
  }
}
