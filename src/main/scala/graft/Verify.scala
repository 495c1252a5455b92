package graft
import java.nio.file.{Files, Paths}
/** Driver-run correctness dump: each SparkEntry.queries result → parquet,
  * plus oracle_sql.json, for the driver's DuckDB compare. */
object Verify {
  /** JSON string escape: backslash, quote, and ALL control chars (<0x20)
    * — a tab or CR in builder-authored SQL would otherwise make the
    * driver's json.load fail and silently zero the round's correctness.
    * Shared with VerifyOne so the single-query replay loop always reads
    * identically-escaped SQL.
    */
  private[graft] def jsonEscape(s: String): String = "\"" + s.flatMap {
    case '"'  => "\\\""
    case '\\' => "\\\\"
    case '\n' => "\\n"
    case '\r' => "\\r"
    case '\t' => "\\t"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  } + "\""

  def main(args: Array[String]): Unit = {
    val Array(sfDir, outDir) = args
    graft.queries.Staging.keepUnder(s"${outDir.stripSuffix("/")}_staging")
    val spark = LocalSession("WARN")
    // The rows-only invariant, enforced at the correctness gate itself:
    // a new query missing its oracle (or a typo'd oracle key) must fail
    // the dump loudly, not silently downgrade to a rows-only check.
    val rowsOnly = SparkEntry.queries.keySet -- SparkEntry.oracleSql.keySet
    require(rowsOnly == graft.queries.QueryCatalog.rowsOnlyByDesign,
      "rows-only set drifted from QueryCatalog.rowsOnlyByDesign: " +
        s"unexpected=${rowsOnly -- graft.queries.QueryCatalog.rowsOnlyByDesign} " +
        s"missing=${graft.queries.QueryCatalog.rowsOnlyByDesign -- rowsOnly}")
    new java.io.File(outDir).mkdirs()
    SparkEntry.queries.foreach { case (name, fn) =>
      try fn(spark, sfDir).coalesce(1).write.mode("overwrite")
        .parquet(s"$outDir/$name")
      catch { case e: Throwable =>
        System.err.println(s"[verify] $name failed: ${e.getMessage}")
      }
    }
    // resolve @@ANNDIR|..@@ placeholders NOW (post-staging): the oracle
    // must replay the pointer-resolved serving dirs, not a stale version
    val json = SparkEntry.oracleSql
      .map { case (k, v) =>
        s"${jsonEscape(k)}: ${jsonEscape(graft.queries.QueryCatalog.resolveOracleDirs(v))}"
      }
      .mkString("{", ",", "}")
    Files.writeString(Paths.get(s"$outDir/oracle_sql.json"), json)
    spark.stop()
  }
}
