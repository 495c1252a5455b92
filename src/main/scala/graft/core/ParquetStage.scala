package graft.core

import org.apache.spark.sql.DataFrame

/** Single-file parquet staging for fixtures and file-stream replays.
  *
  * Spark writes a part-file DIRECTORY; file-stream sources and
  * path-addressed oracles need ONE plain file with a controlled name
  * (and, for file-source ordering, a controlled mtime). This is the one
  * shared implementation of the write→pick-part→move→stamp dance — it
  * was growing a copy per call site, and the copies were drifting (one
  * had a non-recursive cleanup that silently no-opped on a leftover
  * directory from a crashed run, letting stale rows join the stream).
  */
object ParquetStage {

  /** Recursive delete; no-op when absent. */
  def rmRec(path: String): Unit = {
    val p = java.nio.file.Paths.get(path)
    if (java.nio.file.Files.exists(p)) {
      import scala.jdk.CollectionConverters._
      val walk = java.nio.file.Files.walk(p)
      try walk.iterator().asScala.toSeq.reverse
        .foreach(q => java.nio.file.Files.deleteIfExists(q))
      finally walk.close()
    }
  }

  /** Write `df` as the single plain file `<dir>/<name>.parquet`
    * (coalesced to one part), optionally stamping its mtime (file-stream
    * sources process in mtime order). Whatever sits at the target is
    * removed first, a part-file directory left by an older writer too.
    * Returns the file path.
    */
  def stageSingleFile(df: DataFrame, dir: String, name: String,
                      mtime: Option[Long] = None): String = {
    new java.io.File(dir).mkdirs()
    val tmp = s"$dir/__tmp_$name"
    df.coalesce(1).write.mode("overwrite").parquet(tmp)
    val target = java.nio.file.Paths.get(s"$dir/$name.parquet")
    rmRec(target.toString)
    val part = new java.io.File(tmp).listFiles()
      .find(_.getName.endsWith(".parquet"))
      .getOrElse(sys.error(s"staging $name: no part file written under $tmp"))
    java.nio.file.Files.move(part.toPath, target)
    mtime.foreach(target.toFile.setLastModified(_))
    rmRec(tmp)
    target.toString
  }
}
