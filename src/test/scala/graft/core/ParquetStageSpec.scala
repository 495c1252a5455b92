package graft.core

import java.nio.file.{Files, Paths}

import org.scalatest.funsuite.AnyFunSuite

class ParquetStageSpec extends AnyFunSuite {
  lazy val spark = graft.SparkTestBase.spark

  test("stageSingleFile replaces a part-file directory left at the target") {
    val dir = Files.createTempDirectory("graft_stage").toString
    try {
      spark.range(5).write.parquet(s"$dir/t.parquet") // a directory, as Spark writes it
      val path = ParquetStage.stageSingleFile(spark.range(3).toDF(), dir, "t")
      assert(Files.isRegularFile(Paths.get(path)))
      assert(spark.read.parquet(path).count() == 3)
      assert(!Files.exists(Paths.get(s"$dir/__tmp_t")))
    } finally ParquetStage.rmRec(dir)
  }
}
