package graft.core

import org.scalatest.funsuite.AnyFunSuite

class ChunkerSpec extends AnyFunSuite {
  lazy val spark = graft.SparkTestBase.spark
  import spark.implicits._

  test("withChunkIds: exact floor((rn-1)/size) ids") {
    val df = (1 to 25).map(i => Tuple1(i.toLong)).toDF("k")
    val got = Chunker.withChunkIds(df, Seq("k"), 10)
      .orderBy("k").as[(Long, Long)].collect()
    assert(got.take(10).forall(_._2 == 0))
    assert(got.slice(10, 20).forall(_._2 == 1))
    assert(got.drop(20).forall(_._2 == 2))
  }
}
