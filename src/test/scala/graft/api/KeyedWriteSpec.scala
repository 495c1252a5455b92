package graft.api

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.core.{Merge, WriteMode}
import graft.sinks.HostedStore

/** The keyed write's one sort: it alone decides which of a repeated key's
  * rows wins (the greatest for upsert and update, the least for insert),
  * whatever the input's layout and whether the write comes through the
  * API or a raw `format("graft")` write; and the write runs no other
  * shuffle or emptiness pass.
  */
class KeyedWriteSpec extends AnyFunSuite {
  lazy val spark = graft.SparkTestBase.spark
  import spark.implicits._

  private def target: DataFrame =
    (1 to 20).map(i => (i.toLong, s"t$i", i * 1.0)).toDF("k", "s", "v")

  /** Keys 3..6 exist in [[target]], 100..103 do not; every key comes three
    * times, and some rows carry a null in `s`.
    */
  private val sourceRows: Seq[(Long, String, Double)] =
    Seq(3L, 4L, 5L, 6L, 100L, 101L, 102L, 103L).flatMap { k =>
      Seq((k, s"b$k", 2.0), (k, null, 9.0), (k, s"a$k", 7.0))
    }

  private def layouts: Seq[(String, DataFrame)] = Seq(
    "as given" -> sourceRows.toDF("k", "s", "v"),
    "repartition(7)" -> sourceRows.toDF("k", "s", "v").repartition(7),
    "reversed, one partition" -> sourceRows.reverse.toDF("k", "s", "v").coalesce(1))

  private def freshTable(name: String, df: DataFrame, key: String): String = {
    HostedStore.dropByTitle(name)
    val id = HostedTables.createTable(df, name, Some(key)).fold(e => fail(e), identity)
    HostedTables.write(df, id, WriteMode.Append).fold(e => fail(e), identity)
    id
  }

  private def sorted(df: DataFrame): Seq[Row] = df.orderBy("k").collect().toSeq

  private val entryPoints: Seq[(String, (DataFrame, String, WriteMode) => Unit)] = Seq(
    "HostedTables.write" -> { (df, id, mode) =>
      HostedTables.write(df, id, mode, Some("k")).fold(e => fail(e), _ => ())
    },
    "format(graft)" -> { (df, id, mode) =>
      df.write.format("graft").mode("append").option("itemId", id)
        .option("writeMode", mode.name).option("key", "k").save()
    })

  for (mode <- Seq(WriteMode.Upsert, WriteMode.Update, WriteMode.Insert)) {
    test(s"winner rule: ${mode.name} gives one table for every layout and entry point") {
      val expected = sorted(Merge(mode, target, sourceRows.toDF("k", "s", "v"), Some("k")))
      for ((entry, run) <- entryPoints; (layout, df) <- layouts) {
        val id = freshTable(s"winner_${mode.name}", target, "k")
        run(df, id, mode)
        assert(sorted(HostedTables.read(spark, id)) == expected, s"$entry, $layout")
      }
      // the rule itself: greatest row for upsert/update, least for insert
      val k5 = expected.find(_.getLong(0) == 5L).get
      val k100 = expected.find(_.getLong(0) == 100L)
      mode match {
        case WriteMode.Insert =>
          assert(k5 == Row(5L, "t5", 5.0))
          assert(k100.contains(Row(100L, null, 9.0)))
        case WriteMode.Update =>
          assert(k5 == Row(5L, "b5", 2.0))
          assert(k100.isEmpty)
        case _ =>
          assert(k5 == Row(5L, "b5", 2.0))
          assert(k100.contains(Row(100L, "b100", 2.0)))
      }
    }
  }

  test("a table with a map-typed column takes a keyed write") {
    val tgt = Seq((1L, Map("a" -> "1"), 1.0), (2L, Map("b" -> "2"), 2.0))
      .toDF("k", "tags", "v")
    val src = Seq((2L, Map("x" -> "1"), 5.0), (2L, Map("y" -> "2"), 3.0),
      (3L, Map.empty[String, String], 4.0)).toDF("k", "tags", "v").repartition(3)
    val id = freshTable("winner_map", tgt, "k")
    HostedTables.write(src, id, WriteMode.Upsert, Some("k")).fold(e => fail(e), identity)
    val got = sorted(HostedTables.read(spark, id))
    assert(got == sorted(Merge.upsert(tgt, src, "k")))
    assert(got.map(_.getDouble(2)) == Seq(1.0, 5.0, 4.0))
  }

  test("an append that would repeat a unique key is refused") {
    val df = (1 to 50).map(i => (i.toLong, s"n$i")).toDF("k", "name")
    val (id, _) = HostedTables.save(df, "dup_append", Some("k"))
      .fold(e => fail(e), identity)
    assert(HostedTables.write(df, id, WriteMode.Append).isLeft)
    assert(HostedTables.read(spark, id).count() == 50)
    // new keys still append, and the index keeps holding for merges
    val more = (51 to 60).map(i => (i.toLong, s"n$i")).toDF("k", "name")
    HostedTables.write(more, id, WriteMode.Append).fold(e => fail(e), identity)
    HostedTables.write(more, id, WriteMode.Upsert, Some("k")).fold(e => fail(e), identity)
    assert(HostedTables.read(spark, id).count() == 60)
  }

  test("a unique index cannot be added over repeated values") {
    HostedStore.dropByTitle("dup_index")
    val df = Seq((1L, "a"), (1L, "b"), (2L, "c")).toDF("k", "name")
    val id = HostedTables.createTable(df, "dup_index").fold(e => fail(e), identity)
    HostedTables.write(df, id, WriteMode.Append).fold(e => fail(e), identity)
    intercept[IllegalArgumentException](HostedStore.addUniqueIndex(id, "k"))
    assert(HostedStore.indexesOf(id).isEmpty)
    assert(HostedTables.write(df, id, WriteMode.Upsert, Some("k")).isLeft)
  }

  test("a merge honours every unique index, not only its own key's") {
    HostedStore.dropByTitle("two_indexes")
    val df = Seq((1L, "x"), (2L, "y")).toDF("a", "b")
    val (id, _) = HostedTables.save(df, "two_indexes", Some("a")).fold(e => fail(e), identity)
    HostedStore.addUniqueIndex(id, "b")
    def rows = HostedTables.read(spark, id).orderBy("a").collect().toSeq
    // key 3 is new, but its "x" is row 1's value of the indexed b
    assert(HostedTables.write(Seq((3L, "x")).toDF("a", "b"), id, WriteMode.Upsert, Some("a")).isLeft)
    assert(rows == Seq(Row(1L, "x"), Row(2L, "y")))
    // both indexes still hold, so writes through either key go on working
    HostedTables.write(Seq((5L, "y"), (4L, "z")).toDF("a", "b"), id, WriteMode.Upsert, Some("b"))
      .fold(e => fail(e), identity)
    HostedTables.write(Seq((2L, "w")).toDF("a", "b"), id, WriteMode.Append).fold(e => fail(e), identity)
    assert(rows == Seq(Row(1L, "x"), Row(2L, "w"), Row(4L, "z"), Row(5L, "y")))
  }

  /** Spark jobs the calling thread runs inside `body`. */
  private def jobsOf(body: => Unit): Long = graft.tools.QueryProfile.measure(spark)(body).jobs

  test("job counts: one emptiness check and one sort per keyed write") {
    // a parquet read, unlike spark.range, is not range-partitioned already,
    // so a second shuffle on the key would show
    val dir = java.nio.file.Files.createTempDirectory("keyed_write_jobs").toString
    (1 to 20000).map(i => (i.toLong, s"n$i", i % 97 * 1.0)).toDF("k", "s", "v")
      .repartition(3).write.mode("overwrite").parquet(dir)
    val src = spark.read.parquet(dir)
    HostedStore.dropByTitle("jobs_keyed")
    HostedStore.dropByTitle("jobs_unkeyed")
    var id = ""
    val keyedSave = jobsOf {
      id = HostedTables.save(src, "jobs_keyed", Some("k")).fold(e => fail(e), _._1)
    }
    val keyedWrite = jobsOf {
      HostedTables.write(src, id, WriteMode.Upsert, Some("k")).fold(e => fail(e), identity)
    }
    val unkeyedSave = jobsOf {
      HostedTables.save(src, "jobs_unkeyed").fold(e => fail(e), identity)
    }
    assert(keyedSave <= 4, s"keyed save ran $keyedSave jobs")
    assert(keyedWrite <= 4, s"keyed write ran $keyedWrite jobs")
    assert(unkeyedSave <= 2, s"unkeyed save ran $unkeyedSave jobs")
    assert(HostedTables.read(spark, id).count() == 20000)
  }
}
