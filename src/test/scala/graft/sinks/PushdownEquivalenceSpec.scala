package graft.sinks

import java.sql.Timestamp

import scala.util.Random

import org.apache.spark.sql.{Column, Row}
import org.apache.spark.sql.functions.{col, count, lit, max, min}
import org.apache.spark.sql.sources
import org.apache.spark.sql.types._
import org.scalatest.funsuite.AnyFunSuite

import graft.api.HostedTables
import graft.core.WriteMode

/** The service's `where` evaluation ([[FilterEval]]) against Spark's own:
  * seeded random filters over a fixture with nulls in every column must
  * select the same rows whether the scan pushes them to the service or
  * Spark evaluates them over a local DataFrame, and the service-side
  * statistics (`queryMinMax`, `queryGroupedStats`) under the same filters
  * must equal Spark's aggregates. This pins SQL three-valued logic, `IN`
  * with a null, nested `geometry.x` paths and exact long ordering past
  * 2^53.
  */
class PushdownEquivalenceSpec extends AnyFunSuite {
  import PushdownEquivalenceSpec.Case

  private lazy val spark = graft.SparkTestBase.spark

  private val schema = StructType(Seq(
    StructField("l", LongType),
    StructField("d", DoubleType),
    StructField("s", StringType),
    StructField("ts", TimestampType),
    StructField("b", BooleanType),
    StructField("geometry", graft.api.Geometry.pointType)))

  private val longs = Seq(-3L, 0L, 1L, 2L, 7L, 1L << 53, (1L << 53) + 1)
  private val doubles = Seq(-1.5, 0.0, 0.25, 2.0, 7.5, 1e9)
  private val strings = Seq("", "a", "ab", "abc", "b", "ba", "zz", "a.b")
  private val stamps = Seq(0L, 86400000L, 1700000000000L, 1700000000123L)
    .map(new Timestamp(_))
  private val bools = Seq(false, true)

  /** A value of the domain, or null one time in five. */
  private def orNull[T](rnd: Random, dom: Seq[T]): Any =
    if (rnd.nextInt(5) == 0) null else dom(rnd.nextInt(dom.size))

  private def fixture(rnd: Random): Seq[Row] = Seq.fill(60) {
    val geom =
      if (rnd.nextInt(5) == 0) null
      else Row(orNull(rnd, doubles), orNull(rnd, doubles))
    Row(orNull(rnd, longs), orNull(rnd, doubles), orNull(rnd, strings),
      orNull(rnd, stamps), orNull(rnd, bools), geom)
  }

  private val attrs: Seq[(String, Seq[Any])] = Seq(
    "l" -> longs, "d" -> doubles, "s" -> strings, "ts" -> stamps,
    "b" -> bools, "geometry.x" -> doubles, "geometry.y" -> doubles)

  private def leaf(rnd: Random): Case = {
    val (a, dom) = attrs(rnd.nextInt(attrs.size))
    val c = col(a)
    def const(): Any = dom(rnd.nextInt(dom.size))
    rnd.nextInt(12) match {
      case 0 => val v = const(); Case(c === lit(v), sources.EqualTo(a, v))
      case 1 => val v = const(); Case(c < lit(v), sources.LessThan(a, v))
      case 2 => val v = const(); Case(c <= lit(v), sources.LessThanOrEqual(a, v))
      case 3 => val v = const(); Case(c > lit(v), sources.GreaterThan(a, v))
      case 4 => val v = const(); Case(c >= lit(v), sources.GreaterThanOrEqual(a, v))
      case 5 | 6 =>
        val vs = Seq.fill(1 + rnd.nextInt(4))(const()) ++
          (if (rnd.nextBoolean()) Seq(null) else Nil)
        val shuffled = rnd.shuffle(vs)
        Case(c.isin(shuffled: _*), sources.In(a, shuffled.toArray))
      case 7 => Case(c.isNull, sources.IsNull(a))
      case 8 => Case(c.isNotNull, sources.IsNotNull(a))
      case k =>
        val p = Seq("", "a", "b", "ab", ".")(rnd.nextInt(5))
        k match {
          case 9  => Case(col("s").startsWith(p), sources.StringStartsWith("s", p))
          case 10 => Case(col("s").endsWith(p), sources.StringEndsWith("s", p))
          case _  => Case(col("s").contains(p), sources.StringContains("s", p))
        }
    }
  }

  private def gen(rnd: Random, depth: Int): Case =
    if (depth == 0 || rnd.nextInt(3) == 0) leaf(rnd)
    else rnd.nextInt(3) match {
      case 0 =>
        val (x, y) = (gen(rnd, depth - 1), gen(rnd, depth - 1))
        Case(x.column && y.column, sources.And(x.filter, y.filter))
      case 1 =>
        val (x, y) = (gen(rnd, depth - 1), gen(rnd, depth - 1))
        Case(x.column || y.column, sources.Or(x.filter, y.filter))
      case _ =>
        val x = gen(rnd, depth - 1)
        Case(!x.column, sources.Not(x.filter))
    }

  private def sorted(rows: Seq[Row]): Seq[String] = rows.map(_.toString).sorted

  test("pushed filters and service statistics agree with Spark over 240 seeded cases") {
    val rnd = new Random(20261020L)
    val rows = fixture(rnd)
    // every column, the nested ones included, holds nulls
    schema.fieldNames.indices.foreach(i => assert(rows.exists(_.isNullAt(i))))
    assert(rows.exists(r => !r.isNullAt(5) && r.getStruct(5).isNullAt(0)))

    HostedStore.dropByTitle("pushdown equivalence")
    val id = HostedStore.create("pushdown equivalence", schema)
    HostedStore.appendBatch(id, rows, WriteMode.Append, None)
    val local = spark.createDataFrame(spark.sparkContext.parallelize(rows, 2), schema)
      .cache()
    val hosted = HostedTables.read(spark, id)

    val stats = Seq("l", "d", "s", "ts", "b")
    var pushedAny = 0
    (1 to 240).foreach { n =>
      val c = gen(rnd, 3)
      val clue = s"case $n: ${c.filter}"

      val q = hosted.filter(c.column)
      val plan = q.queryExecution.executedPlan.toString
      if (plan.contains("pushedFilters=[") && !plan.contains("pushedFilters=[]")) pushedAny += 1
      assert(sorted(q.collect().toSeq) == sorted(local.filter(c.column).collect().toSeq), clue)

      val want = local.filter(c.column)
        .agg(min("l"), max("l"), min("d"), max("d"), min("s"), max("s"),
          min("ts"), max("ts"), min("b"), max("b"))
        .head()
      stats.zipWithIndex.foreach { case (f, i) =>
        assert(HostedStore.queryMinMax(id, Array(c.filter), f, isMin = true) ==
          want.get(2 * i), s"$clue min($f)")
        assert(HostedStore.queryMinMax(id, Array(c.filter), f, isMin = false) ==
          want.get(2 * i + 1), s"$clue max($f)")
      }

      val grouped = HostedStore.queryGroupedStats(id, Array(c.filter), Seq("b"),
        Seq(("count", None), ("min", Some("l")), ("max", Some("d")),
          ("min", Some("s")), ("max", Some("ts"))))
      val wantGrouped = local.filter(c.column).groupBy("b")
        .agg(count(lit(1)), min("l"), max("d"), min("s"), max("ts"))
        .collect().toSeq
      assert(sorted(grouped) == sorted(wantGrouped), clue)
    }
    // the comparison is only worth something if the scans really pushed
    assert(pushedAny > 200, s"only $pushedAny of 240 scans pushed a filter")
  }
}

object PushdownEquivalenceSpec {

  /** One generated predicate, as a Spark column and as the source filter
    * the service evaluates.
    */
  private final case class Case(column: Column, filter: sources.Filter)
}
