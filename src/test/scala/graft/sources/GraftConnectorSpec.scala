package graft.sources

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.api.HostedTables
import graft.core.WriteMode
import graft.sinks.HostedStore

class GraftConnectorSpec extends AnyFunSuite {
  lazy val spark = graft.SparkTestBase.spark
  import spark.implicits._

  def fresh(name: String, df: DataFrame, key: Option[String] = None): String = {
    HostedStore.dropByTitle(name)
    val id = HostedTables.createTable(df, name, key).fold(e => fail(e), identity)
    HostedTables.write(df, id, WriteMode.Append).fold(e => fail(e), identity)
    id
  }

  def base: DataFrame =
    (1 to 100).map(i => (i.toLong, s"name$i", i * 1.5)).toDF("k", "name", "v")

  test("create + append + read round-trip") {
    val id = fresh("rt table", base)
    val back = HostedTables.read(spark, id)
    assert(back.count() == 100)
    assert(back.schema.fieldNames.toSeq == Seq("k", "name", "v"))
    assert(back.orderBy("k").as[(Long, String, Double)].collect().toSeq ==
      base.orderBy("k").as[(Long, String, Double)].collect().toSeq)
  }

  test("read is paged: one input partition per service page") {
    val id = fresh("paged table", base)
    val scan = spark.read.format("graft")
      .option("itemId", id).option("pageSize", 30).load()
    assert(scan.rdd.getNumPartitions == 4) // ceil(100/30)
    assert(scan.count() == 100)
  }

  test("filter and column pushdown reach the service scan") {
    val id = fresh("pushdown table", base)
    val q = HostedTables.read(spark, id).filter($"k" > 90L).select("k", "name")
    val plan = q.queryExecution.executedPlan.toString
    assert(plan.contains("pushedFilters=[IsNotNull(k), GreaterThan(k,90)]") ||
           plan.contains("GreaterThan(k,90)"), plan)
    assert(plan.contains("outFields=[k,name]"), plan)
    assert(q.count() == 10)
  }

  test("count(*) pushes down to a single service count call") {
    val id = fresh("countpush table", base)
    val q = HostedTables.read(spark, id).filter($"k" > 50L)
      .groupBy().count()
    q.collect() // finalize AQE
    val p = q.queryExecution.executedPlan.toString
    assert(p.contains("pushedAggregate=[COUNT(*)]"), p)
    assert(p.contains("GreaterThan(k,50)"), p) // filter still service-side
    assert(q.as[Long].head() == 50L)
    // plain .count() action takes the same path
    assert(HostedTables.read(spark, id).count() == 100L)
  }

  test("min/max push down as service statistics calls") {
    val id = fresh("statspush table", base)
    val q = HostedTables.read(spark, id).filter($"k" <= 90L)
      .agg(min($"v"), max($"v"), count(lit(1)))
    q.collect()
    val p = q.queryExecution.executedPlan.toString
    assert(p.contains("pushedAggregate=[MIN(v), MAX(v), COUNT(*)]"), p)
    val row = q.as[(Double, Double, Long)].head()
    assert(row == ((1.5, 135.0, 90L))) // v = k * 1.5, k in 1..90
  }

  test("grouped count/min/max push down as one grouped statistics call") {
    HostedStore.dropByTitle("groupstats table")
    val df = (1 to 100).map(i => (i.toLong, if (i % 2 == 0) "even" else "odd", i * 1.5))
      .toDF("k", "parity", "v")
    val id = fresh2("groupstats table", df)
    val q = HostedTables.read(spark, id)
      .groupBy("parity").agg(count(lit(1)).as("n"), max($"v").as("mx"))
      .orderBy("parity")
    q.collect()
    val p = q.queryExecution.executedPlan.toString
    assert(p.contains("pushedAggregate=[COUNT(*), MAX(v)] groupBy=[parity]"), p)
    assert(q.as[(String, Long, Double)].collect().toSeq ==
      Seq(("even", 50L, 150.0), ("odd", 50L, 148.5)))
  }

  test("pushed min/max compare longs exactly beyond 2^53") {
    HostedStore.dropByTitle("bigkeys_table")
    val big = 9007199254740992L // 2^53; +1 is indistinguishable in double
    val df = Seq((big, "a"), (big + 1, "b")).toDF("k", "name")
    val id = fresh2("bigkeys_table", df)
    val got = HostedTables.read(spark, id).agg(max($"k")).as[Long].head()
    assert(got == big + 1)
  }

  test("SQL CREATE TABLE normalizes the title like every other path") {
    spark.conf.set("spark.sql.catalog.graft", "graft.sources.GraftCatalog")
    HostedStore.dropByTitle("my_sql_table_")
    spark.sql("CREATE TABLE graft.hosted.`My SQL Table!` (k BIGINT, v DOUBLE)")
    // reachable under the normalized title from the high-level API...
    assert(HostedStore.resolveByTitle("my_sql_table_").isDefined)
    // ...and still addressable by the original SQL name
    assert(spark.sql("SELECT * FROM graft.hosted.`My SQL Table!`").count() == 0)
    spark.sql("DROP TABLE graft.hosted.`My SQL Table!`")
    assert(HostedStore.resolveByTitle("my_sql_table_").isEmpty)
  }

  test("SHOW TABLES rejects unknown namespaces") {
    spark.conf.set("spark.sql.catalog.graft", "graft.sources.GraftCatalog")
    intercept[Exception] {
      spark.sql("SHOW TABLES IN graft.nonexistent").collect()
    }
  }

  test("hosted scans report statistics so small tables broadcast") {
    val id = fresh("stats table", base)
    val orders = graft.api.Tables.load(spark, "/root/testdata/sf0.001", "orders")
    val joined = orders.join(HostedTables.read(spark, id),
      orders("o_orderkey") === $"k")
    joined.collect()
    val p = joined.queryExecution.executedPlan.toString
    assert(p.contains("BroadcastHashJoin"), p) // 100-row hosted side broadcast
  }

  def fresh2(name: String, df: org.apache.spark.sql.DataFrame): String = {
    HostedStore.dropByTitle(name.replace(" ", "_"))
    val id = HostedTables.createTable(df, name, None).fold(e => fail(e), identity)
    HostedTables.write(df, id, WriteMode.Append).fold(e => fail(e), identity)
    id
  }

  test("limit pushdown caps planned pages") {
    val id = fresh("limit table", base)
    val q = HostedTables.read(spark, id).limit(5)
    assert(q.count() == 5)
  }

  test("overwrite truncates once then appends") {
    val id = fresh("ow table", base)
    val repl = Seq((999L, "only", 1.0)).toDF("k", "name", "v")
    HostedTables.write(repl, id, WriteMode.Overwrite).fold(e => fail(e), identity)
    val back = HostedTables.read(spark, id)
    assert(back.count() == 1)
    assert(back.as[(Long, String, Double)].head() == ((999L, "only", 1.0)))
  }

  test("upsert updates matches and inserts new keys") {
    val id = fresh("ups table", base, Some("k"))
    val src = Seq((1L, "UPDATED", -1.0), (1000L, "NEW", 0.0)).toDF("k", "name", "v")
    val report = HostedTables.write(src, id, WriteMode.Upsert, Some("k"))
      .fold(e => fail(e), identity)
    val back = HostedTables.read(spark, id)
    assert(back.count() == 101)
    assert(back.filter($"k" === 1L).as[(Long, String, Double)].head() ==
      ((1L, "UPDATED", -1.0)))
    assert(back.filter($"k" === 1000L).count() == 1)
    assert(report.map(_.rows).sum == 2)
  }

  test("update never inserts; insert never updates") {
    val id = fresh("updins table", base, Some("k"))
    val src = Seq((2L, "UPD", -2.0), (2000L, "NEW", 0.0)).toDF("k", "name", "v")
    HostedTables.write(src, id, WriteMode.Update, Some("k")).fold(e => fail(e), identity)
    assert(HostedTables.read(spark, id).count() == 100) // no insert
    assert(HostedTables.read(spark, id).filter($"k" === 2L)
      .as[(Long, String, Double)].head() == ((2L, "UPD", -2.0)))

    val src2 = Seq((2L, "SHOULD_NOT_APPLY", 0.0), (2000L, "NEW", 0.0)).toDF("k", "name", "v")
    HostedTables.write(src2, id, WriteMode.Insert, Some("k")).fold(e => fail(e), identity)
    val back = HostedTables.read(spark, id)
    assert(back.count() == 101)
    assert(back.filter($"k" === 2L).as[(Long, String, Double)].head() ==
      ((2L, "UPD", -2.0))) // untouched by insert mode
  }

  test("duplicate keys within one raw batch collapse instead of corrupting") {
    val id = fresh("dupbatch table", base, Some("k"))
    // Raw connector write (no API-level dedup): two NEW rows, same key.
    val dup = Seq((5000L, "first", 1.0), (5000L, "second", 2.0)).toDF("k", "name", "v")
    dup.coalesce(1).write.format("graft").mode("append")
      .option("itemId", id).option("writeMode", "upsert").option("key", "k").save()
    val got = HostedTables.read(spark, id).filter($"k" === 5000L)
    assert(got.count() == 1) // unique index holds
    assert(got.as[(Long, String, Double)].head()._2 == "second") // last wins

    val dup2 = Seq((6000L, "a", 1.0), (6000L, "b", 2.0)).toDF("k", "name", "v")
    dup2.coalesce(1).write.format("graft").mode("append")
      .option("itemId", id).option("writeMode", "insert").option("key", "k").save()
    val got2 = HostedTables.read(spark, id).filter($"k" === 6000L)
    assert(got2.count() == 1)
    assert(got2.as[(Long, String, Double)].head()._2 == "a") // insert keeps first
  }

  test("audit key ranges compare numerically, not lexicographically") {
    graft.sinks.HostedStore.dropByTitle("audit_range_tbl")
    val df = spark.range(95, 105).select($"id".as("k"), lit("x").as("v"))
    val id = HostedTables.createTable(df, "audit_range_tbl", Some("k"))
      .fold(e => fail(e), identity)
    val report = HostedTables.write(df.coalesce(1), id, graft.core.WriteMode.Upsert, Some("k"))
      .fold(e => fail(e), identity)
    val m = report.find(_.rows > 0).get
    assert(m.minKey == "95", m.toString) // lexicographic would say "100"
    assert(m.maxKey == "104", m.toString)
  }

  test("merge modes require a key and a unique index") {
    val id = fresh("nokey table", base)
    assert(HostedTables.write(base, id, WriteMode.Upsert, None).isLeft)
  }

  test("empty input rejected like the reference") {
    val id = fresh("empty table", base)
    assert(HostedTables.write(base.filter(lit(false)), id, WriteMode.Append).isLeft)
  }

  test("SQL catalog: hosted tables addressable by title") {
    val id = fresh("cat_table", base)
    spark.conf.set("spark.sql.catalog.graft", "graft.sources.GraftCatalog")
    val got = spark.sql("SELECT k, v FROM graft.hosted.cat_table WHERE k > 95 ORDER BY k")
    assert(got.count() == 5)
    val p = got.queryExecution.executedPlan.toString
    assert(p.contains("GreaterThan(k,95)"), p) // pushdown through the catalog path
    assert(spark.sql("SHOW TABLES IN graft.hosted").collect()
      .map(_.getString(1)).contains("cat_table"))
    assert(HostedStore.resolveByTitle("cat_table").contains(id))
  }

  test("SQL INSERT INTO writes through the catalog") {
    fresh("cat_ins_table", base)
    spark.conf.set("spark.sql.catalog.graft", "graft.sources.GraftCatalog")
    spark.sql("INSERT INTO graft.hosted.cat_ins_table VALUES (777, 'sqlrow', 7.7)")
    val got = spark.sql(
      "SELECT k, name, v FROM graft.hosted.cat_ins_table WHERE k = 777")
    assert(got.as[(Long, String, Double)].head() == ((777L, "sqlrow", 7.7)))
    assert(spark.sql("SELECT count(*) FROM graft.hosted.cat_ins_table")
      .as[Long].head() == 101L)
  }

  test("save: resolve-or-create is idempotent, chunked, audited") {
    HostedStore.dropByTitle("orch_table_")
    val df = (1 to 500).map(i => (i.toLong, s"n$i")).toDF("k", "name")
    val (id1, report1) = HostedTables.save(df, "Orch Table!", Some("k"), chunkSize = 100)
      .fold(e => fail(e), identity)
    assert(HostedStore.get(id1).title == "orch_table_")
    assert(report1.map(_.rows).sum == 500)
    // Audit: per-partition disjoint ordered key ranges.
    val ranges = report1.filter(_.rows > 0).sortBy(_.minKey)
    ranges.sliding(2).foreach {
      case Seq(a, b) => assert(a.maxKey <= b.minKey)
      case _         =>
    }
    // Re-save reuses the table (idempotent resolve) and upserts.
    val (id2, _) = HostedTables.save(df, "Orch Table!", Some("k"))
      .fold(e => fail(e), identity)
    assert(id2 == id1)
    assert(HostedTables.read(spark, id1).count() == 500)
  }

  /** A four-point layer (one outside the box on each axis) plus one
    * null-geometry row — the envelope-query fixture.
    */
  private def bboxLayer(title: String): String = {
    HostedStore.dropByTitle(title)
    val pts = graft.api.Geometry.withPointGeometry(
      Seq((1L, 1.0, 2.0), (2L, 5.0, 6.0), (3L, 9.0, 10.0), (4L, 5.5, 100.0))
        .toDF("id", "px", "py"), "px", "py").drop("px", "py")
    val withNull = pts.union(
      Seq(5L).toDF("id")
        .withColumn("geometry", lit(null).cast(graft.api.Geometry.pointType)))
    val id = HostedStore.createLayer(title, withNull.schema)
    HostedTables.write(withNull, id, WriteMode.Append).fold(e => fail(e), identity)
    id
  }

  test("bounding-box filter on geometry pushes down as an envelope query") {
    val back = HostedTables.read(spark, bboxLayer("bbox layer"))
    val q = back.filter(graft.api.Geometry.inEnvelope(back, 2.0, 2.0, 8.0, 50.0))
    val plan = q.queryExecution.executedPlan.toString
    // The nested-path comparisons reach the service scan — only in-box
    // features page back, instead of a full layer scan filtered in Spark.
    assert(plan.contains("GreaterThanOrEqual(geometry.x,2.0)"), plan)
    assert(plan.contains("LessThanOrEqual(geometry.y,50.0)"), plan)
    assert(q.select("id").as[Long].collect().toSeq == Seq(2L))
    // Null geometry propagates null through the path and never matches —
    // envelope semantics, and SQL's null field access.
    assert(back.filter(graft.api.Geometry.x(back).isNull)
      .select("id").as[Long].collect().toSeq == Seq(5L))
  }

  test("nested-pruned geometry select decodes correctly") {
    val back = HostedTables.read(spark, bboxLayer("bbox prune layer"))
    // Catalyst prunes the struct to geometry{x}; the service pages whole
    // attribute objects, so the scan must re-expand to the full stored
    // struct (a pruned readSchema over full rows misdecodes).
    val q = back.select($"id", graft.api.Geometry.x(back).as("gx"))
      .filter($"id" <= 2L).orderBy("id")
    val plan = q.queryExecution.executedPlan.toString
    assert(plan.contains("outFields=[id,geometry]"), plan)
    assert(q.as[(Long, Option[Double])].collect().toSeq ==
      Seq((1L, Some(1.0)), (2L, Some(5.0))))
  }

  test("pushed Not over a null nested field follows SQL three-valued logic") {
    val back = HostedTables.read(spark, bboxLayer("bbox 3vl layer"))
    // NOT(x >= 2): rows with null geometry evaluate to UNKNOWN, not TRUE.
    // Spark removes fully-pushed filters from its plan, so the service
    // must drop the null-geometry row itself (id=5 and the null-x row
    // must NOT page back).
    val q = back.filter(!(graft.api.Geometry.x(back) >= 2.0))
    assert(q.select("id").as[Long].collect().toSeq == Seq(1L))
    // Same through Or: (NOT(x >= 2) OR x > 1000) over null x is UNKNOWN
    val q2 = back.filter(!(graft.api.Geometry.x(back) >= 2.0) ||
      graft.api.Geometry.x(back) > 1000.0)
    assert(q2.select("id").as[Long].collect().toSeq == Seq(1L))
  }

  test("whole-struct comparison stays in the Spark plan, not the service") {
    val back = HostedTables.read(spark, bboxLayer("bbox struct filter layer"))
    val q = back.filter(col("geometry") === struct(lit(5.0).as("x"), lit(6.0).as("y")))
    val plan = q.queryExecution.executedPlan.toString
    // the struct equality must NOT appear among pushed service filters —
    // FilterEval cannot compare Row values and would crash the scan
    assert(!plan.contains("pushedFilters=[EqualTo(geometry"), plan)
    assert(q.select("id").as[Long].collect().toSeq == Seq(2L))
  }

  test("pushed-reference paths parse dot and backtick grammar") {
    import graft.sinks.FilterEval.{parsePath, resolvable}
    assert(parsePath("plain") == Seq("plain"))
    assert(parsePath("geometry.x") == Seq("geometry", "x"))
    assert(parsePath("`a.b`.c") == Seq("a.b", "c"))
    assert(parsePath("`a``b`") == Seq("a`b"))
    val schema = org.apache.spark.sql.types.StructType(Seq(
      org.apache.spark.sql.types.StructField("geometry",
        graft.api.Geometry.pointType)))
    assert(resolvable("geometry.x", schema))
    assert(!resolvable("geometry.z", schema))
    assert(!resolvable("geometry.x.deeper", schema))
    assert(!resolvable("missing", schema))
  }
}
