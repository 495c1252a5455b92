package graft.sinks

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.api.{HostedTables, Tables}
import graft.core.{RetryPolicy, WriteMode}

/** The engine against a REAL HTTP boundary: [[LocalPortalServer]] (JDK
  * HttpServer on 127.0.0.1, backed by HostedStore) serves the portal
  * protocol; [[RestHostedService]] is swapped in as the active sink, so
  * the DSv2 connector's read/write tasks each issue genuine HTTP calls —
  * the deployment shape of the reference (every chunk an HTTP append,
  * every page an HTTP query), here with Spark's task parallelism.
  */
class RestSinkSpec extends AnyFunSuite {
  lazy val spark = graft.SparkTestBase.spark

  private def withRestSink[A](f: (LocalPortalServer, RestHostedService) => A): A = {
    val server = new LocalPortalServer("spec-token").start()
    val client = new RestHostedService(server.url, "spec-token",
      RetryPolicy(maxAttempts = 4, maxBackoffSec = 0.05, seed = Some(7)))
    val prev = HostedSinks.active
    HostedSinks.active = client
    try f(server, client)
    finally {
      HostedSinks.active = prev
      server.stop()
    }
  }

  test("full create/write/read cycle over HTTP, timestamps and doubles intact") {
    withRestSink { (_, _) =>
      val orders = Tables.load(spark, "/root/testdata/sf0.001", "orders")
      HostedStore.dropByTitle("rest_orders")
      val id = HostedTables.createTable(orders, "rest_orders", Some("o_orderkey"),
          properties = Map("tags" -> "rest"))
        .fold(e => fail(e), identity)
      HostedTables.write(orders, id, WriteMode.Append).fold(e => fail(e), identity)
      val back = HostedTables.read(spark, id)
      assert(back.schema == orders.schema)
      assert(back.orderBy("o_orderkey").collect().toSeq ==
        orders.orderBy("o_orderkey").collect().toSeq)
      // properties round-tripped over the wire
      assert(HostedSinks.active.propertiesOf(id)("tags") == "rest")
      assert(HostedSinks.active.propertiesOf(id)("title") == "rest_orders")
    }
  }

  test("filter/column pushdown crosses the wire (server-side where/outFields)") {
    withRestSink { (_, _) =>
      val orders = Tables.load(spark, "/root/testdata/sf0.001", "orders")
      HostedStore.dropByTitle("rest_push")
      val (id, _) = HostedTables.save(orders, "rest_push", Some("o_orderkey"))
        .fold(e => fail(e), identity)
      val got = HostedTables.read(spark, id)
        .filter(col("o_totalprice") > 200000.0)
        .select("o_orderkey", "o_totalprice")
      val want = orders.filter(col("o_totalprice") > 200000.0)
        .select("o_orderkey", "o_totalprice")
      assert(got.orderBy("o_orderkey").collect().toSeq ==
        want.orderBy("o_orderkey").collect().toSeq)
    }
  }

  test("upsert and update modes apply correctly through the HTTP append") {
    withRestSink { (_, _) =>
      val orders = Tables.load(spark, "/root/testdata/sf0.001", "orders").limit(500)
      HostedStore.dropByTitle("rest_merge")
      val (id, _) = HostedTables.save(orders, "rest_merge", Some("o_orderkey"))
        .fold(e => fail(e), identity)
      val bumped = orders.limit(50).withColumn("o_totalprice", lit(1.0))
      HostedTables.write(bumped, id, WriteMode.Upsert, Some("o_orderkey"))
        .fold(e => fail(e), identity)
      val back = HostedTables.read(spark, id)
      assert(back.count() == 500)
      assert(back.filter(col("o_totalprice") === 1.0).count() == 50)
    }
  }

  test("deleteByKey crosses the wire; absent keys count zero (idempotent)") {
    withRestSink { (_, _) =>
      val docs = Tables.load(spark, "/root/testdata/sf0.001", "documents")
        .limit(100)
      HostedStore.dropByTitle("rest_delete")
      val (id, _) = HostedTables.save(docs, "rest_delete", Some("doc_id"))
        .fold(e => fail(e), identity)
      val n = HostedTables.deleteRows(id, "doc_id", Seq(0L, 1L, 2L, 999999L))
        .fold(e => fail(e), identity)
      assert(n == 3)
      assert(HostedTables.read(spark, id).count() == 97)
      // replayed delete: every key already absent → 0 affected
      assert(HostedTables.deleteRows(id, "doc_id", Seq(0L, 1L, 2L))
        .fold(e => fail(e), identity) == 0L)
      // the wrapper's loud-empty contract matches write's
      assert(HostedTables.deleteRows(id, "doc_id", Seq.empty).isLeft)
    }
  }

  test("transient 500s are retried; 4xx contract violations are not") {
    withRestSink { (server, client) =>
      val orders = Tables.load(spark, "/root/testdata/sf0.001", "orders").limit(20)
      HostedStore.dropByTitle("rest_retry")
      val (id, _) = HostedTables.save(orders, "rest_retry", Some("o_orderkey"))
        .fold(e => fail(e), identity)
      // two injected faults < 4 attempts: the count query heals under retry
      server.failNextDataCalls = 2
      assert(client.queryCount(id, Array.empty) == 20)
      // append without a unique index on the key field is a 400: surfaces
      // immediately as IllegalArgumentException (not retried into a 500)
      val noIdx = HostedStore.create("rest_retry_noidx", orders.schema)
      val rows = orders.collect().toSeq
      assertThrows[IllegalArgumentException] {
        client.appendBatch(noIdx, rows, WriteMode.Upsert, Some("o_orderkey"))
      }
      // so are an append that repeats a unique key and a unique index
      // over repeated values
      assertThrows[IllegalArgumentException] {
        client.appendBatch(id, rows, WriteMode.Append, None)
      }
      client.appendBatch(noIdx, rows ++ rows, WriteMode.Append, None)
      assertThrows[IllegalArgumentException] {
        client.addUniqueIndex(noIdx, "o_orderkey")
      }
      // bad token is rejected
      val badClient = new RestHostedService(server.url, "wrong-token",
        RetryPolicy(maxAttempts = 2, maxBackoffSec = 0.01, seed = Some(1)))
      assertThrows[IllegalArgumentException] { badClient.titles }
    }
  }

  test("wire codec round-trips non-finite floats instead of zeroing them") {
    def rt(v: Any): Any =
      PortalJson.decodeValue(PortalJson.parse(PortalJson.write(PortalJson.encodeValue(v))))
    assert(rt(Double.NaN).asInstanceOf[Double].isNaN)
    assert(rt(Double.PositiveInfinity) == Double.PositiveInfinity)
    assert(rt(Float.NegativeInfinity) == Float.NegativeInfinity)
    assert(rt(Float.NaN).asInstanceOf[Float].isNaN)
    assert(rt(1.5d) == 1.5d && rt(2.5f) == 2.5f)
  }

  test("embeddings (float arrays) survive the wire codec") {
    withRestSink { (_, _) =>
      val emb = Tables.load(spark, "/root/testdata/sf0.001", "embeddings").limit(100)
      HostedStore.dropByTitle("rest_emb")
      val (id, _) = HostedTables.save(emb, "rest_emb", Some("vec_id"))
        .fold(e => fail(e), identity)
      val back = HostedTables.read(spark, id)
      assert(back.schema == emb.schema)
      assert(back.orderBy("vec_id").collect().toSeq ==
        emb.orderBy("vec_id").collect().toSeq)
    }
  }
}
