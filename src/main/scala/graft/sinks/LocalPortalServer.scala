package graft.sinks

import java.net.InetSocketAddress
import java.nio.charset.StandardCharsets

import scala.jdk.CollectionConverters._

import com.fasterxml.jackson.databind.JsonNode
import com.sun.net.httpserver.{HttpExchange, HttpServer}
import org.apache.spark.sql.types.{DataType, StructType}

import graft.core.WriteMode

/** In-process HTTP double of the hosted portal: serves the protocol
  * [[RestHostedService]] speaks, backed by [[HostedStore]]. Lets the whole
  * engine — connector, write modes, catalog, high-level API — run against
  * a *real* HTTP boundary with zero egress: JDK `HttpServer` on
  * `127.0.0.1`, token-checked, JSON in/out.
  *
  * This is a test/dev double, not a hardened server: single JSON body per
  * request, no streaming, fixed thread pool. The point is protocol
  * fidelity (the client's encoding, pagination, filter pushdown, batch
  * modes and error paths all cross a genuine wire), not throughput.
  */
final class LocalPortalServer(token: String, port: Int = 0) {

  // Without TCP_NODELAY each kept-alive exchange stalls ~44 ms (Nagle vs
  // delayed ACK); the JDK reads this once, at its first server's creation.
  System.setProperty("sun.net.httpserver.nodelay", "true")
  private val server = HttpServer.create(new InetSocketAddress("127.0.0.1", port), 0)
  // Daemon threads AND an explicit shutdown: a lingering non-daemon pool
  // would keep the JVM alive after main exits even once the server socket
  // is closed.
  private val pool = java.util.concurrent.Executors.newFixedThreadPool(8,
    (r: Runnable) => {
      val t = new Thread(r, "portal-double")
      t.setDaemon(true)
      t
    })
  server.setExecutor(pool)

  def url: String = s"http://127.0.0.1:${server.getAddress.getPort}"

  def start(): LocalPortalServer = { server.start(); this }
  def stop(): Unit = { server.stop(0); pool.shutdownNow(); () }

  /** Routes: see [[RestHostedService]] for the client side of each.
    * Failures map to the HTTP contract the client expects — 401 bad
    * token, 404 unknown item, 400 bad request (e.g. merge mode without a
    * visible unique index), 500 simulated/unexpected server faults.
    */
  server.createContext("/", (ex: HttpExchange) => handle(ex))

  /** When > 0, the next N data-plane calls (query/append) fail with 500 —
    * for retry-path and task-failure injection tests.
    */
  @volatile var failNextDataCalls: Int = 0

  private def handle(ex: HttpExchange): Unit = {
    try {
      val resp: (Int, JsonNode) =
        if (ex.getRequestHeaders.getFirst("X-Portal-Token") != token)
          401 -> err("invalid token")
        else route(ex)
      val bytes = PortalJson.write(resp._2).getBytes(StandardCharsets.UTF_8)
      ex.getResponseHeaders.set("Content-Type", "application/json")
      ex.sendResponseHeaders(resp._1, bytes.length.toLong)
      ex.getResponseBody.write(bytes)
    } catch {
      case e: Throwable =>
        // A contract violation (no unique index, a repeated unique value,
        // an unknown field) never heals: 400, which the client does not
        // retry. Anything else is a 500.
        val code = if (e.isInstanceOf[IllegalArgumentException]) 400 else 500
        val bytes = PortalJson.write(err(String.valueOf(e.getMessage)))
          .getBytes(StandardCharsets.UTF_8)
        ex.sendResponseHeaders(code, bytes.length.toLong)
        ex.getResponseBody.write(bytes)
    } finally ex.close()
  }

  private def err(msg: String): JsonNode = {
    val n = PortalJson.obj(); n.put("error", msg); n
  }

  private def ok(): JsonNode = PortalJson.obj()

  private def body(ex: HttpExchange): JsonNode =
    PortalJson.parse(new String(ex.getRequestBody.readAllBytes(), StandardCharsets.UTF_8))

  private def route(ex: HttpExchange): (Int, JsonNode) = {
    val method = ex.getRequestMethod
    val path = ex.getRequestURI.getPath
    val query = Option(ex.getRequestURI.getQuery).getOrElse("")
    val parts = path.split("/").filter(_.nonEmpty).toList

    def withItem(id: String)(f: HostedStore.TableState => (Int, JsonNode)): (Int, JsonNode) =
      if (!HostedStore.exists(id)) 404 -> err(s"no hosted table '$id'")
      else f(HostedStore.get(id))

    def dataPlaneGate(): Option[(Int, JsonNode)] = this.synchronized {
      if (failNextDataCalls > 0) {
        failNextDataCalls -= 1
        Some(500 -> err("injected portal fault"))
      } else None
    }

    (method, parts) match {
      case ("GET", "search" :: Nil) =>
        val title = query.split("&").collectFirst {
          case kv if kv.startsWith("title=") =>
            java.net.URLDecoder.decode(kv.stripPrefix("title="), "UTF-8")
        }.getOrElse("")
        HostedStore.resolveByTitle(title) match {
          case Some(id) => val n = PortalJson.obj(); n.put("id", id); 200 -> n
          case None     => 404 -> err(s"no item titled '$title'")
        }

      case ("POST", "items" :: Nil) =>
        val b = body(ex)
        val schema = DataType.fromJson(b.get("schema").asText()).asInstanceOf[StructType]
        val props = PortalJson.decodeStringMap(b.get("properties"))
        val id = HostedStore.create(b.get("title").asText(), schema, props)
        val n = PortalJson.obj(); n.put("id", id); 201 -> n

      case ("GET", "items" :: Nil) =>
        val n = PortalJson.obj()
        val a = PortalJson.arr(); HostedStore.titles.foreach(a.add)
        n.set[JsonNode]("titles", a); 200 -> n

      case ("GET", "items" :: id :: Nil) => withItem(id) { t =>
        val n = PortalJson.obj(); n.put("id", id).put("title", t.title)
        n.put("schema", t.schema.json); 200 -> n
      }

      case ("DELETE", "items" :: id :: Nil) =>
        val existed = HostedStore.exists(id)
        HostedStore.drop(id)
        val n = PortalJson.obj(); n.put("existed", existed); 200 -> n

      case ("POST", "items" :: id :: "truncate" :: Nil) => withItem(id) { _ =>
        HostedStore.truncate(id); 200 -> ok()
      }

      case ("POST", "items" :: id :: "indexes" :: Nil) => withItem(id) { _ =>
        val name = HostedStore.addUniqueIndex(id, body(ex).get("field").asText())
        val n = PortalJson.obj(); n.put("name", name); 200 -> n
      }

      case ("GET", "items" :: id :: "indexes" :: field :: Nil) => withItem(id) { _ =>
        val n = PortalJson.obj()
        n.put("visible", HostedStore.fieldHasUniqueIndex(id, field)); 200 -> n
      }

      case ("POST", "items" :: id :: "properties" :: Nil) => withItem(id) { _ =>
        HostedStore.setProperties(id, PortalJson.decodeStringMap(body(ex))); 200 -> ok()
      }

      case ("GET", "items" :: id :: "properties" :: Nil) => withItem(id) { t =>
        200 -> PortalJson.encodeStringMap(t.properties)
      }

      case ("POST", "items" :: id :: "count" :: Nil) => withItem(id) { _ =>
        val filters = PortalJson.decodeFilters(body(ex).get("filters"))
        val n = PortalJson.obj()
        n.put("count", HostedStore.queryCount(id, filters)); 200 -> n
      }

      case ("POST", "items" :: id :: "query" :: Nil) =>
        dataPlaneGate().getOrElse(withItem(id) { _ =>
          val b = body(ex)
          val cols = b.get("cols").elements().asScala.map(_.asText()).toArray
          val rows = HostedStore.queryPage(id, b.get("offset").asLong(),
            b.get("count").asLong(), cols, PortalJson.decodeFilters(b.get("filters")))
          val n = PortalJson.obj()
          val a = PortalJson.arr(); rows.foreach(r => a.add(PortalJson.encodeRow(r)))
          n.set[JsonNode]("rows", a); 200 -> n
        })

      case ("POST", "items" :: id :: "append" :: Nil) =>
        dataPlaneGate().getOrElse(withItem(id) { _ =>
          val b = body(ex)
          val mode = WriteMode.parse(b.get("mode").asText())
            .fold(e => throw new IllegalArgumentException(e), identity)
          val key = Option(b.get("key")).map(_.asText())
          val batchId = Option(b.get("batchId")).map(_.asText())
          val rows = b.get("rows").elements().asScala.map(PortalJson.decodeRow).toSeq
          val affected = HostedStore.appendBatch(id, rows, mode, key, batchId)
          val n = PortalJson.obj(); n.put("affected", affected); 200 -> n
        })

      case ("POST", "items" :: id :: "deleteByKey" :: Nil) =>
        dataPlaneGate().getOrElse(withItem(id) { _ =>
          val b = body(ex)
          val keys = b.get("keys").elements().asScala
            .map(PortalJson.decodeValue).toSeq
          val batchId = Option(b.get("batchId")).map(_.asText())
          val affected = HostedStore.deleteByKey(id,
            b.get("keyField").asText(), keys, batchId)
          val n = PortalJson.obj(); n.put("affected", affected); 200 -> n
        })

      case ("POST", "items" :: id :: "stage" :: Nil) =>
        dataPlaneGate().getOrElse(withItem(id) { _ =>
          val b = body(ex)
          val rows = b.get("rows").elements().asScala.map(PortalJson.decodeRow).toSeq
          HostedStore.stageBatch(id, b.get("partKey").asText(),
            b.get("attemptId").asLong(), b.get("chunkId").asInt(), rows)
          200 -> ok()
        })

      case ("POST", "items" :: id :: "commitStaged" :: Nil) =>
        dataPlaneGate().getOrElse(withItem(id) { _ =>
          val b = body(ex)
          val mode = WriteMode.parse(b.get("mode").asText())
            .fold(e => throw new IllegalArgumentException(e), identity)
          val key = Option(b.get("key")).map(_.asText())
          val affected = HostedStore.commitStaged(id, b.get("partKey").asText(),
            b.get("attemptId").asLong(), mode, key)
          val n = PortalJson.obj(); n.put("affected", affected); 200 -> n
        })

      case ("POST", "items" :: id :: "discardStaged" :: Nil) => withItem(id) { _ =>
        val b = body(ex)
        HostedStore.discardStaged(id, b.get("partKey").asText(),
          b.get("attemptId").asLong())
        200 -> ok()
      }

      case ("POST", "items" :: id :: "stats" :: Nil) => withItem(id) { _ =>
        val b = body(ex)
        val v = HostedStore.queryMinMax(id, PortalJson.decodeFilters(b.get("filters")),
          b.get("field").asText(), b.get("op").asText() == "min")
        val n = PortalJson.obj(); n.set[JsonNode]("value", PortalJson.encodeValue(v)); 200 -> n
      }

      case ("POST", "items" :: id :: "groupedStats" :: Nil) => withItem(id) { _ =>
        val b = body(ex)
        val groupFields = b.get("groupFields").elements().asScala.map(_.asText()).toSeq
        val specs = b.get("specs").elements().asScala.map { s =>
          (s.get("op").asText(), Option(s.get("field")).map(_.asText()))
        }.toSeq
        val rows = HostedStore.queryGroupedStats(id,
          PortalJson.decodeFilters(b.get("filters")), groupFields, specs)
        val n = PortalJson.obj()
        val a = PortalJson.arr(); rows.foreach(r => a.add(PortalJson.encodeRow(r)))
        n.set[JsonNode]("rows", a); 200 -> n
      }

      case _ => 404 -> err(s"no route $method $path")
    }
  }
}
