package graft.sinks

import org.apache.spark.sql.Row
import org.apache.spark.sql.sources.Filter
import org.apache.spark.sql.types.StructType

import graft.core.WriteMode

/** The six service verbs the reference issues against the remote portal
  * (SURVEY §7.2) — the seam between the engine and any hosted-table
  * backend:
  *
  *  - `resolveByTitle`  ≙ `gis.content.search(title:…)` (`/root/reference/src/agol_pandas.py:592-596`)
  *  - `create`          ≙ `content.add` + `item.publish` (`src/agol_pandas.py:519-523`)
  *  - `truncate`        ≙ `manager.truncate()` (`src/agol_pandas.py:395-396`)
  *  - `addUniqueIndex`/`fieldHasUniqueIndex` ≙ `add_to_definition(indexes)`
  *    + the visibility probe; the client-side poll budget lives in
  *    [[graft.core.IndexPoll]] (`src/agol_pandas.py:286-307`)
  *  - `queryPage`/`queryCount` ≙ `table.query(resultOffset, resultRecordCount,
  *    where, outFields, returnCountOnly)` (`src/agol_pandas.py:246`, paged
  *    where the reference is serial)
  *  - `appendBatch`     ≙ `table.append(upsert, skip_inserts, skip_updates,
  *    upsert_matching_field, rollback=True)` (`src/agol_pandas.py:445-455`)
  *
  * [[HostedStore]] is the in-process implementation (tests, local engine);
  * [[RestHostedService]] is the skeleton of the HTTP implementation. The
  * DSv2 connector only ever talks through this seam, so swapping backends
  * never touches the Spark plumbing.
  */
trait HostedTableSink {
  def resolveByTitle(title: String): Option[String]
  def create(title: String, schema: StructType,
             properties: Map[String, String] = Map.empty): String
  def truncate(itemId: String): Unit
  /** Register a unique index (async on a real service — returns the index
    * name immediately; poll [[fieldHasUniqueIndex]] for visibility via
    * [[graft.core.IndexPoll.ensureUniqueIndex]]).
    */
  def addUniqueIndex(itemId: String, field: String): String
  /** One visibility probe for a unique index on `field`. */
  def fieldHasUniqueIndex(itemId: String, field: String): Boolean
  /** Merge portal item metadata (the reference's `item_properties`). */
  def setProperties(itemId: String, props: Map[String, String]): Unit
  def propertiesOf(itemId: String): Map[String, String]
  def queryCount(itemId: String, filters: Array[Filter]): Long
  def queryPage(itemId: String, offset: Long, count: Long,
                requiredCols: Array[String], filters: Array[Filter]): Iterator[Row]
  /** Apply one batch atomically (the reference's `rollback=True` per
    * chunk). `batchId`, when given, makes application *idempotent*: a
    * batch the service has already applied is skipped.
    */
  def appendBatch(itemId: String, batch: Seq[Row], mode: WriteMode,
                  key: Option[String], batchId: Option[String] = None): Long

  /** Delete rows by key (the service's `delete_features` — row-level
    * takedown and the D-leg of a CDC apply). Requires a unique index on
    * `keyField`; missing keys no-op; `batchId` dedupes replays like
    * [[appendBatch]].
    */
  def deleteByKey(itemId: String, keyField: String, keys: Seq[Any],
                  batchId: Option[String] = None): Long

  /** Stage one chunk of a task attempt's rows without applying them.
    * `partKey` names the logical write partition (stable across retries);
    * `attemptId` distinguishes attempts; `chunkId` is the chunk's ordinal
    * WITHIN the attempt — staging is a PUT keyed by it, so a transport
    * retry of a lost-ack stage call overwrites rather than duplicates
    * (within one attempt the chunk contents for an ordinal are the same
    * buffer re-posted). Staged rows are invisible until [[commitStaged]]
    * — the service-side shadow table that makes Spark's at-least-once
    * task attempts exactly-once, regardless of how a retry re-chunks its
    * rows (shuffle fetch order is not deterministic across attempts, so
    * cross-attempt ordinal dedup alone cannot be correct).
    */
  def stageBatch(itemId: String, partKey: String, attemptId: Long,
                 chunkId: Int, batch: Seq[Row]): Unit

  /** Atomically publish one attempt's staged rows with the given mode —
    * at most once per `partKey`: if another attempt already committed this
    * partition (e.g. the first attempt's ack was lost, or a speculative
    * twin won), this is a no-op. Staging for the partition (every
    * attempt's) is discarded only once the partition is durably published
    * — a commit that FAILS leaves its staging intact so a transport retry
    * of the commit still has the rows. Returns rows affected (0 on the
    * no-op path).
    */
  def commitStaged(itemId: String, partKey: String, attemptId: Long,
                   mode: WriteMode, key: Option[String]): Long

  /** Drop an attempt's staged rows (task abort). */
  def discardStaged(itemId: String, partKey: String, attemptId: Long): Unit
  // service-side statistics (≙ the remote `outStatistics` query)
  def queryMinMax(itemId: String, filters: Array[Filter], field: String,
                  isMin: Boolean): Any
  def queryGroupedStats(itemId: String, filters: Array[Filter],
                        groupFields: Seq[String],
                        specs: Seq[(String, Option[String])]): Seq[Row]
  // item metadata (≙ portal item/service description endpoints)
  def exists(itemId: String): Boolean
  def schemaOf(itemId: String): StructType
  def titles: Seq[String]
  def drop(itemId: String): Boolean
}

/** The backend the connector, catalog, and high-level API talk to.
  * Defaults to the in-process store; a live deployment swaps in
  * [[RestHostedService]] here and nothing else changes. (JVM-global:
  * in local mode driver and executors share it; a cluster deployment
  * would construct the service from connector options inside tasks.)
  */
object HostedSinks {
  @volatile var active: HostedTableSink = HostedStore
}

/** Serializable pointer to a portal service. Connector options
  * (`portal_url` + `token`) carry it into tasks; each EXECUTOR JVM then
  * constructs — and caches — its own [[RestHostedService]] from it. This
  * is what makes the connector multi-process-correct: on a real cluster
  * (or `local-cluster` in the fault drill) executors are separate JVMs
  * where the [[HostedSinks.active]] global would silently point at an
  * executor-local in-memory store. The service itself is never shipped
  * (it is not serializable by design) — only this two-string ref is.
  */
case class ServiceRef(url: String, token: String)

/** Per-JVM resolution of the sink a task should talk to: an explicit
  * [[ServiceRef]] wins (cached one client per (url, token) per JVM — the
  * HttpClient pools connections across that JVM's tasks); absent one,
  * the process-global [[HostedSinks.active]] (local mode and tests).
  */
object SinkResolver {
  private val cache =
    new java.util.concurrent.ConcurrentHashMap[ServiceRef, HostedTableSink]()
  def resolve(ref: Option[ServiceRef]): HostedTableSink = ref match {
    case None    => HostedSinks.active
    case Some(r) =>
      cache.computeIfAbsent(r, rr => new RestHostedService(rr.url, rr.token))
  }
}
