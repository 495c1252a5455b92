package graft.sources

import java.util

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.catalyst.analysis.{NoSuchTableException, TableAlreadyExistsException}
import org.apache.spark.sql.connector.catalog._
import org.apache.spark.sql.connector.expressions.Transform
import org.apache.spark.sql.types.StructType
import org.apache.spark.sql.util.CaseInsensitiveStringMap

import graft.sinks.HostedSinks

/** DSv2 catalog plugin: hosted tables addressable from SQL by title.
  *
  * ```
  * spark.conf.set("spark.sql.catalog.graft", "graft.sources.GraftCatalog")
  * spark.sql("SELECT * FROM graft.hosted.my_table WHERE k > 10")
  * spark.sql("SHOW TABLES IN graft.hosted")
  * ```
  *
  * The single namespace `hosted` mirrors the flat portal content space the
  * reference searches by title (`/root/reference/src/agol_pandas.py:592-596`).
  * Table identity resolves title → itemId, so SQL names survive table
  * re-creation. Reads/writes route through the same [[GraftTable]] as
  * `format("graft")` — pushdown, paged scans, and audited writes included.
  */
class GraftCatalog extends TableCatalog {

  private var catalogName: String = "graft"
  private val ns = Array("hosted")

  override def initialize(name: String, options: CaseInsensitiveStringMap): Unit =
    catalogName = name

  override def name(): String = catalogName

  /** Title (raw or normalized) or raw itemId → itemId. One resolution
    * rule shared by load/exists/drop so the three can never disagree.
    */
  private def resolveOpt(ident: Identifier): Option[String] = {
    val name = ident.name()
    val sink = HostedSinks.active
    sink.resolveByTitle(name)
      .orElse(graft.core.ServiceName.normalize(name).toOption
        .flatMap(sink.resolveByTitle))
      .orElse(if (sink.exists(name)) Some(name) else None)
  }

  private def resolve(ident: Identifier): String =
    resolveOpt(ident).getOrElse(throw new NoSuchTableException(ident))

  private def checkNamespace(namespace: Array[String]): Unit =
    if (!(namespace.isEmpty || namespace.sameElements(ns)))
      throw new org.apache.spark.sql.catalyst.analysis.NoSuchNamespaceException(
        namespace)

  override def listTables(namespace: Array[String]): Array[Identifier] = {
    checkNamespace(namespace)
    HostedSinks.active.titles.map(t => Identifier.of(ns, t)).toArray
  }

  override def loadTable(ident: Identifier): Table = {
    val id = resolve(ident)
    val opts = new util.HashMap[String, String]()
    opts.put("itemId", id)
    new GraftTable(id, HostedSinks.active.schemaOf(id), new CaseInsensitiveStringMap(opts))
  }

  override def tableExists(ident: Identifier): Boolean =
    resolveOpt(ident).isDefined

  override def createTable(ident: Identifier, schema: StructType,
                           partitions: Array[Transform],
                           properties: util.Map[String, String]): Table = {
    if (tableExists(ident)) throw new TableAlreadyExistsException(ident)
    // Same title normalization as every other creation path, so
    // SQL-created tables stay reachable from HostedTables.save/resolve.
    val title = graft.core.ServiceName.normalize(ident.name())
      .fold(e => throw new IllegalArgumentException(e), identity)
    // SQL TBLPROPERTIES flow through as portal item properties; `key`
    // additionally provisions the unique index (with the poll budget).
    val props = properties.asScala.toMap.collect {
      case (k, v) if k != "key" => k -> v
    }
    graft.api.HostedTables.create(schema, title, Option(properties.get("key")), props)
      .fold(e => throw new IllegalStateException(e), identity)
    loadTable(ident)
  }

  override def alterTable(ident: Identifier, changes: TableChange*): Table =
    throw new UnsupportedOperationException(
      "hosted tables take schema from the written DataFrame (SURVEY §1)")

  override def dropTable(ident: Identifier): Boolean =
    resolveOpt(ident).exists(HostedSinks.active.drop)

  override def renameTable(oldIdent: Identifier, newIdent: Identifier): Unit =
    throw new UnsupportedOperationException("rename is not part of the service surface")
}
