package graft.sources

import java.util

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.Row
import org.apache.spark.sql.catalyst.CatalystTypeConverters
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.RowOrdering
import org.apache.spark.sql.connector.catalog._
import org.apache.spark.sql.connector.distributions.{Distribution, Distributions}
import org.apache.spark.sql.connector.expressions.{Expressions, SortDirection, SortOrder, Transform}
import org.apache.spark.sql.connector.read._
import org.apache.spark.sql.connector.write._
import org.apache.spark.sql.connector.write.{streaming => wstream}
import org.apache.spark.sql.sources.{DataSourceRegister, Filter}
import org.apache.spark.sql.types.StructType
import org.apache.spark.sql.util.CaseInsensitiveStringMap

import graft.core.WriteMode
import graft.sinks.{FilterEval, HostedSinks, ServiceRef, SinkResolver}

/** DataSource V2 connector for hosted tables: `format("graft")`.
  *
  * Read path — the reference's whole-table serial read
  * (`/root/reference/src/agol_pandas.py:218-251`, `return_all_records=True`)
  * re-architected for a cluster:
  *   - `planInputPartitions` emits one partition per service *page*
  *     (`resultOffset`/`resultRecordCount`), so N executors fetch N pages
  *     concurrently instead of one driver call streaming everything.
  *   - Column pruning (`SupportsPushDownRequiredColumns` → `outFields`),
  *     predicate pushdown (`SupportsPushDownFilters` → `where`), and limit
  *     pushdown (`SupportsPushDownLimit` → `resultRecordCount`) all reach
  *     the service, which the remote query API supports even though the
  *     reference never used it.
  *
  * Write path — the reference's chunk loop (`src/agol_pandas.py:314-475`)
  * as a distributed job: each `DataWriter` batches its partition's rows and
  * posts them (`chunkSize` rows per call, default 100000 =
  * `src/agol_pandas.py:315-316`), returning a `WriterCommitMessage` with the
  * audit fields of the reference's chunk dicts (`:459-461`). Truncate-for-
  * overwrite happens exactly once, driver-side (`SupportsTruncate`,
  * mirroring the server-side truncate at `:395-396`). When a key is set,
  * the write declares `RequiresDistributionAndOrdering`: one range shuffle
  * and one sort replace the reference's sort-then-slice (`:193-208`), and
  * fix the order repeated keys reach the service in (see [[GraftWrite]]).
  *
  * Options: `itemId` (read/write existing), `pageSize` (read, default
  * 10000), `writeMode` (append|upsert|update|insert), `key`, `chunkSize`,
  * `portal_url` + `token` (cluster deployments: every task constructs its
  * own [[graft.sinks.RestHostedService]] from these — without them the
  * connector talks to the process-global sink, which is only correct in
  * single-JVM `local` mode).
  */
class GraftDataSource extends TableProvider with DataSourceRegister {
  override def shortName(): String = "graft"

  private def itemId(options: CaseInsensitiveStringMap): String = {
    val id = options.get("itemId")
    require(id != null, "option 'itemId' is required")
    id
  }

  override def inferSchema(options: CaseInsensitiveStringMap): StructType =
    SinkResolver.resolve(GraftDataSource.svcOf(options)).schemaOf(itemId(options))

  override def getTable(
      schema: StructType,
      partitioning: Array[Transform],
      properties: util.Map[String, String]): Table = {
    val opts = new CaseInsensitiveStringMap(properties)
    new GraftTable(itemId(opts), schema, opts)
  }
}

object GraftDataSource {
  /** The explicit service pointer, if the options carry one. */
  private[sources] def svcOf(o: CaseInsensitiveStringMap): Option[ServiceRef] =
    Option(o.get("portal_url"))
      .map(u => ServiceRef(u, Option(o.get("token")).getOrElse("")))
}

class GraftTable(itemId: String, schema: StructType, options: CaseInsensitiveStringMap)
    extends Table with SupportsRead with SupportsWrite {
  override def name(): String = s"graft:$itemId"
  override def schema(): StructType = schema
  override def capabilities(): util.Set[TableCapability] =
    Set(TableCapability.BATCH_READ, TableCapability.BATCH_WRITE,
        TableCapability.MICRO_BATCH_READ, TableCapability.STREAMING_WRITE,
        TableCapability.TRUNCATE).asJava

  override def newScanBuilder(o: CaseInsensitiveStringMap): ScanBuilder =
    new GraftScanBuilder(itemId, schema,
      math.max(1, Option(o.get("pageSize")).map(_.toLong).getOrElse(10000L)),
      GraftDataSource.svcOf(o).orElse(GraftDataSource.svcOf(options)))

  override def newWriteBuilder(info: LogicalWriteInfo): WriteBuilder =
    new GraftWriteBuilder(itemId, info,
      GraftDataSource.svcOf(info.options).orElse(GraftDataSource.svcOf(options)))
}

// ---------------------------------------------------------------- read path

class GraftScanBuilder(itemId: String, fullSchema: StructType, pageSize: Long,
                       svc: Option[ServiceRef] = None)
    extends ScanBuilder
    with SupportsPushDownFilters
    with SupportsPushDownRequiredColumns
    with SupportsPushDownLimit
    with SupportsPushDownAggregates {

  private var pushed: Array[Filter] = Array.empty
  private var required: StructType = fullSchema
  private var limit: Option[Long] = None
  private var pushedStats: Option[(Seq[String], Seq[StatSpec])] = None

  /** Ungrouped COUNT(*)/MIN/MAX map directly to the remote
    * `returnCountOnly` / `outStatistics` queries — the whole aggregation
    * collapses to one service call per statistic, zero rows transferred.
    * Anything else stays in the Spark plan.
    */
  private def statSpecs(
      agg: org.apache.spark.sql.connector.expressions.aggregate.Aggregation)
      : Option[(Seq[String], Seq[StatSpec])] = {
    import org.apache.spark.sql.connector.expressions.NamedReference
    import org.apache.spark.sql.connector.expressions.aggregate._
    def fieldOf(e: org.apache.spark.sql.connector.expressions.Expression): Option[String] =
      e match {
        case nr: NamedReference if nr.fieldNames().length == 1 =>
          Some(nr.fieldNames()(0))
        case _ => None
      }
    // MIN/MAX only on types the service's statistics ordering supports —
    // anything else (arrays, structs, …) stays in the Spark plan, where
    // the generic ordering is exact.
    def comparableField(f: String): Boolean = fullSchema(f).dataType match {
      case _: org.apache.spark.sql.types.NumericType => true
      case org.apache.spark.sql.types.StringType => true
      case org.apache.spark.sql.types.TimestampType |
          org.apache.spark.sql.types.TimestampNTZType |
          org.apache.spark.sql.types.DateType => true
      case org.apache.spark.sql.types.BooleanType => true
      case _ => false
    }
    val groups = agg.groupByExpressions.toSeq.map(fieldOf)
    val specs = agg.aggregateExpressions.toSeq.map {
      case _: CountStar => Some(StatSpec("count", None))
      case m: Min =>
        fieldOf(m.column).filter(comparableField).map(f => StatSpec("min", Some(f)))
      case m: Max =>
        fieldOf(m.column).filter(comparableField).map(f => StatSpec("max", Some(f)))
      case _ => None
    }
    if (groups.forall(_.isDefined) && specs.forall(_.isDefined))
      Some((groups.flatten, specs.flatten))
    else None
  }

  override def supportCompletePushDown(
      agg: org.apache.spark.sql.connector.expressions.aggregate.Aggregation): Boolean =
    statSpecs(agg).isDefined

  override def pushAggregation(
      agg: org.apache.spark.sql.connector.expressions.aggregate.Aggregation): Boolean =
    statSpecs(agg) match {
      case some @ Some(_) => pushedStats = some; true
      case None           => false
    }

  override def pushFilters(filters: Array[Filter]): Array[Filter] = {
    // A filter is only pushed when the service can evaluate its shape
    // AND every reference resolves to a COMPARABLE leaf — including
    // nested struct paths (`geometry.x`), which is how a bounding box on
    // the point-geometry convention becomes a service-side envelope
    // query instead of a full layer scan. A whole-struct reference
    // (`geometry = Row(…)`) resolves but cannot be compared service-side;
    // it stays in the Spark plan instead of crashing reader tasks.
    val (supported, rejected) = filters.partition(f =>
      FilterEval.supports(f) &&
        f.references.forall(FilterEval.pushableLeaf(_, fullSchema)))
    pushed = supported
    rejected // stay in the Spark plan
  }
  override def pushedFilters(): Array[Filter] = pushed

  override def pruneColumns(requiredSchema: StructType): Unit =
    // Empty projection (e.g. count(*)) still needs row cardinality; keep
    // one narrow column as the service requires at least one outField.
    // Pruning is top-level only: the service pages whole attribute
    // objects, so a nested-pruned struct (geometry with only `x`
    // requested) re-expands to its full stored type here and Spark's own
    // project does the narrowing — a pruned readSchema over full struct
    // rows would misdecode.
    required =
      if (requiredSchema.isEmpty) StructType(fullSchema.fields.take(1))
      else StructType(requiredSchema.fields.map(f => fullSchema(f.name)))

  override def pushLimit(n: Int): Boolean = { limit = Some(n.toLong); true }

  override def build(): Scan = pushedStats match {
    case Some((groups, specs)) =>
      new GraftStatsScan(itemId, fullSchema, pushed, groups, specs, svc)
    case None => new GraftScan(itemId, required, pushed, limit, pageSize, svc)
  }
}

/** One pushed statistic: op ∈ {count, min, max}, field for min/max. */
case class StatSpec(op: String, field: Option[String])

/** Fully-pushed COUNT(*)/MIN/MAX, optionally grouped: one service
  * statistics call (the remote `outStatistics` [+
  * `groupByFieldsForStatistics`]), one row per group, no data pages.
  * Output schema = group columns then stat columns, the contract for
  * complete aggregate pushdown.
  */
class GraftStatsScan(itemId: String, tableSchema: StructType,
                     filters: Array[Filter], groupFields: Seq[String],
                     specs: Seq[StatSpec], svc: Option[ServiceRef] = None)
    extends Scan with Batch {
  override def readSchema(): StructType =
    StructType(
      groupFields.map(f =>
        org.apache.spark.sql.types.StructField(f, tableSchema(f).dataType,
          tableSchema(f).nullable)) ++
      specs.zipWithIndex.map {
        case (StatSpec("count", _), i) =>
          org.apache.spark.sql.types.StructField(s"stat_$i",
            org.apache.spark.sql.types.LongType, nullable = false)
        case (StatSpec(_, Some(f)), i) =>
          org.apache.spark.sql.types.StructField(s"stat_$i",
            tableSchema(f).dataType, nullable = true)
        case (s, _) => throw new IllegalStateException(s.toString)
      })
  override def toBatch: Batch = this
  override def description(): String = {
    val shown = specs.map {
      case StatSpec("count", _)    => "COUNT(*)"
      case StatSpec(op, Some(f))   => s"${op.toUpperCase}($f)"
      case s                       => s.toString
    }
    val grp = if (groupFields.isEmpty) "" else s" groupBy=[${groupFields.mkString(",")}]"
    s"graft:$itemId pushedAggregate=[${shown.mkString(", ")}]$grp " +
      s"pushedFilters=[${filters.mkString(", ")}]"
  }
  override def planInputPartitions(): Array[InputPartition] =
    Array(GraftStatsPartition(itemId, filters, groupFields, specs))
  override def createReaderFactory(): PartitionReaderFactory =
    GraftStatsReaderFactory(readSchema(), svc)
}

case class GraftStatsPartition(itemId: String, filters: Array[Filter],
                               groupFields: Seq[String], specs: Seq[StatSpec])
    extends InputPartition

case class GraftStatsReaderFactory(schema: StructType,
                                   svc: Option[ServiceRef] = None)
    extends PartitionReaderFactory {
  override def createReader(p: InputPartition): PartitionReader[InternalRow] = {
    val sp = p.asInstanceOf[GraftStatsPartition]
    new PartitionReader[InternalRow] {
      private val toCatalyst = CatalystTypeConverters.createToCatalystConverter(schema)
      private val it: Iterator[Row] = {
        val sink = SinkResolver.resolve(svc)
        if (sp.groupFields.isEmpty) {
          val values = sp.specs.map {
            case StatSpec("count", _) => sink.queryCount(sp.itemId, sp.filters)
            case StatSpec("min", Some(f)) =>
              sink.queryMinMax(sp.itemId, sp.filters, f, isMin = true)
            case StatSpec("max", Some(f)) =>
              sink.queryMinMax(sp.itemId, sp.filters, f, isMin = false)
            case s => throw new IllegalStateException(s.toString)
          }
          Iterator.single(Row.fromSeq(values))
        } else {
          sink.queryGroupedStats(sp.itemId, sp.filters, sp.groupFields,
            sp.specs.map(s => (s.op, s.field))).iterator
        }
      }
      private var current: InternalRow = _
      override def next(): Boolean =
        if (it.hasNext) { current = toCatalyst(it.next()).asInstanceOf[InternalRow]; true }
        else false
      override def get(): InternalRow = current
      override def close(): Unit = ()
    }
  }
}

class GraftScan(itemId: String, schema: StructType, filters: Array[Filter],
                limit: Option[Long], pageSize: Long,
                svc: Option[ServiceRef] = None)
    extends Scan with Batch with SupportsReportStatistics {
  override def readSchema(): StructType = schema
  override def toBatch: Batch = this
  override def description(): String =
    s"graft:$itemId pushedFilters=[${filters.mkString(", ")}] " +
      s"outFields=[${schema.fieldNames.mkString(",")}] limit=$limit"

  // One service count call per scan, shared by statistics estimation and
  // partition planning (each extra call is a remote round-trip in the
  // REST deployment).
  private lazy val matchingRows: Long = {
    val matching = SinkResolver.resolve(svc).queryCount(itemId, filters)
    limit.fold(matching)(math.min(matching, _))
  }

  /** Streaming (micro-batch) read: tail rows appended to the hosted table.
    *
    * Offsets are filtered-row-set positions (the service's stable paging
    * order), so each micro-batch is exactly the pages between the last
    * offset and the current count — the streaming-ingest counterpart of
    * the batch read, sharing the same paged `PartitionReader`. Append-only
    * by design: upserts that rewrite earlier positions are not re-emitted
    * (document as CDC-lite; a full CDC source would need service-side
    * row versioning).
    */
  override def toMicroBatchStream(checkpointLocation: String)
      : org.apache.spark.sql.connector.read.streaming.MicroBatchStream =
    new GraftMicroBatchStream(itemId, schema, filters, pageSize, svc)

  /** Post-pushdown row/size estimates so Catalyst can pick broadcast
    * joins for small hosted tables (reuses the scan's single count call).
    */
  override def estimateStatistics(): Statistics = new Statistics {
    override def sizeInBytes(): java.util.OptionalLong =
      java.util.OptionalLong.of(matchingRows * math.max(schema.defaultSize, 1))
    override def numRows(): java.util.OptionalLong =
      java.util.OptionalLong.of(matchingRows)
  }

  override def planInputPartitions(): Array[InputPartition] = {
    // Driver-side count (the remote `returnCountOnly`) to plan offset pages.
    val total = matchingRows
    if (total == 0) Array.empty
    else (0L until total by pageSize).map { off =>
      GraftInputPartition(itemId, off, math.min(pageSize, total - off))
        .asInstanceOf[InputPartition]
    }.toArray
  }

  override def createReaderFactory(): PartitionReaderFactory =
    GraftReaderFactory(schema.fieldNames, filters, schema, svc)
}

case class GraftInputPartition(itemId: String, offset: Long, count: Long)
    extends InputPartition

/** Row-position offset in the (filtered) service ordering. */
case class GraftOffset(position: Long)
    extends org.apache.spark.sql.connector.read.streaming.Offset {
  override def json(): String = s"""{"position":$position}"""
}

class GraftMicroBatchStream(itemId: String, schema: StructType,
                            filters: Array[Filter], pageSize: Long,
                            svc: Option[ServiceRef] = None)
    extends org.apache.spark.sql.connector.read.streaming.MicroBatchStream {
  import org.apache.spark.sql.connector.read.streaming.Offset

  override def initialOffset(): Offset = GraftOffset(0L)
  override def latestOffset(): Offset =
    GraftOffset(SinkResolver.resolve(svc).queryCount(itemId, filters))
  override def deserializeOffset(json: String): Offset = {
    val p = json.replaceAll("[^0-9]", "")
    GraftOffset(if (p.isEmpty) 0L else p.toLong)
  }
  override def planInputPartitions(start: Offset, end: Offset): Array[InputPartition] = {
    val from = start.asInstanceOf[GraftOffset].position
    val to = end.asInstanceOf[GraftOffset].position
    // Offset regression means the table shrank under the stream
    // (truncate/overwrite) — silently emitting nothing would drop the
    // rewritten rows forever. Fail loudly like other offset-based sources.
    if (to < from)
      throw new IllegalStateException(
        s"graft stream offset regressed from $from to $to: table '$itemId' was " +
          "truncated or overwritten while streamed; restart the stream from a " +
          "fresh checkpoint")
    if (to == from) Array.empty
    else (from until to by pageSize).map { off =>
      GraftInputPartition(itemId, off, math.min(pageSize, to - off))
        .asInstanceOf[InputPartition]
    }.toArray
  }
  override def createReaderFactory(): PartitionReaderFactory =
    GraftReaderFactory(schema.fieldNames, filters, schema, svc)
  override def commit(end: Offset): Unit = ()
  override def stop(): Unit = ()
}

case class GraftReaderFactory(cols: Array[String], filters: Array[Filter],
                              schema: StructType,
                              svc: Option[ServiceRef] = None)
    extends PartitionReaderFactory {
  override def createReader(p: InputPartition): PartitionReader[InternalRow] = {
    val gp = p.asInstanceOf[GraftInputPartition]
    new PartitionReader[InternalRow] {
      // Each task fetches its own page — with `portal_url` set this IS
      // the task's own HTTP query with resultOffset/resultRecordCount,
      // constructed executor-side from the serializable ref.
      private val it = SinkResolver.resolve(svc)
        .queryPage(gp.itemId, gp.offset, gp.count, cols, filters)
      private val toCatalyst = CatalystTypeConverters.createToCatalystConverter(schema)
      private var current: InternalRow = _
      override def next(): Boolean =
        if (it.hasNext) { current = toCatalyst(it.next()).asInstanceOf[InternalRow]; true }
        else false
      override def get(): InternalRow = current
      override def close(): Unit = ()
    }
  }
}

// --------------------------------------------------------------- write path

/** Batch and streaming writes. Mixing in the (internal but stable)
  * `SupportsStreamingUpdateAsAppend` marker — via the bridge trait, the
  * standard extension-library pattern — lets `writeStream.outputMode
  * ("update")` target this sink: each micro-batch's changed rows arrive
  * as appends, which the key-addressed upsert mode applies in place.
  * That is exactly how a hosted-table sink should consume an updating
  * aggregation (no complete-mode re-emit of the whole result table).
  */
class GraftWriteBuilder(itemId: String, info: LogicalWriteInfo,
                        svc: Option[ServiceRef] = None)
    extends WriteBuilder with SupportsTruncate
    with org.apache.spark.sql.GraftStreamingUpdateAsAppend {
  private var truncateFirst = false

  override def truncate(): WriteBuilder = { truncateFirst = true; this }

  override def build(): Write = {
    val o = info.options
    val mode = Option(o.get("writeMode"))
      .map(m => WriteMode.parse(m).fold(e => throw new IllegalArgumentException(e), identity))
      .getOrElse(if (truncateFirst) WriteMode.Overwrite else WriteMode.Append)
    val key = Option(o.get("key"))
    WriteMode.validate(mode, key).left.foreach(e => throw new IllegalArgumentException(e))
    val chunkSize = Option(o.get("chunkSize")).map(_.toInt).getOrElse(100000)
    new GraftWrite(itemId, info.schema(), mode, key, chunkSize, truncateFirst,
      info.queryId(), svc)
  }
}

class GraftWrite(itemId: String, schema: StructType, mode: WriteMode,
                 key: Option[String], chunkSize: Int, truncateFirst: Boolean,
                 queryId: String, svc: Option[ServiceRef] = None)
    extends Write with RequiresDistributionAndOrdering {

  // With a key, ask Catalyst for a range distribution on the key: each
  // writer covers a disjoint key range — the distributed equivalent of the
  // reference's sort-before-chunk (src/agol_pandas.py:193-208). Rows are
  // sorted by the key, then every other orderable column (not maps), so a
  // repeated key's rows reach the service in an order fixed by the rows:
  // it keeps the last (greatest) for upsert/update, the first for insert.
  override def requiredDistribution(): Distribution = key match {
    case Some(k) => Distributions.ordered(Array(orderBy(k)))
    case None    => Distributions.unspecified()
  }
  override def requiredOrdering(): Array[SortOrder] = key.toArray.flatMap(k =>
    (k +: schema.fields.collect {
      case f if f.name != k && RowOrdering.isOrderable(f.dataType) => f.name
    }).map(orderBy))
  // backtick-quoted: a column named "a.b" is one column, not a struct path
  private def orderBy(c: String): SortOrder =
    Expressions.sort(Expressions.column("`" + c.replace("`", "``") + "`"),
      SortDirection.ASCENDING)

  private def ensureIndex(): Unit = key.foreach { k =>
    if (!graft.core.IndexPoll.ensureUniqueIndex(SinkResolver.resolve(svc), itemId, k))
      throw new IllegalStateException(s"unique index on '$k' never became visible on '$itemId'")
  }

  override def toBatch: BatchWrite = new BatchWrite {
    override def createBatchWriterFactory(i: PhysicalWriteInfo): DataWriterFactory = {
      // Driver-side, exactly-once setup: truncate for overwrite
      // (src/agol_pandas.py:395-396) and index-ensure for merge modes
      // (src/agol_pandas.py:410-412).
      if (truncateFirst || mode == WriteMode.Overwrite)
        SinkResolver.resolve(svc).truncate(itemId)
      ensureIndex()
      // One write id per job, minted driver-side: batch ids derived from
      // it are stable across task retries, so replayed flushes dedup
      // service-side (exactly-once on at-least-once attempts).
      GraftWriterFactory(itemId, schema, mode, key, chunkSize,
        java.util.UUID.randomUUID().toString, svc)
    }
    override def commit(messages: Array[WriterCommitMessage]): Unit =
      GraftWriteReports.record(messages.toSeq.map(_.asInstanceOf[GraftCommitMessage]))
    override def abort(messages: Array[WriterCommitMessage]): Unit = ()
  }

  /** Streaming micro-batch writes. Exactly-once comes from the same
    * service-side batch-id dedup as the batch path: the write id embeds
    * the STREAMING QUERY id (stable across restarts from the same
    * checkpoint) and the epoch id, so a replayed epoch — after a task
    * failure, driver crash, or restart — re-posts identical batch ids and
    * the service drops the replays. No truncate in streaming: `update`
    * output + a merge key is the scalable contract (each micro-batch
    * upserts only the changed groups).
    */
  override def toStreaming: wstream.StreamingWrite = new wstream.StreamingWrite {
    override def createStreamingWriterFactory(
        i: PhysicalWriteInfo): wstream.StreamingDataWriterFactory = {
      ensureIndex()
      GraftStreamingWriterFactory(itemId, schema, mode, key, chunkSize, queryId,
        svc)
    }
    override def commit(epochId: Long, messages: Array[WriterCommitMessage]): Unit = ()
    override def abort(epochId: Long, messages: Array[WriterCommitMessage]): Unit = ()
  }
}

case class GraftStreamingWriterFactory(itemId: String, schema: StructType,
                                       mode: WriteMode, key: Option[String],
                                       chunkSize: Int, queryId: String,
                                       svc: Option[ServiceRef] = None)
    extends wstream.StreamingDataWriterFactory {
  override def createWriter(partitionId: Int, taskId: Long,
                            epochId: Long): DataWriter[InternalRow] =
    new GraftDataWriter(itemId, schema, mode, key, chunkSize, partitionId,
      s"$queryId:e$epochId", taskId, svc)
}

case class GraftCommitMessage(partitionId: Int, rows: Long, batches: Int,
                              minKey: String, maxKey: String)
    extends WriterCommitMessage

/** Per-write audit reports (the reference's chunk-result list,
  * `src/agol_pandas.py:459-461`) for the high-level API. A caller runs its
  * write inside [[capture]], which gives the calling thread a fresh id in
  * a local property (the way [[graft.tools.QueryProfile]]
  * labels jobs); the batch commit files its report under that id and
  * `capture` takes it back. Writes made outside `capture` (raw
  * `format("graft")` saves, streaming epochs) file nothing.
  */
object GraftWriteReports {
  private val Key = "graft.write.report"
  private val reports = new java.util.concurrent.ConcurrentHashMap[String, Seq[GraftCommitMessage]]()

  /** Runs `write` and returns the report its batch commit filed, empty
    * when it filed none.
    */
  def capture(sc: org.apache.spark.SparkContext)(write: => Unit): Seq[GraftCommitMessage] = {
    val id = java.util.UUID.randomUUID().toString
    val before = sc.getLocalProperty(Key)
    sc.setLocalProperty(Key, id)
    try {
      write
      Option(reports.get(id)).getOrElse(Seq.empty)
    } finally {
      sc.setLocalProperty(Key, before)
      reports.remove(id)
    }
  }

  private[sources] def record(report: Seq[GraftCommitMessage]): Unit =
    Option(org.apache.spark.SparkContext.getOrCreate().getLocalProperty(Key))
      .foreach(reports.put(_, report))
}

case class GraftWriterFactory(itemId: String, schema: StructType,
                              mode: WriteMode, key: Option[String], chunkSize: Int,
                              writeId: String, svc: Option[ServiceRef] = None)
    extends DataWriterFactory {
  override def createWriter(partitionId: Int, taskId: Long): DataWriter[InternalRow] =
    new GraftDataWriter(itemId, schema, mode, key, chunkSize, partitionId,
      writeId, taskId, svc)
}

/** Buffers up to `chunkSize` rows, then STAGES the chunk — one service
  * call per chunk, bounded task memory. Nothing becomes visible until
  * `commit()` publishes the whole attempt atomically (`commitStaged`),
  * at most once per (writeId, partition):
  *
  *  - a task that dies mid-write leaves only invisible staging, which
  *    `abort()` (or the service, by attempt id) discards;
  *  - a RETRY re-stages from scratch under its own attempt id — safe even
  *    though shuffle-fetch order (and hence chunk composition) is not
  *    deterministic across attempts, which is exactly why ordinal
  *    batch-id dedup alone cannot give exactly-once for appends;
  *  - a replayed commit (ack lost, speculative twin, replayed streaming
  *    epoch) is a service-side no-op because the partition key is already
  *    marked committed.
  */
class GraftDataWriter(itemId: String, schema: StructType, mode: WriteMode,
                      key: Option[String], chunkSize: Int, partitionId: Int,
                      writeId: String, attemptId: Long,
                      svc: Option[ServiceRef] = None)
    extends DataWriter[InternalRow] {

  private val partKey = s"$writeId:p$partitionId"
  // resolved lazily IN THE TASK: with `portal_url` set, this is the
  // executor JVM's own cached HTTP client, never a shipped object
  private def sink = SinkResolver.resolve(svc)

  private val toScala = CatalystTypeConverters.createToScalaConverter(schema)
  private val keyIdx = key.map(schema.fieldIndex)
  private val buf = scala.collection.mutable.ArrayBuffer.empty[Row]
  private var rows = 0L
  private var batches = 0
  // Audit key range: a keyed write's rows arrive sorted by key (see
  // GraftWrite.requiredOrdering), so the first and the last non-null key
  // seen are the partition's least and greatest.
  private var minKeyVal: Any = null
  private var maxKeyVal: Any = null

  override def write(record: InternalRow): Unit = {
    val r = toScala(record.copy()).asInstanceOf[Row]
    keyIdx.foreach { i =>
      val k = r.get(i)
      if (k != null) {
        if (minKeyVal == null) minKeyVal = k
        maxKeyVal = k
      }
    }
    buf += r
    rows += 1
    if (buf.size >= chunkSize) flush()
  }

  private def flush(): Unit = if (buf.nonEmpty) {
    // chunk ordinal keys the stage PUT: a transport retry of this call
    // re-posts the same buffer under the same id — idempotent
    sink.stageBatch(itemId, partKey, attemptId, batches, buf.toSeq)
    batches += 1
    buf.clear()
  }

  override def commit(): WriterCommitMessage = {
    flush()
    sink.commitStaged(itemId, partKey, attemptId, mode, key)
    GraftCommitMessage(partitionId, rows, batches,
      Option(minKeyVal).map(String.valueOf).getOrElse(""),
      Option(maxKeyVal).map(String.valueOf).getOrElse(""))
  }
  override def abort(): Unit = {
    buf.clear()
    sink.discardStaged(itemId, partKey, attemptId)
  }
  override def close(): Unit = ()
}
