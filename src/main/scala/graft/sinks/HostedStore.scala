package graft.sinks

import java.util.concurrent.ConcurrentHashMap
import java.util.concurrent.atomic.AtomicLong

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.Row
import org.apache.spark.sql.sources._
import org.apache.spark.sql.types.{DataType, StructType}

import graft.core.WriteMode

/** In-process stand-in for the remote hosted-table service.
  *
  * Models the six REST verbs the reference uses against ArcGIS Online:
  * resolve-by-title (`/root/reference/src/agol_pandas.py:592-596`), create +
  * publish (`:519-523`), truncate (`:395-396`), ensure-unique-index
  * (`:253-312`), paged query (`:246`, which the reference does *not* page —
  * we do), and batched append/upsert (`:445-455`).
  *
  * The store is a JVM singleton: in `local[*]` mode driver and executors
  * share the JVM, so connector read/write tasks reach it directly — the
  * in-process analog of each Spark task issuing its own HTTP call. A
  * production implementation swaps this object for an HTTP client with the
  * same method signatures (each task fetches its own page / posts its own
  * batch); nothing else in the connector changes.
  *
  * Service-side query evaluation (filters → `where`, required columns →
  * `outFields`, limit → `resultRecordCount`) is intentionally implemented
  * *here*, not in the Spark reader: it models the pushdown the remote API
  * supports, so the connector's `.explain` shows which predicates left the
  * Spark plan. Where a real service answers `where` from its indexes, the
  * store scans: [[FilterEval.compile]] turns the filters into one row
  * predicate per query, and one filtered pass serves the count and all
  * pages.
  *
  * It is the in-process [[HostedTableSink]] and the default of
  * [[HostedSinks.active]].
  */
object HostedStore extends HostedTableSink {

  /** A service-side index definition, named the way the reference names
    * the unique key constraint: `UX_<TITLE>_<TABLE>_<field>_ASC`
    * (`src/agol_pandas.py:293`). `pollsLeft` models the remote service's
    * *asynchronous* index creation: the index is visible once it is ≤ 0,
    * and each [[fieldHasUniqueIndex]] probe of an invisible index counts
    * it down (it starts at [[indexCreationPollDelay]]: 0 = immediately,
    * the default; specs raise it to exercise the reference's 5 s × 12
    * poll budget, `src/agol_pandas.py:302-307`).
    */
  final case class IndexState(
      name: String,
      field: String,
      isUnique: Boolean,
      pollsLeft: Int) {
    def visible: Boolean = pollsLeft <= 0
  }

  /** A secondary dataset carried by an item — the feature LAYER a hosted
    * item may hold alongside (or instead of) its table. A POINT layer is
    * its attribute table plus the [[graft.api.Geometry]] convention column
    * (`geometry: struct<x: double, y: double>`), served like any other
    * column; richer geometry stays out of scope (SURVEY §1).
    */
  final case class DatasetState(schema: StructType, rows: Vector[Row])

  /** `kind` is "table" or "layer" — which collection the SERVED dataset
    * (this state's `schema`/`rows`) belongs to. `shadowedLayer` holds the
    * item's layer when a table was published over it: the reference's
    * reader resolves `item.layers[0]` and then lets `item.tables[0]`
    * shadow it (`src/agol_pandas.py:239-243`), so every query verb serves
    * the table and the layer stays reachable only via [[shadowedLayerOf]].
    *
    * A state is the only place that holds anything about its table (the
    * staging of writes in flight aside): index visibility lives on its
    * `indexes`, and its filtered scans in its own `scans` memo.
    */
  final case class TableState(
      itemId: String,
      title: String,
      schema: StructType,
      rows: Vector[Row],
      properties: Map[String, String] = Map.empty,
      indexes: Vector[IndexState] = Vector.empty,
      appliedBatches: Set[String] = Set.empty,
      committedParts: Set[String] = Set.empty,
      kind: String = "table",
      shadowedLayer: Option[DatasetState] = None,
      /** Maintained value→row-position index per unique field
        * (lowercased field → value → index into `rows`). This is the
        * service-contract cost model: a real hosted upsert goes through
        * the unique index at O(batch·log n), so the double must not
        * charge O(table) per partition commit (32 writer partitions ×
        * full-table rebuild priced a 10× corpus at ~25× — measured on
        * `ref_write_upsert` at sf1). Built when the index is added or
        * lazily on first use, maintained for every unique field by each
        * apply (see `Placement`), INVALIDATED by delete/truncate.
        */
      keyPos: Map[String, Map[Any, Int]] = Map.empty,
      /** Filtered passes over THIS state's `rows`; [[computeItem]] gives
        * a state a fresh memo whenever its rows vector changes, and
        * index- or property-only updates keep it. See [[ScanMemo]].
        */
      scans: ScanMemo = new ScanMemo) {
    def hasVisibleUniqueIndex(fl: String): Boolean =
      indexes.exists(ix => ix.isUnique && ix.field == fl && ix.visible)
  }

  /** At most this many filter sets are memoized per table state: a
    * self-join of two filtered reads of one table needs two, and the
    * rest is headroom for concurrent scans of the same rows.
    */
  private final val ScanMemoSlots = 4

  /** The filtered passes of one table state, keyed by the normalized
    * filter fingerprint, least recently used first out. Offset
    * pagination naively re-filters the whole table per page —
    * O(pages × table) = O(table² / pageSize), quadratic in the table
    * (measured: the sf1 pushdown scan trended past linear as page count
    * grew). A real service executes the query once and cursors through
    * it; the memo gives the double the same cost shape, and a scan's
    * count and pages share one pass.
    *
    * The memo belongs to one rows vector, so it can never serve stale
    * rows: a reader that filtered a superseded state writes into that
    * state's memo, which becomes unreachable together with the state.
    * Worst case per live state: [[ScanMemoSlots]] pointer arrays over
    * its own rows (values share Row references with the table; nothing
    * is copied). Empty tables take no entry.
    */
  final class ScanMemo {
    private val passes =
      new java.util.LinkedHashMap[Seq[Any], Vector[Row]](8, 0.75f, true) {
        override def removeEldestEntry(
            e: java.util.Map.Entry[Seq[Any], Vector[Row]]): Boolean =
          size() > ScanMemoSlots
      }
    private[HostedStore] def get(key: Seq[Any]): Option[Vector[Row]] =
      synchronized(Option(passes.get(key)))
    private[HostedStore] def put(key: Seq[Any], rows: Vector[Row]): Unit =
      synchronized { passes.put(key, rows); () }
    /** Test hook: every memoized pass, by filter fingerprint. */
    private[graft] def entries: Map[Seq[Any], Vector[Row]] =
      synchronized(passes.asScala.toMap)
  }

  private val tables = new ConcurrentHashMap[String, TableState]()
  private val nextId = new AtomicLong(1000)

  /** Atomic per-ITEM read-modify-write: every mutating verb below runs as
    * one `ConcurrentHashMap.compute`, which locks only the item's bin —
    * concurrent commits against DIFFERENT items proceed in parallel
    * (round 7's store-wide `synchronized` serialized all 32 DataWriter
    * commits on one monitor; commits to the SAME item still serialize, as
    * they must — they contend for one row vector). `f` returns the new
    * state plus a result value threaded back to the caller. A new rows
    * vector gets a fresh scan memo here, in one place.
    */
  private def computeItem[A](itemId: String)(f: TableState => (TableState, A)): A = {
    var out: Option[A] = None
    tables.compute(itemId, (_: String, t: TableState) => {
      if (t == null) throw new NoSuchElementException(s"no hosted table '$itemId'")
      val (nt, a) = f(t)
      out = Some(a)
      if (nt.rows ne t.rows) nt.copy(scans = new ScanMemo) else nt
    })
    out.get
  }
  /** How many visibility probes a newly created index stays invisible for
    * (simulated async service-side creation). 0 = synchronous.
    */
  @volatile var indexCreationPollDelay: Int = 0

  def reset(): Unit = { tables.clear(); staged.clear() }

  /** Removes the table and its staging; true when the table existed. */
  def drop(itemId: String): Boolean = {
    val existed = tables.remove(itemId) != null
    staged.keySet.removeIf(_._1 == itemId)
    existed
  }

  def dropByTitle(title: String): Unit =
    resolveByTitle(title).foreach(drop)

  def resolveByTitle(title: String): Option[String] =
    tables.asScala.values.find(_.title == title).map(_.itemId)

  def titles: Seq[String] = tables.asScala.values.map(_.title).toSeq.sorted

  def get(itemId: String): TableState = {
    val t = tables.get(itemId)
    if (t == null) throw new NoSuchElementException(s"no hosted table '$itemId'")
    t
  }

  def exists(itemId: String): Boolean = tables.containsKey(itemId)

  def schemaOf(itemId: String): StructType = get(itemId).schema

  def create(title: String, schema: StructType,
             properties: Map[String, String]): String = {
    // No lock needed: the id is fresh (atomic counter), so nobody can
    // reference it until this method returns it.
    val id = s"item_${nextId.getAndIncrement()}"
    // The reference stamps the title into the item-properties dict before
    // content.add (`src/agol_pandas.py:517-520`); mirror that so a
    // round-tripped properties map always carries the title.
    tables.put(id, TableState(id, title, schema, Vector.empty,
      properties + ("title" -> title)))
    id
  }

  /** Create a feature-LAYER item (the spatial case the reference
    * half-supports, `src/agol_pandas.py:239-241`): identical service
    * surface — every query/write verb works against the layer's attribute
    * table — distinguished only by `kind`, so the connector read path
    * covers layer items too.
    */
  def createLayer(title: String, schema: StructType,
                  properties: Map[String, String] = Map.empty): String = {
    val id = create(title, schema, properties)
    computeItem(id)(t => (t.copy(kind = "layer"), ()))
    id
  }

  /** Publish a TABLE onto an existing layer item. From here on the item
    * has both `layers[0]` and `tables[0]`, and — like the reference's
    * resolution, where the tables branch overwrites the layers branch
    * (`src/agol_pandas.py:239-243`) — every verb serves the table; the
    * layer is shadowed but kept reachable via [[shadowedLayerOf]].
    */
  def publishTable(itemId: String, tableSchema: StructType): Unit =
    computeItem(itemId) { t =>
      require(t.kind == "layer", s"item '$itemId' already serves a table")
      // The published table is a NEW dataset: replay-protection state
      // (appliedBatches/committedParts) and index definitions belong to the
      // layer era — carrying them over would silently drop writes whose
      // batch ids collide with layer-era ids (exactly why truncate() resets
      // them) and claim unique indexes the table never created.
      (t.copy(
        schema = tableSchema, rows = Vector.empty, kind = "table",
        shadowedLayer = Some(DatasetState(t.schema, t.rows)),
        indexes = Vector.empty,
        appliedBatches = Set.empty, committedParts = Set.empty,
        keyPos = Map.empty), ())
    }

  def kindOf(itemId: String): String = get(itemId).kind

  def shadowedLayerOf(itemId: String): Option[DatasetState] =
    get(itemId).shadowedLayer

  /** Merge portal item metadata (`item_properties` passthrough on the
    * reference's write/create surface, `src/agol_pandas.py:316,477,548`).
    */
  def setProperties(itemId: String, props: Map[String, String]): Unit =
    computeItem(itemId)(t => (t.copy(properties = t.properties ++ props), ()))

  def propertiesOf(itemId: String): Map[String, String] = get(itemId).properties

  def truncate(itemId: String): Unit =
    computeItem(itemId) { t =>
      // A truncated table starts a fresh write epoch: forget batch ids and
      // committed partitions so an overwrite re-posting identical content
      // isn't spuriously deduped.
      (t.copy(rows = Vector.empty, appliedBatches = Set.empty,
        committedParts = Set.empty, keyPos = Map.empty), ())
    }

  /** Delete the rows whose `keyField` value is in `keys` (the service's
    * `delete_features` verb — row-level takedown and the D-leg of a CDC
    * apply). Same contract as the merge modes: requires a unique index
    * on `keyField` so a key addresses at most one row; key values must
    * be the exact runtime type the rows store (a Long key never matches
    * an Int cell). Missing keys are a no-op, so the call is naturally
    * idempotent; `batchId` additionally short-circuits replays the way
    * [[appendBatch]] does. Returns rows removed.
    */
  def deleteByKey(itemId: String, keyField: String, keys: Seq[Any],
                  batchId: Option[String]): Long =
    computeItem(itemId) { t =>
      if (batchId.exists(t.appliedBatches.contains)) (t, 0L)
      else {
        require(t.hasVisibleUniqueIndex(keyField.toLowerCase),
          s"delete requires a unique index on '$keyField'")
        val ki = t.schema.fieldIndex(keyField)
        val ks = keys.toSet
        val (removed, kept) = t.rows.partition(r => ks.contains(r.get(ki)))
        val t1 = t.copy(rows = kept, keyPos = Map.empty)
        (batchId.fold(t1)(id =>
          t1.copy(appliedBatches = t1.appliedBatches + id)),
          removed.size.toLong)
      }
    }

  /** Register a unique index (`add_to_definition({"indexes":[…]})`,
    * `src/agol_pandas.py:293-300`), named the way the reference names it.
    * Idempotent; returns the index name. Creation is *asynchronous* when
    * [[indexCreationPollDelay]] > 0: the index only becomes usable after
    * that many [[fieldHasUniqueIndex]] probes — the client must poll,
    * exactly like the remote service.
    */
  def addUniqueIndex(itemId: String, field: String): String =
    computeItem(itemId) { t =>
      val fl = field.toLowerCase
      require(t.schema.fieldNames.map(_.toLowerCase).contains(fl),
        s"no such field '$field' on '$itemId'")
      t.indexes.find(ix => ix.isUnique && ix.field == fl) match {
        case Some(ix) => (t, ix.name)
        case None =>
          // a real service fails to build a unique index over repeats
          val pos = positions(t, fl)(throw new IllegalArgumentException(
            s"cannot add a unique index on '$field': its values repeat on '$itemId'"))
          // Reference naming: UX_{item.title.upper()}_{table_name.upper()}_
          // {field}_ASC (`src/agol_pandas.py:293`); the fake's service-layer
          // table name is the item id.
          val name = s"UX_${t.title.toUpperCase}_${itemId.toUpperCase}_${field}_ASC"
          val ix = IndexState(name, fl, isUnique = true, indexCreationPollDelay)
          (t.copy(indexes = t.indexes :+ ix, keyPos = t.keyPos + (fl -> pos)), name)
      }
    }

  /** One visibility probe (`fld_has_unique_idx`, `src/agol_pandas.py:286-290`):
    * true once the unique index on `field` is service-visible. Each probe
    * of an invisible index counts its `pollsLeft` down — the fake's
    * stand-in for wall-clock async creation.
    */
  def fieldHasUniqueIndex(itemId: String, field: String): Boolean =
    computeItem(itemId) { t =>
      val fl = field.toLowerCase
      t.indexes.indexWhere(ix => ix.isUnique && ix.field == fl) match {
        case -1 => (t, false)
        case i =>
          val ix = t.indexes(i)
          if (ix.visible) (t, true)
          else {
            val probed = ix.copy(pollsLeft = ix.pollsLeft - 1)
            (t.copy(indexes = t.indexes.updated(i, probed)), probed.visible)
          }
      }
    }

  def indexesOf(itemId: String): Vector[IndexState] = get(itemId).indexes

  def rowCount(itemId: String): Long = get(itemId).rows.size.toLong

  /** The fingerprint a [[ScanMemo]] keys on. It compares STRUCTURALLY
    * (a stringified form would erase value types and let crafted string
    * values collide across delimiter boundaries), with one
    * normalization: Array-valued filter payloads (`In` value lists,
    * binary-column comparisons) are rewritten to Seq — arrays compare by
    * REFERENCE, so semantically identical filter sets from different plan
    * instances would never hit and the scan would silently fall back to
    * the O(pages × table) re-filter the memo exists to kill.
    */
  private[graft] def fingerprint(filters: Array[Filter]): Seq[Any] =
    filters.toSeq.map(normFilter)
  private def normVal(v: Any): Any = v match {
    case a: Array[_] => a.toSeq.map(normVal)
    case x           => x
  }
  private def normFilter(f: Filter): Any = f match {
    case And(l, r)                => ("and", normFilter(l), normFilter(r))
    case Or(l, r)                 => ("or", normFilter(l), normFilter(r))
    case Not(c)                   => ("not", normFilter(c))
    case In(a, vs)                => ("in", a, vs.toSeq.map(normVal))
    case EqualTo(a, v)            => ("eq", a, normVal(v))
    case EqualNullSafe(a, v)      => ("eqns", a, normVal(v))
    case GreaterThan(a, v)        => ("gt", a, normVal(v))
    case GreaterThanOrEqual(a, v) => ("ge", a, normVal(v))
    case LessThan(a, v)           => ("lt", a, normVal(v))
    case LessThanOrEqual(a, v)    => ("le", a, normVal(v))
    case other                    => other // scalar-free leaves (IsNull,
                                           // StringStartsWith, …) compare
                                           // structurally as-is
  }
  /** The rows of `t` that pass `filters`, through `t`'s own memo. The
    * O(table) pass runs outside the memo's lock: concurrent misses on
    * one key just compute twice, and both values are identical.
    */
  private def filteredRows(t: TableState, filters: Array[Filter]): Vector[Row] =
    if (filters.isEmpty || t.rows.isEmpty) t.rows
    else {
      val key = fingerprint(filters)
      t.scans.get(key).getOrElse {
        val v = t.rows.filter(FilterEval.compile(filters.toSeq, t.schema))
        t.scans.put(key, v)
        v
      }
    }

  /** One page of a service-side query: filter → project → slice, the
    * remote analog of `where=...&outFields=...&resultOffset=o&
    * resultRecordCount=n`. Offsets index the *filtered* row set, matching
    * REST pagination semantics. The filter pass is computed once per
    * (table state, filter set) and shared by all pages — see
    * [[filteredRows]].
    */
  def queryPage(
      itemId: String,
      offset: Long,
      count: Long,
      requiredCols: Array[String],
      filters: Array[Filter]): Iterator[Row] = {
    val t = get(itemId)
    val filtered = filteredRows(t, filters)
    val idx = requiredCols.toIndexedSeq.map(c => t.schema.fieldIndex(c))
    filtered.iterator.slice(offset.toInt, (offset + count).toInt)
      .map(r => Row.fromSeq(idx.map(r.get)))
  }

  /** Count of rows matching the filters (the remote `returnCountOnly`),
    * used by the driver to plan offset pages. Goes through
    * [[filteredRows]] so the count that PLANS the pages and the pages
    * themselves share one filter pass over the table. DELIBERATE
    * allocation: the count materializes the filtered Vector (one pointer
    * array) and takes a memo slot even for a count-only caller — in the
    * DSv2 read path a count always precedes paging, so the materialized
    * pass is the one the pages reuse; a streamed O(1)-memory count would
    * just force the filter pass to run twice.
    */
  def queryCount(itemId: String, filters: Array[Filter]): Long = {
    val t = get(itemId)
    filteredRows(t, filters).size.toLong
  }

  /** Grouped service-side statistics — the remote `outStatistics` +
    * `groupByFieldsForStatistics` query. Each output row is the group key
    * values followed by one value per spec (op ∈ count|min|max).
    */
  def queryGroupedStats(itemId: String, filters: Array[Filter],
                        groupFields: Seq[String],
                        specs: Seq[(String, Option[String])]): Seq[Row] = {
    val t = get(itemId)
    val gIdx = groupFields.map(t.schema.fieldIndex)
    filteredRows(t, filters).groupBy(r => gIdx.map(r.get)).toSeq.map { case (keyVals, rows) =>
      val stats = specs.map {
        case ("count", _) => rows.size.toLong
        case (op @ ("min" | "max"), Some(f)) =>
          val fi = t.schema.fieldIndex(f)
          val vals = rows.iterator.map(_.get(fi)).filter(_ != null)
          if (!vals.hasNext) null
          else vals.reduce { (a, b) =>
            val c = FilterEval.cmpValues(a, b)
            if ((c <= 0) == (op == "min")) a else b
          }
        case s => throw new IllegalArgumentException(s.toString)
      }
      Row.fromSeq(keyVals ++ stats)
    }
  }

  /** Service-side MIN/MAX of a field over the filtered rows — the remote
    * `outStatistics` query. Null when no rows match.
    */
  def queryMinMax(itemId: String, filters: Array[Filter], field: String,
                  isMin: Boolean): Any = {
    val t = get(itemId)
    val idx = t.schema.fieldIndex(field)
    val matching = filteredRows(t, filters).iterator
      .map(_.get(idx))
      .filter(_ != null)
    if (!matching.hasNext) null
    else matching.reduce { (a, b) =>
      val c = FilterEval.cmpValues(a, b)
      if ((c <= 0) == isMin) a else b
    }
  }

  /** Apply one batch with the given write mode — the remote
    * `table.append(upsert=..., skip_inserts=..., skip_updates=...,
    * upsert_matching_field=key, rollback=True)` (`src/agol_pandas.py:445-455`).
    * Synchronized = the service applies each batch atomically (the
    * reference's `rollback=True` per chunk). Returns rows affected.
    */
  def appendBatch(
      itemId: String,
      batch: Seq[Row],
      mode: WriteMode,
      key: Option[String],
      batchId: Option[String]): Long =
    computeItem(itemId)(t => appliedPure(t, batch, mode, key, batchId))

  /** PURE single-batch apply: old state → (new state, rows affected).
    * Runs inside a per-item compute from [[appendBatch]] or
    * [[commitStaged]] — a thrown contract violation propagates out of the
    * compute and leaves the mapping (and any staging) untouched, so a
    * failed apply stays replayable.
    */
  private def appliedPure(t: TableState, batch: Seq[Row], mode: WriteMode,
                          key: Option[String],
                          batchId: Option[String]): (TableState, Long) = {
    // Idempotent replay protection: a batch id the service has already
    // applied is a task-retry replay — skip it (exactly-once writes on
    // top of at-least-once task attempts).
    if (batchId.exists(t.appliedBatches.contains)) return (t, 0L)
    val (placed, affected) = mode match {
      case WriteMode.Append | WriteMode.Overwrite =>
        // Overwrite's truncate already happened once, driver-side.
        val placed = new Placement(t, None)
        placed.append(batch)
        (placed, batch.size.toLong)
      case WriteMode.Upsert | WriteMode.Update | WriteMode.Insert =>
        val k = key.getOrElse(
          throw new IllegalArgumentException(s"mode ${mode.name} requires a key"))
        require(t.hasVisibleUniqueIndex(k.toLowerCase),
          s"mode ${mode.name} requires a unique index on '$k' (src/agol_pandas.py:410)")
        val ki = t.schema.fieldIndex(k)
        // Collapse within-batch duplicate keys in arrival order, the way a
        // unique-indexed service applies a batch: upsert/update keep the
        // last occurrence per key; insert keeps the first and skips the
        // rest (they would be updates, which insert mode suppresses).
        // Without this, duplicate new keys in one batch would all insert —
        // corrupting the table's claimed uniqueness.
        val collapsed = scala.collection.mutable.LinkedHashMap.empty[Any, Row]
        batch.foreach { r =>
          val kv = r.get(ki)
          if (mode != WriteMode.Insert || !collapsed.contains(kv)) collapsed.put(kv, r)
        }
        // Apply through the key→position index (see TableState.keyPos):
        // O(batch) per commit, not O(table).
        val placed = new Placement(t, Some(k.toLowerCase))
        var matched = 0L
        var inserted = 0L
        collapsed.foreach { case (kv, nr) =>
          placed.positionOf(kv) match {
            case Some(i) =>
              matched += 1
              if (mode != WriteMode.Insert) placed.place(nr, i)
            case None =>
              if (mode != WriteMode.Update) {
                placed.place(nr, -1)
                inserted += 1
              }
          }
        }
        (placed, mode match {
          case WriteMode.Update => matched
          case WriteMode.Insert => inserted
          case _                => collapsed.size.toLong
        })
    }
    val t1 = t.copy(rows = placed.rows, keyPos = placed.keyPos)
    // Only a *successfully applied* batch is recorded — a failed apply
    // (contract violation above) must stay replayable.
    (batchId.fold(t1)(id => t1.copy(appliedBatches = t1.appliedBatches + id)),
      affected)
  }

  /** The rows of one apply in progress, with the value→position map of
    * every unique index on the table, visible or still building. A row
    * that would repeat a value another row holds in any unique field is
    * refused, and the apply with it. `key` is a merge's key (lowercased):
    * rows are found by its value, so a replaced row keeps that value and a
    * new row's is known to be absent, and neither is checked again.
    */
  private final class Placement(t: TableState, key: Option[String]) {
    private val fields = t.indexes.collect { case ix if ix.isUnique => ix.field }.distinct.toArray
    private val fis = fields.map(fieldIndexOf(t, _))
    private val pos = fields.map(fl => positions(t, fl)(brokenIndex(t, fl)))
    private val ks = key.fold(-1)(fields.indexOf(_))
    var rows: Vector[Row] = t.rows

    /** The position of the row whose merge key is `v`. */
    def positionOf(v: Any): Option[Int] = pos(ks).get(v)

    def append(batch: Seq[Row]): Unit = {
      if (fis.nonEmpty) batch.iterator.zipWithIndex.foreach { case (r, n) =>
        index(r, -1, rows.size + n)
      }
      rows = rows ++ batch
    }

    /** Puts `nr` in place of row `i`, or after the last row when `i` < 0. */
    def place(nr: Row, i: Int): Unit = {
      index(nr, i, if (i < 0) rows.size else i)
      rows = if (i < 0) rows :+ nr else rows.updated(i, nr)
    }

    // A replaced row's old value leaves each map before the new value is
    // checked, so a row may keep its own values.
    private def index(nr: Row, i: Int, at: Int): Unit = {
      var j = 0
      while (j < fis.length) {
        if (j == ks) {
          if (i < 0) pos(j) = pos(j).updated(nr.get(fis(j)), at)
        } else {
          val nv = nr.get(fis(j))
          if (i < 0 || rows(i).get(fis(j)) != nv) {
            val m = if (i < 0) pos(j) else pos(j) - rows(i).get(fis(j))
            require(!m.contains(nv), s"write would repeat value " +
              s"'$nv' of unique field '${fields(j)}' on '${t.itemId}'")
            pos(j) = m.updated(nv, at)
          }
        }
        j += 1
      }
    }

    def keyPos: Map[String, Map[Any, Int]] = fields.zip(pos).toMap
  }

  private def fieldIndexOf(t: TableState, fl: String): Int =
    t.schema.fieldNames.indexWhere(_.toLowerCase == fl)

  /** The value→position map of field `fl` (lowercased): the maintained
    * one, or built from the rows, calling `repeated` if their values repeat.
    */
  private def positions(t: TableState, fl: String)(repeated: => Nothing): Map[Any, Int] =
    t.keyPos.getOrElse(fl, {
      val fi = fieldIndexOf(t, fl)
      val m = t.rows.iterator.map(_.get(fi)).zipWithIndex.toMap
      if (m.size == t.rows.size) m else repeated
    })

  // Index creation, appends and merges all refuse repeats, so a unique
  // field that repeats a value means the store itself is wrong.
  private def brokenIndex(t: TableState, fl: String): Nothing =
    throw new IllegalStateException(
      s"'${t.itemId}' repeats a value of its unique field '$fl'")

  // ---------------------------------------------- staged (transactional)
  // Per-attempt shadow buffers: the service-side analog of staging into a
  // temp table and swapping on success (the pattern the reference's create
  // path uses with its tmp CSV item, src/agol_pandas.py:519-523). Chunks
  // are keyed by their ordinal within the attempt (PUT semantics), so a
  // transport-level retry of a lost-ack stage call is idempotent.

  private val staged =
    new ConcurrentHashMap[(String, String, Long), Map[Int, Vector[Row]]]()

  def stageBatch(itemId: String, partKey: String, attemptId: Long,
                 chunkId: Int, batch: Seq[Row]): Unit = {
    // A speculative or zombie attempt can stage AFTER the winning
    // attempt's commit already purged this partKey (purge runs once, at
    // commit) — buffering it would leak until job end and trip the
    // stagedBufferCount==0 invariant with a spurious "leak". A committed
    // partKey accepts no new staging: the data is already durable, and
    // the loser's own commit would be a committedParts no-op anyway.
    if (get(itemId).committedParts.contains(partKey)) return
    staged.merge((itemId, partKey, attemptId), Map(chunkId -> batch.toVector),
      (old, one) => old ++ one)
    // Close the check-then-merge race: a commit that lands between the
    // check above and the merge has already run its purge, so purge the
    // just-merged buffer ourselves the moment the partKey shows committed.
    if (get(itemId).committedParts.contains(partKey))
      purgeStaged(itemId, partKey)
  }

  /** Drop every attempt's staging for a partition (called once the
    * partition is durably published — including buffers from attempts
    * that died without ever reaching commit/abort, which would otherwise
    * leak for the server's lifetime).
    */
  private def purgeStaged(itemId: String, partKey: String): Unit = {
    staged.keySet.removeIf(k => k._1 == itemId && k._2 == partKey)
    ()
  }

  /** Publish one attempt's staging at most once per partKey: the winner
    * applies atomically (same merge semantics as [[appendBatch]]); a
    * replayed or speculative loser is a no-op. Staging is purged only
    * AFTER a successful (or duplicate) publish — a failed apply leaves it
    * intact so a retried commit still has the rows.
    */
  def commitStaged(itemId: String, partKey: String, attemptId: Long,
                   mode: WriteMode, key: Option[String]): Long = {
    val affected = computeItem(itemId) { t =>
      if (t.committedParts.contains(partKey)) (t, 0L)
      else {
        val chunks = Option(staged.get((itemId, partKey, attemptId)))
          .getOrElse(Map.empty[Int, Vector[Row]])
        val rows = chunks.toSeq.sortBy(_._1).flatMap(_._2)
        val (t1, a) = appliedPure(t, rows, mode, key, None)
        (t1.copy(committedParts = t1.committedParts + partKey), a)
      }
    }
    // Purge only after a successful (or duplicate) publish — a thrown
    // apply above skips this, leaving the rows for a retried commit.
    purgeStaged(itemId, partKey)
    affected
  }

  def discardStaged(itemId: String, partKey: String, attemptId: Long): Unit = {
    staged.remove((itemId, partKey, attemptId))
    ()
  }

  /** Observability: attempts still holding staged (unpublished) buffers
    * for an item. After a completed write this must be 0 — attempts that
    * died without abort are purged when their partition publishes, so a
    * non-zero here after job end means a staging leak (the fault drill's
    * post-kill invariant).
    */
  def stagedBufferCount(itemId: String): Int =
    staged.keySet.asScala.count(_._1 == itemId)

  /** Admin recovery verb: drop EVERY staged buffer for an item. A DRIVER
    * that dies mid-batch-write orphans the staging of its uncommitted
    * partitions under partKeys no future run will publish (the partKey
    * embeds the dead run's writeId, and per-partition purge is keyed by
    * the exact partKey) — visible data is unaffected (staging is
    * invisible until commit), but the buffers would otherwise sit
    * forever. Returns the number of buffers dropped; the fault drill's
    * driver-loss scenario quantifies the orphans and then proves this
    * clears them.
    */
  def purgeAllStaged(itemId: String): Int = {
    val keys = staged.keySet.asScala.filter(_._1 == itemId).toList
    keys.foreach(staged.remove)
    keys.size
  }
}

/** Service-side evaluation of Spark source filters over stored rows —
  * the fake's implementation of the remote `where` clause. Nested
  * references (`geometry.x > …`) resolve through struct columns, which is
  * what lets a bounding-box predicate on the point-geometry convention
  * evaluate service-side — the relational analog of the remote envelope
  * (`geometryEnvelope`) query.
  *
  * A real service evaluates `where` through its own indexes; this double
  * scans. It compiles the filters once per query ([[compile]]) and the
  * store shares that one pass between the count and every page of a
  * scan (see `HostedStore.filteredRows`).
  */
object FilterEval {

  /** Split a pushed attribute reference into struct-path segments. Spark
    * dot-joins nested field names and backtick-quotes any segment that
    * itself contains a dot or backtick (a literal backtick doubles), so
    * the grammar here mirrors `DataSourceStrategy.translateFilter`'s
    * quoting on the way in.
    */
  def parsePath(attr: String): Seq[String] = {
    val out = scala.collection.mutable.ArrayBuffer.empty[String]
    val sb = new java.lang.StringBuilder
    var quoted = false
    var i = 0
    while (i < attr.length) {
      val c = attr.charAt(i)
      if (quoted) {
        if (c == '`') {
          if (i + 1 < attr.length && attr.charAt(i + 1) == '`') { sb.append('`'); i += 1 }
          else quoted = false
        } else sb.append(c)
      } else c match {
        case '`' => quoted = true
        case '.' => out += sb.toString; sb.setLength(0)
        case _   => sb.append(c)
      }
      i += 1
    }
    out += sb.toString
    out.toSeq
  }

  /** Whether every segment of `attr` resolves against `schema` (struct
    * columns walked). The scan builder keeps unresolvable references in
    * the Spark plan instead of pushing them.
    */
  def resolvable(attr: String, schema: StructType): Boolean =
    leafType(attr, schema).isDefined

  /** The resolved type at the end of the path, if every segment walks a
    * struct field.
    */
  def leafType(attr: String,
               schema: StructType): Option[org.apache.spark.sql.types.DataType] = {
    var t: org.apache.spark.sql.types.DataType = schema
    val ok = parsePath(attr).forall { seg =>
      t match {
        case st: StructType =>
          st.fields.indexWhere(_.name == seg) match {
            case -1 => false
            case i  => t = st.fields(i).dataType; true
          }
        case _ => false
      }
    }
    if (ok) Some(t) else None
  }

  /** Whether a pushed reference resolves to a type [[cmpValues]] can
    * actually compare. A whole-struct (or array/map) reference passes
    * `resolvable` — the path walk stops AT the struct — but a pushed
    * `EqualTo(geometry, Row(…))` would then crash every reader task at
    * runtime; such filters must stay in the Spark plan instead.
    */
  def pushableLeaf(attr: String, schema: StructType): Boolean =
    leafType(attr, schema).exists {
      case _: StructType                              => false
      case _: org.apache.spark.sql.types.ArrayType    => false
      case _: org.apache.spark.sql.types.MapType      => false
      case _                                          => true
    }

  /** The field indexes along a (possibly nested) attribute path. */
  private def indexPath(attr: String, schema: StructType): Array[Int] = {
    var t: DataType = schema
    parsePath(attr).map { seg =>
      val st = t.asInstanceOf[StructType]
      val i = st.fieldIndex(seg)
      t = st(i).dataType
      i
    }.toArray
  }

  /** Row value at an index path; a null anywhere along the path yields
    * null, matching SQL's null-propagating field access.
    */
  private def valueAt(idx: Array[Int], r: Row): Any = {
    var cur: Any = r
    var i = 0
    while (cur != null && i < idx.length) {
      cur = cur.asInstanceOf[Row].get(idx(i))
      i += 1
    }
    cur
  }

  private def isIntegral(n: Number): Boolean = n match {
    case _: java.lang.Long | _: java.lang.Integer | _: java.lang.Short |
        _: java.lang.Byte => true
    case _ => false
  }

  /** Total order over the service's value types. Integral pairs compare as
    * longs (double comparison loses precision past 2^53); mixed
    * integral/floating pairs go through BigDecimal for exactness.
    */
  def cmpValues(a: Any, b: Any): Int = (a, b) match {
    case (x: Number, y: Number) if isIntegral(x) && isIntegral(y) =>
      java.lang.Long.compare(x.longValue(), y.longValue())
    case (x: java.math.BigDecimal, y: java.math.BigDecimal) => x.compareTo(y)
    case (x: Number, y: Number) if isIntegral(x) || isIntegral(y) ||
        x.isInstanceOf[java.math.BigDecimal] || y.isInstanceOf[java.math.BigDecimal] =>
      new java.math.BigDecimal(x.toString).compareTo(new java.math.BigDecimal(y.toString))
    case (x: Number, y: Number) =>
      java.lang.Double.compare(x.doubleValue(), y.doubleValue())
    case (x: String, y: String)                         => x.compareTo(y)
    case (x: java.sql.Timestamp, y: java.sql.Timestamp) => x.compareTo(y)
    case (x: java.time.Instant, y: java.time.Instant)   => x.compareTo(y)
    case (x: java.sql.Date, y: java.sql.Date)           => x.compareTo(y)
    case (x: Boolean, y: Boolean)                       => x.compareTo(y)
    case _ => throw new IllegalArgumentException(
      s"unsupported comparison: ${a.getClass} vs ${b.getClass}")
  }

  /** Kleene truth values ordered FALSE < UNKNOWN < TRUE, so AND is the
    * minimum, OR the maximum and NOT the mirror image.
    */
  private final val F = 0
  private final val U = 1
  private final val T = 2

  /** One compiled filter: its Kleene value on a row. */
  private trait Tri { def apply(r: Row): Int }

  /** The predicate a set of pushed filters (implicitly AND-ed) stands
    * for. A row is kept only when every filter evaluates to definite
    * TRUE. Evaluation is SQL THREE-valued: a null operand makes a
    * comparison UNKNOWN, and `Not`/`And`/`Or` combine by Kleene logic.
    * This matters because Spark removes fully-pushed DSv2 filters from
    * its own plan — with two-valued logic a pushed `Not(x >= 2)` over a
    * null `x` would return rows Spark's Filter operator would have
    * dropped (NOT UNKNOWN is UNKNOWN, not TRUE), silently inflating
    * results.
    *
    * The per-query work happens here, once: each attribute path
    * resolves to field indexes, so a row costs index lookups and
    * [[cmpValues]] calls. An unresolvable path or an unsupported filter
    * fails here, even on an empty table.
    */
  def compile(filters: Seq[Filter], schema: StructType): Row => Boolean = {
    val tris = filters.map(compileTri(_, schema)).toArray
    r => {
      var i = 0
      while (i < tris.length && tris(i)(r) == T) i += 1
      i == tris.length
    }
  }

  private def compileTri(f: Filter, schema: StructType): Tri = {
    def cmpTri(a: String, x: Any)(p: Int => Boolean): Tri = {
      val idx = indexPath(a, schema)
      if (x == null) _ => U
      else r => {
        val v = valueAt(idx, r)
        if (v == null) U else if (p(cmpValues(v, x))) T else F
      }
    }
    def strTri(a: String)(p: String => Boolean): Tri = {
      val idx = indexPath(a, schema)
      r => {
        val v = valueAt(idx, r)
        if (v == null) U else if (p(v.toString)) T else F
      }
    }
    f match {
      case EqualTo(a, x)            => cmpTri(a, x)(_ == 0)
      case GreaterThan(a, x)        => cmpTri(a, x)(_ > 0)
      case GreaterThanOrEqual(a, x) => cmpTri(a, x)(_ >= 0)
      case LessThan(a, x)           => cmpTri(a, x)(_ < 0)
      case LessThanOrEqual(a, x)    => cmpTri(a, x)(_ <= 0)
      case In(a, xs) =>
        // SQL IN: TRUE on a non-null match; UNKNOWN if the probe is null
        // or the list holds a null and nothing matched; else FALSE
        val idx = indexPath(a, schema)
        val consts = xs.filter(_ != null)
        val miss = if (consts.length < xs.length) U else F
        r => {
          val v = valueAt(idx, r)
          if (v == null) U
          else if (consts.exists(cmpValues(v, _) == 0)) T
          else miss
        }
      case IsNull(a) =>
        val idx = indexPath(a, schema)
        r => if (valueAt(idx, r) == null) T else F
      case IsNotNull(a) =>
        val idx = indexPath(a, schema)
        r => if (valueAt(idx, r) != null) T else F
      case StringStartsWith(a, p) => strTri(a)(_.startsWith(p))
      case StringEndsWith(a, p)   => strTri(a)(_.endsWith(p))
      case StringContains(a, p)   => strTri(a)(_.contains(p))
      case And(l, rr) =>
        val a = compileTri(l, schema)
        val b = compileTri(rr, schema)
        r => math.min(a(r), b(r))
      case Or(l, rr) =>
        val a = compileTri(l, schema)
        val b = compileTri(rr, schema)
        r => math.max(a(r), b(r))
      case Not(c) =>
        val a = compileTri(c, schema)
        r => T - a(r)
      case _ => throw new IllegalArgumentException(s"unsupported filter $f")
    }
  }

  /** Which filters the service can evaluate (the rest stay in Spark). */
  def supports(f: Filter): Boolean = f match {
    case _: EqualTo | _: GreaterThan | _: GreaterThanOrEqual | _: LessThan |
        _: LessThanOrEqual | _: In | _: IsNull | _: IsNotNull |
        _: StringStartsWith | _: StringEndsWith | _: StringContains => true
    case And(l, r) => supports(l) && supports(r)
    case Or(l, r)  => supports(l) && supports(r)
    case Not(c)    => supports(c)
    case _         => false
  }
}
