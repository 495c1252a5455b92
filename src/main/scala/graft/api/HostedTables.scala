package graft.api

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions.col
import org.apache.spark.sql.types._

import graft.core.{SessionLog, TimestampNorm, WriteMode}
import graft.sinks.HostedSinks
import graft.sources.{GraftCommitMessage, GraftWriteReports}

/** High-level hosted-table API — the public surface of the reference:
  *
  *  - `read`      ≙ `agol_hosted_item_to_sdf` (`/root/reference/src/agol_pandas.py:218-251`)
  *  - `write`     ≙ `df_to_agol_hosted_table` (`src/agol_pandas.py:314-475`)
  *  - `createTable` ≙ `create_table` (`src/agol_pandas.py:477-544`)
  *  - `save`      ≙ `create_hosted_table_from_dataframe` (`src/agol_pandas.py:546-680`):
  *    resolve-or-create by normalized title, then one distributed write job
  *    (write partitions replace the reference's driver-side chunk loop),
  *    returning the per-partition audit report.
  *
  * All entry points return `Either[String, A]`, mirroring the reference's
  * pervasive `(payload, ok)` convention (`src/agol_pandas.py:82-84` et al.)
  * at the library boundary; Spark actions still throw inside jobs.
  */
object HostedTables {

  def read(spark: SparkSession, itemId: String): DataFrame =
    spark.read.format("graft").option("itemId", itemId).load()

  /** Write into an existing hosted table with one of the five modes.
    * `properties` is the reference's `item_properties` passthrough
    * (`src/agol_pandas.py:316`): portal item metadata merged onto the item
    * alongside the data write.
    */
  def write(
      df: DataFrame,
      itemId: String,
      mode: WriteMode,
      key: Option[String] = None,
      chunkSize: Int = 100000,
      properties: Map[String, String] = Map.empty): Either[String, Seq[GraftCommitMessage]] =
    audited(s"write $itemId mode=${mode.name}")(for {
      _ <- WriteMode.validate(mode, key)
      _ <- if (!HostedSinks.active.exists(itemId)) Left(s"no hosted table '$itemId'") else Right(())
      _ <- nonEmpty(df)
      res <- doWrite(df, itemId, mode, key, chunkSize)
      _ = if (properties.nonEmpty) HostedSinks.active.setProperties(itemId, properties)
    } yield res)

  /** Delete rows by key value (the service's `delete_features` verb):
    * row-level takedown on a serving table and the D-leg of a CDC
    * apply. Requires a unique index on `keyCol` (ensured here with the
    * same poll budget as the merge modes); key values must carry the
    * stored runtime type. Empty key lists are rejected loudly, matching
    * [[write]]'s empty-DataFrame contract. Returns rows removed —
    * already-absent keys silently count 0, which is what makes a
    * replayed delete idempotent. Pass `batchId` when the caller retries
    * on transport faults (the REST path does): a replay of an
    * already-applied delete then short-circuits with its TRUE affected
    * count semantics rather than re-counting the now-absent keys as 0.
    */
  def deleteRows(itemId: String, keyCol: String, keys: Seq[Any],
                 batchId: Option[String] = None): Either[String, Long] =
    audited(s"delete $itemId key=$keyCol n=${keys.size}")(for {
      _ <- if (!HostedSinks.active.exists(itemId))
             Left(s"no hosted table '$itemId'") else Right(())
      _ <- if (keys.isEmpty) Left("no keys to delete") else Right(())
      _ <- if (graft.core.IndexPoll.ensureUniqueIndex(
               HostedSinks.active, itemId, keyCol)) Right(())
           else Left(s"unique index on '$keyCol' never became visible")
      n <- try Right(HostedSinks.active.deleteByKey(itemId, keyCol, keys,
             batchId))
           catch { case e: IllegalArgumentException => Left(e.getMessage) }
    } yield n)

  /** Distributed delete — the at-scale form of [[deleteRows]]. Partitions
    * a tombstone key frame by key hash and issues per-task `deleteByKey`
    * batches FROM EXECUTORS, mirroring the DataWriter's per-partition
    * commit path: a purge-heavy CDC batch (an AvailableNow catch-up over
    * a takedown-heavy log) never materializes its key set on the driver.
    *
    * Replay idempotence: `batchTag`, when given, stamps every service
    * call with `(tag, partition, chunk)`. The partition count is pinned
    * explicitly (AQE cannot re-coalesce it), hash partitioning is a pure
    * function of the key, and chunks are cut over the partition-SORTED
    * iterator — so a re-executed micro-batch (or a retried task attempt)
    * re-issues byte-identical batch ids that short-circuit service-side,
    * exactly like [[write]]'s staged commits. Returns rows removed; the
    * only driver materialization is one Long per partition.
    */
  def deleteFrame(keys: DataFrame, itemId: String, keyCol: String,
                  chunkSize: Int = 100000,
                  batchTag: Option[String] = None): Either[String, Long] =
    audited(s"deleteFrame $itemId key=$keyCol")(for {
      _ <- if (!HostedSinks.active.exists(itemId))
             Left(s"no hosted table '$itemId'") else Right(())
      _ <- if (chunkSize <= 0) Left(s"bad chunkSize $chunkSize") else Right(())
      _ <- if (graft.core.IndexPoll.ensureUniqueIndex(
               HostedSinks.active, itemId, keyCol)) Right(())
           else Left(s"unique index on '$keyCol' never became visible")
      n <- try {
        val spark = keys.sparkSession
        val np = spark.conf.get("spark.sql.shuffle.partitions").toInt
        val parts = keys.select(col(keyCol))
          .repartition(np, col(keyCol)).sortWithinPartitions(keyCol)
        val removed = parts.mapPartitions { it =>
          val pid = org.apache.spark.TaskContext.getPartitionId()
          val sink = HostedSinks.active
          var total = 0L
          var chunk = 0
          it.grouped(chunkSize).foreach { rows =>
            total += sink.deleteByKey(itemId, keyCol, rows.map(_.get(0)),
              batchTag.map(t => s"${t}_p${pid}_c$chunk"))
            chunk += 1
          }
          Iterator.single(total)
        }(org.apache.spark.sql.Encoders.scalaLong)
        Right(removed.collect().sum) // one Long per partition, not per key
      } catch { case e: Exception => Left(String.valueOf(e.getMessage)) }
    } yield n)

  private def doWrite(
      df: DataFrame,
      itemId: String,
      mode: WriteMode,
      key: Option[String],
      chunkSize: Int): Either[String, Seq[GraftCommitMessage]] =
    try {
      // UTC-normalize (src/agol_pandas.py:86-119). Repeated keys need no
      // pass of their own: a keyed write's one sort fixes the order they
      // reach the service in, and the service keeps the last for
      // upsert/update, the first for insert (GraftWrite.requiredOrdering).
      val writer = TimestampNorm.toUtc(df).write.format("graft")
        .option("itemId", itemId)
        .option("chunkSize", chunkSize)
      val withMode = mode match {
        case WriteMode.Overwrite => writer.mode("overwrite")
        case WriteMode.Append    => writer.mode("append")
        case m => writer.mode("append").option("writeMode", m.name)
      }
      key.foreach(k => withMode.option("key", k))
      Right(GraftWriteReports.capture(df.sparkSession.sparkContext)(withMode.save()))
    } catch { case e: Exception => Left(String.valueOf(e.getMessage)) }

  /** Create (and "publish") a new hosted table from a DataFrame — schema
    * comes from the frame itself (no CSV-staging inference round-trip;
    * Spark's schema *is* the canonical typing, SURVEY §7 risk 3).
    */
  def createTable(
      df: DataFrame,
      name: String,
      key: Option[String] = None,
      properties: Map[String, String] = Map.empty): Either[String, String] =
    audited(s"createTable $name")(for {
      norm <- graft.core.ServiceName.normalize(name)
      _ <- nonEmpty(df)
      id <- create(TimestampNorm.toUtc(df).schema, norm, key, properties)
    } yield id)

  /** [[createTable]] past its checks: `norm` is a normalized title, and
    * the caller checks the frame is not empty (the write that follows
    * does).
    */
  private[graft] def create(schema: StructType, norm: String, key: Option[String],
                            properties: Map[String, String]): Either[String, String] =
    try {
      val id = HostedSinks.active.create(norm, schema, properties)
      // Reference budget: probe, register, poll until service-visible
      // (src/agol_pandas.py:293-307); fails the create if the index
      // never appears, same as the reference's ValueError.
      val indexed = key.forall(k =>
        graft.core.IndexPoll.ensureUniqueIndex(HostedSinks.active, id, k))
      if (indexed) Right(id)
      else Left("Could not create unique field constraint for appends!")
    } catch { case e: Exception => Left(String.valueOf(e.getMessage)) }

  /** The table titled `norm` (a normalized title), or a new one [[create]]d
    * with `schema` when no table has that title — the first step of
    * [[save]], and of the streams that land in a hosted table. `schema` is
    * only evaluated when the table is created.
    */
  private[graft] def resolveOrCreate(norm: String, schema: => StructType,
                                     key: Option[String] = None,
                                     properties: Map[String, String] = Map.empty
                                    ): Either[String, String] =
    HostedSinks.active.resolveByTitle(norm) match {
      case Some(existing) => Right(existing)
      case None => audited(s"createTable $norm")(create(schema, norm, key, properties))
    }

  private def nonEmpty(df: DataFrame): Either[String, Unit] =
    if (df.isEmpty) Left("The DataFrame is empty") else Right(())

  /** The hosted-type palette a staged CSV is canonicalized to — the analog
    * of the portal's server-side `analyze(file_type='csv')` publish-
    * parameter typing (`src/agol_pandas.py:441-447`, `515`): every column
    * lands on STRING / BIGINT / DOUBLE / TIMESTAMP. Narrow integers widen
    * to long, decimals/floats to double, booleans to 0/1 longs (the portal
    * palette has no boolean), date-ish types to UTC timestamps; anything
    * unrecognized stays a string rather than failing the stage.
    */
  private def canonicalFieldType(dt: DataType): DataType = dt match {
    case ByteType | ShortType | IntegerType | LongType | BooleanType => LongType
    case FloatType | DoubleType | _: DecimalType                     => DoubleType
    case DateType | TimestampNTZType | TimestampType                 => TimestampType
    case _                                                           => StringType
  }

  /** Stage a raw (untyped) CSV for hosted-table creation: infer a schema,
    * then canonicalize it to the hosted palette — the reference's
    * `analyze → publishParameters` round-trip (`src/agol_pandas.py:441-447`)
    * done engine-side. The result feeds [[createTable]]/[[save]] like any
    * typed DataFrame.
    *
    * Inference reads the file twice (sample pass + data pass) — fine for
    * staging-sized CSVs, which is what this path is for; bulk loads at
    * scale should pass an explicit schema to `spark.read` instead and skip
    * staging entirely.
    */
  def stageCsv(spark: SparkSession, path: String,
               timestampFormat: String = "yyyy-MM-dd HH:mm:ss"): Either[String, DataFrame] =
    try {
      val raw = spark.read
        .option("header", "true")
        .option("inferSchema", "true")
        .option("timestampFormat", timestampFormat)
        .csv(path)
      // backtick-quote each header: CSV columns named "user.name" must
      // resolve as literal names, not nested-field paths
      Right(raw.select(raw.schema.fields.map { f =>
        val quoted = "`" + f.name.replace("`", "``") + "`"
        col(quoted).cast(canonicalFieldType(f.dataType)).as(f.name)
      }.toIndexedSeq: _*))
    } catch { case e: Exception => Left(String.valueOf(e.getMessage)) }

  /** Resolve-or-create, then load — the reference's orchestrator. Mode is
    * upsert when a key is given, else append (`src/agol_pandas.py:598-606`).
    * Idempotent: re-running against an existing title reuses the table
    * (`src/agol_pandas.py:592-596`).
    *
    * Addressing is by normalized title OR, when `tableId` is given, by
    * known item id directly (skipping title resolution) — the "name or
    * table_id" contract the reference documents for
    * `create_hosted_table_from_dataframe` (`src/agol_pandas.py:581-584`;
    * its guard is inverted so the id path is dead code there — the
    * *documented* semantics are implemented here).
    */
  def save(
      df: DataFrame,
      name: String,
      key: Option[String] = None,
      chunkSize: Int = 200000,
      properties: Map[String, String] = Map.empty,
      tableId: Option[String] = None): Either[String, (String, Seq[GraftCommitMessage])] =
    audited(s"save $name")(for {
      _ <- nonEmpty(df)
      id <- tableId match {
        case Some(tid) =>
          if (HostedSinks.active.exists(tid)) Right(tid)
          else Left(s"no hosted table '$tid'")
        case None =>
          graft.core.ServiceName.normalize(name).flatMap(
            resolveOrCreate(_, TimestampNorm.toUtc(df).schema, key, properties))
      }
      mode = if (key.isDefined) WriteMode.Upsert else WriteMode.Append
      report <- doWrite(df, id, mode, key, chunkSize)
      _ = if (properties.nonEmpty) HostedSinks.active.setProperties(id, properties)
    } yield (id, report))

  /** Session-audit shim: every public call lands one line in
    * [[graft.core.SessionLog]] — successes in `loggingInfo`, failures in
    * `failLog` — mirroring the reference's cross-call `AP_LOG` history
    * (`src/agol_pandas.py:33-43`).
    */
  private def audited[A](op: String)(r: Either[String, A]): Either[String, A] = {
    r.fold(e => SessionLog.recordFailure(s"$op: $e"),
      _ => SessionLog.recordInfo(s"$op: ok"))
    r
  }
}
