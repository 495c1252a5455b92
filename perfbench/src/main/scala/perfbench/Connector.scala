package perfbench

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions.{col, lit, pmod, xxhash64}

import graft.api.HostedTables
import graft.core.WriteMode
import graft.sinks.{HostedStore, HostedTableSink}

/** A workload: set-up in the constructor, then identical rounds. */
trait Workload {
  def warmupRounds: Int
  def callsPerRound: Int
  def round(): Unit
  def warmup(): Unit = round()
}

/** `connector_local` and `connector_rest`: the hosted-table API on 150k
  * orders rows. Which sink serves the calls is decided by the caller (the
  * active sink); the calls and inputs are the same on both.
  *
  * Inputs are cut from `orders` by a seeded hash band of the key, so the
  * seed picks which keys each round upserts, updates, inserts and reads:
  * band = pmod(xxhash64(o_orderkey, seed), 1000).
  *
  *  - keyed table: save all 150k rows, then
  *    upsert  = bands [0,100) with price + 1.25  ∪ bands [100,150) as new keys;
  *    update  = bands [150,250) with price − 0.75 ∪ bands [250,270) as absent keys (no-ops);
  *    insert  = bands [270,320) with price + 99 (existing: skipped) ∪ bands [320,370) as new keys;
  *  - unkeyed table: save bands [0,333), append bands [333,666), overwrite with bands [666,833);
  *  - reads: the whole keyed table, and a pushed-down key range of 15,000
  *    keys (10% of the original key space, seeded start) on two columns.
  *
  * Every expected table is computed from the parquet input without graft
  * code; the service's tables are compared with them after every call.
  */
final class Connector(spark: SparkSession, data: String, seed: Long,
                      sink: HostedTableSink, m: Meter) extends Workload {
  import Connector._

  val warmupRounds = 2
  val callsPerRound = 9

  private val in = new OrderInputs(spark, data, seed)
  import in._

  private val lo = new scala.util.Random(seed).nextInt(135000).toLong
  private val inRange = col(Key) >= lo && col(Key) < lo + 15000L

  /** The expected tables, computed with no graft code: the parquet rows
    * (read and band-tagged by plain Spark, with the same expression that
    * cuts the inputs) merged with Scala collections.
    */
  private val want: Map[String, Digest] = {
    val rows = spark.read.parquet(s"$data/orders.parquet")
      .select(col(Key), col("o_custkey"), col(Price), col("o_orderstatus"), band).collect()
    def cut(lo: Int, hi: Int, key: Long, price: Double) = rows.toSeq
      .filter(r => r.getInt(4) >= lo && r.getInt(4) < hi)
      .map(r => Row(r.getLong(0) + key, r.get(1), r.getDouble(2) + price, r.get(3)))
    def keyed(rs: Seq[Row]) = rs.map(r => r.getLong(0) -> r).toMap
    val base = keyed(cut(0, 1000, 0L, 0.0))
    val upsert = cut(0, 100, 0L, 1.25) ++ cut(100, 150, 1000000L, 0.0)
    val update = cut(150, 250, 0L, -0.75) ++ cut(250, 270, 2000000L, 0.0)
    val insert = cut(270, 320, 0L, 99.0) ++ cut(320, 370, 3000000L, 0.0)
    val e1 = base ++ keyed(upsert)
    val e2 = e1 ++ keyed(update).filter(kv => e1.contains(kv._1))
    val e3 = e2 ++ keyed(insert).filter(kv => !e2.contains(kv._1))
    val (logA, logB, logC) = (cut(0, 333, 0L, 0.0), cut(333, 666, 0L, 0.0), cut(666, 833, 0L, 0.0))
    val names = Seq(Key, "o_custkey", Price, "o_orderstatus")
    def d(rs: Iterable[Row]) = Digest.of(rs, names)
    Map("save" -> d(base.values), "upsert.src" -> d(upsert), "update.src" -> d(update),
      "insert.src" -> d(insert), "upsert" -> d(e1.values), "update" -> d(e2.values),
      "insert" -> d(e3.values), "log.save" -> d(logA), "log.append" -> d(logB),
      "append" -> d(logA ++ logB), "overwrite" -> d(logC),
      "pushdown" -> Digest.of(e3.values.collect {
        case r if r.getLong(0) >= lo && r.getLong(0) < lo + 15000L => Row(r.getLong(0), r.getDouble(2))
      }, Seq(Key, Price)))
  }
  private val rows = (label: String) => want(label).rows

  private var held = List.empty[String]

  private def stored(label: String, id: String, key: Option[String]): Seq[String] = {
    val t = HostedStore.get(id)
    val names = t.schema.fieldNames.toSeq
    Checks.table(label, t.rows, names, want(label)) ++
      key.toSeq.flatMap(k => Checks.uniqueKey(label, t.rows, names, k))
  }

  def round(): Unit = {
    m.aside("reset") { held.foreach(sink.drop); held = Nil }
    val keyed = m.save("save", rows("save"))(HostedTables.save(base, KeyedTitle, Some(Key)))
    held ::= keyed
    m.aside("check")(m.check(stored("save", keyed, Some(Key))))
    for ((mode, src) <- Seq(WriteMode.Upsert -> upsertSrc, WriteMode.Update -> updateSrc,
                            WriteMode.Insert -> insertSrc)) {
      val op = mode.name.toLowerCase
      m.write(op, rows(s"$op.src"))(HostedTables.write(src, keyed, mode, Some(Key)))
      m.aside("check")(m.check(stored(op, keyed, Some(Key))))
    }
    val log = m.save("save", rows("log.save"))(HostedTables.save(logA, LogTitle, None))
    held ::= log
    m.aside("check")(m.check(stored("log.save", log, None)))
    for ((mode, src, label) <- Seq((WriteMode.Append, logB, "log.append"),
                                   (WriteMode.Overwrite, logC, "overwrite"))) {
      val op = mode.name.toLowerCase
      m.write(op, rows(label))(HostedTables.write(src, log, mode))
      m.aside("check")(m.check(stored(op, log, None)))
    }
    val all = m.read("scan")(HostedTables.read(spark, keyed).collect())
    m.aside("check") {
      val names = HostedStore.get(keyed).schema.fieldNames.toSeq
      m.check(Checks.table("scan", all, names, want("insert")) ++
        Checks.uniqueKey("scan", all, names, Key))
    }
    val some = m.read("pushdown")(
      HostedTables.read(spark, keyed).filter(inRange).select(Key, Price).collect())
    m.aside("check")(m.check(Checks.table("pushdown", some, Seq(Key, Price), want("pushdown"))))
  }
}

/** The connector workloads' inputs, cut from `orders` by the seeded band
  * and cached.
  */
final class OrderInputs(spark: SparkSession, data: String, seed: Long) {
  import Connector.{Key, Price}

  val base = spark.read.parquet(s"$data/orders.parquet")
    .select(Key, "o_custkey", Price, "o_orderstatus").cache()
  private val bandOf = pmod(xxhash64(col(Key), lit(seed)), lit(1000)).cast("int")
  val band = bandOf.as("band")
  private def bands(lo: Int, hi: Int) = base.filter(bandOf >= lo && bandOf < hi)
  private def shift(df: DataFrame, key: Long, price: Double) =
    df.withColumn(Key, col(Key) + key).withColumn(Price, col(Price) + price)

  val upsertSrc =
    shift(bands(0, 100), 0L, 1.25).union(shift(bands(100, 150), 1000000L, 0.0)).cache()
  val updateSrc =
    shift(bands(150, 250), 0L, -0.75).union(shift(bands(250, 270), 2000000L, 0.0)).cache()
  val insertSrc =
    shift(bands(270, 320), 0L, 99.0).union(shift(bands(320, 370), 3000000L, 0.0)).cache()
  val logA = bands(0, 333).cache()
  val logB = bands(333, 666).cache()
  val logC = bands(666, 833).cache()
}

object Connector {
  val Key = "o_orderkey"
  val Price = "o_totalprice"
  val KeyedTitle = "perfbench_orders"
  val LogTitle = "perfbench_orders_log"
}
