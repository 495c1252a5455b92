package graft.tools

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._

import graft.api.{HostedTables, Tables}
import graft.core.WriteMode
import graft.sinks.HostedStore

/** Stage-level timing for the hosted write scenario (the ref_write_*
  * family): isolates the hosted copy (create + bulk append), the merge
  * write, and the read-back so a scale regression can be attributed to a
  * phase instead of guessed at.
  * `runMain graft.tools.ProfileWrite [sfDir] [mode]`.
  */
object ProfileWrite {
  def main(args: Array[String]): Unit = {
    val sfDir = if (args.length > 0) args(0) else "/root/testdata/sf0.1"
    val mode = if (args.length > 1) WriteMode.parse(args(1))
      .fold(sys.error, identity) else WriteMode.Upsert
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    def time[A](label: String)(f: => A): A = {
      val t0 = System.nanoTime()
      val r = f
      println(f"[profwrite] $label: ${(System.nanoTime() - t0) / 1e9}%.2f s")
      r
    }
    val cols = Seq("o_orderkey", "o_orderstatus", "o_totalprice")
    val orders = Tables.load(spark, sfDir, "orders").select(cols.map(col): _*)
    println(s"[profwrite] orders=${orders.count()} mode=${mode.name}")
    val key = if (mode.requiresKey) Some("o_orderkey") else None // as ref_write_*
    (1 to 2).foreach { round =>
      println(s"[profwrite] --- round $round ---")
      HostedStore.dropByTitle("q_profile_write")
      val id = time("createTable") {
        HostedTables.createTable(orders, "q_profile_write", key).fold(sys.error, identity)
      }
      time("bulk append (hostedCopy body)") {
        HostedTables.write(orders, id, WriteMode.Append).fold(sys.error, identity)
      }
      val updates = orders.filter(col("o_orderkey") % 3 === 0)
        .withColumn("o_totalprice", col("o_totalprice") + lit(1.0))
      val inserts = orders.filter(col("o_orderkey") % 5 === 0)
        .withColumn("o_orderkey", col("o_orderkey") + lit(10000000L))
      val src = updates.unionByName(inserts)
      time(s"merge write (${mode.name})") {
        HostedTables.write(src, id, mode, key).fold(sys.error, identity)
      }
      time("read-back count") {
        HostedTables.read(spark, id).count()
      }
      time("read-back sorted materialize") {
        // foreachPartition forces the full Sort to execute — an agg on
        // top would let EliminateSorts delete it and this stage would
        // silently re-measure the plain count above
        HostedTables.read(spark, id)
          .orderBy("o_orderkey", "o_totalprice")
          .foreachPartition((_: Iterator[org.apache.spark.sql.Row]) => ())
      }
    }
    spark.stop()
  }
}
