package perfbench

import scala.jdk.CollectionConverters._

import com.fasterxml.jackson.databind.ObjectMapper
import org.apache.spark.sql.{Column, Row, SparkSession}
import org.apache.spark.sql.functions.col

import graft.SparkEntry
import graft.api.HostedTables
import graft.sinks.HostedTableSink

/** `pipeline_publish`: three catalog queries run to completion, each result
  * published with a keyed `save` and read back. The read-back must match
  * the digest of the query's DuckDB oracle (expected_digests.json, rebuilt
  * by oracle_digests.py from the parquet inputs alone). The inputs do not
  * depend on the seed.
  */
final class Pipeline(spark: SparkSession, data: String, digests: String,
                     sink: HostedTableSink, m: Meter) extends Workload {
  import Pipeline._

  val warmupRounds = 0
  val callsPerRound = 3 * queries.size

  private val oracle: Map[String, (Seq[String], Digest)] = {
    val q = new ObjectMapper().readTree(new java.io.File(digests)).get("queries")
    queries.map { x =>
      val n = q.get(x.name)
      x.name -> (n.get("columns").elements().asScala.map(_.asText()).toSeq,
        Digest(n.get("rows").asLong(), java.lang.Long.parseUnsignedLong(n.get("digest").asText(), 16)))
    }.toMap
  }

  private var held = List.empty[String]

  def round(): Unit = {
    m.aside("reset") {
      held.foreach(sink.drop)
      held = Nil
      // the previous round's results stay pinned until here, so the heap
      // measured after the last round holds that round's tables
      spark.catalog.clearCache()
      spark.sparkContext.getPersistentRDDs.values.foreach(_.unpersist(blocking = true))
    }
    queries.foreach { q =>
      val (cols, want) = oracle(q.name)
      val result = m.run(q.name)(
        SparkEntry.queries(q.name)(spark, data).localCheckpoint(eager = true))
      val keyed = q.keyExpr.fold(result)(e => result.withColumn(q.key, e))
      val id = m.save("publish", want.rows)(
        HostedTables.save(keyed, s"perfbench_${q.name}", Some(q.key)))
      held ::= id
      val back = m.read("scan")(HostedTables.read(spark, id).collect())
      m.aside("check") {
        val names = back.headOption.map(_.schema.fieldNames.toSeq).getOrElse(keyed.columns.toSeq)
        val idx = cols.map(names.indexOf)
        m.check(
          (if (idx.contains(-1)) Seq(s"${q.name}: columns $names, oracle has $cols") else
            Checks.table(q.name, back.map(r => Row.fromSeq(idx.map(r.get))), cols, want)) ++
          Checks.uniqueKey(q.name, back, names, q.key))
      }
    }
  }
}

object Pipeline {
  /** A catalog query and the key its result is published under; `keyExpr`
    * derives the key when the result has no single-column key.
    */
  final case class Query(name: String, key: String, keyExpr: Option[Column] = None)

  val queries: Seq[Query] = Seq(
    Query("x_knn_components", "vec_id"),
    Query("x_spatial_knn", "pk", Some(col("a") * 4L + col("rank"))),
    Query("x_dedup_clusters", "doc_id"))
}
