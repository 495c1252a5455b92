package perfbench

import graft.SparkEntry
import graft.sinks.PortalJson

/** Prints, as one JSON object, the DuckDB oracle SQL of the queries the
  * `pipeline_publish` workload runs (read by `oracle_digests.py`).
  */
object OracleSql {
  def main(args: Array[String]): Unit = {
    val o = PortalJson.obj()
    Pipeline.queries.foreach(q => o.put(q.name, SparkEntry.oracleSql(q.name)))
    println(PortalJson.write(o))
  }
}
