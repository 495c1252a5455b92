package graft.sinks

import java.util.concurrent.atomic.AtomicBoolean

import org.apache.spark.sql.Row
import org.apache.spark.sql.sources.{EqualTo, Filter, GreaterThan, In, LessThan}
import org.apache.spark.sql.types.{LongType, StringType, StructField, StructType}
import org.scalatest.funsuite.AnyFunSuite

import graft.core.WriteMode

/** Lifecycle of the service double's scan memo ([[HostedStore.ScanMemo]]):
  * each table state memoizes filtered passes over its own rows, keyed by
  * the normalized filter fingerprint; a rows change gives the live state a
  * fresh memo while index-only updates keep it, array-valued filter
  * payloads are normalized so fresh plan instances still hit, empty
  * tables never take an entry, and scans racing appends never leave the
  * live memo holding anything but passes over the live rows.
  */
class ScanCacheSpec extends AnyFunSuite {

  private val schema = StructType(Seq(
    StructField("k", LongType), StructField("s", StringType)))

  private def freshTable(title: String, n: Int): String = {
    HostedStore.dropByTitle(title)
    val id = HostedStore.create(title, schema)
    if (n > 0)
      HostedStore.appendBatch(id,
        (0 until n).map(i => Row(i.toLong, s"v$i")), WriteMode.Append, None)
    id
  }

  private def memo(id: String) = HostedStore.get(id).scans.entries

  test("a rows change starts an empty memo; a re-scan sees the new rows") {
    val id = freshTable("cache_rot", 20)
    assert(HostedStore.queryCount(id, Array(GreaterThan("k", 4L))) == 15)
    assert(memo(id).nonEmpty, "a filtered count must populate the memo")
    HostedStore.appendBatch(id, Seq(Row(100L, "new")), WriteMode.Append, None)
    assert(memo(id).isEmpty, s"the new rows inherited passes: ${memo(id).keys}")
    assert(HostedStore.queryCount(id, Array(GreaterThan("k", 4L))) == 16)
    assert(memo(id).size == 1)
  }

  test("an index-only change keeps the memo") {
    val id = freshTable("cache_idx", 10)
    HostedStore.queryCount(id, Array(GreaterThan("k", 0L)))
    val before = HostedStore.get(id).scans
    assert(before.entries.nonEmpty)
    HostedStore.addUniqueIndex(id, "k") // no rows change
    assert(HostedStore.get(id).scans eq before,
      "an index-only update must keep the state's memo")
    assert(memo(id).size == 1)
  }

  test("array-valued filter payloads hit across fresh plan instances") {
    val id = freshTable("cache_arr", 20)
    // two structurally-equal In filters from DIFFERENT Array instances —
    // reference-compared Arrays would miss and re-filter every page
    def filters() = Array[Filter](
      In("k", Array[Any](1L, 2L, 3L)), EqualTo("s", "v2"))
    assert(HostedStore.queryCount(id, filters()) == 1)
    assert(HostedStore.queryCount(id, filters()) == 1)
    assert(memo(id).size == 1,
      "equal-fingerprint scans must share one entry")
  }

  test("empty tables take no cache slot and never alias each other") {
    val a = freshTable("cache_empty_a", 0)
    val b = freshTable("cache_empty_b", 0)
    assert(HostedStore.queryCount(a, Array(GreaterThan("k", 0L))) == 0)
    assert(HostedStore.queryCount(b, Array(EqualTo("s", "x"))) == 0)
    assert(memo(a).isEmpty && memo(b).isEmpty)
  }

  test("after scans race appends, the live memo holds fresh passes only") {
    val id = freshTable("cache_race", 200)
    val filterSets = Seq[Array[Filter]](
      Array(GreaterThan("k", 50L)),
      Array(LessThan("k", 120L), EqualTo("s", "v7")),
      Array(In("k", Array[Any](3L, 250L, 400L))))
    val appending = new AtomicBoolean(true)
    val scanners = filterSets.map { fs =>
      new Thread(() => {
        var page = 0L
        while (appending.get()) {
          HostedStore.queryCount(id, fs)
          HostedStore.queryPage(id, page % 3, 5, Array("k"), fs).size
          page += 1
        }
        // one scan after the last append, so the live memo has entries
        HostedStore.queryCount(id, fs)
      })
    }
    scanners.foreach(_.start())
    (200 until 500 by 10).foreach { from =>
      HostedStore.appendBatch(id,
        (from until from + 10).map(i => Row(i.toLong, s"v$i")), WriteMode.Append, None)
    }
    appending.set(false)
    scanners.foreach(_.join())

    val live = HostedStore.get(id)
    assert(live.rows.size == 500)
    val entries = live.scans.entries
    assert(entries.size == filterSets.size)
    filterSets.foreach { fs =>
      val want = live.rows.filter(FilterEval.compile(fs.toSeq, live.schema))
      assert(entries(HostedStore.fingerprint(fs)) == want, fs.mkString(", "))
    }
  }
}
