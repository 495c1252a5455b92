package perfbench

import org.apache.spark.sql.Row
import org.scalatest.funsuite.AnyFunSuite

/** Each correctness check must be able to fail: a read-back perturbed in
  * one place has to be reported as incorrect.
  */
class ChecksSpec extends AnyFunSuite {

  private val orderCols = Seq("o_orderkey", "o_custkey", "o_totalprice", "o_orderstatus")
  private val orders: Seq[Row] = (0L until 500L).map(k =>
    Row(k, k % 37, 1000.0 + k * 3.17, if (k % 3 == 0) "F" else "O"))
  private val ordersDigest = Digest.of(orders, orderCols)

  private val knnCols = Seq("a", "rank", "b", "dist2")
  private val knn: Seq[Row] = for (a <- 1L to 200L; r <- 1 to 3)
    yield Row(a, r, (a * 7 + r) % 1000, a * 0.5 + r * 1.25)
  private val knnDigest = Digest.of(knn, knnCols)

  private def incorrect(failures: Seq[String]): Boolean = {
    val m = new Meter(None)
    m.check(failures)
    m.problems.nonEmpty
  }

  test("the unperturbed tables pass every check") {
    assert(!incorrect(Checks.table("orders", orders, orderCols, ordersDigest) ++
      Checks.uniqueKey("orders", orders, orderCols, "o_orderkey") ++
      Checks.table("knn", knn, knnCols, knnDigest)))
    assert(Digest.of(orders.reverse, orderCols) == ordersDigest, "row order must not matter")
  }

  test("one row dropped") {
    assert(incorrect(Checks.table("orders", orders.tail, orderCols, ordersDigest)))
  }

  test("one price moved by 0.01") {
    val moved = orders.updated(123, Row(123L, 123L % 37, 1000.0 + 123 * 3.17 + 0.01, "O"))
    assert(incorrect(Checks.table("orders", moved, orderCols, ordersDigest)))
  }

  test("one duplicated key") {
    val extra = orders :+ orders(42)
    assert(incorrect(Checks.table("orders", extra, orderCols, ordersDigest)))
    assert(incorrect(Checks.uniqueKey("orders", extra, orderCols, "o_orderkey")))
    // the same key on two rows with the row count unchanged
    val clash = orders.updated(43, Row(42L, 43L % 37, 1000.0 + 43 * 3.17, "O"))
    assert(incorrect(Checks.uniqueKey("orders", clash, orderCols, "o_orderkey")))
  }

  test("one changed kNN neighbour") {
    val i = knn.indexWhere(r => r.getLong(0) == 77L && r.getInt(1) == 2)
    val r = knn(i)
    val changed = knn.updated(i, Row(r.getLong(0), r.getInt(1), r.getLong(2) + 1, r.getDouble(3)))
    assert(incorrect(Checks.table("knn", changed, knnCols, knnDigest)))
  }

  test("the digest renders and hashes exactly like its Python twin digest.py") {
    // python3 -c "import digest; print(digest.digest([(1, 2.5, 'x', None, True),
    //   (-3, -0.0, 'é', 1.0000004999, False)], ['k','p','s','n','b']))"
    val rows = Seq(Row(1L, 2.5, "x", null, true), Row(-3L, -0.0, "é", 1.0000004999, false))
    assert(Digest.of(rows, Seq("k", "p", "s", "n", "b")) ==
      Digest(2, java.lang.Long.parseUnsignedLong("df36c9507c87f0e2", 16)))
  }
}
