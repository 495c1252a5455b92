package perfbench

import java.nio.charset.StandardCharsets

import org.apache.spark.sql.Row

/** Order-independent fingerprint of a table: its row count and the
  * wrapping 64-bit sum of one hash per row. Two tables with the same
  * multiset of rows have the same digest whatever order their rows come
  * in; dropping, duplicating or changing a single value changes it.
  *
  * A row is rendered as its values in column-NAME order, joined by U+001F;
  * the hash is FNV-1a over the UTF-8 bytes followed by the splitmix64
  * finalizer. `digest.py` is the Python twin used on DuckDB oracle output,
  * so both renderings must stay identical:
  *
  *  - null → `\N`; booleans → `true`/`false`; integers → decimal;
  *  - doubles → `floor(v * 1e6 + 0.5)` as an exact integer (so the two
  *    engines agree on doubles equal to 1e-6, and a 0.01 change shows);
  *  - strings as they are.
  */
final case class Digest(rows: Long, sum: Long) {
  def +(o: Digest): Digest = Digest(rows + o.rows, sum + o.sum)
  def hex: String = f"$sum%016x"
  override def toString: String = s"$rows rows/$hex"
}

object Digest {
  val empty: Digest = Digest(0L, 0L)

  def render(v: Any): String = v match {
    case null                 => "\\N"
    case b: Boolean           => if (b) "true" else "false"
    case d: Double            => renderDouble(d)
    case f: Float             => renderDouble(f.toDouble)
    case s: String            => s
    case n: java.lang.Number  => n.toString
    case other                => other.toString
  }

  private def renderDouble(d: Double): String =
    if (d.isNaN) "nan"
    else if (d.isInfinite) (if (d > 0) "inf" else "-inf")
    else {
      val f = Math.floor(d * 1e6 + 0.5)
      if (Math.abs(f) < 9e18) f.toLong.toString
      else new java.math.BigDecimal(f).toPlainString
    }

  /** Hash of one row given as its values in column-name order. */
  def rowHash(values: Seq[Any]): Long = {
    val s = values.iterator.map(render).mkString("\u001f")
    var h = 0xcbf29ce484222325L
    if (s.forall(_ < 0x80)) {
      var i = 0
      while (i < s.length) { h = (h ^ s.charAt(i)) * 0x100000001b3L; i += 1 }
    } else s.getBytes(StandardCharsets.UTF_8).foreach(b => h = (h ^ (b & 0xff)) * 0x100000001b3L)
    h = (h ^ (h >>> 30)) * 0xbf58476d1ce4e5b9L
    h = (h ^ (h >>> 27)) * 0x94d049bb133111ebL
    h ^ (h >>> 31)
  }

  private def sum(rows: IndexedSeq[Row], order: Seq[Int]): Digest = {
    var s = 0L
    rows.foreach(r => s += rowHash(order.map(r.get)))
    Digest(rows.size.toLong, s)
  }

  /** Digest of `rows` whose columns are named `names`, in that order;
    * hashed in four slices in parallel.
    */
  def of(rows: Iterable[Row], names: Seq[String]): Digest = {
    import scala.concurrent.{Await, Future}
    import scala.concurrent.ExecutionContext.Implicits.global
    val order = names.zipWithIndex.sortBy(_._1).map(_._2)
    val v = rows.toIndexedSeq
    val step = math.max(1, (v.size + 3) / 4)
    val parts = v.indices.by(step).map(i => Future(sum(v.slice(i, i + step), order)))
    parts.map(Await.result(_, scala.concurrent.duration.Duration.Inf)).foldLeft(empty)(_ + _)
  }
}

/** The correctness checks. Each returns its failures as messages; a run is
  * correct only when every check of every round returns none.
  */
object Checks {

  /** A table read back (or held by the service) against its expected
    * digest: the same row count and the same multiset of rows.
    */
  def table(label: String, actual: Iterable[Row], names: Seq[String],
            expected: Digest): Seq[String] = {
    val got = Digest.of(actual, names)
    if (got.rows != expected.rows) Seq(s"$label: ${got.rows} rows, expected ${expected.rows}")
    else if (got.sum != expected.sum) Seq(s"$label: row digest ${got.hex}, expected ${expected.hex}")
    else Nil
  }

  /** No value of `key` occurs twice. */
  def uniqueKey(label: String, actual: Iterable[Row], names: Seq[String],
                key: String): Seq[String] = {
    val i = names.indexOf(key)
    val n = actual.size
    val distinct = actual.iterator.map(_.get(i)).toSet.size
    if (distinct != n) Seq(s"$label: ${n - distinct} duplicate values of key $key") else Nil
  }
}
