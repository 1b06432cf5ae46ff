package perfbench

import scala.collection.mutable
import scala.util.hashing.MurmurHash3

import org.apache.spark.sql.Row

/** Benchmark-side key→row model of every write the benchmark issued. The
  * table is expected to hold exactly these rows; reads are checked
  * against it. Rows compare by their canonical text, so a model row and
  * the same row read back from the table agree whenever every value
  * does.
  */
final class Model(val keyField: Int) {
  val rows = mutable.HashMap[Long, Row]()

  def put(r: Row): Unit = rows(r.getLong(keyField)) = r
  def remove(k: Long): Boolean = rows.remove(k).isDefined
  def size: Int = rows.size

  /** Error text when `got` is not exactly the model's rows for `keys`. */
  def checkLookup(keys: Seq[Long], got: Seq[Row]): Option[String] =
    Model.compare(keys.distinct.flatMap(rows.get), got)

  /** Error text when the table's full contents disagree with the model
    * in count or in the order-insensitive content hash. */
  def checkTable(got: Seq[Row]): Option[String] = {
    val (n, h) = Model.digest(got)
    val (wn, wh) = Model.digest(rows.values)
    if (n != wn) Some(s"table has $n rows, model has $wn")
    else if (h != wh) Some(f"table content hash $h%016x differs from model $wh%016x")
    else None
  }
}

object Model {
  def canonical(r: Row): String =
    r.toSeq.map(v => if (v == null) "\u0000" else v.toString).mkString("\u0001")

  /** 64-bit hash of one row's canonical text. */
  def rowHash(r: Row): Long = {
    val s = canonical(r)
    (MurmurHash3.stringHash(s, 0x9747b28c).toLong << 32) |
      (MurmurHash3.stringHash(s, 0x5bd1e995).toLong & 0xffffffffL)
  }

  /** (row count, order-insensitive sum of row hashes). */
  def digest(rs: Iterable[Row]): (Long, Long) = {
    var n = 0L
    var h = 0L
    rs.foreach { r => n += 1; h += rowHash(r) }
    (n, h)
  }

  /** Exact multiset comparison of two small row sets. */
  def compare(want: Seq[Row], got: Seq[Row]): Option[String] = {
    val w = want.map(canonical).sorted
    val g = got.map(canonical).sorted
    if (w.size != g.size) Some(s"returned ${g.size} rows, model has ${w.size}")
    else w.zip(g).collectFirst {
      case (a, b) if a != b =>
        s"row differs: model ${a.replace('\u0001', '|')} got ${b.replace('\u0001', '|')}"
    }
  }

  /** Bytes a user submits for a row: 8 per fixed-width value, the UTF-8
    * length of a string. The base of `write_amp`. */
  def userBytes(r: Row): Long = r.toSeq.map {
    case s: String => s.getBytes(java.nio.charset.StandardCharsets.UTF_8).length.toLong
    case null => 0L
    case _ => 8L
  }.sum
}
