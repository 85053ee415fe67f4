package graft.perfbench

import java.nio.charset.StandardCharsets.UTF_8
import java.security.MessageDigest
import org.apache.spark.sql.Row
import org.apache.spark.sql.catalyst.util.DateTimeUtils

/** Order-free digest of a query result, the same one `oracle.py` takes of
  * DuckDB's result. It follows tools/parity.py: columns sorted by name,
  * rows compared as a multiset, values exact (a double by its bits, so
  * 0.1 + 0.2 never equals 0.3). Column types are not compared. */
object Canon {
  private def hex(b: Array[Byte]): String = b.map("%02x".format(_)).mkString

  private def double(d: Double): String =
    if (d.isNaN) "dNaN" else "d%016x".format(java.lang.Double.doubleToRawLongBits(d))

  private def value(v: Any): String = v match {
    case null => "N"
    case b: Boolean => if (b) "T" else "F"
    case x: Byte => "i" + x
    case x: Short => "i" + x
    case x: Int => "i" + x
    case x: Long => "i" + x
    case d: Double => double(d)
    case f: Float => double(f.toDouble)
    case d: java.math.BigDecimal => "m" + d.stripTrailingZeros.toPlainString
    case d: scala.math.BigDecimal => value(d.bigDecimal)
    case s: String => "s" + s.getBytes(UTF_8).length + ":" + s
    case b: Array[Byte] => "b" + hex(b)
    case t: java.sql.Timestamp => "t" + DateTimeUtils.fromJavaTimestamp(t)
    case t: java.time.Instant => "t" + DateTimeUtils.instantToMicros(t)
    case t: java.time.LocalDateTime => "t" + DateTimeUtils.localDateTimeToMicros(t)
    case d: java.sql.Date => "D" + DateTimeUtils.fromJavaDate(d)
    case d: java.time.LocalDate => "D" + d.toEpochDay
    case r: Row => r.toSeq.map(value).mkString("{", ",", "}")
    case m: scala.collection.Map[_, _] =>
      m.toSeq.map { case (k, x) => value(k) + "=" + value(x) }.sorted.mkString("<", ",", ">")
    case s: scala.collection.Seq[_] => s.map(value).mkString("[", ",", "]")
    case other => throw new IllegalArgumentException(s"no canonical form for ${other.getClass}")
  }

  private def sha(s: String): String =
    hex(MessageDigest.getInstance("SHA-256").digest(s.getBytes(UTF_8)))

  /** sha256 over the sorted column names and the sorted row digests. */
  def digest(columns: Seq[String], rows: Array[Row]): String = {
    val order = columns.indices.sortBy(columns(_))
    val rowDigests = rows.map(r => sha(order.map(i => value(r.get(i))).mkString("\u001f"))).sorted
    sha(order.map(columns(_)).mkString("\u001f") + "\n" + rowDigests.mkString("\n"))
  }
}
