package perfbench

import java.nio.charset.StandardCharsets.UTF_8

import org.apache.spark.sql.Row

/** Engine-neutral result hash. `derive_hashes.py` computes the same
  * bytes from the DuckDB oracle's result, so a query's Spark output and
  * its oracle hash equal exactly when they hold the same values in the
  * same row order:
  *  - columns are taken in order of their lower-cased names;
  *  - doubles and floats by their IEEE-754 double bits (bit equality,
  *    the same test the oracle compare applies);
  *  - decimals as plain strings with trailing zeros stripped;
  *  - timestamps as epoch microseconds, dates as epoch days;
  *  - strings length-prefixed by their UTF-8 byte count. */
object Canon {

  def value(v: Any): String = v match {
    case null => "N"
    case b: Boolean => if (b) "b1" else "b0"
    case d: Double => "F" + doubleBits(d)
    case f: Float => "F" + doubleBits(f.toDouble)
    case i: Byte => "i" + i
    case i: Short => "i" + i
    case i: Int => "i" + i
    case i: Long => "i" + i
    case d: java.math.BigDecimal => "D" + plain(d)
    case d: scala.math.BigDecimal => "D" + plain(d.bigDecimal)
    case t: java.sql.Timestamp => "T" + micros(t.toInstant)
    case t: java.time.Instant => "T" + micros(t)
    case t: java.time.LocalDateTime => "T" + micros(t.toInstant(java.time.ZoneOffset.UTC))
    case d: java.sql.Date => "d" + d.toLocalDate.toEpochDay
    case d: java.time.LocalDate => "d" + d.toEpochDay
    case s: String => "s" + s.getBytes(UTF_8).length + ":" + s
    case r: Row => "r[" + r.toSeq.map(value).mkString(",") + "]"
    case s: scala.collection.Seq[_] => "l[" + s.map(value).mkString(",") + "]"
    case a: Array[Byte] => "x" + a.map(b => f"${b & 0xff}%02x").mkString
    case other => throw new IllegalArgumentException(
      s"no canonical form for ${other.getClass.getName}")
  }

  private def doubleBits(d: Double): String =
    if (d.isNaN) "nan" else f"${java.lang.Double.doubleToRawLongBits(d)}%016x"

  private def plain(d: java.math.BigDecimal): String =
    if (d.signum == 0) "0" else d.stripTrailingZeros.toPlainString

  private def micros(t: java.time.Instant): Long =
    Math.addExact(Math.multiplyExact(t.getEpochSecond, 1000000L), (t.getNano / 1000).toLong)

  /** Canonical text of one row, fields in the given column order. */
  def row(r: Row, order: Seq[Int]): String = order.map(i => value(r.get(i))).mkString("\u001f")

  /** (row count, SHA-256 hex) of a result in its row order. */
  def hash(columns: Seq[String], rows: Iterator[Row]): (Long, String) = {
    val order = columns.indices.sortBy(i => columns(i).toLowerCase)
    val md = java.security.MessageDigest.getInstance("SHA-256")
    md.update(order.map(i => columns(i).toLowerCase).mkString("\u001f").getBytes(UTF_8))
    var n = 0L
    rows.foreach { r =>
      md.update("\u001e".getBytes(UTF_8))
      md.update(row(r, order).getBytes(UTF_8))
      n += 1
    }
    (n, md.digest().map(b => f"${b & 0xff}%02x").mkString)
  }
}
