package perfbench

import java.math.{MathContext, RoundingMode, BigDecimal => JBigDecimal}
import java.nio.{ByteBuffer, ByteOrder}
import java.nio.charset.StandardCharsets.UTF_8
import java.security.MessageDigest
import java.time.{Instant, LocalDate, LocalDateTime, LocalTime, ZoneOffset}

import org.apache.spark.sql.Row
import org.apache.spark.sql.types.StructType

/** Row-order-insensitive fingerprint of a query result.
  *
  * `perfbench/measure.py` computes the same string from DuckDB rows;
  * the two must stay rule-for-rule identical. Columns are taken in name
  * order (as `tools/local_oracle.py` does), every cell is rendered to a
  * canonical string, each row is hashed with SHA-256, and the row hashes
  * are summed in two 64-bit lanes, so duplicate rows count and row order
  * does not. Numbers compare by value: an integer, a decimal and a double
  * that print the same shortest decimal digits render alike, and a
  * midnight timestamp renders as its date, as in the oracle gate. */
object Fingerprint {

  def of(schema: StructType, rows: Array[Row]): String = {
    val order = schema.fieldNames.zipWithIndex.sortBy(_._1).map(_._2)
    val cols = sha(order.map(schema.fieldNames(_)).mkString("|"))
    var s1 = 0L
    var s2 = 0L
    rows.foreach { r =>
      val d = sha(order.map(i => escape(cell(r.get(i)))).mkString("|"))
      val b = ByteBuffer.wrap(d).order(ByteOrder.LITTLE_ENDIAN)
      s1 += b.getLong(0)
      s2 += b.getLong(8)
    }
    f"${hex(cols).take(8)}:${rows.length}:$s1%016x$s2%016x"
  }

  def escape(s: String): String = s.replace("\\", "\\\\").replace("|", "\\|")

  def cell(v: Any): String = v match {
    case null => "\\N"
    case b: Boolean => if (b) "true" else "false"
    case x: Byte => x.toString
    case x: Short => x.toString
    case x: Int => x.toString
    case x: Long => x.toString
    case x: java.math.BigInteger => x.toString
    case x: BigInt => x.toString
    case x: Double => number(x)
    case x: Float => number(x.toDouble)
    case x: JBigDecimal => plain(x)
    case x: BigDecimal => plain(x.bigDecimal)
    case x: String => x
    case x: java.sql.Date => x.toLocalDate.toString
    case x: LocalDate => x.toString
    case x: java.sql.Timestamp => timestamp(x.toLocalDateTime)
    case x: Instant => timestamp(LocalDateTime.ofInstant(x, ZoneOffset.UTC))
    case x: LocalDateTime => timestamp(x)
    case x: Array[Byte] => x.map(b => f"${b & 0xff}%02x").mkString
    case x: scala.collection.Map[_, _] =>
      x.toSeq.map { case (k, w) => s"${cell(k)}: ${cell(w)}" }.sorted.mkString("{", ", ", "}")
    case x: scala.collection.Seq[_] => x.map(cell).mkString("[", ", ", "]")
    case x: Row => x.toSeq.map(cell).mkString("{", ", ", "}")
    case x => x.toString
  }

  /** Shortest decimal digits that read back as `d` (what Python's
    * `repr(float)` prints; JDK 17's `Double.toString` is not always
    * shortest), without exponent or trailing zeros. */
  def number(d: Double): String =
    if (d.isNaN) "NaN"
    else if (d.isInfinite) (if (d > 0) "Infinity" else "-Infinity")
    else if (d == 0.0) "0"
    else {
      val exact = new JBigDecimal(d)
      val shortest = Iterator.from(1).map(p => exact.round(new MathContext(p, RoundingMode.HALF_EVEN)))
        .find(_.doubleValue == d).get
      plain(shortest)
    }

  def plain(x: JBigDecimal): String =
    if (x.signum == 0) "0" else x.stripTrailingZeros.toPlainString

  def timestamp(t: LocalDateTime): String =
    if (t.toLocalTime == LocalTime.MIDNIGHT) t.toLocalDate.toString
    else {
      val micros = t.getNano / 1000
      f"${t.toLocalDate}%s ${t.getHour}%02d:${t.getMinute}%02d:${t.getSecond}%02d" +
        (if (micros != 0) f".$micros%06d" else "")
    }

  private def sha(s: String): Array[Byte] =
    MessageDigest.getInstance("SHA-256").digest(s.getBytes(UTF_8))

  private def hex(b: Array[Byte]): String = b.map(x => f"${x & 0xff}%02x").mkString
}
