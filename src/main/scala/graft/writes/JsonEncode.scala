package graft.writes

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.types._

/** JSON rendering shared by every REST write path (rest-items sink,
  * SharePoint fields bodies, Graph per-row mutations).
  *
  * Two things the naive `replace`-based renderers got wrong: control
  * characters inside strings (a newline in a text column produced invalid
  * JSON → server 400 → endless task retries), and non-scalar temporal types
  * (DateType rendered as a bare epoch-day integer, Row-path timestamps as an
  * unquoted `2020-01-01 00:00:00.0`). Strings escape the full control range;
  * dates, timestamps and day-time intervals (Edm.Duration) render as quoted
  * ISO-8601. */
object JsonEncode {

  def str(s: String): String = {
    val sb = new StringBuilder(s.length + 2).append('"')
    s.foreach {
      case '"'          => sb.append("\\\"")
      case '\\'         => sb.append("\\\\")
      case '\n'         => sb.append("\\n")
      case '\r'         => sb.append("\\r")
      case '\t'         => sb.append("\\t")
      case c if c < ' ' => sb.append(f"\\u${c.toInt}%04x")
      case c            => sb.append(c)
    }
    sb.append('"').toString
  }

  /** Field `i` of an InternalRow as a JSON value. */
  def value(row: InternalRow, i: Int, dt: DataType): String =
    if (row.isNullAt(i)) "null"
    else dt match {
      case StringType => str(row.getUTF8String(i).toString)
      case TimestampType =>
        str(java.time.Instant.ofEpochSecond(0, row.getLong(i) * 1000L).toString)
      case DateType => str(java.time.LocalDate.ofEpochDay(row.getInt(i).toLong).toString)
      case _: DayTimeIntervalType =>
        str(java.time.Duration.of(row.getLong(i), java.time.temporal.ChronoUnit.MICROS).toString)
      case BooleanType | ByteType | ShortType | IntegerType | LongType |
           FloatType | DoubleType | _: DecimalType =>
        String.valueOf(row.get(i, dt))
      case other => str(String.valueOf(row.get(i, other)))
    }

  /** An external-Row value (Graph mutation paths) as a JSON value. */
  def anyValue(v: Any): String = v match {
    case null                     => "null"
    case s: String                => str(s)
    case b: Boolean               => b.toString
    case t: java.sql.Timestamp    => str(t.toInstant.toString)
    case d: java.sql.Date         => str(d.toLocalDate.toString)
    case t: java.time.Instant     => str(t.toString)
    case n @ (_: Byte | _: Short | _: Int | _: Long | _: Float | _: Double) => n.toString
    case n: java.math.BigDecimal  => n.toPlainString
    case n: scala.math.BigDecimal => n.underlying.toPlainString
    case other                    => str(other.toString)
  }
}
