package graft.sources.odata

import com.fasterxml.jackson.databind.JsonNode
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.util.{ArrayBasedMapData, GenericArrayData}
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String
import scala.jdk.CollectionConverters._

/** The per-cell tree decoder that `ODataJson.RowDecoder` replaced, kept
  * verbatim as the oracle of the differential spec: a Jackson tree per
  * page, one `decodeValue` type match per cell. */
object LegacyODataJson {

  private val V2DateRe = """/Date\((-?\d+)([+-]\d{4})?\)/""".r

  /** Flatten a nested payload object into the row: SharePoint list items
    * carry their typed columns under `fields` while `id` lives on the item
    * itself (reference reads item.id and splices fields columns,
    * `graph_sharepoint_functions.cpp:384+`). The child's fields win except
    * `id`, which always comes from the top level (the Graph item GUID). */
  def unwrapNode(node: JsonNode, child: String): JsonNode = {
    val c = node.get(child)
    if (c == null || !c.isObject) node
    else {
      val m = c.asInstanceOf[com.fasterxml.jackson.databind.node.ObjectNode].deepCopy()
      node.properties().asScala.foreach { e =>
        if (e.getKey != child && (!m.has(e.getKey) || e.getKey == "id")) {
          val _ = m.replace(e.getKey, e.getValue)
        }
      }
      m
    }
  }

  /** One JSON object → InternalRow under `schema`, with the lenient coercion
    * matrix. Unknown/missing fields → null. */
  def decodeRow(node: JsonNode, schema: StructType): InternalRow =
    InternalRow.fromSeq(schema.fields.toSeq.map { f =>
      decodeValue(node.get(f.name), f.dataType)
    })

  def decodeValue(n: JsonNode, dt: DataType): Any = {
    if (n == null || n.isNull) return null
    try {
      dt match {
        case StringType =>
          UTF8String.fromString(if (n.isTextual) n.asText else n.toString)
        case BooleanType =>
          if (n.isBoolean) n.asBoolean
          else n.asText.trim.toLowerCase match {
            case "true" | "1"  => true
            case "false" | "0" => false
            case _ => null
          }
        case ByteType    => leniumLong(n).map(_.toByte).orNull
        case ShortType   => leniumLong(n).map(_.toShort).orNull
        case IntegerType => leniumLong(n).map(_.toInt).orNull
        case LongType    => leniumLong(n).map(l => l: java.lang.Long).orNull
        case FloatType   => leniumDouble(n).map(_.toFloat: java.lang.Float).orNull
        case DoubleType  => leniumDouble(n).map(d => d: java.lang.Double).orNull
        case d: DecimalType =>
          val txt = if (n.isTextual) n.asText.trim else n.asText
          if (txt.isEmpty) null
          else org.apache.spark.sql.types.Decimal(new java.math.BigDecimal(txt), d.precision, d.scale)
        case TimestampType => parseTimestampMicros(n)
        case DateType =>
          parseTimestampMicros(n) match {
            case null => null
            case micros: java.lang.Long =>
              // floorDiv, not /: truncation-toward-zero puts every pre-1970
              // date one day late (-1 micro would round to day 0, not -1)
              Math.floorDiv(micros, 86400000000L).toInt
          }
        case BinaryType =>
          java.util.Base64.getDecoder.decode(n.asText)
        case ArrayType(inner, _) =>
          val elems =
            if (n.isArray) n.elements.asScala.toSeq
            // v2 wraps collections as {"results": [...]} too
            else Option(n.get("results")).filter(_.isArray)
              .map(_.elements.asScala.toSeq).getOrElse(Seq.empty)
          new GenericArrayData(elems.map(decodeValue(_, inner)))
        case st: StructType =>
          if (n.isObject) decodeRow(n, st) else null
        case MapType(StringType, StringType, _) =>
          val kvs = n.properties().asScala.toSeq
          ArrayBasedMapData(
            kvs.map(e => UTF8String.fromString(e.getKey)).toArray,
            kvs.map(e => UTF8String.fromString(e.getValue.asText)).toArray)
        case _ => UTF8String.fromString(n.asText)
      }
    } catch {
      // lenient: any unparseable/non-exact literal → null (ArithmeticException
      // covers e.g. "1.5" for an integral target — longValueExact)
      case _: NumberFormatException | _: ArithmeticException |
           _: IllegalArgumentException => null
    }
  }

  private def leniumLong(n: JsonNode): Option[Long] =
    if (n.isNumber) Some(n.asLong)
    else {
      val t = n.asText.trim
      if (t.isEmpty) None else Some(new java.math.BigDecimal(t).longValueExact())
    }

  private def leniumDouble(n: JsonNode): Option[Double] =
    if (n.isNumber) Some(n.asDouble)
    else {
      val t = n.asText.trim
      if (t.isEmpty) None else Some(t.toDouble)
    }

  /** Timestamp in epoch micros, from ISO-8601 or the v2 `/Date(ms±HHMM)/`
    * legacy literal (reference `src/odata_content.cpp:537-538,600,665-666`). */
  def parseTimestampMicros(n: JsonNode): Any = {
    val t = n.asText.trim
    t match {
      case V2DateRe(ms, offset) =>
        // offset shifts display only; the epoch millis are absolute
        val _ = offset
        ms.toLong * 1000L
      case "" => null
      case iso =>
        try {
          val norm = if (iso.endsWith("Z") || iso.contains("+") ||
            iso.lastIndexOf('-') > 9) iso else iso + "Z"
          java.time.Instant.parse(
            if (norm.matches("""\d{4}-\d{2}-\d{2}Z""")) norm.dropRight(1) + "T00:00:00Z"
            else norm) match {
            case i => i.getEpochSecond * 1000000L + i.getNano / 1000L
          }
        } catch {
          case _: Exception =>
            try { // date-only
              java.time.LocalDate.parse(t.stripSuffix("Z")).toEpochDay * 86400000000L
            } catch { case _: Exception => null }
        }
    }
  }
}
