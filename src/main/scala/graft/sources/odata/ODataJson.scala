package graft.sources.odata

import com.fasterxml.jackson.core.{JsonFactory, JsonParser, JsonToken}
import com.fasterxml.jackson.core.JsonParser.NumberType
import com.fasterxml.jackson.core.JsonToken._
import com.fasterxml.jackson.databind.{JsonNode, ObjectMapper}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.GenericInternalRow
import org.apache.spark.sql.catalyst.util.{ArrayBasedMapData, GenericArrayData}
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String
import scala.collection.mutable.ArrayBuffer
import scala.jdk.CollectionConverters._

/** Lenient OData v2/v4 JSON payload decoding — SURVEY.md §1.3. This is the
  * "wrong here = silently wrong data" layer (reference semantics:
  * `src/odata_content.cpp:122-182` dispatch, per-type coercions 184+):
  *
  *  - JSON null → SQL null for every type;
  *  - strings coerce to numerics/booleans when the schema demands (OData v2
  *    serializes Int64/Decimal as strings);
  *  - the v2 legacy literal `/Date(ms[±HHMM])/` parses for timestamps/dates;
  *  - envelopes: v4 `{"value":[...]}` vs v2 `{"d":{"results":[...]}}` or
  *    `{"d":[...]}`; single-entity payloads are a one-row response;
  *  - pagination links: v4 `@odata.nextLink`, v2 `__next`;
  *  - inline counts: v4 `@odata.count`, v2 `__count`.
  *
  * Two ways in. Row readers compile their read schema once into a
  * [[RowDecoder]], the way Spark's `JacksonParser.makeConverter` does: a
  * field → ordinal map and one converter per column type, run over a Jackson
  * token stream of the page bytes. One pass reads the envelope, the links
  * and the count, and writes every row straight into a pooled
  * `InternalRow`; there is no page `String` and no tree. Canonical ISO-8601
  * timestamps take a hand-written fast path; any other form goes to the
  * lenient parser. Readers that inspect payloads (catalog listings, delta
  * links, key sweeps) keep the Jackson tree: [[tree]] and [[extractPage]].
  * [[decodeRow]] runs the same converters over a tree node.
  *
  * Spark's `from_json` is NOT used deliberately — it is strict where this
  * matrix must be lenient and knows nothing about v2 date literals.
  */
object ODataJson {

  private val mapper = new ObjectMapper()
  private val factory: JsonFactory = mapper.getFactory

  /** What a page walk needs of a decoded page. */
  trait Paged {
    def size: Int
    def nextLink: Option[String]
  }

  /** A page as a Jackson tree: its rows, envelope and root. */
  final case class Page(rows: Seq[JsonNode], nextLink: Option[String], count: Option[Long],
                        root: JsonNode) extends Paged {
    def size: Int = rows.size
  }

  private val V2DateRe = """/Date\((-?\d+)([+-]\d{4})?\)/""".r

  def parse(body: String): JsonNode = mapper.readTree(body)

  /** The tree page decoder: a body read as a tree, then its envelope. */
  def tree(body: Array[Byte]): Page = extractPage(mapper.readTree(body))

  /** Envelope detection (reference `src/odata_content.cpp:38-91`). */
  def extractPage(root: JsonNode): Page = {
    def links(n: JsonNode): Option[String] = {
      val v4 = Option(n.get("@odata.nextLink")).map(_.asText)
      val v2 = Option(n.get("__next")).map(_.asText)
      v4.orElse(v2)
    }
    def count(n: JsonNode): Option[Long] = {
      val v4 = Option(n.get("@odata.count")).map(_.asLong)
      val v2 = Option(n.get("__count")).map(c => c.asText.toLong)
      v4.orElse(v2)
    }
    val d = root.get("d")
    if (d != null) {
      // v2: {"d": {"results": [...], "__next": ...}} or {"d": [...]}
      if (d.isArray) Page(d.elements.asScala.toSeq, None, None, root)
      else {
        val results = d.get("results")
        if (results != null && results.isArray)
          Page(results.elements.asScala.toSeq, links(d), count(d), root)
        else Page(Seq(d), None, None, root) // single entity
      }
    } else {
      val value = root.get("value")
      if (value != null && value.isArray)
        Page(value.elements.asScala.toSeq, links(root), count(root), root)
      else Page(Seq(root), None, None, root) // single entity (v4)
    }
  }

  /** One JSON object → a fresh InternalRow under `schema`, with the lenient
    * coercion matrix. Unknown/missing fields → null. Runs the schema's
    * compiled converters over `node.traverse()`. */
  def decodeRow(node: JsonNode, schema: StructType): InternalRow = {
    val fields = fieldsOf(schema)
    val p = node.traverse()
    try {
      p.nextToken()
      val row = fields.newRow()
      fields.read(p, row)
      row
    } finally p.close()
  }

  // the last schema `decodeRow` compiled: a caller decodes many rows of one
  @volatile private var lastFields: RowFields = _
  private def fieldsOf(schema: StructType): RowFields = {
    val f = lastFields
    if (f != null && ((f.schema eq schema) || f.schema == schema)) f
    else { val c = new RowFields(schema, None); lastFields = c; c }
  }

  /** The rows of one page and its envelope. The rows belong to the
    * [[RowDecoder]] that decoded them and are overwritten by its next page. */
  final class RowPage private[ODataJson] (rows: Array[GenericInternalRow], val size: Int,
                                          val nextLink: Option[String], val count: Option[Long])
    extends Paged {
    def iterator: Iterator[InternalRow] = rows.iterator.take(size)
  }

  /** A read schema compiled to a page decoder, for one reader: it is not
    * thread-safe, and each page's rows reuse the previous page's row objects.
    *
    * `unwrap` names a child object whose fields are the row's (SharePoint
    * list items carry their typed columns under `fields`, the reference
    * splices them, `graph_sharepoint_functions.cpp:384+`): the child's
    * fields win over the item's, except `id`, which comes from the item
    * (the Graph item GUID) when it has one. Without that child object the
    * item decodes as it is. */
  final class RowDecoder(schema: StructType, unwrap: Option[String] = None)
    extends (Array[Byte] => RowPage) {

    private val fields = new RowFields(schema, unwrap)
    private var pool = new Array[GenericInternalRow](0)
    private val single = Array(fields.newRow())

    override def apply(body: Array[Byte]): RowPage = {
      val p = factory.createParser(body)
      try {
        p.nextToken() match {
          case START_OBJECT => envelope(p, "value", root = true)
          case _ => p.skipChildren(); nulls()
        }
      } finally p.close()
    }

    /** A one-row page of nulls: the single "entity" of a non-object body. */
    private def nulls(): RowPage = {
      fields.clear(single(0))
      new RowPage(single, 1, None, None)
    }

    /** Reads the object whose `{` is current to its `}`: a page if it holds
      * a `rowsKey` array, else a single entity. At the root, `d` wins and
      * the rest of the root is ignored. */
    private def envelope(p: JsonParser, rowsKey: String, root: Boolean): RowPage = {
      var n = -1
      var v4Link, v2Link, v4Count, v2Count: Option[String] = None
      var out: RowPage = null
      val entity = single(0)
      fields.clear(entity)
      var name = p.nextFieldName()
      while (name != null) {
        val t = p.nextToken()
        if (out != null) p.skipChildren()
        else if (root && name == "d") out = v2(p, t)
        else if (name == rowsKey && t == START_ARRAY) n = rowsArray(p)
        else {
          // asText of a container is ""; the entity still reads it
          def s = if (t.isScalarValue) Some(text(p)) else Some("")
          name match {
            case "@odata.nextLink" => v4Link = s
            case "__next" => v2Link = s
            case "@odata.count" => v4Count = s
            case "__count" => v2Count = s
            case _ =>
          }
          fields.field(p, name, entity)
        }
        name = p.nextFieldName()
      }
      if (out != null) out
      else if (n < 0) new RowPage(single, 1, None, None)
      else {
        // v4 asLong: lenient, 0 when unparsable; v2 asText.toLong: strict
        val count = v4Count.map(c => com.fasterxml.jackson.core.io.NumberInput.parseAsLong(c, 0L))
          .orElse(v2Count.map(_.toLong))
        new RowPage(pool, n, v4Link.orElse(v2Link), count)
      }
    }

    private def v2(p: JsonParser, t: JsonToken): RowPage = t match {
      case START_ARRAY =>
        val n = rowsArray(p) // may grow the pool
        new RowPage(pool, n, None, None)
      case START_OBJECT => envelope(p, "results", root = false)
      case _ => p.skipChildren(); nulls()
    }

    private def rowsArray(p: JsonParser): Int = {
      var n = 0
      var t = p.nextToken()
      while (t != END_ARRAY && t != null) {
        if (n == pool.length) pool = java.util.Arrays.copyOf(pool, math.max(16, 2 * n))
        if (pool(n) == null) pool(n) = fields.newRow()
        fields.read(p, pool(n))
        n += 1
        t = p.nextToken()
      }
      n
    }
  }

  /** One struct schema's field → ordinal map and per-column converters. */
  private final class RowFields(val schema: StructType, unwrap: Option[String]) {
    private val n = schema.length
    private val ordinals = new java.util.HashMap[String, Integer]()
    schema.fieldNames.zipWithIndex.reverse.foreach { case (f, i) => ordinals.put(f, i) }
    private val convs: Array[Conv] = schema.fields.map(f => converter(f.dataType))
    private val child = unwrap.orNull
    private val idOrdinal: Int = Option(ordinals.get("id")).map(_.intValue).getOrElse(-1)
    // unwrap only: which object last set each column
    private val from = new Array[Byte](if (child == null) 0 else n)
    private final val Item: Byte = 1
    private final val Child: Byte = 2

    def newRow(): GenericInternalRow = new GenericInternalRow(n)

    def clear(row: GenericInternalRow): Unit = {
      var i = 0
      while (i < n) { row.setNullAt(i); i += 1 }
      if (child != null) java.util.Arrays.fill(from, 0.toByte)
    }

    /** Reads the value at the current token into `row`: an object's fields
      * by name, anything else as a row of nulls. */
    def read(p: JsonParser, row: GenericInternalRow): Unit = {
      clear(row)
      if (p.currentToken != START_OBJECT) p.skipChildren()
      else {
        var name = p.nextFieldName()
        while (name != null) {
          p.nextToken()
          field(p, name, row)
          name = p.nextFieldName()
        }
      }
    }

    /** The value of field `name`, current in `p`, into `row`. */
    def field(p: JsonParser, name: String, row: GenericInternalRow): Unit =
      if (child != null && name == child && p.currentToken == START_OBJECT) {
        var c = p.nextFieldName()
        while (c != null) {
          p.nextToken()
          put(p, c, row, Child)
          c = p.nextFieldName()
        }
      } else put(p, name, row, Item)

    private def put(p: JsonParser, name: String, row: GenericInternalRow, src: Byte): Unit = {
      val i = ordinals.get(name)
      if (i == null) p.skipChildren()
      else if (child != null && !wins(i, src)) p.skipChildren()
      else {
        row.update(i, value(convs(i), p))
        if (child != null) from(i) = src
      }
    }

    // the child's fields win, except `id`, which the item's wins
    private def wins(i: Int, src: Byte): Boolean =
      if (i == idOrdinal) !(src == Child && from(i) == Item)
      else !(src == Item && from(i) == Child)
  }

  /** Reads the value whose first token is current, consuming all of it. */
  private type Conv = JsonParser => Any

  /** JSON null → null; an unparseable/non-exact literal → null
    * (ArithmeticException covers e.g. "1.5" for an integral target —
    * longValueExact). Every converter consumes its value before it can throw. */
  private def value(c: Conv, p: JsonParser): Any =
    if (p.currentToken == VALUE_NULL) null
    else try c(p) catch {
      case _: NumberFormatException | _: ArithmeticException | _: IllegalArgumentException => null
    }

  private def converter(dt: DataType): Conv = dt match {
    case StringType => p =>
      p.currentToken match {
        case VALUE_STRING => UTF8String.fromString(p.getText)
        case START_OBJECT | START_ARRAY => UTF8String.fromString(json(p))
        case _ => UTF8String.fromString(text(p))
      }
    case BooleanType => p =>
      p.currentToken match {
        case VALUE_TRUE => true
        case VALUE_FALSE => false
        case _ => text(p).trim.toLowerCase match {
          case "true" | "1" => true
          case "false" | "0" => false
          case _ => null
        }
      }
    case ByteType => p => { val l = long(p); if (l == null) null else l.byteValue }
    case ShortType => p => { val l = long(p); if (l == null) null else l.shortValue }
    case IntegerType => p => { val l = long(p); if (l == null) null else l.intValue }
    case LongType => long
    case FloatType => p => { val d = double(p); if (d == null) null else d.floatValue }
    case DoubleType => double
    case d: DecimalType => p => {
      val txt = if (p.currentToken == VALUE_STRING) p.getText.trim else text(p)
      if (txt.isEmpty) null
      else Decimal(new java.math.BigDecimal(txt), d.precision, d.scale)
    }
    case TimestampType => timestampMicros
    case DateType => p => {
      val micros = timestampMicros(p)
      // floorDiv, not /: truncation-toward-zero puts every pre-1970
      // date one day late (-1 micro would round to day 0, not -1)
      if (micros == null) null else Math.floorDiv(micros.longValue, 86400000000L).toInt
    }
    case BinaryType => p => java.util.Base64.getDecoder.decode(text(p))
    case _: DayTimeIntervalType => p =>
      // Edm.Duration: ISO-8601 `[-]PnDTnHnMn.nS` to microseconds; any other
      // text (years or months included, which no day-time interval holds) is null
      try {
        val d = java.time.Duration.parse(text(p).trim)
        Math.addExact(Math.multiplyExact(d.getSeconds, 1000000L), d.getNano / 1000L)
      } catch { case _: java.time.format.DateTimeParseException => null }
    case ArrayType(inner, _) =>
      val c = converter(inner)
      p => p.currentToken match {
        case START_ARRAY => elements(p, c)
        case START_OBJECT =>
          // v2 wraps collections as {"results": [...]} too
          var out: GenericArrayData = null
          var name = p.nextFieldName()
          while (name != null) {
            if (p.nextToken() == START_ARRAY && name == "results") out = elements(p, c)
            else p.skipChildren()
            name = p.nextFieldName()
          }
          if (out == null) new GenericArrayData(Array.empty[Any]) else out
        case _ => new GenericArrayData(Array.empty[Any])
      }
    case st: StructType =>
      val fields = new RowFields(st, None)
      p =>
        if (p.currentToken == START_OBJECT) {
          val row = fields.newRow()
          fields.read(p, row)
          row
        } else { p.skipChildren(); null }
    case MapType(StringType, StringType, _) => p => {
      val keys = ArrayBuffer[UTF8String]()
      val vals = ArrayBuffer[UTF8String]()
      if (p.currentToken != START_OBJECT) p.skipChildren()
      else {
        var name = p.nextFieldName()
        while (name != null) {
          p.nextToken()
          keys += UTF8String.fromString(name)
          vals += UTF8String.fromString(text(p))
          name = p.nextFieldName()
        }
      }
      ArrayBasedMapData(keys.toArray, vals.toArray)
    }
    case _ => p => UTF8String.fromString(text(p))
  }

  private def elements(p: JsonParser, c: Conv): GenericArrayData = {
    val out = ArrayBuffer[Any]()
    var t = p.nextToken()
    while (t != END_ARRAY && t != null) {
      out += value(c, p)
      t = p.nextToken()
    }
    new GenericArrayData(out.toArray)
  }

  /** The current value as Jackson's `JsonNode.asText` renders it: a
    * container (consumed) is "", null is "null", a number is re-rendered
    * from its parsed value. */
  private def text(p: JsonParser): String = p.currentToken match {
    case VALUE_STRING => p.getText
    case VALUE_NUMBER_INT =>
      if (p.getNumberType == NumberType.BIG_INTEGER) p.getBigIntegerValue.toString
      else java.lang.Long.toString(p.getLongValue)
    case VALUE_NUMBER_FLOAT => java.lang.Double.toString(p.getDoubleValue)
    case VALUE_TRUE => "true"
    case VALUE_FALSE => "false"
    case VALUE_NULL => "null"
    case _ => p.skipChildren(); ""
  }

  /** The current container as compact JSON, as `JsonNode.toString` renders it. */
  private def json(p: JsonParser): String = {
    val w = new java.io.StringWriter()
    val g = factory.createGenerator(w)
    try g.copyCurrentStructure(p) finally g.close()
    w.toString
  }

  private def long(p: JsonParser): java.lang.Long = p.currentToken match {
    case VALUE_NUMBER_INT =>
      if (p.getNumberType == NumberType.BIG_INTEGER) p.getBigIntegerValue.longValue
      else p.getLongValue
    case VALUE_NUMBER_FLOAT => p.getDoubleValue.toLong
    case _ =>
      val t = text(p).trim
      if (t.isEmpty) null else new java.math.BigDecimal(t).longValueExact()
  }

  private def double(p: JsonParser): java.lang.Double = p.currentToken match {
    case VALUE_NUMBER_INT | VALUE_NUMBER_FLOAT => p.getDoubleValue
    case _ =>
      val t = text(p).trim
      if (t.isEmpty) null else java.lang.Double.parseDouble(t)
  }

  private def timestampMicros(p: JsonParser): java.lang.Long = {
    val s = text(p)
    val fast = isoMicros(s)
    if (fast != NotIso) fast else lenientMicros(s).asInstanceOf[java.lang.Long]
  }

  private final val NotIso = Long.MinValue

  /** Epoch micros of a canonical ISO-8601 text — `yyyy-MM-dd`, then
    * optionally `Thh:mm:ss` with 1-9 fraction digits, then `Z`, `±hh:mm` or
    * no zone (UTC) — with every field in range; `NotIso` for any other text.
    * Agrees with [[lenientMicros]] wherever it answers. */
  private def isoMicros(s: String): Long = {
    val len = s.length
    def digit(i: Int): Int = { val c = s.charAt(i) - '0'; if (c < 0 || c > 9) -100000 else c }
    def two(i: Int): Int = digit(i) * 10 + digit(i + 1)
    if (len < 10 || s.charAt(4) != '-' || s.charAt(7) != '-') return NotIso
    val y = two(0) * 100 + two(2)
    val m = two(5)
    val d = two(8)
    if (y < 0 || m < 1 || m > 12 || d < 1 || d > monthDays(y, m)) return NotIso
    val day = epochDay(y, m, d) * 86400000000L
    if (len == 10 || (len == 11 && s.charAt(10) == 'Z')) return day
    if (len < 19 || s.charAt(10) != 'T' || s.charAt(13) != ':' || s.charAt(16) != ':') return NotIso
    val hh = two(11)
    val mm = two(14)
    val ss = two(17)
    if (hh < 0 || hh > 23 || mm < 0 || mm > 59 || ss < 0 || ss > 59) return NotIso
    var micros = day + (hh * 3600L + mm * 60L + ss) * 1000000L
    var i = 19
    if (i < len && s.charAt(i) == '.') {
      i += 1
      var frac = 0L
      var k = 0
      while (i < len && digit(i) >= 0) { frac = frac * 10 + digit(i); i += 1; k += 1 }
      if (k == 0 || k > 9) return NotIso
      while (k < 6) { frac *= 10; k += 1 }
      while (k > 6) { frac /= 10; k -= 1 }
      micros += frac
    }
    if (i == len || (i + 1 == len && s.charAt(i) == 'Z')) micros
    else if (i + 6 == len && (s.charAt(i) == '+' || s.charAt(i) == '-') && s.charAt(i + 3) == ':') {
      val oh = two(i + 1)
      val om = two(i + 4)
      if (oh < 0 || oh > 17 || om < 0 || om > 59) NotIso
      else {
        val offset = (oh * 3600L + om * 60L) * 1000000L
        if (s.charAt(i) == '+') micros - offset else micros + offset
      }
    } else NotIso
  }

  private def monthDays(y: Int, m: Int): Int = m match {
    case 2 => if ((y % 4 == 0 && y % 100 != 0) || y % 400 == 0) 29 else 28
    case 4 | 6 | 9 | 11 => 30
    case _ => 31
  }

  /** Days since 1970-01-01 of a proleptic Gregorian date, years 0-9999. */
  private def epochDay(y: Int, m: Int, d: Int): Long = {
    val yy = if (m <= 2) y - 1 else y
    val era = Math.floorDiv(yy, 400)
    val yoe = yy - era * 400
    val doy = (153 * (if (m > 2) m - 3 else m + 9) + 2) / 5 + d - 1
    val doe = yoe * 365 + yoe / 4 - yoe / 100 + doy
    era * 146097L + doe - 719468L
  }

  /** Timestamp in epoch micros, from ISO-8601 or the v2 `/Date(ms±HHMM)/`
    * legacy literal (reference `src/odata_content.cpp:537-538,600,665-666`). */
  private def lenientMicros(text: String): Any = {
    val t = text.trim
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
