package graft.sources.odata

import org.apache.spark.sql.sources._
import org.apache.spark.sql.types._
import org.scalatest.funsuite.AnyFunSuite

class ODataFilterCompilerSpec extends AnyFunSuite {
  import ODataFilterCompiler._

  test("comparison operators render OData comparison keywords") {
    assert(translate(EqualTo("Country", "Germany"), v2 = false).contains("Country eq 'Germany'"))
    assert(translate(GreaterThan("Revenue", 5000L), v2 = false).contains("Revenue gt 5000"))
    assert(translate(LessThanOrEqual("Revenue", 10), v2 = false).contains("Revenue le 10"))
    assert(translate(Not(EqualTo("A", 1)), v2 = false).contains("A ne 1"))
  }

  test("string quoting escapes single quotes (v2 '' escaping, ref :795-810)") {
    assert(translate(EqualTo("Name", "O'Brien"), v2 = true).contains("Name eq 'O''Brien'"))
  }

  test("booleans lowercase, nulls via eq/ne null") {
    assert(translate(EqualTo("Active", true), v2 = false).contains("Active eq true"))
    assert(translate(IsNull("X"), v2 = false).contains("X eq null"))
    assert(translate(IsNotNull("X"), v2 = false).contains("X ne null"))
  }

  test("and/or conjunctions parenthesized, nested") {
    val f = Or(And(EqualTo("A", 1), EqualTo("B", 2)), EqualTo("C", 3))
    assert(translate(f, v2 = false).contains("((A eq 1 and B eq 2) or C eq 3)"))
  }

  test("empty-string and oversized literals are refused -> residual (ref :747-757)") {
    assert(translate(EqualTo("A", ""), v2 = false).isEmpty)
    assert(translate(EqualTo("A", "x" * 1001), v2 = false).isEmpty)
    val c = compile(Array(EqualTo("A", ""), EqualTo("B", "ok")), v2 = false)
    assert(c.residual.length == 1 && c.pushed.length == 1)
    assert(c.expr.contains("(B eq 'ok')"))
  }

  test("IN expands to eq-or chain; contains differs by version") {
    assert(translate(In("A", Array(1, 2)), v2 = false).contains("(A eq 1 or A eq 2)"))
    assert(translate(StringContains("A", "x"), v2 = false).contains("contains(A, 'x')"))
    assert(translate(StringContains("A", "x"), v2 = true).contains("substringof('x', A)"))
  }

  test("untranslatable filters become residual") {
    val c = compile(Array(EqualNullSafe("A", 1)), v2 = false)
    assert(c.expr.isEmpty && c.residual.length == 1)
  }
}

class ODataUrlSpec extends AnyFunSuite {
  test("parse decodes %24-encoded option names (canonicalize, ref :126-236)") {
    val u = ODataUrl.parse("http://h/svc/Set?%24filter=A%20eq%201&x=1")
    assert(u.params.contains("$filter" -> "A eq 1"))
    assert(u.params.contains("x" -> "1"))
  }

  test("filter merge ANDs with existing; select/top overwrite") {
    val u = ODataUrl.parse("http://h/s?$filter=A eq 1")
      .mergeFilter("B eq 2").withParam("$top", "5").withParam("$top", "3")
    assert(u.params.contains("$filter" -> "(A eq 1) and (B eq 2)"))
    assert(u.params.count(_._1 == "$top") == 1)
    assert(u.params.contains("$top" -> "3"))
  }

  test("render single-encodes; $ stays readable; round-trips through decode") {
    val r = ODataUrl.parse("http://h/s").withParam("$filter", "Name eq 'A B'").render
    assert(r.startsWith("http://h/s?$filter="))
    assert(ODataUrl.parse(r).params.contains("$filter" -> "Name eq 'A B'"))
  }
}

class ODataJsonSpec extends AnyFunSuite {
  import ODataJson._
  import ODataJsonCells.decodeValue

  private def node(s: String) = parse(s)

  test("envelope detection: v4 value[], v2 d.results, v2 d[], single entity") {
    assert(extractPage(node("""{"value":[{"a":1}],"@odata.nextLink":"n"}""")).nextLink.contains("n"))
    assert(extractPage(node("""{"d":{"results":[{"a":1}],"__next":"m"}}""")).nextLink.contains("m"))
    assert(extractPage(node("""{"d":[{"a":1},{"a":2}]}""")).rows.size == 2)
    assert(extractPage(node("""{"a":1}""")).rows.size == 1)
  }

  test("inline count: v4 @odata.count, v2 string __count") {
    assert(extractPage(node("""{"value":[],"@odata.count":42}""")).count.contains(42L))
    assert(extractPage(node("""{"d":{"results":[],"__count":"17"}}""")).count.contains(17L))
  }

  test("lenient numeric coercion: v2 string-typed Int64/Decimal") {
    val row = node("""{"big":"9007199254740993","dec":"12.50","f":"2.5"}""")
    assert(decodeValue(row.get("big"), LongType) == 9007199254740993L)
    assert(decodeValue(row.get("dec"), DecimalType(10, 2)).toString == "12.50")
    assert(decodeValue(row.get("f"), DoubleType) == 2.5)
  }

  test("null maps to SQL null for every type; bad literals null out") {
    val row = node("""{"n":null,"junk":"abc"}""")
    assert(decodeValue(row.get("n"), LongType) == null)
    assert(decodeValue(row.get("n"), StringType) == null)
    assert(decodeValue(row.get("junk"), IntegerType) == null)
  }

  test("v2 /Date(ms)/ legacy literal for timestamps and dates (ref :537-538)") {
    val row = node("""{"d1":"/Date(946684800000)/","d2":"/Date(946684800000+0100)/"}""")
    assert(decodeValue(row.get("d1"), TimestampType) == 946684800000000L)
    // offset does not shift the absolute epoch instant
    assert(decodeValue(row.get("d2"), TimestampType) == 946684800000000L)
    assert(decodeValue(row.get("d1"), DateType) == 10957) // 2000-01-01
  }

  test("pre-1970 dates: floorDiv, not truncation") {
    // 1969-12-31T00:00:00Z = -86400000 ms = epoch day -1
    val row = node(
      """{"a":"/Date(-86400000)/","b":"1969-12-31","c":"1969-12-31T12:00:00Z",
        |"d":"/Date(-1)/","e":"1899-12-30"}""".stripMargin)
    assert(decodeValue(row.get("a"), DateType) == -1)
    assert(decodeValue(row.get("b"), DateType) == -1)
    assert(decodeValue(row.get("c"), DateType) == -1) // mid-day still day -1
    assert(decodeValue(row.get("d"), DateType) == -1) // 1ms before epoch -> day -1
    assert(decodeValue(row.get("e"), DateType) ==
      java.time.LocalDate.of(1899, 12, 30).toEpochDay.toInt)
    assert(decodeValue(row.get("a"), TimestampType) == -86400000000L)
  }

  test("ISO timestamps with and without zone") {
    val row = node("""{"t1":"2020-06-01T12:00:00Z","t2":"2020-06-01T12:00:00"}""")
    assert(decodeValue(row.get("t1"), TimestampType) == 1591012800000000L)
    assert(decodeValue(row.get("t2"), TimestampType) == 1591012800000000L)
  }

  test("boolean leniency: true/'true'/'1'") {
    val row = node("""{"a":true,"b":"true","c":"1","d":"nope"}""")
    assert(decodeValue(row.get("a"), BooleanType) == true)
    assert(decodeValue(row.get("b"), BooleanType) == true)
    assert(decodeValue(row.get("c"), BooleanType) == true)
    assert(decodeValue(row.get("d"), BooleanType) == null)
  }

  test("nested struct + v2 collection-as-results wrapper") {
    val st = StructType(Seq(StructField("x", IntegerType)))
    val row = node("""{"obj":{"x":7},"arr":{"results":[{"x":1},{"x":2}]}}""")
    assert(decodeValue(row.get("obj"), st).asInstanceOf[org.apache.spark.sql.catalyst.InternalRow].getInt(0) == 7)
    val arr = decodeValue(row.get("arr"), ArrayType(st))
      .asInstanceOf[org.apache.spark.sql.catalyst.util.GenericArrayData]
    assert(arr.numElements() == 2)
  }

  test("Edm.Duration: ISO-8601 day-time text decodes to interval microseconds and encodes back") {
    import org.apache.spark.sql.catalyst.expressions.UnsafeProjection
    val schema = StructType(Seq(StructField("d", DayTimeIntervalType())))
    val page = new RowDecoder(schema)(
      """{"value":[{"d":"PT1H"},{"d":"-P1DT0.5S"},{"d":null}]}""".getBytes("UTF-8"))
    val project = UnsafeProjection.create(schema)
    val out = page.iterator.map(r => project(r).copy()).toSeq
    assert(out.map(r => if (r.isNullAt(0)) None else Some(r.getLong(0))) ==
      Seq(Some(3600000000L), Some(-86400500000L), None))
    val json = graft.writes.JsonEncode.value(out(1), 0, DayTimeIntervalType())
    assert(json == "\"PT-24H-0.5S\"")
    val back = new RowDecoder(schema)(s"""{"value":[{"d":$json}]}""".getBytes("UTF-8"))
    assert(back.iterator.next().getLong(0) == -86400500000L)
  }
}
