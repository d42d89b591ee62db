package graft.sources.odata

import com.fasterxml.jackson.databind.{JsonNode, ObjectMapper}
import java.nio.charset.StandardCharsets.UTF_8
import org.apache.spark.sql.Row
import org.apache.spark.sql.catalyst.{CatalystTypeConverters, InternalRow}
import org.apache.spark.sql.types._
import org.scalacheck.{Gen, Prop, Test => SCTest}
import org.scalacheck.Prop.propBoolean
import org.scalatest.funsuite.AnyFunSuite
import scala.jdk.CollectionConverters._

/** A cell decoded the production way: `n` as the one column `v` of a
  * one-row page, through the schema-compiled [[ODataJson.RowDecoder]]. */
object ODataJsonCells {
  private val mapper = new ObjectMapper()

  def decodeValue(n: JsonNode, dt: DataType): Any = {
    val row = mapper.createObjectNode()
    row.set[JsonNode]("v", n)
    val page = new ODataJson.RowDecoder(StructType(Seq(StructField("v", dt))))(
      mapper.writeValueAsBytes(row))
    page.iterator.next().get(0, dt)
  }
}

/** The schema-compiled streaming decoder against the per-cell tree decoder
  * it replaced ([[LegacyODataJson]]), on random pages: every envelope
  * shape, v2 string numerics, `/Date(ms±HHMM)/`, ISO instants with 0-10
  * fraction digits and offsets, date-only values, nested arrays, structs
  * and maps, the SharePoint `fields` unwrap, and garbage of every kind in
  * every column. Rows, next links and counts must agree exactly. */
class ODataJsonDifferentialSpec extends AnyFunSuite {

  private val mapper = new ObjectMapper()

  private val inner = StructType(Seq(
    StructField("x", IntegerType), StructField("t", TimestampType)))
  private val schema = StructType(Seq(
    StructField("id", StringType), StructField("s", StringType),
    StructField("b", BooleanType), StructField("by", ByteType),
    StructField("sh", ShortType), StructField("i", IntegerType),
    StructField("l", LongType), StructField("f", FloatType),
    StructField("d", DoubleType), StructField("dec", DecimalType(18, 4)),
    StructField("ts", TimestampType), StructField("dt", DateType),
    StructField("bin", BinaryType), StructField("arr", ArrayType(LongType)),
    StructField("arrs", ArrayType(inner)), StructField("st", inner),
    StructField("m", MapType(StringType, StringType))))
  private val toRow = CatalystTypeConverters.createToScalaConverter(schema)

  private def str(s: String): String = mapper.writeValueAsString(s)
  private def pad(n: Int): String = "%0" + n + "d"

  private val isoText: Gen[String] = for {
    y <- Gen.frequency(8 -> Gen.choose(1900, 2100), 1 -> Gen.choose(0, 9999))
    mo <- Gen.frequency(12 -> Gen.choose(1, 12), 1 -> Gen.oneOf(0, 13))
    d <- Gen.frequency(10 -> Gen.choose(1, 28), 3 -> Gen.choose(29, 31), 1 -> Gen.const(32))
    h <- Gen.frequency(10 -> Gen.choose(0, 23), 1 -> Gen.const(24))
    mi <- Gen.choose(0, 59)
    s <- Gen.frequency(10 -> Gen.choose(0, 59), 1 -> Gen.const(60))
    digits <- Gen.choose(0, 10)
    frac <- Gen.listOfN(digits, Gen.numChar).map(_.mkString)
    zone <- Gen.frequency(4 -> Gen.const("Z"), 3 -> Gen.const(""),
      3 -> (for { sign <- Gen.oneOf("+", "-"); oh <- Gen.choose(0, 19); om <- Gen.oneOf(0, 30, 45, 59) }
        yield f"$sign$oh%02d:$om%02d"),
      1 -> Gen.oneOf("+0100", "z", " Z", "+1:00"))
    shape <- Gen.frequency(10 -> Gen.const("full"), 2 -> Gen.const("date"),
      1 -> Gen.const("dateZ"), 1 -> Gen.const("minutes"), 1 -> Gen.const("padded"),
      1 -> Gen.const("lowerT"))
  } yield {
    val date = s"${pad(4).format(y)}-${pad(2).format(mo)}-${pad(2).format(d)}"
    val time = f"$h%02d:$mi%02d:$s%02d" + (if (digits == 0) "" else "." + frac)
    shape match {
      case "date" => date
      case "dateZ" => date + "Z"
      case "minutes" => date + f"T$h%02d:$mi%02d" + zone
      case "padded" => s"  ${date}T$time$zone "
      case "lowerT" => s"${date}t$time$zone"
      case _ => s"${date}T$time$zone"
    }
  }

  private val v2Date: Gen[String] = for {
    ms <- Gen.frequency(5 -> Gen.choose(-62135596800000L, 253402300799000L),
      1 -> Gen.const(Long.MaxValue))
    off <- Gen.oneOf("", "+0100", "-0230", "+01:00")
    big <- Gen.frequency(9 -> Gen.const(""), 1 -> Gen.const("99999999999999999999"))
  } yield s"/Date(${if (big.nonEmpty) big else ms.toString}$off)/"

  private val numericText: Gen[String] = Gen.oneOf(
    Gen.chooseNum(Long.MinValue, Long.MaxValue).map(_.toString),
    Gen.chooseNum(-1e12, 1e12).map(_.toString),
    Gen.chooseNum(-999999999L, 999999999L).map(u => java.math.BigDecimal.valueOf(u, 3).toPlainString),
    Gen.oneOf("9223372036854775808", "-0", "1e3", "0x10", "NaN", "Infinity", "1.5", "  42 ", "", " ",
      "true", "FALSE", "1", "0", "yes"))

  private val scalar: Gen[String] = Gen.frequency(
    4 -> Gen.chooseNum(Long.MinValue, Long.MaxValue).map(_.toString),
    2 -> Gen.chooseNum(-300, 300).map(_.toString),
    1 -> Gen.oneOf("12345678901234567890123", "-0", "1e3", "1.0E-5", "-0.0", "2.5e300"),
    3 -> Gen.chooseNum(-1e9, 1e9).map(_.toString),
    4 -> numericText.map(str),
    5 -> isoText.map(str),
    2 -> v2Date.map(str),
    2 -> Gen.oneOf("true", "false", "null"),
    2 -> Gen.oneOf("aGVsbG8=", "not base64!", "", "AAEC").map(str),
    3 -> Gen.listOf(Gen.oneOf(Gen.alphaNumChar, Gen.oneOf('"', '\\', '€', '中', ' ', '\n')))
      .map(cs => str(cs.mkString)))

  private def value(depth: Int): Gen[String] =
    if (depth >= 2) scalar
    else Gen.frequency(
      10 -> scalar,
      2 -> Gen.listOf(value(depth + 1)).map(_.take(4).mkString("[", ",", "]")),
      1 -> Gen.listOf(value(depth + 1)).map(vs => s"""{"results":${vs.take(3).mkString("[", ",", "]")}}"""),
      2 -> obj(Seq("x", "t", "results", "k"), depth + 1))

  private def obj(keys: Seq[String], depth: Int): Gen[String] = for {
    ks <- Gen.someOf(keys)
    vs <- Gen.listOfN(ks.size, value(depth))
  } yield ks.zip(vs).map { case (k, v) => s"${str(k)}:$v" }.mkString("{", ",", "}")

  private val columns = schema.fieldNames.toSeq ++ Seq("unknown", "@odata.etag")

  /** A row object, maybe with a SharePoint `fields` child. */
  private val row: Gen[String] = for {
    top <- Gen.someOf(columns)
    tv <- Gen.listOfN(top.size, value(0))
    child <- Gen.option(for {
      ks <- Gen.someOf(columns)
      vs <- Gen.listOfN(ks.size, value(0))
    } yield ks.zip(vs).map { case (k, v) => s"${str(k)}:$v" }.mkString("{", ",", "}"))
    at <- Gen.choose(0, top.size)
    notObject <- Gen.frequency(30 -> false, 1 -> true)
  } yield {
    val fields = top.zip(tv).map { case (k, v) => s"${str(k)}:$v" }
    val withChild = child.fold(fields)(c => fields.patch(at, Seq(s""""fields":$c"""), 0))
    if (notObject) "[1,2]" else withChild.mkString("{", ",", "}")
  }

  private val page: Gen[String] = for {
    rows <- Gen.choose(0, 5).flatMap(Gen.listOfN(_, row)).map(_.mkString("[", ",", "]"))
    link <- Gen.option(Gen.const(str("http://h/svc/Set?$skiptoken=5")))
    count <- Gen.option(Gen.choose(0, 100000))
    shape <- Gen.oneOf("v4", "v2", "v2array", "single", "v2single", "v4d")
    single <- row
    shuffle <- Gen.oneOf(true, false)
  } yield {
    def obj(kv: Seq[String]): String = (if (shuffle) kv.reverse else kv).mkString("{", ",", "}")
    shape match {
      case "v4" => obj(Seq(""""@odata.context":"$metadata#Set"""") ++
        count.map(c => s""""@odata.count":$c""") ++ Seq(s""""value":$rows""") ++
        link.map(l => s""""@odata.nextLink":$l"""))
      case "v2" => s"""{"d":${obj(Seq(s""""results":$rows""") ++
        count.map(c => s""""__count":"$c"""") ++ link.map(l => s""""__next":$l"""))}}"""
      case "v2array" => s"""{"d":$rows}"""
      case "single" => single
      case "v2single" => s"""{"d":$single}"""
      case _ => obj(Seq(s""""value":$rows""", s""""d":{"results":$rows}"""))
    }
  }

  private def rowsOf(rows: Iterator[InternalRow]): Seq[Row] = rows.map(r => toRow(r).asInstanceOf[Row]).toSeq

  test("the compiled decoder matches the per-cell tree decoder on random pages") {
    val prop = Prop.forAll(page, Gen.oneOf(None, Some("fields"))) { (body, unwrap) =>
      val tree = ODataJson.extractPage(ODataJson.parse(body))
      val want = rowsOf(tree.rows.iterator.map(n =>
        LegacyODataJson.decodeRow(unwrap.fold(n)(LegacyODataJson.unwrapNode(n, _)), schema)))
      val got = new ODataJson.RowDecoder(schema, unwrap)(body.getBytes(UTF_8))
      val viaTree = rowsOf(tree.rows.iterator.map(ODataJson.decodeRow(_, schema)))
      val plain = rowsOf(tree.rows.iterator.map(LegacyODataJson.decodeRow(_, schema)))
      (rowsOf(got.iterator) == want && got.nextLink == tree.nextLink &&
        got.count == tree.count && viaTree == plain) :|
        s"got ${rowsOf(got.iterator)}\nwant $want\ntree $viaTree vs $plain; " +
          s"links ${got.nextLink}/${tree.nextLink}, counts ${got.count}/${tree.count}"
    }
    val r = SCTest.check(SCTest.Parameters.default.withMinSuccessfulTests(2000), prop)
    assert(r.passed, r.status.toString)
  }

  test("canonical ISO instants and date-only values decode as the lenient parser reads them") {
    val prop = Prop.forAll(isoText) { t =>
      val n = mapper.getNodeFactory.textNode(t)
      Seq(TimestampType, DateType).forall(dt =>
        ODataJsonCells.decodeValue(n, dt) == LegacyODataJson.decodeValue(n, dt))
    }
    val r = SCTest.check(SCTest.Parameters.default.withMinSuccessfulTests(3000), prop)
    assert(r.passed, r.status.toString)
  }

  test("a page's rows are reused by the decoder's next page") {
    val decode = new ODataJson.RowDecoder(StructType(Seq(StructField("a", LongType))))
    val first = decode("""{"value":[{"a":1},{"a":2}]}""".getBytes(UTF_8)).iterator.toSeq
    val second = decode("""{"value":[{"a":3}]}""".getBytes(UTF_8)).iterator.toSeq
    assert(first.head eq second.head)
    assert(second.head.getLong(0) == 3L)
  }

  test("a truncated page fails loudly, never as a shorter page") {
    val decode = new ODataJson.RowDecoder(StructType(Seq(StructField("a", LongType))))
    val whole = """{"value":[{"a":1},{"a":2}],"@odata.nextLink":"http://h/n"}"""
    Seq(whole.length - 1, whole.length - 30, 20).foreach { cut =>
      intercept[com.fasterxml.jackson.core.JsonProcessingException](
        decode(whole.take(cut).getBytes(UTF_8)))
    }
    assert(decode(whole.getBytes(UTF_8)).size == 2)
  }

  test("the perfbench entry points still decode a tree page row by row") {
    val root = ODataJson.parse("""{"value":[{"a":"7","t":"2020-06-01T12:00:00.5Z"}]}""")
    val s = StructType(Seq(StructField("a", LongType), StructField("t", TimestampType)))
    val rows = ODataJson.extractPage(root).rows.map(ODataJson.decodeRow(_, s))
    assert(rows.map(r => (r.getLong(0), r.getLong(1))) == Seq((7L, 1591012800500000L)))
    assert(root.get("value").elements().asScala.size == 1)
  }
}
