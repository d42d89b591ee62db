package graft.sources.odata

import org.apache.spark.sql.types._
import org.scalacheck.{Gen, Prop, Test => SCTest}
import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.unsafe.types.UTF8String

/** Property tests for the lenient decoder, through the schema-compiled
  * page decoder (SURVEY §1.3 — "wrong here =
  * silently wrong data"): numeric round-trips whether the server serialized
  * a number natively or as a string (the v2 habit), /Date()/ equivalence
  * with ISO, and null totality. */
class ODataJsonPropertySpec extends AnyFunSuite {

  private def node(json: String) = ODataJson.parse(json)

  private def check(p: Prop): Unit = {
    val r = SCTest.check(SCTest.Parameters.default.withMinSuccessfulTests(300), p)
    assert(r.passed, r.status.toString)
  }

  test("longs decode identically from native and string JSON") {
    check(Prop.forAll(Gen.chooseNum(Long.MinValue + 1, Long.MaxValue)) { l =>
      val native = ODataJsonCells.decodeValue(node(s"""{"v":$l}""").get("v"), LongType)
      val str = ODataJsonCells.decodeValue(node(s"""{"v":"$l"}""").get("v"), LongType)
      native == l && str == l
    })
  }

  test("doubles decode identically from native and string JSON") {
    check(Prop.forAll(Gen.chooseNum(-1e15, 1e15)) { d =>
      val native = ODataJsonCells.decodeValue(node(s"""{"v":$d}""").get("v"), DoubleType)
      val str = ODataJsonCells.decodeValue(node(s"""{"v":"$d"}""").get("v"), DoubleType)
      native == d && str == d
    })
  }

  test("decimals preserve exact scale from string literals") {
    val gen = for {
      unscaled <- Gen.chooseNum(-999999999L, 999999999L)
    } yield java.math.BigDecimal.valueOf(unscaled, 2)
    check(Prop.forAll(gen) { bd =>
      val v = ODataJsonCells.decodeValue(node(s"""{"v":"${bd.toPlainString}"}""").get("v"),
        DecimalType(18, 2))
      v.asInstanceOf[org.apache.spark.sql.types.Decimal].toJavaBigDecimal
        .compareTo(bd) == 0
    })
  }

  test("/Date(ms)/ equals the ISO rendering of the same instant") {
    check(Prop.forAll(Gen.chooseNum(-62135596800000L, 253402300799000L)) { ms =>
      val legacy = ODataJsonCells.decodeValue(node(s"""{"v":"/Date($ms)/"}""").get("v"), TimestampType)
      val iso = java.time.Instant.ofEpochMilli(ms).toString
      val modern = ODataJsonCells.decodeValue(node(s"""{"v":"$iso"}""").get("v"), TimestampType)
      legacy == modern && legacy == ms * 1000L
    })
  }

  test("DateType agrees with LocalDate.toEpochDay across negative epochs") {
    // full range incl. pre-1970 — truncating division fails every ms that is
    // not an exact midnight before the epoch (VERDICT r1 #2)
    check(Prop.forAll(Gen.chooseNum(-62135596800000L, 253402300799000L)) { ms =>
      val got = ODataJsonCells.decodeValue(node(s"""{"v":"/Date($ms)/"}""").get("v"), DateType)
      val want = java.time.Instant.ofEpochMilli(ms)
        .atZone(java.time.ZoneOffset.UTC).toLocalDate.toEpochDay.toInt
      got == want
    })
  }

  test("null decodes to SQL null for every supported type") {
    val types = Seq(StringType, BooleanType, ByteType, ShortType, IntegerType,
      LongType, FloatType, DoubleType, DecimalType(10, 2), TimestampType,
      DateType, BinaryType, ArrayType(IntegerType),
      StructType(Seq(StructField("x", IntegerType))))
    types.foreach { t =>
      assert(ODataJsonCells.decodeValue(node("""{"v":null}""").get("v"), t) == null, t)
    }
  }

  test("arbitrary garbage strings never throw for numeric targets (null out)") {
    check(Prop.forAll(Gen.asciiPrintableStr) { s =>
      val n = node(com.fasterxml.jackson.databind.node.JsonNodeFactory.instance
        .objectNode().put("v", s).toString)
      // must not throw; result is either a parsed number or null
      val out = ODataJsonCells.decodeValue(n.get("v"), LongType)
      out == null || out.isInstanceOf[Long] || out.isInstanceOf[java.lang.Long]
    })
  }

  test("strings decode to UTF8String verbatim incl. unicode") {
    check(Prop.forAll(Gen.listOf(Gen.oneOf(Gen.alphaNumChar, Gen.oneOf('€', 'ß', '中', '\'', ' ')))
      .map(_.mkString)) { s =>
      val n = node(com.fasterxml.jackson.databind.node.JsonNodeFactory.instance
        .objectNode().put("v", s).toString)
      ODataJsonCells.decodeValue(n.get("v"), StringType) == UTF8String.fromString(s)
    })
  }
}
