package graft.sources.http

import graft.testkit.ODataStub
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

/** Retry/backoff behavior of the HTTP core (reference policy constants:
  * `http_client.hpp:90-97`). */
class HttpCoreSpec extends AnyFunSuite with BeforeAndAfterAll {

  var stub: ODataStub = _
  override def beforeAll(): Unit = stub = new ODataStub(v2 = false).start()
  override def afterAll(): Unit = if (stub != null) stub.stop()

  test("5xx responses are retried with backoff until success") {
    val http = new HttpCore(HttpPolicy(retries = 3, retryWaitMs = 10))
    val t0 = System.currentTimeMillis()
    val r = http.get(s"http://localhost:${stub.port}/flaky?key=a")
    val elapsed = System.currentTimeMillis() - t0
    assert(r.status == 200 && r.text == "ok after 3")
    // two retries: 10ms + 40ms backoff minimum
    assert(elapsed >= 50, s"expected backoff sleeps, took ${elapsed}ms")
  }

  test("retries exhausted -> last 5xx response is returned") {
    val http = new HttpCore(HttpPolicy(retries = 1, retryWaitMs = 1))
    val r = http.get(s"http://localhost:${stub.port}/flaky?key=b")
    assert(r.status == 503)
  }

  test("a 501 answer is not retried: the capability probe goes out once") {
    val http = new HttpCore(HttpPolicy(retries = 3, retryWaitMs = 10))
    stub.extraStatuses.synchronized { stub.extraStatuses("/notimpl") = (501, Map.empty) }
    try {
      stub.requests.synchronized { stub.requests.clear() }
      val r = http.get(s"http://localhost:${stub.port}/notimpl?$$top=1&$$skip=1")
      assert(r.status == 501)
      assert(stub.requests.synchronized { stub.requests.count(_.startsWith("/notimpl")) } == 1,
        stub.requests.toString)
    } finally stub.extraStatuses.synchronized { stub.extraStatuses.remove("/notimpl") }
    assert(HttpCore.Retried == Set(429, 500, 502, 503, 504))
  }

  test("429 with Retry-After waits the server's delay, not the short schedule") {
    val http = new HttpCore(HttpPolicy(retries = 3, retryWaitMs = 10))
    val t0 = System.currentTimeMillis()
    val r = http.get(s"http://localhost:${stub.port}/throttled?key=a")
    val elapsed = System.currentTimeMillis() - t0
    assert(r.status == 200 && r.text == "ok after 2")
    assert(elapsed >= 1000, s"Retry-After: 1 ignored, took ${elapsed}ms")
  }

  test("Retry-After takes delta-seconds or an HTTP-date, only on 429/503") {
    def res(status: Int, v: String) =
      HttpResult(status, "u", Map("retry-after" -> v), "", Array.emptyByteArray)
    val now = java.time.ZonedDateTime.parse("Wed, 21 Oct 2015 07:28:00 GMT",
      java.time.format.DateTimeFormatter.RFC_1123_DATE_TIME).toInstant.toEpochMilli
    assert(HttpCore.retryAfterMs(res(429, "2"), now) == 2000)
    assert(HttpCore.retryAfterMs(res(503, "Wed, 21 Oct 2015 07:28:05 GMT"), now) == 5000)
    assert(HttpCore.retryAfterMs(res(503, "Wed, 21 Oct 2015 07:27:00 GMT"), now) == 0)
    assert(HttpCore.retryAfterMs(res(429, "soon"), now) == 0)
    assert(HttpCore.retryAfterMs(res(500, "2"), now) == 0)
  }

  test("basic auth header is emitted") {
    val r = HttpAuth(basicUser = Some("u"), basicPassword = Some("p"))
    assert(r.headerValue.contains("Basic dTpw"))
  }

  // --- content sniffing (reference pattern_matcher.cpp detection tables) ---

  private def result(body: Array[Byte], ct: String) =
    HttpResult(200, "http://x/", Map.empty, ct, body)

  test("mislabeled PNG (text/plain) is sniffed binary and base64-prefixed") {
    val png = Array(0x89, 0x50, 0x4E, 0x47, 0x0D, 0x0A, 0x1A, 0x0A, 0x00).map(_.toByte)
    val r = result(png, "text/plain; charset=utf-8")
    assert(r.isBinary)
    assert(r.text == "BINARY_CONTENT_BASE64:" +
      java.util.Base64.getEncoder.encodeToString(png))
  }

  test("mislabeled JSON (application/octet-stream) is sniffed text and decoded") {
    val json = """{"value": [1, 2, 3]}""".getBytes("UTF-8")
    val r = result(json, "application/octet-stream")
    assert(!r.isBinary)
    assert(r.text == """{"value": [1, 2, 3]}""")
    // XML shape overrides a binary label the same way
    val xml = "<?xml version=\"1.0\"?><root/>".getBytes("UTF-8")
    assert(!result(xml, "application/octet-stream").isBinary)
  }

  test("binary content-type labels decode as base64 even without magic bytes") {
    // reference ToRow behavior (http_client.cpp:879-889): image/* is binary
    val junk = Array.tabulate(16)(i => (i * 37 % 251).toByte)
    val r = result(junk, "image/x-custom")
    assert(r.isBinary && r.text.startsWith("BINARY_CONTENT_BASE64:"))
    // ...but an honest text label with a text body stays text
    assert(!result("hello".getBytes("UTF-8"), "text/plain").isBinary)
  }

  test("printable-ratio fallback flags large unlabeled binary bodies") {
    val rnd = new scala.util.Random(7)
    val noise = Array.fill(4096)((rnd.nextInt(200) + 128).toByte) // mostly >126
    assert(result(noise, "").isBinary)
    val prose = Array.fill(4096)('a'.toByte)
    assert(!result(prose, "").isBinary)
  }

  test("textual labels are never routed through the printable-ratio heuristic") {
    // 4 KiB of Cyrillic UTF-8: ~0% printable-ASCII bytes — the heuristic
    // alone would call it binary, but the explicit text label wins
    val cyrillic = ("привет мир это обычный текст " * 200).getBytes("UTF-8")
    assert(cyrillic.length > 1024)
    assert(!result(cyrillic, "text/plain; charset=utf-8").isBinary)
    assert(!result(cyrillic, "text/csv").isBinary)
    // same bytes with NO label: the last-resort heuristic applies
    assert(result(cyrillic, "").isBinary)
  }

  test("bzip2 magic is BZh; '{Z'-prefixed text is not flagged") {
    def bin(bs: Int*) = ContentSniff.matchesBinarySignature(bs.map(_.toByte).toArray)
    assert(bin(0x42, 0x5A, 0x68, 0x39)) // real bzip2 stream start "BZh9"
    assert(!bin('{'.toInt, 'Z'.toInt))  // reference's table bug, fixed here
    assert(!result("{Zebra: not json but text}".getBytes("UTF-8"), "").isBinary)
  }

  test("magic-byte table matches the reference's signature set") {
    def bin(bs: Int*) = ContentSniff.matchesBinarySignature(bs.map(_.toByte).toArray)
    assert(bin(0xFF, 0xD8, 0xFF, 0x00))             // JPEG
    assert(bin(0x25, 0x50, 0x44, 0x46, 0x2D))       // %PDF-
    assert(bin(0x50, 0x4B, 0x03, 0x04, 0x14))       // ZIP/OOXML
    assert(bin(0x1F, 0x8B, 0x08))                   // GZIP
    assert(bin(0xD0, 0xCF, 0x11, 0xE0))             // MS Office 97-2003
    assert(bin(0xCA, 0xFE, 0xBA, 0xBE, 0x00))       // Java class
    assert(!bin('{'.toInt, '"'.toInt))              // JSON is not a signature
  }

  test("OData version detection from body shape (reference :169-214)") {
    import ContentSniff.detectODataVersion
    assert(detectODataVersion("""{"@odata.context":"$metadata#E","value":[]}""",
      "application/json").contains("v4"))
    assert(detectODataVersion("""{"d":{"results":[],"__metadata":{}}}""",
      "application/json").contains("v2"))
    // content-type absent: shape heuristics kick in
    assert(detectODataVersion("""{"value":[]}""", "").contains("v4"))
    assert(detectODataVersion(
      "<feed xmlns:m=\"http://schemas.microsoft.com/ado/2007/08/dataservices\"/>",
      "application/xml").contains("v2"))
    assert(detectODataVersion(
      "<feed xmlns=\"http://docs.oasis-open.org/odata/ns/edm\"/>",
      "application/atom+xml").contains("v4"))
    assert(detectODataVersion("plain text", "text/plain").isEmpty)
    // a v2 payload whose rows carry a property NAMED "value" is still v2:
    // the d/__metadata wrapper is tested before the bare v4 "value" marker
    assert(detectODataVersion(
      """{"d":{"results":[{"value":1,"__metadata":{}}]}}""",
      "application/json").contains("v2"))
  }
}
