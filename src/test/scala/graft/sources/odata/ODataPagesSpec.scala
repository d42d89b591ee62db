package graft.sources.odata

import graft.sources.http.{HttpAuth, HttpStatusError}
import graft.testkit.ODataStub
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

/** The one nextLink walker: lazy paging (one GET per pulled page, none on
  * `hasNext`), typed non-200 failures, and a repeated-link guard scoped to a
  * single walk. The stub serves 20 customers in pages of 5. */
class ODataPagesSpec extends AnyFunSuite with BeforeAndAfterAll {

  var stub: ODataStub = _
  override def beforeAll(): Unit = stub = new ODataStub(v2 = false).start()
  override def afterAll(): Unit = if (stub != null) stub.stop()

  private def customers = stub.serviceUrl + "/Customers"

  test("a walk capped after k pages sends exactly k GETs, and hasNext sends none") {
    stub.requests.clear()
    val pages = ODataPages.walk(customers, HttpAuth(), ODataJson.tree)
    assert(pages.hasNext)
    assert(stub.requests.isEmpty, s"hasNext sent ${stub.requests}")
    val taken = Seq(pages.next(), pages.next())
    assert(taken.map(_.page.size) == Seq(5, 5))
    assert(pages.hasNext)
    assert(stub.requests.size == 2, stub.requests.toString)
    assert(pages.map(_.page.size).sum == 10)
    assert(stub.requests.size == 4, stub.requests.toString)
  }

  test("a non-200 answer surfaces HttpStatusError with its status and location header") {
    val gone = stub.serviceUrl + "/Gone"
    stub.extraStatuses("/svc/Gone") = (410, Map("Location" -> customers))
    try {
      val e = intercept[HttpStatusError](ODataPages.walk(gone, HttpAuth(), ODataJson.tree).next())
      assert(e.status == 410 && e.url == gone)
      assert(e.headers.get("location").contains(customers), e.headers.toString)
      assert(e.getMessage == s"GET $gone -> HTTP 410: answered 410", e.getMessage)
    } finally stub.extraStatuses.remove("/svc/Gone")
  }

  test("two separate walks of one URL do not trip the repeated-link guard") {
    val first = ODataPages.walk(customers, HttpAuth(), ODataJson.tree).flatMap(_.page.rows).size
    val second = ODataPages.walk(customers, HttpAuth(), ODataJson.tree).flatMap(_.page.rows).size
    assert(first == 20 && second == 20)
  }

  test("within one walk a repeated link throws, and a preloaded first page counts as fetched") {
    stub.requests.clear()
    val selfLinked = s"""{"value":[{"CustomerID":"X"}],"@odata.nextLink":"$customers"}"""
    val pages = ODataPages.walk(customers, HttpAuth(), ODataJson.tree,
      preloaded = Some(selfLinked.getBytes(java.nio.charset.StandardCharsets.UTF_8)))
    assert(pages.next().page.size == 1)
    val e = intercept[RuntimeException](pages.next())
    assert(e.getMessage.startsWith(s"OData nextLink loop: $customers"), e.getMessage)
    assert(stub.requests.isEmpty, s"the preloaded page was fetched again: ${stub.requests}")
  }

  test("a range window holds 16 GETs, fewer once pages pass 2 MiB: 32 MiB of bodies at most") {
    val mib = 1L << 20
    assert(Seq(1L, 100 * 1024L, 2 * mib).map(ODataPages.depthFor) == Seq(16, 16, 16))
    assert(ODataPages.depthFor(3 * mib) == 10)
    assert(Seq(32 * mib, 40 * mib).map(ODataPages.depthFor) == Seq(1, 1))
    assert((1L to 64L).map(_ * mib / 4).forall(b => ODataPages.depthFor(b) * b <= 32 * mib || b > 32 * mib))
  }
}
