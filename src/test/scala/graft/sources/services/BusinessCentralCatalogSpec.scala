package graft.sources.services

import graft.SparkSpecBase
import graft.testkit.ODataStub
import org.scalatest.BeforeAndAfterAll

/** The `ATTACH (TYPE business_central)` preset catalog e2e against the stub:
  * table listing from the API-root metadata, company-scoped entity URLs,
  * filter/projection pushdown reaching the wire
  * (`business_central_storage.cpp:84-129`, `business_central_catalog.cpp:22-49`). */
class BusinessCentralCatalogSpec extends SparkSpecBase with BeforeAndAfterAll {

  private var stub: ODataStub = _

  // the `bc` catalog's environment: its companies set names company c1
  private val env = "/cronus"

  override def beforeAll(): Unit = {
    stub = new ODataStub(v2 = false).start()
    stub.extraBodies(("GET", s"$env/api/v2.0/companies")) =
      """{"value":[{"id":"c1","name":"CRONUS"},{"id":"c 2/x","name":"Odd Co"}]}"""
    super.beforeAll()
    spark.conf.set("spark.sql.catalog.bc",
      "graft.sources.services.BusinessCentralCatalog")
    spark.conf.set("spark.sql.catalog.bc.url", s"http://localhost:${stub.port}$env")
    spark.conf.set("spark.sql.catalog.bc.company", "c1")
  }
  override def afterAll(): Unit = {
    spark.conf.unset("spark.sql.catalog.bc.company")
    spark.conf.unset("spark.sql.catalog.bc.url")
    spark.conf.unset("spark.sql.catalog.bc")
    if (stub != null) stub.stop()
    super.afterAll()
  }

  test("SHOW TABLES lists the environment's entities (companies excluded)") {
    val tables = spark.sql("SHOW TABLES IN bc.main").collect()
      .map(_.getAs[String]("tableName")).toSet
    assert(tables.contains("Customers"))
    assert(!tables.contains("companies"))
  }

  test("SELECT scans the company-scoped URL with filter+projection pushdown") {
    stub.requests.clear()
    val rows = spark.sql(
      "SELECT CustomerID, Country FROM bc.main.Customers WHERE Country = 'Germany'").collect()
    assert(rows.length == 7)
    val wire = stub.requests.filter(_.contains("/api/v2.0/companies(c1)/Customers"))
    assert(wire.nonEmpty, stub.requests.toString)
    assert(wire.exists(r => r.contains("$filter=") && r.contains("Germany")), wire.toString)
    assert(wire.exists(_.contains("$select=")), wire.toString)
  }

  test("writes are rejected at planning: BC storage is read-only") {
    stub.postedItems.clear()
    intercept[Exception] {
      spark.sql("INSERT INTO bc.main.Customers VALUES ('X', 'Nope', 'DE', 1, TIMESTAMP '2024-01-01 00:00:00')")
    }
    // rejected by capability, not by the wire: nothing was POSTed
    assert(stub.postedItems.isEmpty)
  }

  /** Runs `body` with catalog `cat` on the stub, COMPANY `company`. */
  private def withCatalog(cat: String, company: String, env: String = "")(body: => Unit): Unit = {
    spark.conf.set(s"spark.sql.catalog.$cat", "graft.sources.services.BusinessCentralCatalog")
    spark.conf.set(s"spark.sql.catalog.$cat.url", s"http://localhost:${stub.port}$env")
    spark.conf.set(s"spark.sql.catalog.$cat.company", company)
    try body
    finally Seq(s"$cat.company", s"$cat.url", cat).foreach(k => spark.conf.unset(s"spark.sql.catalog.$k"))
  }

  private def messages(t: Throwable): String =
    Iterator.iterate(t)(_.getCause).takeWhile(_ != null).map(_.toString).mkString("\n")

  test("a failing companies request fails the SELECT with its URL and status") {
    withCatalog("bc401", "c1") {
      stub.extraStatuses.synchronized { stub.extraStatuses("/api/v2.0/companies") = (401, Map.empty) }
      try {
        val e = intercept[Exception](spark.sql("SELECT * FROM bc401.main.Customers").collect())
        assert(messages(e).contains(s"GET http://localhost:${stub.port}/api/v2.0/companies -> HTTP 401"),
          messages(e))
      } finally stub.extraStatuses.synchronized { stub.extraStatuses.remove("/api/v2.0/companies") }
    }
  }

  test("a company named on a later companies page resolves to its id") {
    val companies = "/api/v2.0/companies"
    val later = "/api/v2.0/companies-page-2"
    stub.extraBodies.synchronized {
      stub.extraBodies(("GET", companies)) =
        s"""{"value":[{"id":"c0","name":"First Co"}],"@odata.nextLink":"http://localhost:${stub.port}$later"}"""
      stub.extraBodies(("GET", later)) = """{"value":[{"id":"c9","name":"Later Co"}]}"""
    }
    try withCatalog("bcpaged", "later co") {
      stub.requests.clear()
      assert(spark.sql("SELECT CustomerID FROM bcpaged.main.Customers").collect().length == 20)
      assert(stub.requests.exists(_.contains("/api/v2.0/companies(c9)/Customers")), stub.requests.toString)
    } finally stub.extraBodies.synchronized {
      stub.extraBodies.remove(("GET", companies))
      stub.extraBodies.remove(("GET", later))
    }
  }

  test("a COMPANY that matches no company name or id and is no GUID fails early, naming it") {
    withCatalog("bcunknown", "No Such Co", env) {
      stub.requests.clear()
      val e = intercept[Exception](spark.sql("SELECT * FROM bcunknown.main.Customers").collect())
      assert(messages(e).contains("COMPANY 'No Such Co' matches no company name or id"), messages(e))
      // no scan request was sent with the unknown literal
      assert(!stub.requests.exists(_.contains("No Such Co")), stub.requests.toString)
    }
  }

  test("a GUID COMPANY is taken as the id; a resolved id is percent-encoded in the URL") {
    val guid = "6f1b3c1e-0a2b-4c5d-8e9f-0123456789ab"
    withCatalog("bcguid", guid, env) {
      stub.requests.clear()
      assert(spark.sql("SELECT CustomerID FROM bcguid.main.Customers").collect().length == 20)
      assert(stub.requests.exists(_.contains(s"/api/v2.0/companies($guid)/Customers")), stub.requests.toString)
    }
    withCatalog("bcodd", "odd co", env) {
      stub.requests.clear()
      assert(spark.sql("SELECT CustomerID FROM bcodd.main.Customers").collect().length == 20)
      // the stub logs decoded paths: the id reached it as one encoded segment
      assert(stub.requests.exists(_.contains("/api/v2.0/companies(c 2/x)/Customers")), stub.requests.toString)
    }
  }

  test("companies scopes the other entity sets and is not a table") {
    assert(!spark.catalog.tableExists("bc.main.companies"))
    intercept[Exception](spark.sql("SELECT * FROM bc.main.companies").collect())
  }
}
