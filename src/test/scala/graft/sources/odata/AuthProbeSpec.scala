package graft.sources.odata

import graft.SparkSpecBase
import graft.testkit.ODataStub
import graft.sources.services.Services
import org.scalatest.BeforeAndAfterAll

/** Regression for round-1 "what's wrong" #1: every metadata/service probe
  * must carry auth. The stub runs with mandatory basic credentials and
  * records every anonymous request — a single unauthenticated probe
  * (the parent-`$metadata` classifier, describe, attach, count pushdown)
  * fails the assertion. */
class AuthProbeSpec extends SparkSpecBase with BeforeAndAfterAll {

  var stub: ODataStub = _

  override def beforeAll(): Unit = {
    stub = new ODataStub(v2 = false)
    stub.requireBasic = Some(("alice", "s3cret"))
    stub.start()
    super.beforeAll()
  }
  override def afterAll(): Unit = { if (stub != null) stub.stop(); super.afterAll() }

  private def read() = spark.read.format("odata")
    .option("url", stub.serviceUrl + "/Customers")
    .option("user", "alice").option("password", "s3cret")
    .load()

  test("entity-set read against a secured service: no anonymous request escapes") {
    stub.unauthorized.clear()
    val df = read()
    assert(df.collect().length == 20)
    assert(stub.unauthorized.isEmpty,
      s"anonymous requests against a secured service: ${stub.unauthorized}")
  }

  test("pushed COUNT(*) carries auth") {
    stub.unauthorized.clear()
    assert(read().count() == 20)
    assert(stub.requests.exists(_.contains("/$count")), "count was not pushed")
    assert(stub.unauthorized.isEmpty,
      s"anonymous requests: ${stub.unauthorized}")
  }

  test("odataDescribe / odataAttach authenticate the metadata fetch") {
    stub.unauthorized.clear()
    spark.conf.set("spark.graft.secret.stubsecret.type", "http_basic")
    spark.conf.set("spark.graft.secret.stubsecret.scope", stub.serviceUrl)
    spark.conf.set("spark.graft.secret.stubsecret.user", "alice")
    spark.conf.set("spark.graft.secret.stubsecret.password", "s3cret")
    val desc = Services.odataDescribe(spark, stub.serviceUrl, Some("stubsecret"))
    assert(desc.count() > 0)
    val views = Services.odataAttach(spark, stub.serviceUrl,
      prefix = "auth_", secret = Some("stubsecret"))
    assert(views.nonEmpty)
    assert(spark.table("auth_Customers").collect().length == 20)
    assert(stub.unauthorized.isEmpty,
      s"anonymous requests: ${stub.unauthorized}")
  }

  test("unauthenticated read fails loudly (no silent misclassification)") {
    // schema may come from the warm EDM cache; the data fetch must still 401
    val ex = intercept[Exception] {
      spark.read.format("odata").option("url", stub.serviceUrl + "/Customers")
        .load().collect()
    }
    val msg = Option(ex.getMessage).getOrElse("") +
      Option(ex.getCause).map(_.getMessage).getOrElse("")
    assert(msg.contains("401"), s"expected an HTTP 401 failure, got: $msg")
  }

  test("a $metadata model fetched with one principal's credentials does not answer another's") {
    // alice's reads above warmed the model of this service root
    spark.conf.set("spark.graft.secret.wrongsecret.type", "http_basic")
    spark.conf.set("spark.graft.secret.wrongsecret.user", "mallory")
    spark.conf.set("spark.graft.secret.wrongsecret.password", "guess")
    val ex = intercept[Exception] {
      Services.odataDescribe(spark, stub.serviceUrl, Some("wrongsecret")).collect()
    }
    assert(ex.getMessage.contains(s"GET ${stub.serviceUrl}/$$metadata -> HTTP 401"), ex.getMessage)
  }
}
