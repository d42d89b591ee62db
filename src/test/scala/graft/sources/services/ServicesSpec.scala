package graft.sources.services

import graft.SparkSpecBase
import graft.testkit.ODataStub
import graft.sources.http.{HttpStatusError, OAuth2, SecretRegistry}
import org.scalatest.BeforeAndAfterAll

class ServicesSpec extends SparkSpecBase with BeforeAndAfterAll {

  var stub: ODataStub = _
  override def beforeAll(): Unit = {
    stub = new ODataStub(v2 = false).start()
    super.beforeAll()
  }
  override def afterAll(): Unit = { if (stub != null) stub.stop(); super.afterAll() }

  test("odataDescribe lists entity sets, properties, keys") {
    val df = Services.odataDescribe(spark, stub.serviceUrl)
    val rows = df.collect()
    assert(rows.map(_.getString(0)).toSet == Set("Customers", "OdpCustomers", "companies"))
    val keyRow = rows.find(r => r.getString(0) == "Customers" && r.getString(3) == "CustomerID").get
    assert(keyRow.getBoolean(6)) // is_key
    assert(rows.exists(r => r.getString(3) == "Revenue" && r.getString(4) == "Edm.Int64"))
  }

  test("odataAttach registers a queryable temp view per entity set") {
    val views = Services.odataAttach(spark, stub.serviceUrl, prefix = "att_")
    assert(views.contains("att_Customers"))
    val n = spark.sql("SELECT count(*) FROM att_Customers WHERE Country = 'Germany'").head().getLong(0)
    assert(n == 7)
  }

  test("secret registry: longest scope prefix wins; named secret overrides") {
    spark.conf.set("spark.graft.secret.broad.type", "http_bearer")
    spark.conf.set("spark.graft.secret.broad.token", "broad-token")
    spark.conf.set("spark.graft.secret.broad.scope", "https://api.example.com")
    spark.conf.set("spark.graft.secret.narrow.type", "http_bearer")
    spark.conf.set("spark.graft.secret.narrow.token", "narrow-token")
    spark.conf.set("spark.graft.secret.narrow.scope", "https://api.example.com/v2")
    val a = SecretRegistry.authFor(spark, "https://api.example.com/v2/things")
    assert(a.bearer.contains("narrow-token"))
    val b = SecretRegistry.authFor(spark, "https://api.example.com/v1/things")
    assert(b.bearer.contains("broad-token"))
    val c = SecretRegistry.authFor(spark, "https://api.example.com/v1", named = Some("narrow"))
    assert(c.bearer.contains("narrow-token"))
    assert(SecretRegistry.authFor(spark, "https://other.host/x").bearer.isEmpty)
  }

  test("basic-auth secret renders an Authorization header") {
    spark.conf.set("spark.graft.secret.basic1.type", "http_basic")
    spark.conf.set("spark.graft.secret.basic1.user", "u")
    spark.conf.set("spark.graft.secret.basic1.password", "p")
    val auth = SecretRegistry.byName(spark, "basic1").get.auth
    assert(auth.headerValue.contains("Basic " +
      java.util.Base64.getEncoder.encodeToString("u:p".getBytes)))
  }

  test("service URL builders run e2e: BC companies path, Dataverse, Graph, Datasphere") {
    val base = s"http://localhost:${stub.port}"
    // Business Central: /api/v2.0/companies(<id>)/<entity>
    val bc = Services.bcRead(spark, base, "c1", "Customers")
    assert(bc.count() == 20)
    assert(stub.requests.exists(_.contains("/api/v2.0/companies(c1)/Customers")))
    // Dataverse: /api/data/v9.2/<entity>
    val crm = Services.crmRead(spark, base, "Customers")
    assert(crm.filter(org.apache.spark.sql.functions.col("Country") === "France").count() == 7)
    assert(stub.requests.exists(_.contains("/api/data/v9.2/Customers")))
    // Graph: <base>/<resource>
    val g = Services.graphRead(spark, "Customers", base)
    assert(g.count() == 20)
    // Datasphere relational incl. input-parameter segment
    val ds = Services.datasphereRelational(spark, base, "sp1", "Customers",
      params = Map.empty)
    assert(ds.count() == 20)
    assert(stub.requests.exists(_.contains("/api/v1/dwc/consumption/relational/sp1/Customers")))
  }

  test("odpShow lists only ODP-patterned entity sets with change tracking") {
    val df = Services.odpShow(spark, s"http://localhost:${stub.port}")
    val rows = df.collect()
    assert(rows.length == 3) // Customers filtered out
    val ids = rows.map(_.getAs[String]("entity_set_id")).toSet
    assert(ids == Set("ENTITYOFSALESORDER", "FactsOfRevenue", "AttrOfCustomer"))
    assert(rows.forall(_.getAs[Boolean]("change_tracking")))
    val urls = rows.map(_.getAs[String]("entity_set_url"))
    assert(urls.exists(_.endsWith("/svc/EntityOfSalesOrder"))) // description casing
    assert(rows.forall(_.getAs[String]("service_id") == "ZSVC_1"))
  }

  test("bc_show_companies / bc_describe / crm_show_entities / crm_describe") {
    val base = s"http://localhost:${stub.port}"
    val companies = Services.bcShowCompanies(spark, base)
    assert(companies.count() == 20) // dynamic schema from $metadata
    assert(stub.requests.exists(_.contains("/api/v2.0/companies")))
    val bcd = Services.bcDescribe(spark, base, "Customers").collect()
    assert(bcd.map(_.getString(0)).contains("CustomerID"))
    assert(bcd.find(_.getString(0) == "CustomerID").get.getBoolean(3)) // is_key
    val ents = Services.crmShowEntities(spark, base).collect()
    assert(ents.length == 2)
    assert(ents.exists(r => r.getAs[String]("logical_name") == "new_widget" &&
      r.getAs[Boolean]("is_custom_entity")))
    val crmd = Services.crmDescribe(spark, base, "Customers").collect()
    assert(crmd.map(_.getString(0)).contains("Revenue"))
    assert(!crmd.find(_.getString(0) == "Revenue").get.getBoolean(3)) // not primary
  }

  test("sac discovery stubs: reference schemas, empty results (sac_catalog.cpp stubs)") {
    val base = s"http://localhost:${stub.port}"
    val models = Services.sacShowModels(spark, base)
    assert(models.schema.fieldNames.toSeq == Seq("id", "name", "description",
      "type", "owner", "created_at", "last_modified_at"))
    assert(models.count() == 0)
    val stories = Services.sacShowStories(spark, base)
    assert(stories.schema.fieldNames.toSeq == Seq("id", "name", "description",
      "owner", "created_at", "last_modified_at", "status"))
    assert(stories.count() == 0)
    assert(Services.sacGetModelInfo(spark, base, "M1").schema.fieldNames.toSeq ==
      Seq("id", "name", "description", "type", "dimensions", "created_at"))
    assert(Services.sacGetStoryInfo(spark, base, "S1").schema.fieldNames.toSeq ==
      Seq("id", "name", "description", "owner", "status", "created_at", "last_modified_at"))
  }

  test("odataDescribeStructured: one nested row with LIST<STRUCT> columns") {
    val svc = Services.odataDescribeStructured(spark, stub.serviceUrl)
    val r = svc.collect().head
    assert(r.getAs[String]("resource_type") == "service")
    val sets = r.getSeq[org.apache.spark.sql.Row](6)
    assert(sets.exists(_.getString(0) == "Customers"))
    // entity-set URL form
    val one = Services.odataDescribeStructured(spark, stub.serviceUrl + "/Customers")
      .collect().head
    assert(one.getAs[String]("resource_type") == "entity_set")
    assert(one.getAs[String]("entity_set_name") == "Customers")
    val props = one.getSeq[org.apache.spark.sql.Row](4)
    val cid = props.find(_.getString(0) == "CustomerID").get
    assert(cid.getString(2) == "Edm.String" && cid.getBoolean(4)) // edm type, is_key
    val navs = one.getSeq[org.apache.spark.sql.Row](5)
    val orders = navs.find(_.getString(0) == "Orders").get
    assert(orders.getBoolean(3)) // is_collection
    assert(orders.getStruct(2).getLong(1) == 2L) // Order has 2 properties
  }

  test("excelRange: values matrix -> DataFrame with header-row column names") {
    val df = Services.excelRange(spark, s"http://localhost:${stub.port}/workbook/range")
    assert(df.schema.fieldNames.toSeq == Seq("Name", "Qty", "Price"))
    val rows = df.orderBy("Name").collect()
    assert(rows.length == 2)
    assert(rows(0).getString(0) == "apple" && rows(0).getString(1) == "3")
    assert(rows(1).getString(1) == null) // null cell survives
    val noHeader = Services.excelRange(spark,
      s"http://localhost:${stub.port}/workbook/range", headerRow = false)
    assert(noHeader.schema.fieldNames.toSeq == Seq("c0", "c1", "c2"))
    assert(noHeader.count() == 3)
  }

  test("oauth2 secret fetches + caches a client-credentials token") {
    spark.conf.set("spark.graft.secret.cc.type", "oauth2")
    spark.conf.set("spark.graft.secret.cc.token_endpoint", s"http://localhost:${stub.port}/token")
    spark.conf.set("spark.graft.secret.cc.client_id", "my-client")
    spark.conf.set("spark.graft.secret.cc.client_secret", "shh")
    val auth = SecretRegistry.byName(spark, "cc").get.auth
    assert(auth.bearer.contains("cc-token-123"))
    val tokenCalls = stub.requests.count(_ == "/token")
    SecretRegistry.byName(spark, "cc").get.auth // cached: no second POST
    assert(stub.requests.count(_ == "/token") == tokenCalls)
  }

  test("oauth2: a token endpoint answering 401 fails with HttpStatusError naming the endpoint") {
    val endpoint = s"http://localhost:${stub.port}/token-refused"
    stub.extraStatuses.synchronized { stub.extraStatuses("/token-refused") = (401, Map.empty) }
    try {
      val e = intercept[HttpStatusError](
        OAuth2.clientCredentialsToken(endpoint, "my-client", "wrong", None))
      assert(e.status == 401 && e.url == endpoint, e.getMessage)
      assert(e.getMessage.startsWith(s"POST $endpoint -> HTTP 401"), e.getMessage)
    } finally stub.extraStatuses.synchronized { stub.extraStatuses.remove("/token-refused") }
  }

  test("oauth2 token_dir: a persisted token survives a fresh JVM (endpoint hit once)") {
    val dir = java.nio.file.Files.createTempDirectory("tokdir").toString
    spark.conf.set("spark.graft.secret.ccp.type", "oauth2")
    spark.conf.set("spark.graft.secret.ccp.token_endpoint", s"http://localhost:${stub.port}/token")
    spark.conf.set("spark.graft.secret.ccp.client_id", "persist-client")
    spark.conf.set("spark.graft.secret.ccp.client_secret", "shh")
    spark.conf.set("spark.graft.secret.ccp.token_dir", dir)
    val before = stub.requests.count(_ == "/token")
    assert(SecretRegistry.byName(spark, "ccp").get.auth.bearer.contains("cc-token-123"))
    assert(stub.requests.count(_ == "/token") == before + 1)
    // "session 2": same secret, new JVM (memory cache cleared) — the
    // persisted token is reused, the endpoint is NOT hit again
    graft.sources.http.OAuth2.clearMemoryCache()
    assert(SecretRegistry.byName(spark, "ccp").get.auth.bearer.contains("cc-token-123"))
    assert(stub.requests.count(_ == "/token") == before + 1,
      "persisted token should have prevented a second token fetch")
    // expired persisted token -> refetch. Rewrite the TOKEN file as expired —
    // the local Hadoop FS also wrote a .crc sidecar, so pick the .json by
    // name (findFirst() order is dir-entry order and may land on the .crc)
    // and drop the now-mismatched checksum so the stale body is readable.
    graft.sources.http.OAuth2.clearMemoryCache()
    import scala.jdk.CollectionConverters._
    val files = java.nio.file.Files.list(java.nio.file.Paths.get(dir))
      .iterator().asScala.toList
    val f = files.find(_.getFileName.toString.endsWith(".json")).get
    java.nio.file.Files.writeString(f,
      """{"access_token":"stale","expires_at":1}""")
    files.filter(_.getFileName.toString.endsWith(".crc"))
      .foreach(java.nio.file.Files.delete(_))
    assert(SecretRegistry.byName(spark, "ccp").get.auth.bearer.contains("cc-token-123"))
    assert(stub.requests.count(_ == "/token") == before + 2)
  }

  test("PKCE end-to-end: callback server captures the code, verifier exchanged for the token") {
    stub.tokenRequests.clear()
    // "browser": follow the authorization URL by redirecting straight back to
    // the loopback callback with a code + the flow's state
    val browser: String => Unit = { url =>
      val q = url.split('?')(1).split('&').map(_.split("=", 2)).map(a =>
        a(0) -> java.net.URLDecoder.decode(a(1), "UTF-8")).toMap
      assert(q("code_challenge_method") == "S256" && q("code_challenge").nonEmpty)
      val cb = q("redirect_uri") + s"?code=auth-code-42&state=${q("state")}"
      new java.net.URI(cb).toURL.openStream().close()
    }
    val token = graft.sources.http.OAuth2.authorizationCodeToken(
      authEndpoint = "https://login.example/authorize",
      tokenEndpoint = s"http://localhost:${stub.port}/token",
      clientId = "cli-1", port = 0, openBrowser = browser, timeoutMs = 10000)
    assert(token == "pkce-token-9")
    val tok = stub.tokenRequests.find(_.contains("authorization_code")).get
    assert(tok.contains("code_verifier=") && tok.contains("redirect_uri="))
  }

  test("PKCE callback server rejects a state mismatch") {
    val srv = new graft.sources.http.OAuth2CallbackServer(0, Some("right-state")).start()
    try {
      new java.net.URI(srv.redirectUri + "?code=x&state=wrong").toURL.openStream().close()
    } catch { case _: java.io.IOException => () } // 400 response
    val e = intercept[RuntimeException] { srv.awaitCode(2000) }
    assert(e.getMessage.contains("state mismatch"))
    srv.stop()
  }

  test("PKCE: RFC 7636 appendix B test vector") {
    // verifier from the RFC -> expected S256 challenge
    val verifier = "dBjftJeZ4CVP-mB92K27uhbUJU1p1r_wW1gFWFOEjXk"
    assert(OAuth2.pkceChallenge(verifier) == "E9Melhoa2OwvFrEMTJguCHaoeK1t8URWbuGJSstw-cM")
    val v = OAuth2.newPkceVerifier()
    assert(v.length == 64 && v.forall(
      c => c.isLetterOrDigit || "-._~".contains(c)))
  }

  test("authorization URL carries PKCE params") {
    val u = OAuth2.authorizationUrl("https://login/auth", "cid",
      "http://localhost:65000/callback", "CHAL", Some("read"))
    assert(u.contains("response_type=code") && u.contains("code_challenge=CHAL")
      && u.contains("code_challenge_method=S256"))
  }
}
